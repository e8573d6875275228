"""Repetition-signal and decontamination tests: planted cases + the plan
shapes that matter at corpus scale (shuffle-free signal pass, broadcast
benchmark probe)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators.dedup import benchmark_overlap
from pulsar_replay_spark.operators.quality import repetition_signals
from tests.spec_reference import drop_bottom_quantile_exact


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_repetition_signals_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam", "s"),
            (2, "alpha beta gamma delta epsilon zeta", "s"),
            (3, "solo", "s"),
        ],
        "doc_id int, text string, source string",
    )
    rows = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    # 6x the same token: 1 distinct of 6 tokens, 1 distinct of 5 bigrams
    assert rows[1]["dup_token_ratio"] == round(1 - 1 / 6, 4)
    assert rows[1]["dup_bigram_ratio"] == round(1 - 1 / 5, 4)
    assert rows[1]["top_token_ratio"] == 1.0
    # all-distinct doc: zero repetition, top token is 1 of 6
    assert rows[2]["dup_token_ratio"] == 0.0
    assert rows[2]["dup_bigram_ratio"] == 0.0
    assert rows[2]["top_token_ratio"] == round(1 / 6, 4)
    # single-token doc has no bigrams -> null, not divide-by-zero
    assert rows[3]["dup_bigram_ratio"] is None
    assert rows[3]["n_tokens"] == 1


def test_repetition_signals_shuffle_free(spark, documents):
    plan = _plan(repetition_signals(documents))
    assert "Exchange" not in plan, plan[:2000]


def test_benchmark_overlap_planted(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different words entirely unrelated tokens here"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in benchmark_overlap(corpus, bench, min_overlap=3).collect()
    }
    # doc 1 embeds the 9-token benchmark text: shares its 6 interior shingles
    assert out[1]["n_overlap"] == 6
    assert out[1]["contaminated"]
    # clean doc is still reported, with zero overlap
    assert out[2]["n_overlap"] == 0
    assert not out[2]["contaminated"]


def test_benchmark_overlap_broadcasts_bench_side(spark, documents):
    bench = documents.filter(F.col("doc_id") % 20 == 0)
    corpus = documents.filter(F.col("doc_id") % 20 != 0)
    plan = _plan(benchmark_overlap(corpus, bench))
    # the shingle probe against the benchmark set must be a broadcast join —
    # the corpus side is never shuffled for the probe
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


# --- per-source adaptive quantile thresholds -------------------------------

Q = 0.25

_QUANTILE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source,
         ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')), 4) AS score
  FROM documents
),
r AS (
  SELECT *, percent_rank() OVER (PARTITION BY source ORDER BY score) AS pr
  FROM scored
)
SELECT doc_id, source, score FROM r WHERE pr >= {Q}
"""


def _ttr_scored(documents):
    from pulsar_replay_spark.operators.curation import default_quality_score

    return documents.select(
        "doc_id", "source", default_quality_score(F.col("text")).alias("score")
    )


def test_exact_quantile_filter_matches_duckdb(documents):
    import duckdb

    from tests.conftest import SF_SMOKE

    got = sorted(
        map(
            tuple,
            drop_bottom_quantile_exact(_ttr_scored(documents), Q).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    assert got == sorted(map(tuple, con.execute(_QUANTILE_ORACLE).fetchall()))


def test_approx_path_agrees_up_to_threshold_ties(documents):
    """The broadcast-threshold scale path may differ from the exact
    percent_rank spec ONLY on rows tied with their group's threshold value
    (keep-side inclusive vs rank-fractional) — never anywhere else."""
    from pulsar_replay_spark.operators import quality

    scored = _ttr_scored(documents)
    approx = {
        (r.doc_id, r.source, r.score)
        for r in quality.drop_bottom_quantile(scored, Q)
        .select("doc_id", "source", "score")
        .collect()
    }
    exact = {
        tuple(r)
        for r in drop_bottom_quantile_exact(scored, Q).collect()
    }
    th = {
        r[0]: r.threshold
        for r in quality.quantile_thresholds(scored, Q).collect()
    }
    for row in approx ^ exact:
        assert row[2] == th[row[1]], row
    # and the filter actually bites: every group kept 60-90% of its docs
    from collections import Counter

    kept = Counter(s for _, s, _ in approx)
    total = Counter(s for r in scored.collect() for s in [r.source])
    for s in total:
        frac = kept[s] / total[s]
        assert 0.5 <= frac <= 0.95, (s, frac)


def test_quantile_filter_plan_broadcasts_thresholds(documents):
    from pulsar_replay_spark.operators import quality

    plan = _plan(quality.drop_bottom_quantile(_ttr_scored(documents), Q))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_quantile_thresholds_deterministic(documents):
    from pulsar_replay_spark.operators import quality

    a = sorted(
        map(tuple, quality.quantile_thresholds(_ttr_scored(documents), Q).collect())
    )
    b = sorted(
        map(
            tuple,
            quality.quantile_thresholds(
                _ttr_scored(documents).repartition(7), Q
            ).collect(),
        )
    )
    assert a == b


def test_quarantine_splits_and_names_violations(spark, documents):
    from pulsar_replay_spark.operators.quality import check_suite, quarantine

    planted = documents.unionByName(
        spark.createDataFrame(
            [(9_000_001, "", "xx", "junk", -5), (9_000_002, "ok text here", None, "junk", 12)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    )
    checks = {
        "empty_text": F.length("text") == 0,
        "null_lang": F.col("lang").isNull(),
        "negative_chars": F.col("n_chars") < 0,
    }
    clean, bad = quarantine(planted, checks)
    assert clean.count() + bad.count() == planted.count()
    assert clean.count() == documents.count()  # fixture rows all pass
    got = {r["doc_id"]: sorted(r["violations"]) for r in bad.collect()}
    assert got == {
        9_000_001: ["empty_text", "negative_chars"],
        9_000_002: ["null_lang"],
    }
    # totals agree with the aggregate suite
    suite = {r["check"]: r["n_violations"] for r in check_suite(planted, checks).collect()}
    assert suite == {"empty_text": 1, "negative_chars": 1, "null_lang": 1}
    # zero-shuffle: pure projection + filter
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# r8: PSI distribution-drift monitoring
# ---------------------------------------------------------------------------


def _naive_psi(ref_counts, cur_counts, eps=1e-6):
    import math

    bins = set(ref_counts) | set(cur_counts)
    t_ref = max(sum(ref_counts.values()), 1)
    t_cur = max(sum(cur_counts.values()), 1)
    psi = 0.0
    for b in bins:
        p = ref_counts.get(b, 0) / t_ref + eps
        q = cur_counts.get(b, 0) / t_cur + eps
        psi += (p - q) * math.log(p / q)
    return psi


def test_score_histogram_bins_and_psi_mirror(spark):
    """Histogram bin edges are [lo, hi) with open tails; PSI matches an
    independent math.log mirror to 1e-9; identical distributions sit at ~0
    and a shifted one crosses the 0.25 'shifted' rule of thumb."""
    from pulsar_replay_spark.operators import quality

    bins = [0.2, 0.5, 0.8]
    ref_rows = [(i, 0.1 + 0.05 * (i % 16)) for i in range(400)]   # spread
    cur_rows = [(i, 0.65 + 0.02 * (i % 16)) for i in range(300)]  # shifted up
    ref = spark.createDataFrame(ref_rows, "doc_id long, score double")
    cur = spark.createDataFrame(cur_rows, "doc_id long, score double")

    rh = {r["bin"]: r["n"] for r in quality.score_histogram(ref, bins).collect()}
    # mirror the binning rule: bin = #thresholds <= score
    import collections

    mirror = collections.Counter(
        sum(1 for t in bins if s >= t) for _, s in ref_rows
    )
    assert rh == dict(mirror)

    ref_h = quality.score_histogram(ref, bins)
    cur_h = quality.score_histogram(cur, bins)
    got = quality.psi_drift(ref_h, cur_h).collect()[0]
    want = _naive_psi(rh, {r["bin"]: r["n"]
                           for r in cur_h.collect()})
    assert abs(got["psi"] - round(want, 6)) < 1e-9
    assert got["psi"] > 0.25            # the planted shift is 'shifted'
    assert got["n_ref"] == 400 and got["n_cur"] == 300

    same = quality.psi_drift(ref_h, ref_h).collect()[0]
    assert abs(same["psi"]) < 1e-6      # self-PSI ~ 0 (eps smoothing only)

    # per-bin contributions: the bins the mass moved INTO carry the signal
    contrib = {r["bin"]: r["psi_term"]
               for r in quality.psi_contributions(ref_h, cur_h).collect()}
    assert set(contrib) == set(rh) | {r["bin"] for r in cur_h.collect()}

    with pytest.raises(ValueError, match="ascending"):
        quality.score_histogram(ref, [0.5, 0.2])


def test_drift_by_window_flags_the_drifted_hour(spark):
    """Windowed drift: a stable hour scores ~0 PSI against the reference, a
    shifted hour scores high — and a window whose mass lands in a bin the
    REFERENCE never saw still accounts for it (the union bin axis)."""
    import datetime as dt

    from pulsar_replay_spark.operators import quality

    bins = [0.2, 0.5, 0.8]
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(200):  # hour 0: matches the reference shape
        rows.append((base + dt.timedelta(seconds=10 * i), 0.1 + 0.05 * (i % 16)))
    for i in range(200):  # hour 1: all mass at the top tail
        rows.append(
            (base + dt.timedelta(hours=1, seconds=10 * i), 0.92 + 0.001 * (i % 10))
        )
    cur = spark.createDataFrame(rows, "ts timestamp, score double")
    ref = spark.createDataFrame(
        [(i, 0.1 + 0.05 * (i % 16)) for i in range(400)], "doc_id long, score double"
    )
    ref_h = quality.score_histogram(ref, bins)
    got = {
        r["window_start"]: r for r in
        quality.drift_by_window(cur, ref_h, bins, window="1 hour").collect()
    }
    assert len(got) == 2
    stable, drifted = got[base], got[base + dt.timedelta(hours=1)]
    assert stable["psi"] < 0.01
    assert drifted["psi"] > 0.25
    assert stable["n_cur"] == drifted["n_cur"] == 200

    # mirror the drifted hour exactly
    import collections

    rh = {r["bin"]: r["n"] for r in ref_h.collect()}
    cur_counts = collections.Counter(
        sum(1 for t in bins if s >= t)
        for ts, s in rows if ts >= base + dt.timedelta(hours=1)
    )
    assert abs(drifted["psi"] - round(_naive_psi(rh, cur_counts), 6)) < 1e-9


def test_embedding_drift_vector_twin_of_psi(spark):
    """Embedding drift (similarity.embedding_drift): PSI over IVF-cell
    occupancy under a frozen quantizer — self-drift ~0; mass moving from one
    cell's region to another crosses the 0.25 'shifted' rule; the per-cell
    contributions name exactly the cells that exchanged mass."""
    from pulsar_replay_spark.operators import similarity

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
         (2, [0.0, 0.0, 1.0, 0.0])],
        "cell_id long, centroid array<double>",
    )

    def emb(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # reference: 20 vectors near cell 0, 20 near cell 1, none near cell 2
    ref = emb(
        [(i, [1.0, 0.1 * (i % 3), 0.0, 0.0]) for i in range(20)]
        + [(100 + i, [0.1 * (i % 3), 1.0, 0.0, 0.0]) for i in range(20)]
    )
    psi_self = similarity.embedding_drift(ref, ref, cents).first()
    assert abs(psi_self["psi"]) < 1e-6
    assert psi_self["n_ref"] == psi_self["n_cur"] == 40

    # current: cell 0's mass moved to the previously-EMPTY cell 2
    cur = emb(
        [(i, [0.0, 0.1 * (i % 3), 1.0, 0.0]) for i in range(20)]
        + [(100 + i, [0.1 * (i % 3), 1.0, 0.0, 0.0]) for i in range(20)]
    )
    drift = similarity.embedding_drift(ref, cur, cents).first()
    assert drift["psi"] > 0.25

    contrib = {
        r["bin"]: r
        for r in similarity.embedding_drift_contributions(ref, cur, cents).collect()
    }
    assert contrib[0]["n_ref"] == 20 and contrib[0]["n_cur"] == 0
    assert contrib[2]["n_ref"] == 0 and contrib[2]["n_cur"] == 20
    assert abs(contrib[1]["psi_term"]) < 1e-9  # the stable cell contributes ~0
    assert contrib[0]["psi_term"] > 0 and contrib[2]["psi_term"] > 0
