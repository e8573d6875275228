"""DSIR importance-resampling gates (arXiv:2302.03169): per-doc log
importance weights must equal a full-pipeline DuckDB oracle (features →
smoothed bucket distributions → Σ cnt·log-ratio); Gumbel top-k selection
must equal the oracle's top-k; weights must actually prefer target-like
docs; unseen buckets must score the closed-form default; plan gates (ratio
join is a broadcast hash join; no cartesian anywhere)."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import curation
from tests.conftest import SF_SMOKE

TARGET_LANG = "es"
N_SELECT = 50

# Mirrors dsir_features/dsir_bucket_log_ratio/dsir_log_weights exactly:
# unigrams + bigrams → 3-hex-char md5 buckets (B=4096), Laplace α=1,
# raw = all documents, target = lang-filtered documents.
_WEIGHTS_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
grams AS (
  SELECT doc_id, lang, UNNEST(toks) AS g FROM t
  UNION ALL
  SELECT doc_id, lang,
         UNNEST(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS g
  FROM t WHERE len(toks) >= 2
),
feats AS (
  SELECT doc_id, lang, substr(md5(g), 1, 3) AS bucket, COUNT(*) AS cnt
  FROM grams GROUP BY 1, 2, 3
),
t_agg AS (SELECT bucket, SUM(cnt) AS tc FROM feats WHERE lang = '{TARGET_LANG}' GROUP BY 1),
r_agg AS (SELECT bucket, SUM(cnt) AS rc FROM feats GROUP BY 1),
tot AS (SELECT (SELECT COALESCE(SUM(tc), 0) FROM t_agg) AS tt,
               (SELECT COALESCE(SUM(rc), 0) FROM r_agg) AS rt),
ratio AS (
  SELECT COALESCE(t_agg.bucket, r_agg.bucket) AS bucket,
         ln((COALESCE(tc, 0) + 1.0) / (tt + 4096.0))
           - ln((COALESCE(rc, 0) + 1.0) / (rt + 4096.0)) AS log_ratio
  FROM t_agg FULL JOIN r_agg ON t_agg.bucket = r_agg.bucket CROSS JOIN tot
),
w AS (
  SELECT feats.doc_id, ROUND(SUM(cnt * log_ratio), 6) AS logw
  FROM feats JOIN ratio USING (bucket) GROUP BY 1
)
SELECT d.doc_id, d.source, COALESCE(w.logw, 0.0) AS logw
FROM documents d LEFT JOIN w USING (doc_id)
"""

_SELECT_ORACLE = f"""
WITH w AS ({_WEIGHTS_ORACLE})
SELECT doc_id,
       ROUND(logw - ln(-ln(
         (('0x' || substr(md5('dsir-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
         / 4294967296.0)), 6) AS key
FROM w ORDER BY key DESC, doc_id LIMIT {N_SELECT}
"""


@pytest.fixture(scope="module")
def target(documents):
    return documents.filter(F.col("lang") == TARGET_LANG)


@pytest.fixture(scope="module")
def weights(documents, target):
    return {
        r.doc_id: r.logw
        for r in curation.dsir_log_weights(documents, target).collect()
    }


def _con():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    return con


def test_weights_match_duckdb_oracle(weights):
    expect = {int(r[0]): r[2] for r in _con().execute(_WEIGHTS_ORACLE).fetchall()}
    assert set(weights) == set(expect)
    for d, got in weights.items():
        assert abs(got - expect[d]) < 2e-6, (d, got, expect[d])


def test_select_matches_duckdb_oracle(documents, target):
    got = curation.dsir_select(documents, target, N_SELECT).collect()
    assert len(got) == N_SELECT
    expect_ids = [int(r[0]) for r in _con().execute(_SELECT_ORACLE).fetchall()]
    assert sorted(r.doc_id for r in got) == sorted(expect_ids)
    # winners carry their weight and key; key is weight + Gumbel, so every
    # key is finite and the frame is ordered by it
    keys = [r.key for r in got]
    assert all(math.isfinite(k) for k in keys)
    assert keys == sorted(keys, reverse=True)


def test_weights_prefer_target_like_docs(documents, weights):
    langs = {r.doc_id: r.lang for r in documents.select("doc_id", "lang").collect()}
    tgt = [w for d, w in weights.items() if langs[d] == TARGET_LANG]
    rest = [w for d, w in weights.items() if langs[d] != TARGET_LANG]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_unseen_buckets_score_default(spark):
    # Tiny corpora occupy a handful of the 4096 buckets, so a nonsense doc
    # really can miss both; its weight must be n_features · default (the
    # closed-form constant for buckets unseen in target AND raw)
    schema = "doc_id long, text string"
    tgt = spark.createDataFrame([(1, "alpha beta gamma")], schema)
    raw = spark.createDataFrame([(1, "alpha beta gamma"), (2, "delta beta")], schema)
    ratio, default = curation.dsir_bucket_log_ratio(
        curation.dsir_features(tgt), curation.dsir_features(raw)
    )
    seen = {r.bucket for r in ratio.collect()}
    novel = spark.createDataFrame([(999_999, "zzqx9v zzqx8w zzqx7u")], schema)
    feats = curation.dsir_features(novel).collect()
    assert all(f.bucket not in seen for f in feats), "collision — pick rarer tokens"
    n_feats = sum(f.cnt for f in feats)  # 3 unigrams + 2 bigrams
    assert n_feats == 5
    scored = (
        curation.dsir_features(novel)
        .join(F.broadcast(ratio), "bucket", "left")
        .withColumn("lr", F.coalesce(F.col("log_ratio"), F.lit(default)))
        .agg(F.sum(F.col("cnt") * F.col("lr")).alias("logw"))
        .first()
    )
    assert abs(scored.logw - n_feats * default) < 1e-9


def test_bucket_log_ratio_takes_both_totals_in_one_action(spark, documents, target):
    """Both corpus totals are observed inside the job that checkpoints the
    (bucket, tc, rc) counts, and the ratio is a projection of them. Before
    the fold each side's bucket aggregate was persisted and summed by its
    own first() job: 10 jobs for this call. One first() over the
    checkpoint: 6 jobs. The observation: 4. The weights built on this
    ratio stay pinned to the DuckDB oracle above."""
    sc = spark.sparkContext
    group = "test-dsir-ratio-job-count"
    sc.setJobGroup(group, "dsir_bucket_log_ratio")
    try:
        curation.dsir_bucket_log_ratio(
            curation.dsir_bucket_counts(target), curation.dsir_features(documents)
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


def test_deterministic_under_repartition(documents, target, weights):
    again = {
        r.doc_id: r.logw
        for r in curation.dsir_log_weights(
            documents.repartition(7), target.repartition(3)
        ).collect()
    }
    assert again == weights


@pytest.mark.slow
def test_streaming_threshold_selects_offline_topk(
    spark, documents, target, tmp_path
):
    """The streaming selector with τ = the offline top-k's minimum Gumbel
    key must admit exactly the offline winners, however ingest is sharded."""
    from pulsar_replay_spark.streaming.pipelines import (
        documents_stream,
        dsir_scoring_sink,
    )

    offline = curation.dsir_select(documents, target, N_SELECT).collect()
    tau = min(r.key for r in offline)
    tie_doc_id = max(r.doc_id for r in offline if r.key == tau)

    ratio, default = curation.dsir_bucket_log_ratio(
        curation.dsir_features(target), curation.dsir_features(documents)
    )
    src = str(tmp_path / "docs_stream")
    documents.repartition(3).write.mode("overwrite").parquet(src)
    q = dsir_scoring_sink(
        documents_stream(spark, src),
        ratio,
        default,
        tau,
        str(tmp_path / "results"),
        str(tmp_path / "ck"),
        tie_doc_id=tie_doc_id,
    )
    q.awaitTermination()

    got = spark.read.parquet(str(tmp_path / "results"))
    assert {r.doc_id for r in got.collect()} == {r.doc_id for r in offline}
    # stream scores agree with offline weights doc-for-doc
    offline_w = {r.doc_id: r.logw for r in offline}
    for r in got.collect():
        assert abs(r.logw - offline_w[r.doc_id]) < 1e-9


def test_plan_broadcasts_ratio_no_cartesian(documents, target):
    # the serving path stays fully declarative (dsir_log_weights pins its
    # output after a cached single feature pass — its plan is a scan)
    ratio, default = curation.dsir_bucket_log_ratio(
        curation.dsir_features(target), curation.dsir_features(documents)
    )
    plan = (
        curation.dsir_score(documents, ratio, default)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.slow
def test_dsir_select_per_group_balances_and_refines(spark, documents):
    """Per-group top-k: exactly min(k, |group|) winners per source, each
    group's winners are ITS OWN k highest Gumbel keys (mirrored from the
    global keyed frame), and the union is deterministic."""
    target = documents.filter(F.col("lang") == "es")
    got = curation.dsir_select_per_group(documents, target, k_per_group=5)
    rows = got.collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)

    keyed = curation.dsir_log_weights(documents, target).withColumn(
        "key", curation.dsir_gumbel_key()
    )
    all_rows = keyed.collect()
    sizes = {}
    for r in all_rows:
        sizes[r["source"]] = sizes.get(r["source"], 0) + 1
    for src, members in by_src.items():
        assert len(members) == min(5, sizes[src])
        expect = sorted(
            [r for r in all_rows if r["source"] == src],
            key=lambda r: (-r["key"], r["doc_id"]),
        )[:5]
        assert sorted(m["doc_id"] for m in members) == sorted(
            e["doc_id"] for e in expect
        )
    again = curation.dsir_select_per_group(
        documents.repartition(7), target, k_per_group=5
    )
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))


def test_dsir_admission_replicates_boundary_ties(spark):
    """Keys round to 6 decimals, so the calibrated cut can TIE: with
    tie_doc_id the admission replicates dsir_select's (key desc, doc_id
    asc) boundary exactly; without it the legacy inclusive >= admits every
    tie (documented superset)."""
    from pulsar_replay_spark.streaming.pipelines import _dsir_admission

    df = spark.createDataFrame(
        [(1, 1.0), (2, 1.0), (3, 0.9), (4, 1.1)], "doc_id long, key double"
    )
    exact = {r.doc_id for r in df.filter(_dsir_admission(1.0, 1)).collect()}
    assert exact == {1, 4}  # strictly-above + the calibrated tie winner
    legacy = {r.doc_id for r in df.filter(_dsir_admission(1.0, None)).collect()}
    assert legacy == {1, 2, 4}


def test_dsir_select_per_group_by_lang_regression(spark, documents):
    """by= on a column the weights frame doesn't carry (lang): re-attached
    from the raw corpus by doc_id — previously UNRESOLVED_COLUMN. Exactly
    k winners per lang, and each group's winners are its top-k by the
    shared Gumbel key."""
    target = documents.filter(F.col("lang") == "es")
    got = curation.dsir_select_per_group(documents, target, k_per_group=4, by="lang")
    rows = got.collect()
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r.lang, []).append((r.key, r.doc_id))
    n_langs = documents.select("lang").distinct().count()
    assert len(per_lang) == n_langs
    assert all(len(v) == 4 for v in per_lang.values())
    # winners are each group's top-k of the GLOBAL keyed order
    w = curation.dsir_log_weights(documents, target)
    keyed = (
        w.join(documents.select("doc_id", "lang"), "doc_id")
        .withColumn("key", curation.dsir_gumbel_key())
        .collect()
    )
    best = {}
    for r in keyed:
        best.setdefault(r.lang, []).append((-r.key, r.doc_id))
    for lang, v in per_lang.items():
        want = {d for _, d in sorted(best[lang])[:4]}
        assert {d for _, d in v} == want, lang


def test_bucket_counts_trainer_equals_per_doc_features(documents, target):
    """r12: the bucket-level trainer input (dsir_bucket_counts) must train
    the EXACT ratio artifact the per-doc feature path trains — Σ over docs
    of per-doc counts ≡ the direct bucket count, so log_ratio and default
    are bit-identical (this is the equality the optimized bench row and
    dsir_log_weights' target side rely on)."""
    r_a, d_a = curation.dsir_bucket_log_ratio(
        curation.dsir_features(target), curation.dsir_features(documents)
    )
    r_b, d_b = curation.dsir_bucket_log_ratio(
        curation.dsir_bucket_counts(target), curation.dsir_bucket_counts(documents)
    )
    assert d_a == d_b
    a = {r.bucket: r.log_ratio for r in r_a.collect()}
    b = {r.bucket: r.log_ratio for r in r_b.collect()}
    assert a == b
