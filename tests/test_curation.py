"""Token-budget curation gates: the two-phase scale path must equal the
one-window spec twin AND the DuckDB oracle; invariants (budget respected,
selection is score-dominant, determinism); plan gate (corpus window
partitions on (source, score), never source alone)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import curation
from tests.conftest import SF_SMOKE
from tests.spec_reference import select_within_token_budget_naive

BUDGET = 20_000

_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')), 4) AS score
  FROM documents
),
cum AS (
  SELECT *, CAST(SUM(n_tokens) OVER (
      PARTITION BY source ORDER BY score DESC, doc_id) AS BIGINT) AS cum_tokens
  FROM scored
)
SELECT doc_id, source, n_tokens, score, cum_tokens
FROM cum WHERE cum_tokens <= {BUDGET}
"""


@pytest.fixture(scope="module")
def selected(documents):
    return sorted(
        map(tuple, curation.select_within_token_budget(documents, BUDGET).collect())
    )


def test_scale_path_equals_spec_twin(documents, selected):
    naive = sorted(
        map(
            tuple,
            select_within_token_budget_naive(documents, BUDGET).collect(),
        )
    )
    assert selected == naive


def test_matches_duckdb_oracle(selected):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    assert selected == sorted(map(tuple, con.execute(_ORACLE).fetchall()))


def test_budget_respected_and_maximal(documents, selected):
    per_source: dict[str, int] = {}
    floor: dict[str, float] = {}
    for _, src, n, score, _cum in selected:
        per_source[src] = per_source.get(src, 0) + n
        floor[src] = min(floor.get(src, 1.0), score)
    assert per_source and all(v <= BUDGET for v in per_source.values())
    # score-dominance: every unselected doc scoring above the source's floor
    # would overflow the budget (the prefix is maximal, not arbitrary)
    kept_ids = {t[0] for t in selected}
    rows = curation._scored(documents, None).collect()
    for r in rows:
        if r.doc_id not in kept_ids and r.source in floor and r.score > floor[r.source]:
            assert per_source[r.source] + r.n_tokens > BUDGET


def test_deterministic_under_repartition(documents):
    a = sorted(
        map(tuple, curation.select_within_token_budget(documents, BUDGET).collect())
    )
    b = sorted(
        map(
            tuple,
            curation.select_within_token_budget(
                documents.repartition(13), BUDGET
            ).collect(),
        )
    )
    assert a == b


def test_corpus_window_partitions_on_source_and_score(documents):
    plan = (
        curation.select_within_token_budget(documents, BUDGET)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # score may be wrapped (knownfloatingpointnormalized(normalizenanandzero(
    # score#N))) and expression ids grow with session age — match by regex,
    # not a fixed character window
    import re

    assert re.search(r"hashpartitioning\(source#\d+, [^)]*score#\d+", plan), plan[:2000]


def test_mixture_summary(documents):
    sel = curation.select_within_token_budget(documents, BUDGET)
    rows = curation.mixture_summary(sel, BUDGET).collect()
    assert rows
    for r in rows:
        assert 0 < r.budget_util <= 1.0
        assert 0 < r.score_floor <= 1.0


def test_mixture_sample_proportions_and_determinism(documents, spark):
    """Kept tokens must track the target proportions (doc-granularity
    tolerance), the binding source keeps everything, and the md5 acceptance
    must reproduce exactly in DuckDB."""
    # proportion check needs statistical mass: sf0.1 has ~500 docs/source
    big = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    big_sources = [r.source for r in big.select("source").distinct().collect()]
    wbig = {big_sources[0]: 3.0, big_sources[1]: 1.0}
    kept = {
        r.source: r.t
        for r in curation.mixture_sample(big, wbig)
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    ratio = kept[big_sources[0]] / kept[big_sources[1]]
    assert 2.3 < ratio < 3.9, f"token ratio {ratio} vs target 3.0"

    sources = [r.source for r in documents.select("source").distinct().collect()]
    assert len(sources) >= 2
    w = {sources[0]: 3.0, sources[1]: 1.0}
    sel = curation.mixture_sample(documents, w)

    # determinism under repartition
    a = sorted(r.doc_id for r in sel.collect())
    b = sorted(
        r.doc_id
        for r in curation.mixture_sample(documents.repartition(11), w).collect()
    )
    assert a == b

    # exact DuckDB twin of the acceptance rule at the computed rates
    import duckdb

    avail = {
        r.source: r.t
        for r in curation._scored(documents, None)
        .filter(F.col("source").isin(list(w)))
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    total_w = sum(w.values())
    k = min(avail[s] / (w[s] / total_w) for s in avail)
    rates = {s: min(1.0, k * (w[s] / total_w) / avail[s]) for s in avail}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    cases = " ".join(f"WHEN '{s}' THEN {r}" for s, r in rates.items())
    oracle = sorted(
        r[0]
        for r in con.execute(
            f"""
        SELECT doc_id FROM documents
        WHERE source IN ({','.join(repr(s) for s in rates)})
          AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              / 4294967296.0 < CASE source {cases} END
        """
        ).fetchall()
    )
    assert a == oracle


def test_hash_split_matches_hashlib_mirror_and_is_stable(spark, documents):
    """Every split verdict must equal the driver-side hashlib mirror (the
    exact spec), be stable across invocations, and respect weight bounds
    loosely (binomial tolerance at n=500)."""
    import hashlib

    from pulsar_replay_spark.operators.curation import hash_split

    out = hash_split(documents, {"train": 0.8, "val": 0.1, "test": 0.1}).select(
        "doc_id", "split", "split_frac"
    )
    rows = out.collect()
    for r in rows:
        h = int(hashlib.md5(f"split-v1:{r.doc_id}".encode()).hexdigest()[:8], 16) / 2**32
        expect = "train" if h < 0.8 else ("val" if h < 0.9 else "test")
        assert abs(r.split_frac - h) < 1e-12, (r.doc_id, r.split_frac, h)
        assert r.split == expect, (r.doc_id, r.split, expect)
    counts = {s: sum(1 for r in rows if r.split == s) for s in ("train", "val", "test")}
    n = len(rows)
    assert 0.7 * n < counts["train"] < 0.9 * n, counts
    again = {(r.doc_id, r.split) for r in hash_split(documents, {"train": 0.8, "val": 0.1, "test": 0.1}).select("doc_id", "split").collect()}
    assert again == {(r.doc_id, r.split) for r in rows}


def test_hash_split_is_zero_exchange_and_salt_redeal(spark, documents):
    from pulsar_replay_spark.operators.curation import hash_split

    out = hash_split(documents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    a = {(r.doc_id, r.split) for r in hash_split(documents, salt="a").select("doc_id", "split").collect()}
    b = {(r.doc_id, r.split) for r in hash_split(documents, salt="b").select("doc_id", "split").collect()}
    assert a != b  # a new salt re-deals the split


def test_chunk_documents_matches_duckdb_twin_and_reassembles(spark, documents):
    """Overlap chunker: exact DuckDB-twin equality of every (doc_id,
    chunk_idx, chunk_text, n_tokens); dropping each chunk's first
    overlap_tokens tokens after chunk 0 reassembles the document; and the
    whole thing is a zero-exchange projection."""
    import duckdb

    from pulsar_replay_spark.operators.curation import chunk_documents

    C, O, S = 16, 4, 12
    out = chunk_documents(documents, chunk_tokens=C, overlap_tokens=O)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    got = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens) for r in out.collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    rows = con.execute(f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
starts AS (
  SELECT doc_id, toks,
         UNNEST(range(0, GREATEST(CAST(CEIL((len(toks) - {C}) / {S}.0) AS BIGINT), 0) + 1)) AS i
  FROM t
)
SELECT doc_id, i AS chunk_idx,
       list_aggregate(toks[i*{S}+1 : i*{S}+{C}], 'string_agg', ' ') AS chunk_text,
       len(toks[i*{S}+1 : i*{S}+{C}]) AS n_tokens
FROM starts
""").fetchall()
    expect = {(int(r[0]), int(r[1])): (r[2], int(r[3])) for r in rows}
    assert got == expect

    # reassembly: drop the first O tokens of every chunk after the first
    by_doc = {}
    for (d, i), (text, _n) in sorted(got.items()):
        toks = text.split(" ")
        by_doc.setdefault(d, []).extend(toks if i == 0 else toks[O:])
    originals = {r.doc_id: r.text for r in documents.collect()}
    for d, toks in by_doc.items():
        assert " ".join(toks) == originals[d], d


# --- temperature mixture ---------------------------------------------------


def test_temperature_weights_limits(documents):
    """alpha=1 must reproduce natural token proportions exactly; alpha=0
    must be uniform; intermediate alpha must sit strictly between for the
    largest and smallest sources."""
    nat = curation.temperature_weights(documents, alpha=1.0)
    sizes = {
        r.source: r.t
        for r in curation._scored(documents, None)
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    total = sum(sizes.values())
    for s in sizes:
        assert abs(nat[s] - sizes[s] / total) < 1e-12
    flat = curation.temperature_weights(documents, alpha=0.0)
    for s in sizes:
        assert abs(flat[s] - 1 / len(sizes)) < 1e-12

    mid = curation.temperature_weights(documents, alpha=0.3)
    big = max(sizes, key=sizes.get)
    small = min(sizes, key=sizes.get)
    assert flat[big] < mid[big] < nat[big]
    assert nat[small] < mid[small] < flat[small]
    assert abs(sum(mid.values()) - 1) < 1e-12


def test_temperature_mixture_flattens_proportions(documents):
    """The alpha-flattened sample must give the smallest source a LARGER
    share of kept tokens than the natural corpus gives it, and stay
    deterministic (md5 acceptance)."""
    kept = curation.temperature_mixture(documents, alpha=0.3)
    kept_tokens = {
        r.source: r.t
        for r in kept.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
    }
    sizes = {
        r.source: r.t
        for r in curation._scored(documents, None)
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    small = min(sizes, key=sizes.get)
    nat_share = sizes[small] / sum(sizes.values())
    kept_share = kept_tokens.get(small, 0) / sum(kept_tokens.values())
    assert kept_share > nat_share
    again = curation.temperature_mixture(documents, alpha=0.3)
    assert sorted(map(tuple, kept.collect())) == sorted(map(tuple, again.collect()))


def test_leakage_free_split_is_cluster_atomic(spark, documents):
    """Near-duplicate clusters move as a unit: the split_leakage_report on a
    leakage_free_split is empty by construction, every MinHash candidate pair
    shares a split, and docs OUTSIDE any cluster keep exactly their plain
    hash_split assignment (same salt -> same deal for the clean majority)."""
    from pulsar_replay_spark.operators import dedup

    # plant near-identical + exact clones so clusters exist
    clones = documents.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
        "lang", "source", "n_chars",
    )
    docs = documents.unionByName(clones)
    weights = {"train": 0.5, "val": 0.25, "test": 0.25}

    out = curation.leakage_free_split(docs, weights)
    split_of = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    assert set(split_of) == {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert set(split_of.values()) <= set(weights)

    # no candidate pair crosses a split boundary
    rep = curation.split_leakage_report(docs, out.select("doc_id", "split"))
    assert rep.count() == 0
    pairs = dedup.minhash_candidate_pairs(docs).collect()
    assert pairs, "fixture must produce candidate pairs"
    for r in pairs:
        assert split_of[r["doc_a"]] == split_of[r["doc_b"]]

    # unclustered docs are dealt exactly as plain hash_split deals them
    clustered = {
        r["doc_id"]
        for r in dedup.connected_components(
            dedup.minhash_candidate_pairs(docs)
        ).collect()
    }
    plain = {
        r["doc_id"]: r["split"]
        for r in curation.hash_split(docs, weights).select("doc_id", "split").collect()
    }
    unclustered = set(split_of) - clustered
    assert unclustered, "fixture must keep a clean majority"
    for d in unclustered:
        assert split_of[d] == plain[d]

    # deterministic: a second run deals identically
    again = {
        r["doc_id"]: r["split"]
        for r in curation.leakage_free_split(docs, weights)
        .select("doc_id", "split")
        .collect()
    }
    assert again == split_of


def test_temperature_mixture_by_lang_regression(documents):
    """The by= knob end-to-end on a NON-source column: weights key by lang,
    the sampler groups by the SAME column (previously raised
    UNRESOLVED_COLUMN for any by other than source), the binding group
    keeps everything, and low-resource langs are upweighted relative to
    natural proportions."""
    out = curation.temperature_mixture(documents, alpha=0.3, by="lang")
    rows = out.collect()
    assert rows and set(out.columns) == {"doc_id", "lang", "n_tokens"}
    kept = {}
    for r in rows:
        kept[r.lang] = kept.get(r.lang, 0) + r.n_tokens
    avail = {
        r.lang: r.t
        for r in documents.groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).alias("t"))
        .collect()
    }
    # the binding lang (max kept/target ratio) keeps every token it has
    w = curation.temperature_weights(documents, alpha=0.3, by="lang")
    k = min(avail[s] / w[s] for s in avail)
    binding = min(avail, key=lambda s: avail[s] / w[s])
    assert kept[binding] == avail[binding]
    # every group's kept tokens stay at or under its scaled target
    # (doc-granularity acceptance overshoots at most by sampling noise;
    # assert the keep RATE ordering instead: smaller groups keep a larger
    # fraction under alpha<1)
    fracs = {s: kept.get(s, 0) / avail[s] for s in avail}
    small = min(avail, key=avail.get)
    big = max(avail, key=avail.get)
    assert fracs[small] >= fracs[big]
