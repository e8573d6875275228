"""BM25 lexical retrieval (operators/retrieval.py): exact equality against
an independent pure-python BM25 mirror on a planted corpus, textbook ranking
behavior, the df-cap skew lever, lexical decontamination semantics, and the
no-cartesian plan gate. The DuckDB oracle gate lives in test_oracle_parity
(test_bm25_matches_oracle) + parity --extras (x_bm25)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import retrieval
from tests.spec_reference import lexical_decontaminate

K1, B, SCALE = retrieval.K1, retrieval.B, retrieval.SCALE


def _naive_bm25(doc_rows, query_rows, k1=K1, b=B, max_df_ratio=None):
    """Independent mirror: dict-and-loop BM25 in micro-units. Returns
    {(query_id, doc_id): score_u} over docs sharing ≥1 query term."""
    toks = {d: [t for t in text.split(" ") if t] for d, text in doc_rows}
    n_docs = len(doc_rows)
    avgdl = sum(len(ts) for ts in toks.values()) / n_docs
    df: dict[str, int] = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    out: dict[tuple[int, int], int] = {}
    for qid, qtext in query_rows:
        qterms = {t for t in qtext.split(" ") if t}
        for d, ts in toks.items():
            score_u = 0
            for t in qterms & set(ts):
                if max_df_ratio is not None and df[t] > n_docs * max_df_ratio:
                    continue
                tf, dl = ts.count(t), len(ts)
                idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                tf_norm = (tf * (k1 + 1.0)) / (
                    tf + k1 * ((1.0 - b) + b * dl / avgdl)
                )
                score_u += int(round(idf * tf_norm * SCALE))
            if score_u or qterms & set(ts):
                out[(qid, d)] = score_u
    return out


DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog chased the cat across the yard"),
    (3, "quantum entanglement links distant particles"),
    (4, "the the the the the the the the"),
    (5, "a cat a mat a cat"),
    (6, "dogs and cats living together"),
]
QUERIES = [(100, "cat mat"), (200, "quantum particles"), (300, "the dog")]


@pytest.fixture(scope="module")
def planted(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(QUERIES, "query_id long, query string")
    return docs, queries


def test_bm25_scores_match_naive_python(spark, planted):
    docs, queries = planted
    got = {
        (r.query_id, r.doc_id): r.score_u
        for r in retrieval.bm25_scores(docs, queries).collect()
    }
    want = _naive_bm25(DOCS, QUERIES)
    assert got == want


def test_bm25_topk_ranking_is_textbook(spark, planted):
    docs, queries = planted
    top = retrieval.bm25_topk(docs, queries, k=3).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.query_id, []).append((r.rk, r.doc_id, r.score))
    # "cat mat": doc 5 (cat x2 + mat, short) beats doc 1 (cat + mat) beats
    # doc 2 (cat only)
    assert [d for _, d, _ in sorted(by_q[100])] == [5, 1, 2]
    # the rare-vocabulary query hits ONLY its doc
    assert [d for _, d, _ in sorted(by_q[200])] == [3]
    # scores strictly descend with rank (ties impossible here)
    for q in by_q:
        scores = [s for _, _, s in sorted(by_q[q])]
        assert scores == sorted(scores, reverse=True)


def test_bm25_df_cap_drops_stopword_postings(spark, planted):
    docs, queries = planted
    # 'the' appears in 3/6 docs; cap at 0.4 kills it, so the all-'the' doc 4
    # leaves query 300's candidate set entirely while 'dog' hits survive
    got = {
        (r.query_id, r.doc_id)
        for r in retrieval.bm25_scores(docs, queries, max_df_ratio=0.4)
        .filter("score_u > 0")
        .collect()
    }
    assert (300, 4) not in got
    assert (300, 2) in got
    want = {
        k for k, v in _naive_bm25(DOCS, QUERIES, max_df_ratio=0.4).items() if v > 0
    }
    assert got == want


def test_bm25_plan_has_no_cartesian_and_broadcasts_query_side(spark, planted):
    docs, queries = planted
    plan = retrieval.bm25_topk(docs, queries, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the 1-row stats frame joins as BroadcastNestedLoopJoin (no key — the
    # engine-wide stats-crossJoin pattern); any OTHER nested-loop join would
    # be a regression, so pin the count to exactly that one
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in plan


def _naive_rrf(rankings, k=10, c=60):
    """Independent RRF mirror in micro-units."""
    acc: dict[tuple[int, int], int] = {}
    for ranking in rankings:
        for qid, did, rk in ranking:
            acc[(qid, did)] = acc.get((qid, did), 0) + int(round(SCALE / (c + rk)))
    out = {}
    for (qid, did), s in acc.items():
        out.setdefault(qid, []).append((-s, did))
    fused = []
    for qid, lst in out.items():
        for i, (neg_s, did) in enumerate(sorted(lst)[:k], start=1):
            # mirror the operator's display scaling: micro-unit sum → /1e6,
            # rounded to 4 (the RANKING was already decided on exact ints)
            fused.append((qid, did, round(-neg_s / SCALE, 4), i))
    return sorted(fused)


def test_rrf_fuse_matches_naive_python(spark):
    sparse = [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1), (2, 21, 2)]
    dense = [(1, 11, 1), (1, 13, 2), (1, 10, 3), (2, 22, 1), (2, 20, 2)]
    frames = [
        spark.createDataFrame(rows, "query_id long, doc_id long, rk int")
        for rows in (sparse, dense)
    ]
    got = sorted(
        (r.query_id, r.doc_id, round(r.score, 4), r.rk)
        for r in retrieval.rrf_fuse(frames, k=3).collect()
    )
    assert got == _naive_rrf([sparse, dense], k=3)
    # doc 11 (rk2 + rk1) must beat doc 10 (rk1 + rk3): fusion rewards
    # agreement across lists, not one strong list
    by_rank = {rk: d for q, d, s, rk in got if q == 1}
    assert by_rank[1] == 11 and by_rank[2] == 10


def test_rrf_fuse_single_list_preserves_order_and_validates(spark):
    only = spark.createDataFrame(
        [(1, 5, 1), (1, 6, 2)], "query_id long, doc_id long, rk int"
    )
    got = {r.doc_id: r.rk for r in retrieval.rrf_fuse([only], k=10).collect()}
    assert got == {5: 1, 6: 2}
    with pytest.raises(ValueError):
        retrieval.rrf_fuse([])


def test_hybrid_bm25_plus_dense_shape(spark, planted):
    """End-to-end hybrid: BM25 hits fused with a (stub) dense ranking over
    the same ids — the operator the module exists to feed."""
    docs, queries = planted
    sparse = retrieval.bm25_topk(docs, queries, k=3)
    dense = spark.createDataFrame(
        [(100, 6, 1), (100, 5, 2), (200, 3, 1), (300, 2, 1)],
        "query_id long, doc_id long, rk int",
    )
    fused = retrieval.rrf_fuse([sparse, dense], k=3).collect()
    by_q = {}
    for r in fused:
        by_q.setdefault(r.query_id, []).append((r.rk, r.doc_id))
    # doc 5: BM25 rk1 + dense rk2 — beats doc 6 (dense rk1 only) and
    # doc 1 (BM25 rk2 only)
    assert sorted(by_q[100])[0] == (1, 5)
    # rare-vocab query: doc 3 tops both lists, stays rk1
    assert sorted(by_q[200])[0] == (1, 3)


def test_bm25_shuffle_join_path_equals_broadcast_path(spark, planted):
    """broadcast_queries=False (the huge-eval-suite escape hatch) must
    produce the identical micro-unit scores — the flag changes join
    strategy, never semantics."""
    docs, queries = planted
    bc = {
        (r.query_id, r.doc_id): r.score_u
        for r in retrieval.bm25_scores(docs, queries).collect()
    }
    sh = {
        (r.query_id, r.doc_id): r.score_u
        for r in retrieval.bm25_scores(
            docs, queries, broadcast_queries=False
        ).collect()
    }
    assert bc == sh and bc


def test_anchor_retrieval_pairs_mines_triplets(spark):
    """Anchor triplet mining: the anchor's positive is the best same-host
    BM25 hit, negatives are lexically-similar other-host hits, anchors
    whose target host has no qualifying hit yield nothing, and the same
    anchor text toward two hosts makes two queries with two positives."""
    docs = spark.createDataFrame(
        [
            (1, "solar panel installation guide for homes", "https://energy.example/guide"),
            (2, "solar panel pricing and cost comparison", "https://energy.example/prices"),
            (3, "solar panel installation tips and tricks blog", "https://blogspam.example/p1"),
            (4, "fishing rod maintenance manual", "https://fish.example/rods"),
            (5, "panel installation for aquarium solar lights", "https://aquarium.example/diy"),
        ],
        "doc_id long, text string, source string",
    )
    anchors = spark.createDataFrame(
        [
            ("ref.example", "energy.example", "solar panel installation guide"),
            ("ref.example", "aquarium.example", "solar panel installation guide"),
            # target host absent from the corpus: no triplet
            ("ref.example", "nowhere.example", "solar panel installation guide"),
            # duplicate anchor rows collapse to one query
            ("other.example", "energy.example", "solar panel installation guide"),
        ],
        "src_host string, dst_host string, anchor string",
    )
    rows = retrieval.anchor_retrieval_pairs(
        docs, anchors, k=5, n_negatives=2, min_score=0.1
    ).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r.dst_host, []).append(r)
    assert set(by_host) == {"energy.example", "aquarium.example"}
    # energy's positive is doc 1 (best same-host lexical match), negatives
    # are other-host docs, ranked, never the positive's host
    e = sorted(by_host["energy.example"], key=lambda r: r.neg_rank)
    assert all(r.pos_doc_id == 1 for r in e)
    assert [r.neg_rank for r in e] == [1, 2]
    assert {r.neg_doc_id for r in e}.isdisjoint({1, 2})
    # same anchor text toward aquarium.example gets ITS host's positive
    a = by_host["aquarium.example"]
    assert all(r.pos_doc_id == 5 for r in a)
    # two distinct query_ids for the two hosts
    assert len({r.query_id for r in rows}) == 2


def test_anchor_retrieval_pairs_positive_without_negatives_survives(spark):
    """r8 advice regression: an anchor with a valid same-host positive but
    ZERO other-host hits in its top-k still yields one row — NULL negative
    columns — instead of silently losing the (query, positive) pair."""
    docs = spark.createDataFrame(
        [
            (1, "quantum flux capacitor calibration", "https://lab.example/a"),
            (2, "gardening in clay heavy soil", "https://dirt.example/b"),
        ],
        "doc_id long, text string, source string",
    )
    anchors = spark.createDataFrame(
        [("ref.example", "lab.example", "quantum flux capacitor")],
        "src_host string, dst_host string, anchor string",
    )
    rows = retrieval.anchor_retrieval_pairs(
        docs, anchors, k=5, n_negatives=2, min_score=0.1
    ).collect()
    assert len(rows) == 1
    (r,) = rows
    assert r.pos_doc_id == 1 and r.pos_score > 0
    assert r.neg_doc_id is None and r.neg_score is None and r.neg_rank is None


# ---------------------------------------------------------------------------
# Maintained postings store: served-from-index ≡ query-bounded rescan
# ---------------------------------------------------------------------------


def _scores_map(df):
    return {(r.query_id, r.doc_id): r.score_u for r in df.collect()}


def test_index_serving_matches_rescan_byte_equal(spark, planted, tmp_path):
    """The store's core contract: bm25_scores_from_index over a built store
    equals the query-bounded scan on score_u EXACTLY — with and without the
    df cap — and the topk tail agrees row-for-row."""
    docs, queries = planted
    store = str(tmp_path / "bm25_store")
    retrieval.postings_index_build(docs, store)
    assert _scores_map(
        retrieval.bm25_scores_from_index(spark, store, queries)
    ) == _scores_map(retrieval.bm25_scores(docs, queries))
    assert _scores_map(
        retrieval.bm25_scores_from_index(spark, store, queries, max_df_ratio=0.5)
    ) == _scores_map(retrieval.bm25_scores(docs, queries, max_df_ratio=0.5))
    top_idx = {
        (r.query_id, r.rk): (r.doc_id, r.score)
        for r in retrieval.bm25_topk_from_index(spark, store, queries, k=3).collect()
    }
    top_scan = {
        (r.query_id, r.rk): (r.doc_id, r.score)
        for r in retrieval.bm25_topk(docs, queries, k=3).collect()
    }
    assert top_idx == top_scan and top_idx


def test_index_grows_incrementally_and_retry_is_idempotent(spark, planted):
    """Batch-id growth: three ingests serve as the union corpus; re-running
    a batch (crash retry) changes nothing; a zero-token doc counts toward
    n_docs/avgdl without posting rows; a conflicting n_buckets raises."""
    import tempfile

    docs, queries = planted
    with tempfile.TemporaryDirectory() as d:
        store = f"{d}/store"
        rows = DOCS + [(7, "")]  # doc 7: zero tokens — stats-only
        full = spark.createDataFrame(rows, "doc_id long, text string")
        for i in range(3):
            part = spark.createDataFrame(
                rows[i::3], "doc_id long, text string"
            )
            retrieval.postings_index_build(part, store, batch_id=i)
        retrieval.postings_index_build(  # crash-retry of batch 1
            spark.createDataFrame(rows[1::3], "doc_id long, text string"),
            store,
            batch_id=1,
        )
        assert _scores_map(
            retrieval.bm25_scores_from_index(spark, store, queries)
        ) == _scores_map(retrieval.bm25_scores(full, queries))
        stats = retrieval.index_doc_stats(spark, store).head()
        assert stats.n_docs == len(rows)
        with pytest.raises(ValueError, match="n_buckets"):
            retrieval.postings_index_build(full, store, n_buckets=8)


def test_oneshot_build_then_streaming_growth_no_batch0_collision(
    spark, planted, tmp_path
):
    """Regression (r10): the one-shot build lands in BASE_BATCH_ID = -1,
    DISJOINT from the sink's micro-batch ids, so growing a one-shot-built
    store via postings_ingest_sink cannot half-overwrite the base (with a
    batch_id=0 default, the sink's batch 0 replaced the base's doclen
    entirely but only the term_buckets present in the new batch — leaving
    stale postings whose docs were gone from doclen)."""
    from pulsar_replay_spark.streaming import pipelines as sp

    docs, queries = planted
    base = docs.filter(F.col("doc_id") <= 3)
    grown = docs.filter(F.col("doc_id") > 3)
    store = str(tmp_path / "grow_store")
    retrieval.postings_index_build(base, store)  # default = BASE_BATCH_ID
    src = str(tmp_path / "grow_src")
    grown.coalesce(1).select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    ).write.mode("append").parquet(src)
    stream = sp.documents_stream(spark, src).select("doc_id", "text")
    q = sp.postings_ingest_sink(stream, store, str(tmp_path / "grow_ckpt"))
    q.awaitTermination(120)
    # base docs still serve and stats cover the union corpus
    assert _scores_map(
        retrieval.bm25_scores_from_index(spark, store, queries)
    ) == _scores_map(retrieval.bm25_scores(docs, queries))
    stats = retrieval.index_doc_stats(spark, store).head()
    assert stats.n_docs == docs.count()
    # every postings doc is accounted for in doclen (the consistency the
    # old default silently broke)
    post_docs = {
        r.doc_id
        for r in spark.read.parquet(f"{store}/postings")
        .select("doc_id")
        .distinct()
        .collect()
    }
    dl_docs = {
        r.doc_id
        for r in spark.read.parquet(f"{store}/doclen")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert post_docs <= dl_docs


@pytest.mark.slow
def test_streaming_ingest_compact_and_expire(spark, planted, tmp_path):
    """The full lifecycle: streamed micro-batch ingest ≡ one-shot build;
    compaction folds (df-capped compaction bakes the cap in: uncapped
    serve over the capped store ≡ capped rescan); expiry removes a doc so
    served df/n_docs match the retained corpus exactly; the in-place
    guard refuses self-overwrite."""
    from pulsar_replay_spark.streaming import pipelines as sp

    docs, queries = planted
    src = str(tmp_path / "src")
    # one parquet file per micro-batch (maxFilesPerTrigger=1)
    for i in range(3):
        docs.filter((F.col("doc_id") % 3) == i).coalesce(1).select(
            "doc_id",
            "text",
            F.lit("en").alias("lang"),
            F.lit("web").alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        ).write.mode("append").parquet(src)
    stream = sp.documents_stream(spark, src).select("doc_id", "text")
    store = str(tmp_path / "stream_store")
    q = sp.postings_ingest_sink(stream, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    want = _scores_map(retrieval.bm25_scores(docs, queries))
    assert _scores_map(
        retrieval.bm25_scores_from_index(spark, store, queries)
    ) == want

    compacted = str(tmp_path / "compacted")
    sp.postings_compact(spark, store, compacted, max_df_ratio=0.5)
    assert _scores_map(
        retrieval.bm25_scores_from_index(spark, compacted, queries)
    ) == _scores_map(retrieval.bm25_scores(docs, queries, max_df_ratio=0.5))
    with pytest.raises(ValueError, match="in-place|differ"):
        sp.postings_compact(spark, store, store)

    expired = str(tmp_path / "expired")
    drop = spark.createDataFrame([(2,)], "doc_id long")
    sp.postings_index_expire(spark, store, expired, drop)
    retained = docs.filter(F.col("doc_id") != 2)
    assert _scores_map(
        retrieval.bm25_scores_from_index(spark, expired, queries)
    ) == _scores_map(retrieval.bm25_scores(retained, queries))


def test_lexical_decontaminate_from_index_matches_rescan(spark, tmp_path):
    """The continuous-decontamination serve path flags the same docs with
    the same strongest accuser as the full-rescan reference."""
    docs = spark.createDataFrame(
        [
            (1, "mitochondria are the powerhouse of the cell"),
            (2, "sailing boats need regular hull maintenance"),
            (3, "the powerhouse organelle mitochondria drives respiration"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(900, "which organelle is the mitochondria powerhouse")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "decon_store")
    retrieval.postings_index_build(docs, store)
    got = {
        (r.doc_id, r.eval_id, r.score)
        for r in retrieval.lexical_decontaminate_from_index(
            spark, store, evals, k=5, min_score=0.1
        ).collect()
    }
    want = {
        (r.doc_id, r.eval_id, r.score)
        for r in lexical_decontaminate(docs, evals, k=5, min_score=0.1).collect()
    }
    assert got == want and got


def test_index_serving_plan_prunes_partitions(spark, planted, tmp_path):
    """Scale gate: the served plan carries a term_bucket partition filter
    (the scan is index-bounded, pruned to the query terms' buckets) and no
    cartesian join beyond the 1-row stats join."""
    docs, queries = planted
    store = str(tmp_path / "plan_store")
    retrieval.postings_index_build(docs, store)
    plan = (
        retrieval.bm25_scores_from_index(spark, store, queries)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "term_bucket" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_hybrid_topk_fuses_sparse_and_dense(spark, planted, tmp_path):
    """The one-call serving composition: BM25-from-index ⊕ ANN ranks fuse
    via RRF; equals composing rrf_fuse by hand; agreement across retrievers
    outranks one strong list."""
    docs, queries = planted
    store = str(tmp_path / "hybrid_store")
    retrieval.postings_index_build(docs, store)
    sparse = retrieval.bm25_topk_from_index(spark, store, queries, k=3)
    dense = spark.createDataFrame(
        # doc 5 rk1 on query 100 agrees with BM25's rk1 → fused rk1
        [(100, 5, 0.95, 1), (100, 6, 0.90, 2), (200, 3, 0.88, 1),
         (300, 2, 0.80, 1)],
        "q_id long, neighbor_id long, sim double, rk int",
    )
    got = {
        (r.query_id, r.rk): r.doc_id
        for r in retrieval.hybrid_topk(sparse, dense, k=3).collect()
    }
    want = {
        (r.query_id, r.rk): r.doc_id
        for r in retrieval.rrf_fuse(
            [
                sparse.select("query_id", "doc_id", "rk"),
                dense.select(
                    F.col("q_id").alias("query_id"),
                    F.col("neighbor_id").alias("doc_id"),
                    "rk",
                ),
            ],
            k=3,
        ).collect()
    }
    assert got == want and got[(100, 1)] == 5
