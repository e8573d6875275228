"""Lexical retrieval: distributed BM25 over the documents contract.

BM25 (Robertson et al., Okapi; the Lucene idf variant) is the standard
lexical primitive of a training-data pipeline: mining (query, document)
retrieval training pairs from anchor text or synthetic queries, lexical
decontamination (an eval question finding its near-verbatim source even when
shingle dedup misses a paraphrase-with-shared-phrases), and corpus QA
("which docs answer this probe query"). No reference analog — north-star
extension alongside the ANN tier (this is its sparse twin).

Scale shape (the only one that survives 100 TB):
- the corpus is NEVER indexed for terms the queries don't mention: the
  distinct query vocabulary broadcasts to the document scan, so the
  token explode is filtered map-side and only (doc_id, query term)
  postings ever shuffle. A full inverted index of 100 TB is a product in
  itself; a query-bounded one is a single filtered pass.
- doc length rides the scan (``F.size`` of the token array, computed next
  to the explode) so no corpus-sized join re-attaches it.
- document frequency is an agg over the query-bounded postings (df of a
  term = #docs containing it, countable after the filter because the
  filter keeps EVERY posting of a kept term) — a ≤|query vocab| frame,
  broadcast back.
- corpus stats (N, avgdl) are one 1-row agg joined as a broadcast literal
  frame (the engine-wide stats-crossJoin pattern).
- scores sum in integer micro-units (round(contribution · 1e6) as BIGINT):
  bigint sums are order-independent, so results are bit-identical across
  partitionings and engines — the pagerank discipline — and the top-k
  tie-break (score_u DESC, doc_id) is a pure integer ordering.
- ``max_df_ratio`` is the skew lever: a stopword's posting list at corpus
  scale is a hot join key AND carries near-zero idf; capping df drops it
  before the fan-out. Off by default (Lucene keeps stopwords; planted
  tests want exact textbook scores) — turn it on for web-scale corpora.

Query-term weighting follows Lucene: query term frequency is ignored
(DISTINCT terms per query); the k3 saturation term of original Okapi is a
no-op for the short queries this mines and is omitted on both engine and
oracle sides.

The maintained postings store (below) serves small stores from a
driver-resident snapshot, gated on store bytes and query rows; see the
store section and ``operators/resident.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType
from pyspark.sql.window import Window

from pulsar_replay_spark.functions.text import split_tokens, tokens
from pulsar_replay_spark.operators import resident

K1 = 1.2
B = 0.75
SCALE = 1_000_000  # micro-unit fixed point for order-independent score sums


def query_terms(queries: DataFrame) -> DataFrame:
    """(query_id, term): DISTINCT non-empty whitespace tokens per query —
    the Lucene weighting (qtf ignored). Input contract: (query_id, query)."""
    return (
        queries.select(
            "query_id", F.explode(tokens(F.col("query"))).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
    )


def _query_term_set(query: "str | None") -> set:
    """``query_terms`` for one driver-side query string."""
    return set() if query is None else {t for t in split_tokens(query) if t}


def doc_stats(docs: DataFrame) -> DataFrame:
    """1-row (n_docs, avgdl) over the whole corpus — exact bigint sums, one
    division, so both engines compute the identical double."""
    dl = F.size(F.filter(tokens(F.col("text")), lambda t: t != ""))
    return docs.select(dl.cast("long").alias("dl")).agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )


def _maybe_broadcast(df: DataFrame, broadcast: bool) -> DataFrame:
    return F.broadcast(df) if broadcast else df


def query_postings(
    docs: DataFrame, queries: DataFrame, broadcast_queries: bool = True
) -> DataFrame:
    """(doc_id, dl, term, tf) for query terms only. The distinct query
    vocabulary broadcasts into the scan stage, so non-query tokens die
    map-side and the only shuffle is the (doc_id, term) partial-agg. dl
    (FULL token count, query-relevant or not) rides the same projection —
    functionally dependent on doc_id, so carrying it through the groupBy
    keys costs nothing and saves a corpus-sized re-join.

    ``broadcast_queries=False`` is the escape hatch for query sets whose
    DISTINCT vocabulary is itself corpus-scale
    (``lexical_decontaminate_from_index`` with a huge eval suite): every
    query-side join downgrades to a shuffle equi-join — the token explode
    then shuffles on term, so prefer the broadcast path whenever the
    vocabulary fits an executor."""
    vocab = query_terms(queries).select("term").distinct()
    toks = F.filter(tokens(F.col("text")), lambda t: t != "")
    return (
        docs.select(
            "doc_id",
            F.size(toks).cast("long").alias("dl"),
            F.explode(toks).alias("term"),
        )
        .join(_maybe_broadcast(vocab, broadcast_queries), "term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def _contribution_u(k1: float, b: float) -> "F.Column":
    """Per-(doc, term) BM25 contribution in micro-units. Expects columns
    tf, dl, df, n_docs, avgdl. idf is the Lucene shape
    ln(1 + (N - df + ½)/(df + ½)) — non-negative for every df ≤ N. Written
    as ONE expression shape so the DuckDB oracle mirrors it verbatim and
    the doubles agree to the micro-unit rounding."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    return F.round(idf * tf_norm * F.lit(SCALE)).cast("long")


def _score_from_postings(
    postings: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    k1: float,
    b: float,
    max_df_ratio: float | None,
    broadcast_queries: bool,
) -> DataFrame:
    """The shared BM25 scoring tail: (term, doc_id, tf, dl) postings —
    whether freshly scanned (``query_postings``) or served from the
    maintained store (``bm25_scores_from_index``) — become
    (query_id, doc_id, score_u). ONE code path for both producers is what
    makes the served-index ≡ rescanned equality gate byte-exact: df, the
    contribution expression, and the integer sum are literally the same
    plan fragments."""
    df_t = postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = postings.join(
        _maybe_broadcast(df_t, broadcast_queries), "term"
    ).join(F.broadcast(stats))
    if max_df_ratio is not None:
        scored = scored.filter(F.col("df") <= F.col("n_docs") * F.lit(max_df_ratio))
    qt = query_terms(queries)
    return (
        scored.withColumn("c_u", _contribution_u(k1, b))
        .join(_maybe_broadcast(qt, broadcast_queries), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c_u").cast("long").alias("score_u"))
    )


def _under_df_cap(df: int, n_docs: int, max_df_ratio: "float | None") -> bool:
    """``_score_from_postings``'s ``max_df_ratio`` filter for one term."""
    return max_df_ratio is None or df <= n_docs * max_df_ratio


SCORE_DIGITS = 4  # the display score's rounding; ranking uses score_u


def _topk_of_scores(scores: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k tail over a (query_id, doc_id, score_u) frame:
    (score_u DESC, doc_id) total order; score is the display-rounded float,
    the RANKING is the exact integer."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score_u"), "doc_id")
    return (
        scores.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("score_u") / F.lit(float(SCALE)), SCORE_DIGITS).alias(
                "score"
            ),
            "rk",
        )
    )


def _topk_rows(doc_ids, score_u, k: int) -> list:
    """``_topk_of_scores`` for one query's numpy (doc_id, score_u) arrays:
    (doc_id, score, rk) tuples in the same order, with ``F.round``'s
    HALF_UP display score."""
    import numpy as np

    order = np.lexsort((doc_ids, -score_u))[:k]
    return [
        (
            int(doc_ids[i]),
            resident.round_half_up(int(score_u[i]) / SCALE, SCORE_DIGITS),
            rk,
        )
        for rk, i in enumerate(order, 1)
    ]


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    k1: float = K1,
    b: float = B,
    max_df_ratio: float | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """(query_id, doc_id, score_u): every document with at least one query
    term, scored; ``score_u`` is the micro-unit bigint (callers rank on it —
    integer compares, no float ties). ``max_df_ratio`` drops terms whose df
    exceeds the ratio of the corpus (the stopword/skew cap);
    ``broadcast_queries`` — see ``query_postings``."""
    return _score_from_postings(
        query_postings(docs, queries, broadcast_queries),
        doc_stats(docs),
        queries,
        k1,
        b,
        max_df_ratio,
        broadcast_queries,
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    max_df_ratio: float | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-k BM25 hits per query: (query_id, doc_id, score, rk). score is
    the micro-unit sum scaled back (round 4 — display only; the RANKING is
    the exact integer). Deterministic total order: (score_u DESC, doc_id)."""
    return _topk_of_scores(
        bm25_scores(docs, queries, k1, b, max_df_ratio, broadcast_queries), k
    )


RRF_C = 60  # Cormack et al. 2009's constant; callers rarely need to change it


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 10,
    c: int = RRF_C,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N per-query rankings —
    the standard way to hybridize sparse (``bm25_topk``) and dense
    (``similarity.ivf_topk`` / ``lsh_topk``) retrieval without score
    calibration: ranks are comparable where raw scores never are. Each input
    frame carries (query_id, ``id_col``, rk); the fused score of a candidate
    is Σ over lists of 1/(c + rk), in the engine's micro-unit fixed point
    (round(SCALE/(c+rk)) per list, exact bigint sum) so fusion is
    bit-identical across partitionings and ties break on pure integers
    (score_u DESC, id). A candidate absent from a list simply contributes
    nothing — no outer-join NULL juggling.

    Scale shape: inputs are already top-k-per-query frames (bounded:
    |queries| · k rows each), so the union + (query_id, id) agg is tiny
    relative to the retrieval passes that produced them."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking frame")
    contrib = F.round(F.lit(SCALE) / (F.lit(c) + F.col("rk"))).cast("long")
    parts = [
        r.select("query_id", F.col(id_col).alias("_id"), contrib.alias("c_u"))
        for r in rankings
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    fused = allc.groupBy("query_id", "_id").agg(
        F.sum("c_u").cast("long").alias("score_u")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_u"), "_id")
    return (
        fused.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            F.col("_id").alias(id_col),
            F.round(F.col("score_u") / F.lit(float(SCALE)), 4).alias("score"),
            "rk",
        )
    )


def anchor_retrieval_pairs(
    docs: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    n_negatives: int = 2,
    min_score: float = 0.0,
    k1: float = K1,
    b: float = B,
    max_df_ratio: float | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Mine (query, positive, hard-negative) retrieval TRIPLETS from the
    WARC anchor-text tier — the training-pair product the anchor miners
    exist for (``corpusio.read_warc_anchors``: anchor text is a human-
    written query for the page it points at).

    Recipe (the classic weak-supervision shape): each DISTINCT
    (anchor, dst_host) is a query; its BM25 top-k over the corpus is split
    by the hit's source host (``graph.host_expr``) — the best-ranked
    same-host hit above ``min_score`` is the POSITIVE (the anchor's target,
    lexically confirmed), and the top ``n_negatives`` other-host hits are
    HARD negatives (lexically similar, wrong site — exactly the negatives a
    bi-encoder needs; random negatives are free and not worth a pass).
    Anchors with no qualifying same-host hit yield nothing — an anchor
    whose target the corpus lacks is not a training pair.

    Returns one row per (triplet, negative): (query_id, anchor, dst_host,
    pos_doc_id, pos_score, neg_doc_id, neg_score, neg_rank ∈ 1..n_negatives).
    A valid positive whose top-k contains NO other-host hit still yields
    ONE row with NULL neg_doc_id/neg_score/neg_rank — the (query, positive)
    pair is kept for in-batch-negative training rather than silently
    dropped; filter ``neg_rank IS NOT NULL`` for strict triplets.
    query_id is the engine-wide 60-bit content hash of anchor ⊕ dst_host
    (the same anchor text pointing at two hosts is two queries with two
    positives).

    Scale shape: one BM25 pass (query-bounded postings — see
    ``query_postings``; thread ``broadcast_queries=False`` for an anchor
    corpus whose vocabulary outgrows a broadcast), then |anchors|·k-bounded
    window work; the docs side contributes hosts via a pure-Catalyst
    projection, never a Python kernel."""
    from pulsar_replay_spark.functions.text import token_hash60
    from pulsar_replay_spark.operators.graph import host_expr

    queries = (
        anchors.select("anchor", "dst_host")
        .distinct()
        .select(
            token_hash60(
                F.concat_ws("\x1f", F.col("anchor"), F.col("dst_host"))
            ).alias("query_id"),
            F.col("anchor").alias("query"),
            "dst_host",
        )
        .localCheckpoint(eager=True)  # feeds the BM25 pass AND the meta join
    )
    hits = bm25_topk(
        docs,
        queries.select("query_id", "query"),
        k=k,
        k1=k1,
        b=b,
        max_df_ratio=max_df_ratio,
        broadcast_queries=broadcast_queries,
    )
    hosted = hits.join(
        docs.select(F.col("doc_id"), host_expr(F.col("source")).alias("_host")),
        "doc_id",
    ).join(
        _maybe_broadcast(
            queries.select(
                "query_id", F.col("query").alias("anchor"), "dst_host"
            ),
            broadcast_queries,
        ),
        "query_id",
    )
    same = F.col("_host") == F.col("dst_host")
    w_pos = Window.partitionBy("query_id").orderBy("rk")
    positives = (
        hosted.filter(same & (F.col("score") >= F.lit(min_score)))
        .withColumn("_p", F.row_number().over(w_pos))
        .filter(F.col("_p") == 1)
        .select(
            "query_id",
            "anchor",
            "dst_host",
            F.col("doc_id").alias("pos_doc_id"),
            F.col("score").alias("pos_score"),
        )
    )
    w_neg = Window.partitionBy("query_id").orderBy("rk")
    negatives = (
        hosted.filter(~same)
        .withColumn("neg_rank", F.row_number().over(w_neg).cast("int"))
        .filter(F.col("neg_rank") <= n_negatives)
        .select(
            "query_id",
            F.col("doc_id").alias("neg_doc_id"),
            F.col("score").alias("neg_score"),
            "neg_rank",
        )
    )
    return positives.join(negatives, "query_id", "left").select(
        "query_id",
        "anchor",
        "dst_host",
        "pos_doc_id",
        "pos_score",
        "neg_doc_id",
        "neg_score",
        "neg_rank",
    )


# ---------------------------------------------------------------------------
# Maintained postings store (build once, serve forever)
#
# The query-bounded scan above is the right default for one-off query
# batches — but continuous decontamination against a FIXED eval suite and
# hybrid-retrieval serving re-run query batches every ingest, and at 100 TB
# each call is a full-corpus scan. The store gives the retrieval tier the
# lifecycle every other family already has (ANN/band stores,
# streaming/pipelines.py): BUILD as idempotent batch_id partitions per
# ingest, PROBE increments, COMPACT folds, EXPIRE forgets. Layout under
# ``store_dir``:
#
#   postings/batch_id=N/term_bucket=B/  (term, doc_id, tf, dl)
#   doclen/batch_id=N/                  (doc_id, dl)   — EVERY doc, even
#                                       zero-token ones (they carry no
#                                       postings but count in n_docs/avgdl)
#   meta/                               (n_buckets)    — one row, frozen at
#                                       build time; probes must hash query
#                                       terms with the SAME modulus
#
# term_bucket = pmod(xxhash64(term), n_buckets) partitions the index so a
# serve call PARTITION-PRUNES to the ≤|query vocab| buckets its terms hash
# into — the scan is index-bounded, never corpus-bounded. Scores served
# from the store are pinned BYTE-EQUAL to the query-bounded scan
# (test_retrieval.py): same postings rows, same df, same stats, same
# micro-unit integer sums, via the shared ``_score_from_postings`` tail.
#
# Small stores serve from driver memory (``operators/resident.py``): at
# most ``resident.MAX_STORE_BYTES`` under store_dir and at most
# ``resident.MAX_QUERY_ROWS`` query rows, ``bm25_topk_from_index`` computes
# every stored posting's contribution once per store version (the job-free
# part-file listing, renamed by every write) and (k1, b), and scores each
# batch in process with exact integer sums. The snapshot takes about 8×
# the store's on-disk bytes of driver memory (measured up to a 17 MB
# store, the table in ``resident.py``); bigger stores keep the bucket-pruned
# Spark serve.
# ---------------------------------------------------------------------------

N_TERM_BUCKETS = 64


def term_bucket(term: "F.Column", n_buckets: int) -> "F.Column":
    """The store's bucket hash — serve-side probes MUST use the store's
    frozen n_buckets (read it from meta/, never assume the default)."""
    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("int")


def postings_frames(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One ingest batch's index delta: (postings, doclen).

    postings — (term, doc_id, tf, dl): one row per distinct (doc, term),
    the same shape ``query_postings`` produces minus the query bound.
    doclen — (doc_id, dl) for EVERY doc of the batch: zero-token docs have
    no postings row but still count toward n_docs/avgdl, exactly as
    ``doc_stats`` counts them on the scan path."""
    toks = F.filter(tokens(F.col("text")), lambda t: t != "")
    postings = (
        docs.select(
            "doc_id",
            F.size(toks).cast("long").alias("dl"),
            F.explode(toks).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )
    doclen = docs.select("doc_id", F.size(toks).cast("long").alias("dl"))
    return postings, doclen


BASE_BATCH_ID = -1  # one-shot builds / compaction land here, NEVER a
# streaming micro-batch id (those start at 0): a one-shot-built store grown
# by postings_ingest_sink keeps its base partition disjoint from the sink's
# batch 0, so dynamic overwrite can't half-replace it (stale postings whose
# docs left doclen would skew df/n_docs/avgdl and served scores).


def postings_index_build(
    docs: DataFrame,
    store_dir: str,
    batch_id: int = BASE_BATCH_ID,
    n_buckets: int = N_TERM_BUCKETS,
) -> None:
    """Write one ingest batch into the store as ITS OWN batch_id partition
    (dynamic partition overwrite: a crash-retried batch clobbers only
    itself — the engine's exactly-once discipline). The one-shot batch
    build is the same call with the default batch_id = ``BASE_BATCH_ID``
    (-1, the same base partition ``postings_compact`` folds into — reserved
    so a store grown later by ``streaming.pipelines.postings_ingest_sink``,
    whose micro-batch ids start at 0, can never collide with it); the
    streaming sink passes the micro-batch id. Re-building a DIFFERENT
    corpus into an existing batch_id is NOT supported (dynamic overwrite
    only replaces the term_buckets present in the new data — use a fresh
    dir); crash-retry of the same data is. meta/ is rewritten every call
    with identical content — idempotent by construction; growing a store
    with a DIFFERENT n_buckets than it was built with raises (the bucket
    hash would stop matching the resident partitions)."""
    spark = docs.sparkSession
    existing = _store_n_buckets(spark, store_dir)
    if existing is not None and existing != n_buckets:
        raise ValueError(
            f"postings store at {store_dir} was built with "
            f"n_buckets={existing}; cannot ingest with n_buckets={n_buckets}"
        )
    postings, doclen = postings_frames(docs)
    (
        postings.withColumn("term_bucket", term_bucket(F.col("term"), n_buckets))
        .withColumn("batch_id", F.lit(int(batch_id)))
        # repartition on (bucket, term), NOT bucket alone: bucket-only
        # would cap write parallelism at n_buckets tasks — a bottleneck on
        # a large cluster. Hashing the term in keeps full parallelism;
        # partitionBy still routes rows to their bucket directory (more
        # files per dir per batch — the compactor's job to fold)
        .repartition(F.col("term_bucket"), F.col("term"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "term_bucket")
        .parquet(f"{store_dir}/postings")
    )
    (
        doclen.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{store_dir}/doclen")
    )
    spark.createDataFrame([(int(n_buckets),)], "n_buckets int").write.mode(
        "overwrite"
    ).parquet(f"{store_dir}/meta")


def _store_n_buckets(spark, store_dir: str) -> "int | None":
    from pyspark.errors import AnalysisException

    try:
        # the known schema skips the schema-inference job
        r = spark.read.schema("n_buckets int").parquet(f"{store_dir}/meta").head()
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            return None
        raise
    return None if r is None else r.n_buckets


def index_doc_stats(spark, store_dir: str) -> DataFrame:
    """1-row (n_docs, avgdl) over the store's doclen substore — DISTINCT by
    (doc_id, dl) so a crash-retried or re-ingested content-addressed doc
    counts once, then the exact agg ``doc_stats`` computes on the scan
    path."""
    dl = (
        spark.read.parquet(f"{store_dir}/doclen")
        .select("doc_id", "dl")
        .distinct()
    )
    return dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )


def index_query_postings(
    spark,
    store_dir: str,
    queries: DataFrame,
    broadcast_queries: bool = True,
) -> DataFrame:
    """(term, doc_id, tf, dl) for query terms, served from the store: the
    query vocabulary's bucket ids (a ≤n_buckets bounded collect — the
    engine's scalar-collect pattern) become a PARTITION filter, so the
    parquet scan touches only the buckets the query terms hash into; the
    term equi-join then drops same-bucket strangers. DISTINCT folds
    crash-retried duplicate partitions."""
    n_buckets = _store_n_buckets(spark, store_dir)
    if n_buckets is None:
        raise FileNotFoundError(f"no postings store at {store_dir}")
    vocab = query_terms(queries).select("term").distinct()
    bucket_ids = [
        r.b
        for r in vocab.select(
            term_bucket(F.col("term"), n_buckets).alias("b")
        )
        .distinct()
        .collect()
    ]
    post = spark.read.parquet(f"{store_dir}/postings").filter(
        F.col("term_bucket").isin(bucket_ids)
    )
    return (
        post.join(_maybe_broadcast(vocab, broadcast_queries), "term")
        .select("term", "doc_id", "tf", "dl")
        .distinct()
    )


def bm25_scores_from_index(
    spark,
    store_dir: str,
    queries: DataFrame,
    k1: float = K1,
    b: float = B,
    max_df_ratio: float | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """``bm25_scores`` served from the maintained store — pinned byte-equal
    to the query-bounded scan over the same corpus (same postings, same df,
    same stats, same integer sums through the shared tail), but the scan is
    bounded by the INDEX (pruned buckets), not the corpus."""
    postings = index_query_postings(spark, store_dir, queries, broadcast_queries)
    stats = index_doc_stats(spark, store_dir)
    return _score_from_postings(
        postings, stats, queries, k1, b, max_df_ratio, broadcast_queries
    )


def _bm25_snapshot(spark, store_dir: str, k1: float, b: float) -> dict:
    """Every distinct stored posting's micro-unit contribution ``c_u`` —
    the serve's own ``_contribution_u`` over the store's distinct postings,
    their df and ``index_doc_stats`` — sorted by term, with a
    term → (row slice, df) index."""
    import numpy as np

    if _store_n_buckets(spark, store_dir) is None:
        raise FileNotFoundError(f"no postings store at {store_dir}")
    postings = (
        spark.read.parquet(f"{store_dir}/postings")
        .select("term", "doc_id", "tf", "dl")
        .distinct()
    )
    df_t = postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    pdf = (
        postings.join(df_t, "term")
        .join(F.broadcast(index_doc_stats(spark, store_dir)))
        .select("term", "doc_id", _contribution_u(k1, b).alias("c_u"), "df", "n_docs")
        .toPandas()
        .sort_values("term", kind="mergesort")
    )
    terms, starts = np.unique(pdf["term"].to_numpy(dtype=object), return_index=True)
    ends = np.append(starts[1:], len(pdf))
    dfs = pdf["df"].to_numpy()
    return {
        "doc_field": postings.schema["doc_id"],
        "n_docs": int(pdf["n_docs"].iloc[0]) if len(pdf) else 0,
        "doc_id": pdf["doc_id"].to_numpy(dtype="int64"),
        "c_u": pdf["c_u"].to_numpy(dtype="int64"),
        "terms": {
            t: (int(lo), int(hi), int(dfs[lo]))
            for t, lo, hi in zip(terms, starts, ends)
        },
    }


def _resident_bm25_topk(
    spark, snap: dict, rows: list, query_field, k: int, max_df_ratio
) -> DataFrame:
    """The Spark serve on a snapshot, through the driver-side twins of its
    steps: ``_query_term_set`` (``query_terms``), ``_under_df_cap`` (the
    ``max_df_ratio`` filter), exact integer sums of the stored ``c_u``, and
    ``_topk_rows`` (``_topk_of_scores``)."""
    import numpy as np

    terms_of: dict = {}
    for r in rows:
        terms_of.setdefault(r.query_id, set()).update(_query_term_set(r.query))
    out = []
    for qid, terms in terms_of.items():
        hits = [snap["terms"][t] for t in terms if t in snap["terms"]]
        spans = [
            (lo, hi)
            for lo, hi, df in hits
            if _under_df_cap(df, snap["n_docs"], max_df_ratio)
        ]
        if not spans:
            continue
        ids = np.concatenate([snap["doc_id"][lo:hi] for lo, hi in spans])
        c_u = np.concatenate([snap["c_u"][lo:hi] for lo, hi in spans])
        docs, inv = np.unique(ids, return_inverse=True)
        score_u = np.zeros(len(docs), dtype="int64")
        np.add.at(score_u, inv, c_u)
        out.extend((qid, *row) for row in _topk_rows(docs, score_u, k))
    schema = StructType(
        [
            StructField("query_id", query_field.dataType, query_field.nullable),
            snap["doc_field"],
            StructField("score", DoubleType()),
            StructField("rk", IntegerType(), nullable=False),
        ]
    )
    return spark.createDataFrame(out, schema)


def bm25_topk_from_index(
    spark,
    store_dir: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    max_df_ratio: float | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """``bm25_topk`` served from the maintained store.

    A store of at most ``resident.MAX_STORE_BYTES`` on disk, queried with
    at most ``resident.MAX_QUERY_ROWS`` rows, is served in process instead
    (``_resident_bm25_topk``): every stored (term, doc) contribution is
    computed once per store version and (k1, b) by the Spark expressions
    below and held in driver memory, so each batch costs one query collect
    plus the caller's action on the returned local frame. Rows and schema
    equal this Spark serve's (pinned in tests); ``broadcast_queries`` only
    shapes the Spark plan."""
    version = resident.store_version(spark, store_dir)
    if version is not None and version[1] <= resident.MAX_STORE_BYTES:
        rows = resident.bounded_rows(queries, ["query_id", "query"])
        if rows is not None:
            snap = resident.snapshot(
                ("bm25", store_dir, k1, b),
                version,
                lambda: _bm25_snapshot(spark, store_dir, k1, b),
            )
            return _resident_bm25_topk(
                spark, snap, rows, queries.schema["query_id"], k, max_df_ratio
            )
    return _topk_of_scores(
        bm25_scores_from_index(
            spark, store_dir, queries, k1, b, max_df_ratio, broadcast_queries
        ),
        k,
    )


def lexical_decontaminate_from_index(
    spark,
    store_dir: str,
    eval_docs: DataFrame,
    k: int = 5,
    min_score: float = 0.0,
    k1: float = K1,
    b: float = B,
    max_df_ratio: float | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Lexical decontamination against the maintained store: every eval
    document becomes a BM25 query, and indexed docs ranking in any eval
    doc's top-k at or above ``min_score`` are flagged. BM25 catches the
    paraphrase that shares an eval doc's rare vocabulary but no exact
    shingle run. This is the continuous-decontamination serve path: a
    FIXED eval suite probed after every ingest touches only its own
    buckets instead of rescanning the grown corpus. Returns (doc_id,
    eval_id, score), one row per flagged indexed doc with its strongest
    accusing eval doc (min eval_id on score ties)."""
    queries = eval_docs.select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query")
    )
    hits = bm25_topk_from_index(
        spark, store_dir, queries, k, k1, b, max_df_ratio, broadcast_queries
    ).filter(F.col("score") >= F.lit(min_score))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "query_id")
    return (
        hits.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") == 1)
        .select("doc_id", F.col("query_id").alias("eval_id"), "score")
    )


def hybrid_topk_from_stores(
    spark,
    postings_store_dir: str,
    vec_store_dir: str,
    text_queries: DataFrame,
    emb_queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    c: int = RRF_C,
    pq: bool = False,
) -> DataFrame:
    """One-call sparse+dense hybrid served ENTIRELY from maintained
    stores (r11 — the round's two store lifecycles composed): BM25 hits
    from the postings store (bucket-pruned scan) RRF-fused with ANN hits
    from the IVF vector store (cell-partition-pruned scan). Neither
    corpus is rescanned, no assignment or stats recompute — the serving
    posture a continuously-ingested corpus actually runs. ``text_queries``
    is (query_id, query); ``emb_queries`` is (vec_id, embedding) with ids
    aligned to query_id (the doc_id ↔ vec_id alignment contract of
    ``hybrid_topk``, which this wraps). Both component serves are
    independently pinned byte-equal to their rescan twins, so the fusion
    equals ``hybrid_topk`` over the rescan paths by construction — and is
    pinned again end-to-end in tests. ``pq=True`` (r12) serves the dense
    leg through the PQ store's ADC path (``ivf_pq_topk_from_index`` —
    codes-bytes scan + exact rerank tail) for a pq-built vector store."""
    from pulsar_replay_spark.operators import vecstore

    sparse = bm25_topk_from_index(spark, postings_store_dir, text_queries, k=k)
    dense = (
        vecstore.ivf_pq_topk_from_index(
            spark, vec_store_dir, emb_queries, k=k, n_probe=n_probe
        )
        if pq
        else vecstore.ivf_topk_from_index(
            spark, vec_store_dir, emb_queries, k=k, n_probe=n_probe
        )
    )
    return hybrid_topk(sparse, dense, k=k, c=c)


def hybrid_topk(
    sparse_hits: DataFrame,
    dense_hits: DataFrame,
    k: int = 10,
    c: int = RRF_C,
    dense_query_col: str = "q_id",
    dense_id_col: str = "neighbor_id",
) -> DataFrame:
    """One-call sparse+dense hybrid: RRF-fuse a BM25 top-k frame
    (``bm25_topk`` / ``bm25_topk_from_index`` — (query_id, doc_id, score,
    rk)) with a dense ANN top-k frame (``similarity.ivf_topk`` /
    ``lsh_topk`` — (q_id, neighbor_id, sim, rk)) into
    (query_id, doc_id, score, rk). Pure column adaptation over
    ``rrf_fuse`` — ranks are the fusion currency, so the two retrievers'
    incomparable raw scores never meet. The caller aligns id spaces
    (doc_id ↔ the embedding table's vec_id) upstream — typically the
    embeddings ARE per-doc and share ids."""
    dense = dense_hits.select(
        F.col(dense_query_col).alias("query_id"),
        F.col(dense_id_col).alias("doc_id"),
        "rk",
    )
    sparse = sparse_hits.select("query_id", "doc_id", "rk")
    return rrf_fuse([sparse, dense], id_col="doc_id", k=k, c=c)
