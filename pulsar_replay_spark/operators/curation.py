"""Corpus curation: quality-ranked selection under a per-source token
budget — "give me the best N billion tokens per source" — the step that
turns a scored corpus into a training mixture. No reference analog (the
reference moves opaque messages); first-class for the 100 TB pipeline.

Selection rule: within each source, rank documents by (score DESC, doc_id)
and keep the maximal prefix whose cumulative token count stays ≤ budget
(whole documents only — no splitting at the budget edge).

``select_within_token_budget`` implements it in two phases. Phase 1
aggregates tokens per (source, score) — scores are round(·, 4)
expressions, so the frame is ≤ |sources|·10⁴ rows however large the
corpus — and a window over that TINY frame finds each bucket's
cumulative start. Phase 2 broadcast-joins the candidate buckets back
(buckets already past budget never join) and resolves the budget edge
with a window partitioned by (source, score) — far finer than a
per-source sort, so no single reducer ever sees a whole source. The
corpus-side work is one broadcast join + one bounded window; only
bucket boundaries, never the full source ordering, are centralized.

The one-window-per-source formulation of the rule (the spec, and the
DuckDB-oracle twin) lives in ``tests/spec_reference.py``; the equality
gate in tests proves the scale path implements exactly this semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pulsar_replay_spark.functions.text import token_count, unique_token_count


def default_quality_score(text: Column) -> Column:
    """Type-token ratio rounded to 4 decimals — bounded-cardinality by
    construction (the property phase 1 of the budget selection relies on);
    swap in any round(·, k) scoring expression."""
    return F.round(unique_token_count(text) / token_count(text), 4)


def _scored(docs: DataFrame, score: Column | None) -> DataFrame:
    s = score if score is not None else default_quality_score(F.col("text"))
    return docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        s.alias("score"),
    )


def select_within_token_budget(
    docs: DataFrame, budget_tokens: int, score: Column | None = None
) -> DataFrame:
    """Scale path (see module docstring). Returns
    (doc_id, source, n_tokens, score, cum_tokens) for kept docs."""
    scored = _scored(docs, score)
    buckets = scored.groupBy("source", "score").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    wb = Window.partitionBy("source").orderBy(F.desc("score"))
    starts = buckets.withColumn(
        "cum_before", F.sum("bucket_tokens").over(wb) - F.col("bucket_tokens")
    )
    # Buckets whose start is already past budget can't contribute a doc.
    cands = starts.filter(F.col("cum_before") < budget_tokens).select(
        "source", "score", "cum_before"
    )
    wd = (
        Window.partitionBy("source", "score")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.join(F.broadcast(cands), ["source", "score"])
        .withColumn("cum_tokens", F.col("cum_before") + F.sum("n_tokens").over(wd))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "source", "n_tokens", "score", "cum_tokens")
    )


def mixture_sample(
    docs: DataFrame, target_weights: dict[str, float], by: str = "source"
) -> DataFrame:
    """Deterministic weighted mixture: sample each group (``by`` — source,
    lang, domain, cluster label) so that kept tokens approach the target
    proportions, scaled to the largest mixture the scarcest group supports
    (K = min_g available_g / weight_g; group g keeps ≈ K·weight_g tokens —
    the binding group keeps everything).

    Acceptance is by md5(doc_id) fraction — per-doc, stable under
    repartitioning/retries, reproducible in any engine. The only shuffle is
    the per-group token-total agg, a |groups|-row frame the driver turns into
    literal rates (the broadcast-threshold pattern: a handful of scalars,
    not data). Proportions are approximate at doc granularity — exactness
    at token granularity would need the budget-selection machinery above.

    Returns docs ∩ sample with (doc_id, ``by``, n_tokens)."""
    weights = {s: float(w) for s, w in target_weights.items()}
    total_w = sum(weights.values())
    scored = docs.select(
        "doc_id", by, token_count(F.col("text")).cast("bigint").alias("n_tokens")
    ).filter(F.col(by).isin(list(weights)))
    avail = {
        r[by]: r["t"]
        for r in scored.groupBy(by).agg(F.sum("n_tokens").alias("t")).collect()
    }
    k = min(avail[s] / (weights[s] / total_w) for s in avail)
    rates = {s: min(1.0, k * (weights[s] / total_w) / avail[s]) for s in avail}
    rate_col = F.coalesce(
        *[F.when(F.col(by) == s, F.lit(r)) for s, r in rates.items()]
    )
    # md5 prefix as a uniform [0,1) fraction: first 8 hex chars / 16^8
    frac = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(16**8))
    return scored.filter(frac < rate_col).select("doc_id", by, "n_tokens")


def temperature_weights(
    docs: DataFrame, alpha: float = 0.3, by: str = "source"
) -> dict[str, float]:
    """Temperature-based mixture weights p_s ∝ n_s^α (Conneau et al. 2020,
    XLM-R §3.1 / mT5's language-sampling rule): α=1 reproduces natural
    proportions, α→0 flattens toward uniform — the standard knob for
    upweighting low-resource sources without drowning high-resource ones.
    One |groups|-key token-count agg; returns weights summing to 1, ready
    for ``mixture_sample`` (same ``by``)."""
    sizes = {
        r[by]: r.t
        for r in docs.select(
            by, token_count(F.col("text")).cast("bigint").alias("n_tokens")
        )
        .groupBy(by)
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    raised = {s: float(t) ** alpha for s, t in sizes.items()}
    total = sum(raised.values())
    return {s: v / total for s, v in raised.items()}


def temperature_mixture(
    docs: DataFrame, alpha: float = 0.3, by: str = "source"
) -> DataFrame:
    """``mixture_sample`` under temperature weights — the deterministic
    md5-acceptance sampler targets the α-flattened proportions, grouped by
    the SAME ``by`` the weights were computed over (a mismatch here
    previously raised on any ``by`` other than source)."""
    return mixture_sample(docs, temperature_weights(docs, alpha, by), by)


def mixture_summary(selected: DataFrame, budget_tokens: int) -> DataFrame:
    """Per-source mixture report: docs kept, tokens kept, budget utilization
    and the score floor that made the cut."""
    return selected.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.round(F.sum("n_tokens") / F.lit(budget_tokens), 4).alias("budget_util"),
        F.min("score").alias("score_floor"),
    )


SPLIT_BITS = 32


def hash_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    salt: str = "split-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: (id, split, split_frac).

    The standard leakage-safe splitter for a training corpus: each document's
    split is a pure function of (salt, id) — stable across runs, clusters,
    partitionings, and re-ingests (a re-crawled doc keeps its split, so
    val/test never bleed into train between dataset versions). Changing the
    salt re-deals the whole split; nothing else does.

    split_frac = first 8 md5 hex chars of ``salt:id`` as a fraction of 2^32,
    assigned to the first split whose cumulative weight covers it. A pure
    projection — no shuffle, no state (zero-exchange plan gate in
    tests/test_curation.py); at 100 TB it is a free map over the scan, and
    the same expression works as a streaming selector.
    """
    if weights is None:
        weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    frac = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(2**SPLIT_BITS))
    )
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        branch = F.when(F.col("split_frac") < cum, F.lit(name))
        expr = branch if expr is None else expr.when(F.col("split_frac") < cum, F.lit(name))
    split = (expr.otherwise(F.lit(names[-1]))) if expr is not None else F.lit(names[-1])
    return docs.withColumn("split_frac", frac).withColumn("split", split)


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): select raw documents that distributionally resemble a
# small target corpus. Features are hashed n-grams (unigrams + bigrams →
# B buckets); each corpus induces a smoothed bucket distribution; a raw
# doc's log importance weight is Σ_b count_b·(ln p̂_target(b) − ln p̂_raw(b));
# selection is Gumbel top-k over the weights (importance *resampling*, not
# a hard threshold). No reference analog — this is the targeted-selection
# step of an LLM data pipeline (e.g. "select web text that looks like
# Wikipedia") and composes with the budget/mixture machinery above.
# ---------------------------------------------------------------------------

DSIR_HEX = 3  # bucket id = first 3 md5 hex chars → B = 16^3 = 4096 buckets
DSIR_ALPHA = 1.0  # Laplace smoothing pseudo-count per bucket


def dsir_features(docs: DataFrame, hex_chars: int = DSIR_HEX) -> DataFrame:
    """(doc_id, bucket, cnt): hashed n-gram features — unigrams + bigrams
    bucketed by md5 hex prefix. The bucket keyspace is 16^hex_chars by
    construction (4096 at the default), so every downstream per-bucket
    relation is broadcast-sized no matter the corpus; the only corpus-sized
    shuffle is this per-(doc, bucket) combine, map-side aggregated."""
    from pulsar_replay_spark.functions.text import bigrams, tokens

    grams = F.concat(tokens(F.col("text")), bigrams(F.col("text")))
    return (
        docs.select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.substring(F.md5("g"), 1, hex_chars).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_bucket_counts(docs: DataFrame, hex_chars: int = DSIR_HEX) -> DataFrame:
    """(bucket, cnt): corpus-level hashed n-gram bucket counts — the ratio
    TRAINER's input when no per-doc scoring reuse is needed (r12, guide
    §2.3 "aggregate before you shuffle"). ``dsir_features`` keys its
    shuffle by (doc_id, bucket) — a corpus-gram-scale relation whose
    map-side combine barely reduces (per-doc bucket counts are mostly 1) —
    only for ``dsir_bucket_log_ratio`` to immediately re-aggregate it down
    to ≤16^hex buckets. Aggregating straight to the bucket keyspace makes
    the one shuffle carry ≤16^hex rows per map task after combine. Σ over
    docs of per-doc counts ≡ the direct count, so the trained ratio (and
    its default) is bit-identical either way (equality-gated in
    test_dsir)."""
    from pulsar_replay_spark.functions.text import bigrams, tokens

    grams = F.concat(tokens(F.col("text")), bigrams(F.col("text")))
    return (
        docs.select(F.explode(grams).alias("g"))
        .select(F.substring(F.md5("g"), 1, hex_chars).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_bucket_log_ratio(
    target_feats: DataFrame,
    raw_feats: DataFrame,
    hex_chars: int = DSIR_HEX,
    alpha: float = DSIR_ALPHA,
) -> tuple[DataFrame, float]:
    """Per-bucket ln(p̂_target/p̂_raw) under Laplace smoothing:
    p̂(b) = (c_b + α) / (total + α·B).

    Returns (ratio frame (bucket, log_ratio), default log-ratio for buckets
    unseen in BOTH corpora — the constant an unseen bucket's smoothed
    probabilities reduce to, used when scoring future/held-out docs against
    a prebuilt ratio table). The two corpus totals are build-time scalars
    (one action over the pinned bucket counts); the ratio frame is
    ≤ 16^hex_chars rows — an always-broadcastable model artifact."""
    import math

    n_buckets = 16**hex_chars
    # (bucket, tc, rc) is ≤ 16^hex rows: pinned once, it feeds both totals
    # (one action) and the ratio, so each corpus's feature explode runs
    # exactly once in here
    counts = (
        target_feats.groupBy("bucket")
        .agg(F.sum("cnt").alias("tc"))
        .join(raw_feats.groupBy("bucket").agg(F.sum("cnt").alias("rc")),
              "bucket", "full")
        .localCheckpoint(eager=True)
    )
    totals = counts.agg(F.sum("tc"), F.sum("rc")).first()
    t_total = totals[0] or 0
    r_total = totals[1] or 0
    log_ratio = F.log(
        (F.coalesce(F.col("tc"), F.lit(0)) + F.lit(alpha))
        / F.lit(float(t_total + alpha * n_buckets))
    ) - F.log(
        (F.coalesce(F.col("rc"), F.lit(0)) + F.lit(alpha))
        / F.lit(float(r_total + alpha * n_buckets))
    )
    # the ratio table IS the trained model artifact: a projection of the
    # pinned counts, so every downstream scoring plan broadcasts a
    # materialized tiny frame instead of re-running both aggregations
    ratio = counts.select("bucket", log_ratio.alias("log_ratio"))
    default = math.log(alpha / (t_total + alpha * n_buckets)) - math.log(
        alpha / (r_total + alpha * n_buckets)
    )
    return ratio, default


def dsir_score(
    docs: DataFrame,
    ratio: DataFrame,
    default: float,
    hex_chars: int = DSIR_HEX,
) -> DataFrame:
    """(doc_id, source, logw): score ANY document frame against a prebuilt
    ratio table — the serving-side half of DSIR (train the ratio offline,
    score batches/streams at ingest). One feature pass over ``docs`` plus a
    broadcast join of the bounded ratio; unseen buckets take the closed-form
    ``default``."""
    return _score_feats(docs, dsir_features(docs, hex_chars), ratio, default)


def _score_feats(
    docs: DataFrame, feats: DataFrame, ratio: DataFrame, default: float
) -> DataFrame:
    per_doc = (
        feats.join(F.broadcast(ratio), "bucket", "left")
        .withColumn("lr", F.coalesce(F.col("log_ratio"), F.lit(default)))
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("cnt") * F.col("lr")), 6).alias("logw"))
    )
    return (
        docs.select("doc_id", "source")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "source", F.coalesce(F.col("logw"), F.lit(0.0)).alias("logw")
        )
    )


def dsir_log_weights(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    hex_chars: int = DSIR_HEX,
    alpha: float = DSIR_ALPHA,
) -> DataFrame:
    """(doc_id, source, logw): per-raw-doc log importance weight.

    Join shape: per-doc bucket counts ⋈ broadcast(ratio) — the corpus side
    never shuffles beyond its own feature combine; the model side is the
    bounded, pinned bucket table. Docs whose every n-gram is unseen (empty
    text) still return a row (logw 0.0 for zero features).

    The raw corpus's n-gram explode (md5 per gram — the dominant CPU) runs
    ONCE: the per-doc feature frame is persisted, the ratio's pinned
    bucket counts reduce it (materializing the cache in that one
    checkpoint job), the scoring join reuses it, and the weights are
    pinned before release —
    the ``minhash_candidate_pairs`` cache discipline (measured ~20% off
    weight-computation wall time at sf0.1 — the explode partly pipelines
    with its aggregations, so the saved pass isn't free-standing). Scoring
    NEW docs against this model is ``dsir_score`` (declarative, no cache)."""
    raw_feats = dsir_features(raw_docs, hex_chars).persist()
    # target side: bucket-level counts only — its per-doc granularity fed
    # nothing but the ratio re-aggregation (r12, see dsir_bucket_counts)
    ratio, default = dsir_bucket_log_ratio(
        dsir_bucket_counts(target_docs, hex_chars), raw_feats, hex_chars, alpha
    )
    out = _score_feats(raw_docs, raw_feats, ratio, default).localCheckpoint(
        eager=True
    )
    raw_feats.unpersist()
    return out


def dsir_select(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    n_select: int,
    hex_chars: int = DSIR_HEX,
    alpha: float = DSIR_ALPHA,
    salt: str = "dsir-v1",
) -> DataFrame:
    """Gumbel top-k importance resampling (the paper's sampling-without-
    replacement trick): key = logw + Gumbel(u), u the md5 fraction of
    ``salt:doc_id`` — per-doc, deterministic, stable under repartitioning
    and retries like every sample in this engine. The top-k is a
    distributed TakeOrdered (per-partition heaps + driver merge of k), not
    a global sort. Returns (doc_id, source, logw, key) for the k winners."""
    w = dsir_log_weights(raw_docs, target_docs, hex_chars, alpha)
    return (
        w.withColumn("key", dsir_gumbel_key(salt))
        .orderBy(F.desc("key"), "doc_id")
        .limit(n_select)
    )


def dsir_gumbel_key(salt: str = "dsir-v1") -> Column:
    """The resampling key logw + Gumbel(u) with u the md5 fraction of
    ``salt:doc_id``; (h + 0.5)/2^32 keeps u strictly inside (0, 1) so
    ln(−ln u) is finite. Shared by offline ``dsir_select`` and the streaming
    threshold selector so their selections agree exactly."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    return F.round(F.col("logw") - F.log(-F.log(u)), 6)


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 64, overlap_tokens: int = 8
) -> DataFrame:
    """Overlapping token-window chunker: (doc_id, chunk_idx, chunk_text,
    n_tokens) — the RAG-indexing / long-doc-pretraining segmenter (distinct
    from ``dedup.chunk_dedup_marks``'s non-overlapping dedup windows:
    these chunks are user-facing retrieval units with stride
    chunk_tokens − overlap_tokens, and the final partial window is kept).

    Pure map projection — tokenize, posexplode the stride-sequence of start
    offsets, slice, re-join — no shuffle at any size (plan-gated); at 100 TB
    it is free map work over the scan, and the output order (doc_id,
    chunk_idx) reassembles the document by dropping each chunk's first
    ``overlap_tokens`` tokens after chunk 0 (property-tested).
    """
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("need 0 <= overlap_tokens < chunk_tokens")
    from pulsar_replay_spark.functions.text import tokens

    stride = chunk_tokens - overlap_tokens
    t = tokens(F.col("text"))
    # start offsets: 0, stride, 2*stride, ... covering every token once;
    # a doc shorter than chunk_tokens yields exactly one (partial) chunk
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.ceil((F.size(t) - F.lit(chunk_tokens)) / F.lit(stride)), F.lit(0)).cast("int")
        * F.lit(stride),
        F.lit(stride),
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / F.lit(stride)).cast("int").alias("chunk_idx"),
            F.slice(t, s + 1, chunk_tokens).alias("toks"),
        ),
    )
    return (
        docs.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.concat_ws(" ", F.col("c.toks")).alias("chunk_text"),
            F.size(F.col("c.toks")).alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Dataset snapshot diff: the corpus-versioning primitive ("what changed
# between yesterday's crawl and today's?") behind incremental re-processing
# decisions. Content hashes are computed BEFORE the join so document text
# never shuffles — both sides reduce to (doc_id, 16-byte hash) relations,
# one equi-join on doc_id, whatever the document sizes.
# ---------------------------------------------------------------------------


def dataset_diff(
    old: DataFrame, new: DataFrame, key: str = "doc_id", cols: list[str] | None = None
) -> DataFrame:
    """(key, status) for every document in either snapshot: 'added' (new
    only), 'removed' (old only), 'changed' (both, content hash differs),
    'unchanged'. ``cols`` is the content definition (default: every shared
    non-key column, sorted for a deterministic hash input order)."""
    if cols is None:
        cols = sorted((set(old.columns) & set(new.columns)) - {key})
    content = F.substring(
        F.md5(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols])),
        1,
        16,
    )
    o = old.select(F.col(key), content.alias("old_h"))
    n = new.select(F.col(key), content.alias("new_h"))
    return o.join(n, key, "full_outer").select(
        key,
        F.when(F.col("old_h").isNull(), F.lit("added"))
        .when(F.col("new_h").isNull(), F.lit("removed"))
        .when(F.col("old_h") != F.col("new_h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def dataset_diff_summary(diff: DataFrame) -> DataFrame:
    """One row per status with counts — the report face of ``dataset_diff``
    (a 4-row aggregate; churn monitoring reads this, reprocessing joins the
    full diff)."""
    return diff.groupBy("status").agg(F.count("*").cast("bigint").alias("n_docs"))


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    key: str = "doc_id",
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """CDC MERGE semantics over a corpus snapshot: apply a change feed of
    upserts and deletes to ``base`` and return the new snapshot — the
    batch-side primitive behind incremental corpus maintenance (the diff
    twin of ``dataset_diff``: diff reports churn, merge applies it).

    Rules (standard MERGE INTO): per key, the LATEST change wins
    (``seq_col`` desc, ties broken upsert-over-delete, then a payload-hash
    tie-break so equal (seq, op) rows resolve identically across retries
    and repartitions); 'delete' removes the key, 'upsert' replaces the
    base row or inserts a new one; keys without changes pass through.

    Scale shape: one window over the CHANGE FEED only (keyed by the change
    keys — the feed is the small side), then one anti-join of base against
    changed keys + one union. Base rows never shuffle beyond the anti-join
    probe; with a broadcast-sized feed the whole merge is broadcast joins.
    """
    payload = [c for c in changes.columns if c not in (key, op_col, seq_col)]
    from pyspark.sql.window import Window

    # final payload-hash tie-break: two upserts with equal (seq, op) must
    # resolve identically across retries/repartitions, not by arrival order
    tie = [F.desc(F.xxhash64(*payload))] if payload else []
    w = Window.partitionBy(key).orderBy(F.desc(seq_col), F.desc(op_col), *tie)
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)  # probes the anti-join AND the insert leg
    )
    survivors = base.join(latest.select(key), key, "left_anti")
    upserts = latest.filter(F.col(op_col) == "upsert").select(key, *payload)
    return survivors.unionByName(upserts)


def leakage_free_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    salt: str = "split-v1",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Cluster-atomic train/val/test split: every near-duplicate cluster is
    assigned to ONE split, so no near-duplicate candidate pair crosses a
    split boundary on the result, by construction.

    ``hash_split`` alone is re-ingest-stable but blind to near-duplicates —
    two 99%-similar crawls of the same page can land in train and test and
    leak the eval. Here each doc's split is the pure hash of its CLUSTER
    REPRESENTATIVE (the connected-component label over MinHash candidate
    pairs; unclustered docs represent themselves), so members move together
    and the unclustered 9x% of the corpus keeps exactly its ``hash_split``
    assignment.

    Plan shape at 100 TB: the cluster-label relation is duplicates-only
    (tiny vs the corpus) and broadcasts against the corpus scan; the split
    itself stays a zero-shuffle projection. Pass ``clusters=`` to reuse an
    already-computed per-member label table — the (doc_id, cluster_id)
    output of ``dedup.connected_components(minhash_candidate_pairs(docs))``
    (NOT ``near_dup_clusters``, which is the one-row-per-cluster summary) —
    instead of re-running CC; ``dedup_corpus(clusters=...)`` shares the
    same table.

    Returns docs + (split_key, split_frac, split); ``split_key`` is kept so
    the cluster-atomicity is auditable downstream.
    """
    if clusters is None:
        from pulsar_replay_spark.operators.dedup import (
            connected_components,
            minhash_candidate_pairs,
        )

        clusters = connected_components(minhash_candidate_pairs(docs))
    keyed = docs.join(
        F.broadcast(clusters.withColumnRenamed("cluster_id", "_cluster_rep")),
        "doc_id",
        "left",
    ).withColumn("split_key", F.coalesce(F.col("_cluster_rep"), F.col("doc_id")))
    return hash_split(keyed, weights, salt, id_col="split_key").drop("_cluster_rep")


def dsir_select_per_group(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    k_per_group: int,
    by: str = "source",
    hex_chars: int = DSIR_HEX,
    alpha: float = DSIR_ALPHA,
    salt: str = "dsir-v1",
) -> DataFrame:
    """Balanced DSIR selection: Gumbel top-k WITHIN each group (source,
    language, domain) instead of globally — the cap that stops one dominant
    source from eating the whole budget while still picking each group's
    most target-like docs. Same md5-Gumbel key as ``dsir_select``, so the
    per-group winners are a deterministic refinement of the global order.

    One window per group key (rank, then filter ≤ k) — Spark's
    WindowGroupLimit pushes the rank-filter into the shuffle, so each
    group's candidates beyond k are dropped before the full sort completes.
    """
    from pyspark.sql.window import Window

    w = dsir_log_weights(raw_docs, target_docs, hex_chars, alpha)
    if by not in w.columns:
        # the weights frame carries only (doc_id, source, logw); any other
        # grouping (lang, domain, cluster label) re-attaches from the raw
        # corpus by primary key — previously an UNRESOLVED_COLUMN error
        w = w.join(raw_docs.select("doc_id", by), "doc_id")
    keyed = w.withColumn("key", dsir_gumbel_key(salt))
    win = Window.partitionBy(by).orderBy(F.desc("key"), "doc_id")
    return (
        keyed.withColumn("_rk", F.row_number().over(win))
        .filter(F.col("_rk") <= k_per_group)
        .drop("_rk")
    )


def corpus_drift(
    old: DataFrame, new: DataFrame, by: str = "source", hex_chars: int = 3
) -> DataFrame:
    """Distribution-drift report between two corpus snapshots: per group,
    the Jensen–Shannon divergence between the snapshots' hashed-word-bucket
    distributions (the DSIR feature space: a FIXED 16^hex_chars keyspace,
    so the comparison costs two bucket-count aggs + one bucket-keyed join
    whatever the corpus size). 0 = identical word mix; ln(2) ≈ 0.693 =
    disjoint. The monitoring twin of ``dataset_diff``: diff says WHICH docs
    changed, drift says whether the LANGUAGE changed."""
    from pulsar_replay_spark.functions.text import tokens

    def dist(df, col):
        return (
            df.select(F.col(by), F.explode(tokens(F.col("text"))).alias("w"))
            .filter(F.col("w") != "")
            .select(
                by,
                F.conv(F.substring(F.md5("w"), 1, hex_chars), 16, 10)
                .cast("int")
                .alias("b"),
            )
            .groupBy(by, "b")
            .agg(F.count("*").cast("double").alias(col))
        )

    p = dist(old, "c_old")
    q = dist(new, "c_new")
    joined = p.join(q, [by, "b"], "full_outer").fillna(
        0.0, subset=["c_old", "c_new"]
    )
    totals = joined.groupBy(by).agg(
        F.sum("c_old").alias("t_old"), F.sum("c_new").alias("t_new")
    )
    # greatest(total, 1): a group present in only ONE snapshot has a zero
    # total on the other side — 0/0 doubles are NaN (not an ANSI error) and
    # would poison the whole group's sum; clamping makes the absent side the
    # zero measure, so the group reports ln(2)/2 deterministically (only the
    # present side's half-sum contributes; regression-pinned in tests)
    z = joined.join(F.broadcast(totals), by).select(
        by,
        (F.col("c_old") / F.greatest(F.col("t_old"), F.lit(1.0))).alias("pp"),
        (F.col("c_new") / F.greatest(F.col("t_new"), F.lit(1.0))).alias("qq"),
    )
    m = (F.col("pp") + F.col("qq")) / 2
    term = lambda x: F.when(x > 0, x * F.log(x / m)).otherwise(F.lit(0.0))  # noqa: E731
    return z.groupBy(by).agg(
        F.round(
            0.5 * F.sum(term(F.col("pp"))) + 0.5 * F.sum(term(F.col("qq"))), 6
        ).alias("js_divergence")
    )
