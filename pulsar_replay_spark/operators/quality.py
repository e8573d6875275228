"""Data-quality expectation checks — the gate a training-data pipeline runs
before promoting a capture (null ratios, key uniqueness, referential
containment, range bounds). Each check is a DataFrame aggregate; the suite
runs as ONE job over a single pass (checks are combined into one agg where
possible) and returns a violations frame — empty means the contract holds.

The reference has no data-quality layer (its only validation is the decode
fallback, pulsar_backup_restore.py:118-124); this is engine infrastructure
the 100 TB pipeline cannot live without: a bad capture partition must fail
the gate, not poison downstream dedup/training.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check_suite(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Run named boolean-violation expressions in one aggregate pass.
    Each ``checks[name]`` is a row-level predicate that is TRUE when the row
    VIOLATES the expectation. Returns (check, n_violations) rows where
    n_violations > 0."""
    aggs = [
        F.count(F.when(pred, 1)).cast("bigint").alias(name)
        for name, pred in checks.items()
    ]
    row = df.agg(*aggs)
    stacked = row.unpivot([], list(checks), "check", "n_violations")
    return stacked.filter(F.col("n_violations") > 0)


def unique_key_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """Key groups appearing more than once (needs its own shuffle — cannot
    fold into the single-pass suite)."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


def referential_violations(child: DataFrame, parent: DataFrame, fk: str, pk: str) -> DataFrame:
    """Child rows whose foreign key has no parent (left-anti join)."""
    return child.join(parent, child[fk] == parent[pk], "left_anti")


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    "Scaling Language Models" §A1.1 data-quality filters): fraction of
    repeated tokens, fraction of repeated 2-grams, and the most-frequent
    token's share. Pure map — no shuffle, no Python; every signal is a
    higher-order-function expression over the token array, so the pass is
    embarrassingly parallel at any corpus size.

    Returns one row per doc:
    (doc_id, source, n_tokens, dup_token_ratio, dup_bigram_ratio,
    top_token_ratio)."""
    from pulsar_replay_spark.functions.text import (
        bigrams,
        tokens,
        top_token_count,
    )

    text = F.col("text")
    t = tokens(text)
    bg = bigrams(text)
    n_tok = F.size(t)
    n_bg = F.size(bg)
    return docs.select(
        "doc_id",
        "source",
        n_tok.alias("n_tokens"),
        F.round(1 - F.size(F.array_distinct(t)) / n_tok, 4).alias(
            "dup_token_ratio"
        ),
        F.when(
            n_bg > 0, F.round(1 - F.size(F.array_distinct(bg)) / n_bg, 4)
        ).alias("dup_bigram_ratio"),
        F.round(top_token_count(text) / n_tok, 4).alias("top_token_ratio"),
    )


# ---------------------------------------------------------------------------
# Corpus-trained bigram language-model scoring (perplexity-style quality
# filtering — the CCNet/RefinedWeb pipeline step): train token/bigram counts
# on the corpus itself, score each document by mean negative log-probability
# of its bigrams under add-k smoothing. Low-score docs read like the corpus;
# high-score docs are noise/outliers — the standard LM-filter signal without
# an external model artifact.
# ---------------------------------------------------------------------------

LM_K = 0.5  # add-k smoothing


def lm_counts(docs: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """(unigram counts, bigram counts, vocab size) trained on the corpus.

    Scale shape: both count tables reduce to the VOCABULARY keyspace
    (map-side combined), not the corpus — at 100 TB the token explode is the
    map work and the shuffled relation is |vocab| / |distinct bigrams| rows.
    vocab_size is one scalar action on the already-aggregated unigram frame.
    """
    from pulsar_replay_spark.functions.text import bigrams, tokens

    # Count-table keys are fixed 16-byte md5 slices of the token/bigram, not
    # the strings themselves — the same bounded-shuffle-key trick as the
    # n-gram dedup index (the corpus-wide explode is the biggest shuffle in
    # this operator, and raw bigram strings are unbounded). The DuckDB twin
    # mirrors the identical slice, so the gate stays exact.
    uni = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .select(F.substring(F.md5("w"), 1, 16).alias("wh"))
        .groupBy("wh")
        .agg(F.count("*").alias("c1"))
        .localCheckpoint(eager=True)  # feeds the score join AND vocab count
    )
    bi = (
        docs.select(F.explode(bigrams(F.col("text"))).alias("bg"))
        .select(F.substring(F.md5("bg"), 1, 16).alias("bgh"))
        .groupBy("bgh")
        .agg(F.count("*").alias("c2"))
    )
    return uni, bi, uni.count()


def lm_doc_scores(
    docs: DataFrame,
    uni: DataFrame | None = None,
    bi: DataFrame | None = None,
    vocab: int | None = None,
    k: float = LM_K,
) -> DataFrame:
    """(doc_id, n_bigrams, nll): mean −ln P(w2|w1) per document under the
    corpus bigram LM with add-k smoothing:

        P(w2|w1) = (c(w1 w2) + k) / (c(w1) + k·V)

    Join shape: the doc's exploded bigrams equi-join the bigram count table
    on the bigram string and the unigram table on the first token — both
    shuffles are on vocabulary-sized keys (hot stop-words combine map-side
    on the count side; the per-doc mean shuffles doc_id only). Docs with <2
    tokens score NULL (no bigrams), surfaced not dropped.
    """
    from pulsar_replay_spark.functions.text import bigrams

    if uni is None or bi is None or vocab is None:
        uni, bi, vocab = lm_counts(docs)
    doc_bg = (
        docs.select("doc_id", F.explode(bigrams(F.col("text"))).alias("bg"))
        .withColumn("bgh", F.substring(F.md5("bg"), 1, 16))
        .withColumn("wh", F.substring(F.md5(F.split(F.col("bg"), " ")[0]), 1, 16))
        .drop("bg")
    )
    scored = (
        doc_bg.join(bi, "bgh", "left")
        .join(uni, "wh", "left")
        .withColumn(
            "nll_term",
            -F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(k))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k * vocab))
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.avg("nll_term"), 6).alias("nll"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.col("nll"),
        )
    )


# ---------------------------------------------------------------------------
# Per-group adaptive quantile thresholds — "drop each source's bottom q
# fraction by score" (the CCNet head/middle/tail split generalized): the
# cutoff adapts to every source's own score distribution instead of one
# global constant, which is how LM-filter thresholds are actually applied.
# ---------------------------------------------------------------------------


def quantile_thresholds(
    scored: DataFrame, q: float, score_col: str = "score", by: str = "source"
) -> DataFrame:
    """(by, threshold): each group's q-quantile of ``score_col`` via
    ``approx_percentile`` — one aggregation over the |groups| keyspace,
    map-side combined sketches, no per-group sort. The scale path for any
    group size; accuracy is the standard knob (10k ≈ 0.01% rank error)."""
    return scored.groupBy(by).agg(
        F.expr(f"approx_percentile({score_col}, {q}, 10000)").alias("threshold")
    )


def drop_bottom_quantile(
    scored: DataFrame, q: float, score_col: str = "score", by: str = "source"
) -> DataFrame:
    """Scale path: keep rows at or above their group's approximate
    q-quantile. The thresholds relation is |groups| rows → broadcast; the
    corpus side is filtered in place with no shuffle beyond the sketch agg."""
    th = quantile_thresholds(scored, q, score_col, by)
    return scored.join(F.broadcast(th), by).filter(
        F.col(score_col) >= F.col("threshold")
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary statistics: the Zipf curve + cumulative-coverage report a
# tokenizer/vocab decision is actually made from ("how many types cover 95%
# of tokens?"). One corpus explode -> vocabulary-keyspace count (map-side
# combined); the top-k cut is a distributed TakeOrdered (per-partition heaps,
# driver merges k rows) -- never a global sort of the vocabulary; the prefix
# sum then runs over the k-row result only.
# ---------------------------------------------------------------------------


def vocab_stats(docs: DataFrame, top_k: int = 100) -> DataFrame:
    """(rank, word, cnt, cum_share) for the corpus's top_k words by
    frequency: rank orders by (cnt desc, word asc); cum_share is the running
    token-coverage fraction of ranks 1..r over ALL corpus tokens (not just
    the displayed k). Whitespace tokens, exactly the `functions.text.tokens`
    convention the DuckDB twin mirrors."""
    from pyspark.sql.window import Window

    from pulsar_replay_spark.functions.text import tokens

    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)  # feeds the total AND the top-k cut
    )
    total = counts.agg(F.sum("cnt")).collect()[0][0]
    top = counts.orderBy(F.desc("cnt"), "word").limit(top_k)
    w = Window.orderBy(F.desc("cnt"), "word").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return top.select(
        F.row_number().over(Window.orderBy(F.desc("cnt"), "word")).alias("rank"),
        "word",
        "cnt",
        F.round(F.sum("cnt").over(w) / F.lit(float(total)), 6).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al., arXiv:1911.00359): score
# every document under the corpus bigram LM, then label each one head /
# middle / tail by its position in its LANGUAGE's own score distribution --
# the published recipe assigns web documents to quality tiers per language
# before sampling, rather than dropping outright. Buckets come from the same
# approx_percentile sketch as drop_bottom_quantile (|langs|-key agg,
# broadcast join-back): no per-language sort of the corpus, any group size.
# ---------------------------------------------------------------------------


def ccnet_buckets(
    docs: DataFrame,
    scores: DataFrame | None = None,
    by: str = "lang",
) -> DataFrame:
    """(doc_id, lang, nll, bucket): bucket is 'head' (nll <= group 1/3
    quantile -- most fluent under the LM), 'middle', 'tail', or 'short' for
    docs too short to score (nll NULL, surfaced not dropped). Pass a
    prebuilt ``scores`` frame (lm_doc_scores output) to reuse a trained LM
    across calls -- the build-once/serve-forever split every other model
    artifact here follows."""
    if scores is None:
        scores = lm_doc_scores(docs)
    scored = docs.select("doc_id", by).join(scores.select("doc_id", "nll"), "doc_id")
    th = scored.filter(F.col("nll").isNotNull()).groupBy(by).agg(
        F.expr("approx_percentile(nll, array(0.3333333, 0.6666667), 10000)").alias("th")
    )
    return scored.join(F.broadcast(th), by, "left").select(
        "doc_id",
        by,
        "nll",
        F.when(F.col("nll").isNull(), F.lit("short"))
        .when(F.col("nll") <= F.col("th")[0], F.lit("head"))
        .when(F.col("nll") <= F.col("th")[1], F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# Feature-hashed document vectors (the "hashing trick", Weinberger et al.
# 2009): model-free dense doc embeddings from token hashes — signed counts
# over md5 buckets. The bridge from the text tier to the vector tier: every
# embedding operator (brute force / IVF / SemDeDup / MMR / near-dup) runs
# unchanged over these vectors when no learned encoder exists, which is
# exactly the bootstrap situation of a fresh 100 TB corpus.
# ---------------------------------------------------------------------------


def hashed_doc_vectors(docs: DataFrame, dim: int = 64) -> DataFrame:
    """(vec_id = doc_id, embedding: array<float>): component b sums a ±1
    sign over every token hashing to bucket b (bucket = first 4 md5 hex
    chars mod dim; sign = 5th hex char < '8'). Pure md5 expressions — the
    DuckDB twin reproduces every component exactly; no Python, no model.

    Scale shape: token explode → (doc_id, bucket) partial-summed shuffle
    (map-side combined, fan-in dim per doc), then one doc_id-keyed map
    assembly. Dense output is dim floats/doc regardless of doc length."""
    from pulsar_replay_spark.functions.text import tokens

    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    hashed = tok.select(
        "doc_id",
        (F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("int") % dim).alias("b"),
        F.when(
            F.conv(F.substring(F.md5("w"), 5, 1), 16, 10).cast("int") < 8, F.lit(1)
        ).otherwise(F.lit(-1)).alias("s"),
    )
    per_bucket = hashed.groupBy("doc_id", "b").agg(F.sum("s").alias("v"))
    maps = per_bucket.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "v"))).alias("m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i), F.lit(0)).cast("float"),
    )
    return (
        docs.select("doc_id")
        .join(maps, "doc_id", "left")
        .select(
            F.col("doc_id").alias("vec_id"),
            F.coalesce(
                dense, F.array_repeat(F.lit(0.0).cast("float"), dim)
            ).alias("embedding"),
        )
    )


def quarantine(
    df: DataFrame, checks: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Row-level side-output split over the same violation predicates
    ``check_suite`` aggregates: (clean, quarantined) where quarantined rows
    carry a ``violations`` array naming every failed expectation — the
    bad-record channel an ingest pipeline writes next to the main sink
    instead of dropping silently. One projection, zero shuffles; the checks
    evaluate once via a shared array column."""
    viol = F.filter(
        F.array(
            *[
                F.when(pred, F.lit(name)).otherwise(F.lit(None))
                for name, pred in checks.items()
            ]
        ),
        lambda x: x.isNotNull(),
    )
    marked = df.withColumn("violations", viol)
    clean = marked.filter(F.size("violations") == 0).drop("violations")
    bad = marked.filter(F.size("violations") > 0)
    return clean, bad


# ---------------------------------------------------------------------------
# Distribution-drift monitoring (r8): PSI over score histograms — the gate a
# CONTINUOUS pipeline runs per ingest window. Quality scores sliding because
# a crawl source changed its boilerplate (or a scorer was retrained) poisons
# every downstream threshold; PSI against a frozen reference histogram is
# the standard detector (banking's population-stability-index, applied to
# corpus curation). Reference analog: none — north-star extension.
# ---------------------------------------------------------------------------


def _bin_expr(bins: list[float], col: str):
    """Validated [lo, hi) threshold-fold binning shared by the histogram
    and the windowed drift monitor — ONE definition, so the two sides of a
    PSI comparison can never bin differently. Strictly ascending required:
    a duplicate threshold silently makes a bin unreachable."""
    if not bins or any(a >= b for a, b in zip(bins, bins[1:])):
        raise ValueError(
            f"bins must be a non-empty strictly ascending list, got {bins}"
        )
    thresholds = F.array(*[F.lit(float(b)) for b in bins])
    return F.aggregate(
        thresholds,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.when(F.col(col) >= t, 1).otherwise(0).cast("long"),
    )


def score_histogram(
    scored: DataFrame, bins: list[float], col: str = "score"
) -> DataFrame:
    """(bin, n): counts per threshold bin — bin i holds values in
    [bins[i-1], bins[i]), bin 0 everything below bins[0], bin len(bins)
    everything at-or-above the last threshold. One aggregate pass; the bin
    expression is a pure Catalyst fold over the (small, literal) threshold
    array, so the histogram costs one |bins|-key shuffle however large the
    corpus. NULL scores are excluded (count them via check_suite)."""
    return (
        scored.filter(F.col(col).isNotNull())
        .groupBy(_bin_expr(bins, col).alias("bin"))
        .agg(F.count("*").alias("n"))
    )


def psi_drift(
    ref_hist: DataFrame, cur_hist: DataFrame, eps: float = 1e-6
) -> DataFrame:
    """One-row (psi, n_ref, n_cur) + per-bin contributions are available via
    ``psi_contributions``. PSI = Σ (p−q)·ln(p/q) over bin proportions with
    ``eps`` additive smoothing (an empty bin on either side must not yield
    ±inf). Rule of thumb: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted.
    Both inputs are |bins|-row frames — driver-scale arithmetic expressed
    relationally so it composes with streaming windows."""
    contrib = psi_contributions(ref_hist, cur_hist, eps)
    return contrib.agg(
        F.round(F.sum("psi_term"), 6).alias("psi"),
        F.sum("n_ref").cast("bigint").alias("n_ref"),
        F.sum("n_cur").cast("bigint").alias("n_cur"),
    )


def psi_contributions(
    ref_hist: DataFrame, cur_hist: DataFrame, eps: float = 1e-6
) -> DataFrame:
    """(bin, n_ref, n_cur, p_ref, p_cur, psi_term): the per-bin PSI
    breakdown — WHICH part of the distribution moved, not just that it
    did. Full outer join on bin (a bin empty on one side is the signal,
    not a join casualty)."""
    from pyspark.sql.functions import broadcast

    ref = ref_hist.select("bin", F.col("n").alias("n_ref"))
    cur = cur_hist.select("bin", F.col("n").alias("n_cur"))
    joined = (
        ref.join(cur, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    totals = joined.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = F.col("n_ref") / F.greatest(F.col("t_ref"), F.lit(1)) + F.lit(eps)
    q = F.col("n_cur") / F.greatest(F.col("t_cur"), F.lit(1)) + F.lit(eps)
    return (
        joined.crossJoin(broadcast(totals))  # 1-row stat join, engine pattern
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round(p, 9).alias("p_ref"),
            F.round(q, 9).alias("p_cur"),
            ((p - q) * F.log(p / q)).alias("psi_term"),
        )
    )


def drift_by_window(
    scored: DataFrame,
    ref_hist: DataFrame,
    bins: list[float],
    window: str = "1 hour",
    ts_col: str = "ts",
    col: str = "score",
    eps: float = 1e-6,
) -> DataFrame:
    """(window_start, psi, n_cur): PSI of each event-time window's score
    distribution against the frozen reference — the continuous-monitoring
    serve (run it over the accepted store or a rollup, alert on the
    threshold your ops picks). One pass: histogram per (window, bin), then
    the |windows|·|bins|-row PSI arithmetic against the broadcast
    reference."""
    return psi_from_window_hist(
        window_histogram(scored, bins, window=window, ts_col=ts_col, col=col),
        ref_hist,
        eps=eps,
    )


def window_histogram(
    scored: DataFrame,
    bins: list[float],
    window: str = "1 hour",
    ts_col: str = "ts",
    col: str = "score",
) -> DataFrame:
    """(window_start, bin, n_cur): the per-event-time-window histogram —
    counts are ADDITIVE, so partial histograms of the same window (e.g. one
    per micro-batch in a streaming monitor store) re-aggregate exactly with
    a sum; PSI itself does NOT re-aggregate, which is why the monitor store
    persists THIS shape and computes PSI at read time."""
    return (
        scored.filter(F.col(col).isNotNull())
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"),
            _bin_expr(bins, col).alias("bin"),
        )
        .agg(F.count("*").alias("n_cur"))
        .select(F.col("w.start").alias("window_start"), "bin", "n_cur")
    )


def psi_from_window_hist(
    cur: DataFrame, ref_hist: DataFrame, eps: float = 1e-6
) -> DataFrame:
    """(window_start, psi, n_cur) from an already-built per-window histogram
    (``window_histogram``'s shape — rows may be PARTIAL per (window, bin);
    they are summed first, so counts from any batching re-aggregate
    exactly)."""
    from pyspark.sql.functions import broadcast

    cur = cur.groupBy("window_start", "bin").agg(
        F.sum("n_cur").cast("long").alias("n_cur")
    )
    ref_total = ref_hist.agg(F.sum("n").alias("t_ref"))
    ref = (
        ref_hist.crossJoin(broadcast(ref_total))
        .select(
            "bin",
            (F.col("n") / F.greatest(F.col("t_ref"), F.lit(1))).alias("p_ref_raw"),
        )
    )
    # the bin axis is ref bins ∪ current bins: a bin empty on EITHER side is
    # the drift signal (score_histogram emits only non-empty bins), so the
    # per-window grid must carry both
    bin_axis = (
        ref.select("bin").unionByName(cur.select("bin")).distinct()
    )
    win_totals = cur.groupBy("window_start").agg(F.sum("n_cur").alias("t_cur"))
    grid = (
        win_totals.crossJoin(broadcast(bin_axis))
        .join(broadcast(ref), "bin", "left")
        .join(cur, ["window_start", "bin"], "left")
        .select(
            "window_start",
            "bin",
            "t_cur",
            F.coalesce("p_ref_raw", F.lit(0.0)).alias("p_ref_raw"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    p = F.col("p_ref_raw") + F.lit(eps)
    q = F.col("n_cur") / F.greatest(F.col("t_cur"), F.lit(1)) + F.lit(eps)
    return (
        grid.groupBy("window_start")
        .agg(
            F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
            F.sum("n_cur").cast("bigint").alias("n_cur"),
        )
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (r8): deflate ratio per document — the
# classic cheap detector the repetition signals can't replace: templated/
# boilerplate text (machine-generated spam, scraped nav chrome, keyword
# stuffing) compresses FAR below natural prose, while encoding junk (base64
# blobs, minified bundles, binary-in-text) barely compresses at all. Used as
# a two-sided gate (too compressible OR too incompressible = suspect) in
# C4-descendant pipelines. zlib has no Catalyst expression, so this is an
# Arrow-batched kernel — the sanctioned Python seam (one batch per call,
# fixed narrow output, text never shuffles: the signal rides the scan).
# ---------------------------------------------------------------------------


def compression_signals(docs: DataFrame, level: int = 6) -> DataFrame:
    """(doc_id, n_bytes, n_compressed, compression_ratio): per-doc deflate
    ratio (compressed/raw UTF-8 bytes, round 4; empty docs ratio NULL).
    Natural prose lands ~0.3–0.6; heavily templated text < ~0.2; base64/
    minified junk > ~0.9. zlib's fixed header/dictionary overhead dominates
    SHORT documents (a 100-byte prose doc reads ~0.8), so apply the
    two-sided gate only above a length floor — pair with the Gopher length
    check, don't replace it. ``level`` is zlib's (6 = the default
    trade-off; the RATIO is what matters, so don't chase 9). Deterministic:
    zlib output for one (input, level) is stable across CPython builds."""
    import pandas as pd

    def run(batches):
        import zlib

        for pdf in batches:
            raw = [t.encode("utf-8") if t is not None else b"" for t in pdf["text"]]
            n = [len(b) for b in raw]
            c = [len(zlib.compress(b, level)) if b else None for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.Series(n, dtype="int64"),
                    "n_compressed": pd.Series(c, dtype="Int64"),
                    "compression_ratio": [
                        round(ci / ni, 4) if ci is not None else None
                        for ci, ni in zip(c, n)
                    ],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        run,
        schema="doc_id long, n_bytes long, n_compressed long, "
        "compression_ratio double",
    )


def compression_gate(
    docs: DataFrame,
    min_ratio: float = 0.15,
    max_ratio: float = 0.95,
    level: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """(kept, rejected): the two-sided compression filter — rejected rows
    carry (doc_id, compression_ratio, reason ∈ {'too_compressible',
    'too_incompressible'}); empty docs pass (nothing to judge — the length
    floor is a different check). Composes like ``quarantine``: ids only,
    text never shuffles."""
    sig = compression_signals(docs, level)
    reason = (
        F.when(F.col("compression_ratio") < min_ratio, F.lit("too_compressible"))
        .when(F.col("compression_ratio") > max_ratio, F.lit("too_incompressible"))
    )
    marked = sig.withColumn("reason", reason)
    rejected = marked.filter(F.col("reason").isNotNull()).select(
        "doc_id", "compression_ratio", "reason"
    )
    kept = docs.join(rejected.select("doc_id"), "doc_id", "left_anti")
    return kept, rejected
