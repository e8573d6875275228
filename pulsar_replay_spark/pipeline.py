"""End-to-end corpus curation — the composition a training-data user
actually runs, wiring the engine's stages in their production order:

    near-dup dedup → decontamination → per-source quality-quantile filter
    → scoring (DSIR when a target corpus is given, else type-token ratio)
    → per-source token-budget selection → leakage-safe hash split
    → sequence packing of the train split

Every stage is an existing gated operator; this module adds the glue, the
stage-by-stage funnel report, and nothing else — so the composition's
correctness follows from the per-stage gates plus the invariants pinned in
``tests/test_pipeline.py`` (monotone funnel, no loser/contaminated doc
survives, budget respected, splits partition the selection, packed tokens
conserve the train split).

Scale posture: stages communicate by doc_id frames (anti-join / semi-join
joins on the primary key) and no stage re-reads text it does not need.
Each reported stage of ``curate_corpus`` is computed once: it is locally
checkpointed as it is built, so the next stage, the funnel report's count
and the caller's collects read its blocks. Lazy stage frames would re-run
the whole upstream lineage (shingles, MinHash, DSIR features) once per
consumer; the operators' own caches pin only their internal artifacts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import curation, dedup, packing, quality


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    target: DataFrame | None = None,
    drop_quantile: float = 0.25,
    drop_lm_tail: bool = False,
    semantic: bool = False,
    check_leakage: bool = False,
    budget_tokens: int = 20_000,
    seq_len: int = 64,
    n_shards: int = 8,
    min_overlap: int = 8,
    domain_ranks: DataFrame | None = None,
    domain_floor_quantile: float = 0.25,
    url_dedup: bool = False,
    lexical_decontaminate: bool = False,
    lexical_min_score: float = 2.0,
    lexical_k: int = 5,
    lexical_broadcast_queries: bool = True,
    lexical_max_df_ratio: float | None = None,
    compression_filter: bool = False,
    compression_bounds: tuple[float, float] = (0.15, 0.95),
    fix_text: bool = False,
    decontaminate_policy: str = "drop",
    dup_span_tokens: int | None = None,
    lang_model: dict | None = None,
) -> dict:
    """Run the full funnel; returns every stage frame plus a funnel report.

    Keys: deduped, decontaminated, filtered, selected, split, packed,
    report (stage, n_docs rows in pipeline order), and leakage with
    ``check_leakage``.

    Every reported stage frame (``deduped``, ``decontaminated``,
    ``filtered``, ``selected``, each optional stage and the train docs
    packing reads) is an eager local checkpoint: the call runs the
    funnel's heavy work, and the returned frames only read stored blocks.
    ``split``, ``packed`` and ``report`` stay lazy projections of them.
    The blocks live until the returned frames are garbage-collected. That
    suits ``local[N]``; on a cluster a lost executor loses its blocks, and
    a frame that read them fails."""
    stages: list[tuple[str, DataFrame]] = [("input", docs)]

    # optional Unicode repair FIRST (r9): mojibake fix + NFC so every
    # downstream hash/quality/lang stage sees the text one clean decode
    # would have produced — a mangled copy of a clean doc re-collides in
    # exact dedup only if repair runs before hashing. Row count never
    # changes, so the stage is reported for lineage, not as a filter.
    if fix_text:
        from pulsar_replay_spark.operators.textnorm import repair_corpus

        docs = _stage(stages, "text_repaired", repair_corpus(docs))

    # optional lang enrichment (r10): fill NULL lang rows under a trained
    # char-n-gram model (classifier.lang_classifier_train artifact) BEFORE
    # any per-language stage — raw-WARC corpora land lang-less, and both
    # ccnet_buckets(by=lang) here and data_card's per-lang shares read this
    # column. Row count never changes (low-coverage/OOV rows stay NULL);
    # reported for lineage, not as a filter.
    if lang_model is not None:
        from pulsar_replay_spark.operators.classifier import enrich_lang

        docs = _stage(stages, "lang_enriched", enrich_lang(docs, lang_model))

    # optional URL-level pre-dedup: canonicalized source URLs shed exact
    # re-fetches BEFORE any text is hashed (the crawl pipeline's cheapest
    # stage — one shuffle on the canonical-url key, no text movement)
    if url_dedup:
        from pulsar_replay_spark.functions.urls import url_dedup_marks

        keep_ids = url_dedup_marks(docs).filter(F.col("keep")).select("doc_id")
        docs = _stage(
            stages, "url_deduped", docs.join(keep_ids, "doc_id", "left_semi")
        )

    deduped = _stage(stages, "deduped", dedup.dedup_corpus(docs))

    # optional any-length exact-substring scrub (r10, Lee et al.
    # arXiv:2107.06499): after doc-level dedup, remove every duplicated
    # token span of length >= dup_span_tokens (keep-first) — the repeated
    # boilerplate/quotation tail doc-level dedup can't see. Docs scrubbed
    # to nothing leave the corpus; n_chars recomputed over surviving text.
    if dup_span_tokens is not None:
        scrubbed = dedup.dup_span_scrub(deduped, min_tokens=dup_span_tokens)
        kept_text = scrubbed.filter(F.length("cleaned_text") > 0).select(
            "doc_id", F.col("cleaned_text").alias("text")
        )
        deduped = _stage(
            stages,
            "dup_span_scrubbed",
            deduped.drop("text", "n_chars")
            .join(kept_text, "doc_id")
            .withColumn("n_chars", F.length("text").cast("long")),
        )

    if benchmark is not None and decontaminate_policy == "scrub":
        # r9 span policy: remove only the contaminated token spans and keep
        # the rest of the doc — a page QUOTING one eval question loses the
        # quote, not the page. Fully-scrubbed docs (nothing but the quote)
        # leave the corpus; n_chars recomputed over the scrubbed text.
        scrubbed = dedup.span_decon_scrub(deduped, benchmark)
        decontaminated = (
            deduped.drop("text", "n_chars")
            .join(
                scrubbed.select(
                    "doc_id", F.col("cleaned_text").alias("text")
                ),
                "doc_id",
            )
            .filter(F.length("text") > 0)
            .withColumn("n_chars", F.length("text").cast("long"))
        )
    elif benchmark is not None:
        overlap = dedup.benchmark_overlap(deduped, benchmark, min_overlap)
        clean_ids = overlap.filter(~F.col("contaminated")).select("doc_id")
        decontaminated = deduped.join(clean_ids, "doc_id", "left_semi")
    else:
        decontaminated = deduped
    decontaminated = _stage(stages, "decontaminated", decontaminated)

    # optional second decontamination lever: BM25 against the benchmark —
    # catches the paraphrase that shares its RARE VOCABULARY with an eval
    # doc but no exact 3-shingle run (the shingle stage's blind spot).
    # lexical_min_score is corpus-dependent: a strong multi-rare-term match
    # sums well above 2.0 at realistic corpus sizes; tune on a held-out
    # sample before trusting the floor. lexical_broadcast_queries=False is
    # the escape hatch for benchmark suites whose DISTINCT vocabulary
    # outgrows an executor broadcast (see retrieval.query_postings);
    # lexical_max_df_ratio caps stopword posting lists at web scale.
    if benchmark is not None and lexical_decontaminate:
        from pulsar_replay_spark.operators import retrieval

        flagged = retrieval.lexical_decontaminate(
            decontaminated,
            benchmark,
            k=lexical_k,
            min_score=lexical_min_score,
            max_df_ratio=lexical_max_df_ratio,
            broadcast_queries=lexical_broadcast_queries,
        )
        decontaminated = _stage(
            stages,
            "lexically_decontaminated",
            decontaminated.join(flagged.select("doc_id"), "doc_id", "left_anti"),
        )

    # optional host-authority floor (graph.domain_rank over the crawl's
    # link graph): drop docs whose source host sits in the bottom
    # domain_floor_quantile of HOSTS by rank. The threshold is an exact
    # percentile over the host-scale rank table (corpus/10³–10⁴ rows — a
    # bounded scalar collect, the funnel's established pattern); docs whose
    # host the graph never saw PASS — a missing prior is absence of
    # evidence, not low quality.
    if domain_ranks is not None:
        from pulsar_replay_spark.operators import graph

        thr = domain_ranks.agg(
            F.expr(f"percentile(rank_fp, {float(domain_floor_quantile)})")
        ).collect()[0][0]
        pri = graph.with_domain_prior(decontaminated, domain_ranks)
        keep_ids = pri.filter(
            F.col("domain_rank_fp").isNull() | (F.col("domain_rank_fp") >= thr)
        ).select("doc_id")
        decontaminated = _stage(
            stages,
            "domain_filtered",
            decontaminated.join(keep_ids, "doc_id", "left_semi"),
        )

    # optional compression gate: deflate-ratio outliers (templated spam /
    # encoded junk) out before the quantile floor — a junk-heavy source
    # would otherwise drag its own TTR threshold down and sneak junk past a
    # PER-SOURCE quantile. Two-sided; see quality.compression_signals for
    # the short-doc caveat (pair with a length floor).
    if compression_filter:
        lo, hi = compression_bounds
        kept, _rej = quality.compression_gate(
            decontaminated, min_ratio=lo, max_ratio=hi
        )
        decontaminated = _stage(stages, "compression_filtered", kept)

    # per-source quality floor on TTR — cheap, text-local, runs before any
    # model scoring so the scorer never sees the bottom tail
    ttr = decontaminated.select(
        "doc_id",
        "source",
        curation.default_quality_score(F.col("text")).alias("score"),
    )
    kept_ids = quality.drop_bottom_quantile(ttr, drop_quantile).select("doc_id")
    filtered = _stage(
        stages, "filtered", decontaminated.join(kept_ids, "doc_id", "left_semi")
    )

    # optional CCNet LM tier filter: train a corpus bigram LM over the
    # surviving docs and drop each language's least-fluent tertile ('tail');
    # 'short' (unscoreable) docs pass through — surfaced, never dropped
    if drop_lm_tail:
        buckets = quality.ccnet_buckets(filtered)
        keep_ids = buckets.filter(F.col("bucket") != "tail").select("doc_id")
        filtered = _stage(
            stages, "lm_filtered", filtered.join(keep_ids, "doc_id", "left_semi")
        )

    # optional SemDeDup stage without a learned encoder: feature-hashed doc
    # vectors feed the embedding-level semantic dedup (the bootstrap
    # composition the hashing trick exists for) — catches paraphrase-level
    # redundancy MinHash's shingle overlap misses
    if semantic:
        from pulsar_replay_spark.operators import similarity

        vecs = quality.hashed_doc_vectors(filtered)
        verdicts = similarity.semantic_dedup(vecs, threshold=0.95)
        keep_vec = verdicts.filter(F.col("keep")).select(
            F.col("vec_id").alias("doc_id")
        )
        filtered = _stage(
            stages, "semantic_deduped", filtered.join(keep_vec, "doc_id", "left_semi")
        )

    # selection score: DSIR log importance weight against the target corpus
    # when given (round to 4 decimals — the bounded-cardinality property
    # select_within_token_budget's phase-1 bucketing relies on), else TTR
    if target is not None:
        w = curation.dsir_log_weights(filtered, target)
        scored = filtered.join(
            w.select("doc_id", F.round("logw", 4).alias("_score")), "doc_id"
        )
        score_col = F.col("_score")
    else:
        scored = filtered
        score_col = None
    selected = _stage(
        stages,
        "selected",
        curation.select_within_token_budget(scored, budget_tokens, score=score_col),
    )

    split = curation.hash_split(selected)
    train_ids = split.filter(F.col("split") == "train").select("doc_id")
    train_docs = _stage(
        stages, "train", filtered.join(train_ids, "doc_id", "left_semi")
    )
    packed = packing.pack_token_stream(train_docs, seq_len=seq_len, n_shards=n_shards)

    report = _funnel_report(stages)
    out = {
        "deduped": deduped,
        "decontaminated": decontaminated,
        "filtered": filtered,
        "selected": selected,
        "split": split,
        "packed": packed,
        "report": report,
    }
    if check_leakage:
        # eval hygiene: near-dup pairs crossing the split boundary among the
        # SELECTED docs (post-dedup this should be empty — surfacing it is
        # the point: a nonzero row here means a leaked eval). The selection
        # frame is budget-shaped (no text), so re-attach text via semi-join.
        sel_docs = filtered.join(selected.select("doc_id"), "doc_id", "left_semi")
        out["leakage"] = curation.split_leakage_report(sel_docs, split)
    return out


def _stage(
    stages: list[tuple[str, DataFrame]], name: str, df: DataFrame
) -> DataFrame:
    """Materialize one reported funnel stage and record it under ``name``.

    Every later stage, the report's count and the caller's collects then
    read the stage's blocks instead of re-running its lineage (shingles,
    MinHash, the benchmark overlap, the quality quantile). A local
    checkpoint, not persist: the frame outlives this call, so nothing here
    could know when to release a cache."""
    df = df.localCheckpoint(eager=True)
    stages.append((name, df))
    return df


def _funnel_report(stages: list[tuple[str, DataFrame]]) -> DataFrame:
    """(stage_idx, stage, n_docs): one count per stage, unioned in pipeline
    order — the curation funnel a data card reports."""
    parts = [
        df.agg(
            F.lit(i).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
        for i, (name, df) in enumerate(stages)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def data_card(
    docs: DataFrame,
    length_bins: list[float] | None = None,
    lang_model: dict | None = None,
    dup_span_tokens: int | None = None,
) -> dict:
    """The release artifact every published corpus ships with: one call →
    the summary frames a dataset card reports, each a small aggregate over
    ONE corpus scan family (no frame here is corpus-sized):

    - ``summary``: 1 row — docs, tokens, chars, distinct langs/sources,
      exact-duplicate rate (docs sharing a byte-identical text);
    - ``by_lang`` / ``by_source``: doc + token counts with corpus shares;
    - ``top_hosts``: doc counts per source-URL host (``graph.host_expr`` —
      NULL host = non-URL sources, reported as their own row);
    - ``length_hist``: token-count histogram over ``length_bins``
      (``quality.score_histogram``; default decade-ish edges);
    - ``quality_quartiles``: per-lang quartiles of the default TTR quality
      score (approx_percentile — exactness is not the point of a card).

    Compose with ``curate_corpus``: card the input AND the selected output,
    and the diff IS the curation story a release documents."""
    from pulsar_replay_spark.functions.text import token_count
    from pulsar_replay_spark.operators import dedup, quality
    from pulsar_replay_spark.operators.curation import default_quality_score
    from pulsar_replay_spark.operators.graph import host_expr

    # r10: a card over a raw (partially lang-less) corpus under a trained
    # model reports MODEL-enriched per-lang shares — NULL stays NULL only
    # for OOV/low-confidence rows, so `by_lang` reflects the corpus, not
    # the ingest path's labeling gaps
    if lang_model is not None:
        from pulsar_replay_spark.operators.classifier import enrich_lang

        docs = enrich_lang(docs, lang_model)

    base = docs.select(
        "doc_id",
        "lang",
        "source",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        default_quality_score(F.col("text")).alias("score"),
    ).localCheckpoint(eager=True)

    n_docs = F.count("*")
    dup_docs = (
        dedup.exact_dup_groups(docs)
        .agg(F.coalesce(F.sum(F.col("n_docs") - 1), F.lit(0)).alias("d"))
        .collect()[0]["d"]
    )
    summary = base.agg(
        n_docs.cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    ).withColumn(
        "exact_dup_rate",
        F.round(F.lit(int(dup_docs)) / F.greatest(F.col("n_docs"), F.lit(1)), 6),
    )

    def _by(key: str) -> DataFrame:
        from pyspark.sql.functions import broadcast

        totals = base.agg(
            n_docs.alias("_td"), F.sum("n_tokens").alias("_tt")
        )
        return (
            base.groupBy(key)
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            )
            .crossJoin(broadcast(totals))  # 1-row stat join, engine pattern
            .select(
                key,
                "n_docs",
                "n_tokens",
                F.round(F.col("n_docs") / F.col("_td"), 6).alias("doc_share"),
                F.round(F.col("n_tokens") / F.col("_tt"), 6).alias("token_share"),
            )
            .orderBy(F.desc("n_tokens"), key)
        )

    # built from the checkpointed projection, not the raw docs — the raw
    # frame would re-scan the full input (text column included) per collect
    top_hosts = (
        base.select(host_expr(F.col("source")).alias("host"))
        .groupBy("host")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy(F.desc("n_docs"), "host")
    )
    bins = length_bins or [16.0, 64.0, 256.0, 1024.0, 4096.0]
    length_hist = quality.score_histogram(
        base.select(F.col("n_tokens").cast("double").alias("score")), bins
    ).orderBy("bin")
    quality_quartiles = (
        base.groupBy("lang")
        .agg(F.percentile_approx("score", [0.25, 0.5, 0.75]).alias("_q"))
        .select(
            "lang",
            F.round(F.col("_q")[0], 4).alias("q25"),
            F.round(F.col("_q")[1], 4).alias("q50"),
            F.round(F.col("_q")[2], 4).alias("q75"),
        )
        .orderBy("lang")
    )
    # r9: per-source mojibake rate (pure-Catalyst marker scan over the raw
    # docs — `base` dropped the text column; a card reader uses this to
    # decide whether the corpus needs a fix_text pass before release)
    from pulsar_replay_spark.operators.textnorm import mojibake_report

    card = {
        "summary": summary,
        "by_lang": _by("lang"),
        "by_source": _by("source"),
        "top_hosts": top_hosts,
        "length_hist": length_hist,
        "quality_quartiles": quality_quartiles,
        "mojibake_by_source": mojibake_report(docs).orderBy("source"),
    }
    # r10, opt-in (it costs a positioned-k-gram pass over the corpus —
    # unlike every other card frame, NOT a cheap aggregate): the Lee et al.
    # duplication headline, "what fraction of tokens sit inside a
    # duplicated span of >= k tokens"
    if dup_span_tokens is not None:
        card["dup_span_stats"] = dedup.dup_span_stats(
            docs, min_tokens=dup_span_tokens
        )
    return card
