"""End-to-end corpus curation — the composition a training-data user
actually runs, wiring the engine's stages in their production order:

    near-dup dedup → shingle decontamination against a benchmark
    → per-source TTR quality-quantile floor
    → scoring (DSIR when a target corpus is given, else type-token ratio)
    → per-source token-budget selection → leakage-safe hash split
    → sequence packing of the train split

``curate_corpus`` runs this one funnel; its only options are the benchmark,
the target corpus and the token budget. Every stage is an existing gated
operator; this module adds the glue, the stage-by-stage funnel report, and
nothing else — so the composition's correctness follows from the per-stage
gates plus the invariants pinned in ``tests/test_pipeline.py`` (monotone
funnel, no loser/contaminated doc survives, budget respected, splits
partition the selection, packed tokens conserve the train split).

Scale posture: stages communicate by doc_id frames (anti-join / semi-join
joins on the primary key) and no stage re-reads text it does not need.
Each reported stage of ``curate_corpus`` is computed once: it is locally
checkpointed as it is built, so the next stage and the caller's collects
read its blocks. Lazy stage frames would re-run the whole upstream lineage
(shingles, MinHash, DSIR features) once per consumer; the operators' own
caches pin only their internal artifacts. Each checkpoint job also
observes its stage's row count, so the funnel report is a local relation
of counts and not a lazy projection that counts every stage again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import curation, dedup, packing, quality


# Fixed funnel settings: the per-source TTR floor drops each source's bottom
# quarter, a doc sharing at least MIN_OVERLAP benchmark shingles is
# contaminated, and the train split packs into N_SHARDS shards of SEQ_LEN
# tokens.
DROP_QUANTILE = 0.25
MIN_OVERLAP = 8
SEQ_LEN = 64
N_SHARDS = 8


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    target: DataFrame | None = None,
    budget_tokens: int = 20_000,
) -> dict:
    """Run the full funnel; returns every stage frame plus a funnel report.

    Keys: deduped, decontaminated, filtered, selected, split, packed and
    report (stage, n_docs rows in pipeline order). Each returned stage
    frame is the frame its report row counts.

    The input and every reported stage frame (``deduped``,
    ``decontaminated``, ``filtered``, ``selected`` and the train docs
    packing reads) is an eager local checkpoint: the call runs the funnel's
    heavy work, and the returned frames only read stored blocks. Each
    stage's row count is observed inside its checkpoint job, so ``report``
    is a local relation of those counts and collecting it runs no job.
    ``split`` and ``packed`` stay lazy projections of the stages. The blocks
    live until the returned frames are garbage-collected. That suits
    ``local[N]``; on a cluster a lost executor loses its blocks, and a frame
    that read them fails. A narrow input is spread first (``_spread``)."""
    stages: list[tuple[str, Observation]] = []
    docs = _stage(stages, "input", _spread(docs))

    deduped = _stage(stages, "deduped", dedup.dedup_corpus(docs))

    if benchmark is not None:
        overlap = dedup.benchmark_overlap(deduped, benchmark, MIN_OVERLAP)
        clean_ids = overlap.filter(~F.col("contaminated")).select("doc_id")
        decontaminated = deduped.join(clean_ids, "doc_id", "left_semi")
    else:
        decontaminated = deduped
    decontaminated = _stage(stages, "decontaminated", decontaminated)

    # per-source quality floor on TTR — cheap, text-local, runs before any
    # model scoring so the scorer never sees the bottom tail; the floor
    # filters the stage's own rows, so no join back by doc_id is needed
    ttr = decontaminated.withColumn(
        "score", curation.default_quality_score(F.col("text"))
    )
    filtered = _stage(
        stages,
        "filtered",
        quality.drop_bottom_quantile(ttr, DROP_QUANTILE).select(
            *decontaminated.columns
        ),
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
    packed = packing.pack_token_stream(train_docs, seq_len=SEQ_LEN, n_shards=N_SHARDS)

    return {
        "deduped": deduped,
        "decontaminated": decontaminated,
        "filtered": filtered,
        "selected": selected,
        "split": split,
        "packed": packed,
        "report": _funnel_report(docs.sparkSession, stages),
    }


def _spread(docs: DataFrame) -> DataFrame:
    """``docs`` round-robined over the session's default parallelism when it
    has fewer partitions, else ``docs`` itself. One small file is one
    partition, and would put every MinHash and DSIR explode of the funnel
    on one task. A plan that holds a shuffle is adaptive and would run that
    shuffle just to report its width, so it is left as its shuffle laid it
    out; a scan reports its width without a job."""
    width = docs.sparkSession.sparkContext.defaultParallelism
    plan = docs._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan" or docs.rdd.getNumPartitions() >= width:
        return docs
    return docs.repartition(width)


def _stage(
    stages: list[tuple[str, Observation]], name: str, df: DataFrame
) -> DataFrame:
    """Materialize one reported funnel stage and record its row count under
    ``name``.

    Every later stage and the caller's collects then read the stage's
    blocks instead of re-running its lineage (shingles, MinHash, the
    benchmark overlap, the quality quantile). A local checkpoint, not
    persist: the frame outlives this call, so nothing here could know when
    to release a cache. The count is an observation at the top of the
    checkpointed plan: it runs in the checkpoint's own result stage, no
    extra job, and a retried task's rows count once."""
    obs = Observation(name)
    df = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    stages.append((name, obs))
    return df


def _funnel_report(
    spark: SparkSession, stages: list[tuple[str, Observation]]
) -> DataFrame:
    """(stage_idx, stage, n_docs): one row per stage in pipeline order — the
    curation funnel a data card reports. A SQL ``VALUES`` relation of the
    observed counts: collecting it runs no job."""
    rows = ", ".join(
        f"({i}, '{name}', {int(obs.get['n'])}L)"
        for i, (name, obs) in enumerate(stages)
    )
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(stage_idx, stage, n_docs)")


def data_card(
    docs: DataFrame,
    length_bins: list[float] | None = None,
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
    # decide whether the corpus needs a repair pass before release)
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
