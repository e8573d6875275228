"""End-to-end curation funnel gates: the composition must satisfy the
cross-stage invariants no single-operator gate can see — the funnel only
shrinks, no near-dup loser or contaminated doc survives its stage, the
budget holds per source, the split partitions the selection, and packing
conserves exactly the train split's tokens."""

from __future__ import annotations

import re
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark import pipeline
from pulsar_replay_spark.operators import dedup

BUDGET = 15_000


@pytest.fixture(scope="module")
def funnel(spark, documents):
    """One curate_corpus call plus the ``packed`` and ``report`` collects,
    run in one job group. The job count is read right away: the status
    store keeps only the most recent jobs."""
    benchmark = documents.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    target = documents.filter(F.col("lang") == "es")

    def run():
        res = pipeline.curate_corpus(
            documents, benchmark=benchmark, target=target, budget_tokens=BUDGET
        )
        res["packed"].collect()
        res["report"].collect()
        return res

    res, jobs = _jobs_in_group(spark, "test-curate-corpus-job-count", run)
    return SimpleNamespace(res=res, benchmark=benchmark, jobs=jobs, run=run)


def _jobs_in_group(spark, group, fn):
    """(fn(), number of Spark jobs fn ran), counted in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def result(funnel, documents):
    return funnel.res, documents, funnel.benchmark


def test_funnel_job_count(funnel):
    """Each reported stage is checkpointed once inside curate_corpus, so
    the call plus the packed and report collects runs 41 jobs. With lazy
    stage frames the two collects re-ran the dedup, overlap, quality and
    DSIR lineages: 85 jobs. Checkpointed stages with a lazy counting
    report: 54. Counts observed in the checkpoint jobs, a job-free report,
    a one-collect small-graph finish and a spread input: 41."""
    assert funnel.jobs == 41


def test_second_call_compiles_nothing(spark, funnel):
    """A repeated call finds every generated class in the codegen cache.
    Under Spark's 100-entry default the funnel's classes evicted each
    other, and each warm call compiled about 186 of them again."""
    cg = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = cg.METRIC_COMPILATION_TIME().getCount()
    funnel.run()
    assert cg.METRIC_COMPILATION_TIME().getCount() - before == 0


def test_report_collect_runs_no_job(spark, funnel):
    """The report is a local relation of the counts the stage checkpoints
    observed. As a union of per-stage counts its collect ran 7 jobs."""
    rows, jobs = _jobs_in_group(
        spark, "test-report-collect", funnel.res["report"].collect
    )
    assert jobs == 0
    assert len(rows) == 6


def test_spread_leaves_a_wide_input_alone(spark):
    """An input with at least the default parallelism in partitions keeps
    its plan: no Exchange. A one-partition input is spread round-robin."""
    width = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 4 * width, 1, width).select(
        F.col("id").alias("doc_id"), F.lit("a b c").alias("text")
    )
    plan = pipeline._spread(wide)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    narrow = pipeline._spread(wide.coalesce(1))
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan


def test_collects_rerun_no_stage_lineage(funnel):
    """After the collects, the executed plans of packed and report hold no
    Generate node: no shingle, MinHash or DSIR explode runs again outside
    curate_corpus. With lazy stage frames they held 20 and 40."""
    for key in ("packed", "report"):
        plan = funnel.res[key]._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"\bGenerate\b", plan), key


def test_report_counts_match_returned_frames(result):
    """Every report row counts the frame of its stage: the input docs, each
    returned stage frame, and the packed docs for the train row."""
    res, docs, _ = result
    report = {r.stage: r.n_docs for r in res["report"].collect()}
    frames = {
        "input": docs,
        **{f: res[f] for f in ("deduped", "decontaminated", "filtered", "selected")},
    }
    assert report.keys() == frames.keys() | {"train"}
    for stage, frame in frames.items():
        assert report[stage] == frame.count(), stage
    assert report["train"] == res["packed"].select("doc_id").distinct().count()


def test_funnel_is_monotone_and_complete(result):
    res, docs, _ = result
    rows = sorted(
        ((r.stage_idx, r.stage, r.n_docs) for r in res["report"].collect())
    )
    names = [r[1] for r in rows]
    assert names == [
        "input",
        "deduped",
        "decontaminated",
        "filtered",
        "selected",
        "train",
    ]
    counts = [r[2] for r in rows]
    assert counts[0] == docs.count()
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[-1] > 0  # the funnel must not starve


def test_no_near_dup_loser_survives(result):
    res, docs, _ = result
    cc = dedup.connected_components(dedup.minhash_candidate_pairs(docs))
    losers = {
        r.doc_id for r in cc.filter(F.col("doc_id") != F.col("cluster_id")).collect()
    }
    for frame in ("deduped", "selected"):
        ids = {r.doc_id for r in res[frame].select("doc_id").collect()}
        assert not (ids & losers), frame


def test_no_contaminated_doc_survives(result):
    res, _, benchmark = result
    flagged = {
        r.doc_id
        for r in dedup.benchmark_overlap(res["deduped"], benchmark)
        .filter("contaminated")
        .collect()
    }
    ids = {r.doc_id for r in res["decontaminated"].select("doc_id").collect()}
    assert not (ids & flagged)
    assert flagged  # the planted benchmark must actually flag something


def test_budget_respected_per_source(result):
    res, _, _ = result
    per_source = (
        res["selected"].groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
    )
    assert per_source and all(r.t <= BUDGET for r in per_source)


def test_split_partitions_selection(result):
    res, _, _ = result
    sel = {r.doc_id for r in res["selected"].select("doc_id").collect()}
    split_rows = res["split"].select("doc_id", "split").collect()
    assert {r.doc_id for r in split_rows} == sel
    assert len(split_rows) == len(sel)
    assert {r.split for r in split_rows} <= {"train", "val", "test"}


def test_packing_conserves_train_tokens(result):
    res, _, _ = result
    train = {
        r.doc_id
        for r in res["split"].filter("split = 'train'").select("doc_id").collect()
    }
    packed = res["packed"].collect()
    assert {r.doc_id for r in packed} == train
    expect_tokens = sum(
        r.n_tokens
        for r in res["selected"].collect()
        if r.doc_id in train
    )
    assert sum(r.end_tok - r.start_tok for r in packed) == expect_tokens


def test_data_card_reports_the_corpus(spark):
    """The release-card composition: counts/shares/dup-rate/host rollup all
    agree with directly-computed values on a planted corpus."""
    rows = [
        (1, "alpha beta gamma delta", "en", "https://a.example/1"),
        (2, "alpha beta gamma delta", "en", "https://a.example/2"),  # exact dup
        (3, "uno dos tres", "es", "https://b.example/1"),
        (4, "un deux trois quatre cinq six sept huit", "fr", "files/local.txt"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    card = pipeline.data_card(docs, length_bins=[4.0, 8.0])

    s = card["summary"].collect()[0]
    assert s["n_docs"] == 4 and s["n_langs"] == 3 and s["n_sources"] == 4
    assert s["n_tokens"] == 4 + 4 + 3 + 8
    assert s["exact_dup_rate"] == 0.25  # 1 redundant copy of 4 docs

    by_lang = {r["lang"]: r for r in card["by_lang"].collect()}
    assert by_lang["en"]["n_docs"] == 2 and by_lang["en"]["n_tokens"] == 8
    assert abs(by_lang["fr"]["token_share"] - 8 / 19) < 1e-6
    # ordered by tokens desc
    assert [r["lang"] for r in card["by_lang"].collect()][0] in ("en", "fr")

    hosts = {r["host"]: r["n_docs"] for r in card["top_hosts"].collect()}
    assert hosts["a.example"] == 2 and hosts["b.example"] == 1
    assert hosts[None] == 1  # the non-URL source is its own accounted row

    hist = {r["bin"]: r["n"] for r in card["length_hist"].collect()}
    assert hist == {0: 1, 1: 2, 2: 1}  # 3 tok | 4,4 tok | 8 tok

    q = {r["lang"]: r for r in card["quality_quartiles"].collect()}
    assert set(q) == {"en", "es", "fr"}
    assert all(r["q25"] <= r["q50"] <= r["q75"] for r in q.values())

    # r9: mojibake rates ride the card (clean corpus → all zero)
    moji = {r["source"]: r["mojibake_ratio"]
            for r in card["mojibake_by_source"].collect()}
    assert set(moji) == {src for *_, src in rows}
    assert set(moji.values()) == {0.0}
