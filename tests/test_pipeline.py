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
    sc = spark.sparkContext
    group = "test-curate-corpus-job-count"
    sc.setJobGroup(group, "curate_corpus")
    try:
        res = pipeline.curate_corpus(
            documents, benchmark=benchmark, target=target, budget_tokens=BUDGET
        )
        res["packed"].collect()
        res["report"].collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return SimpleNamespace(
        res=res,
        benchmark=benchmark,
        jobs=len(sc.statusTracker().getJobIdsForGroup(group)),
    )


@pytest.fixture(scope="module")
def result(funnel, documents):
    return funnel.res, documents, funnel.benchmark


def test_funnel_job_count(funnel):
    """Each reported stage is checkpointed once inside curate_corpus, so
    the call plus the packed and report collects runs 54 jobs. With lazy
    stage frames the two collects re-ran the dedup, overlap, quality and
    DSIR lineages: 85 jobs."""
    assert funnel.jobs == 54


def test_collects_rerun_no_stage_lineage(funnel):
    """After the collects, the executed plans of packed and report hold no
    Generate node: no shingle, MinHash or DSIR explode runs again outside
    curate_corpus. With lazy stage frames they held 20 and 40."""
    for key in ("packed", "report"):
        plan = funnel.res[key]._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"\bGenerate\b", plan), key


def _assert_report_matches_frames(res, frame_rows):
    """Each report row named in ``frame_rows`` counts the returned frame
    that stage produced, and the train row counts the packed docs."""
    report = {r.stage: r.n_docs for r in res["report"].collect()}
    for frame, stage in frame_rows.items():
        assert report[stage] == res[frame].count(), (frame, stage)
    packed_ids = res["packed"].select("doc_id").distinct().count()
    assert report["train"] == packed_ids


def test_report_counts_match_returned_frames(result):
    res, _, _ = result
    _assert_report_matches_frames(
        res,
        {f: f for f in ("deduped", "decontaminated", "filtered", "selected")},
    )


def test_report_counts_match_returned_frames_with_optional_stages(documents):
    """With optional stages the returned ``decontaminated`` frame is the
    last stage of its family (``compression_filtered``)."""
    res = pipeline.curate_corpus(
        documents, url_dedup=True, compression_filter=True, budget_tokens=10_000
    )
    stages = [r.stage for r in res["report"].orderBy("stage_idx").collect()]
    assert stages == [
        "input",
        "url_deduped",
        "deduped",
        "decontaminated",
        "compression_filtered",
        "filtered",
        "selected",
        "train",
    ]
    _assert_report_matches_frames(
        res,
        {
            "deduped": "deduped",
            "decontaminated": "compression_filtered",
            "filtered": "filtered",
            "selected": "selected",
        },
    )


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


def test_funnel_lm_tail_filter(spark, documents):
    from pulsar_replay_spark.operators import quality

    out = pipeline.curate_corpus(documents, drop_lm_tail=True, budget_tokens=10_000)
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    assert "lm_filtered" in report
    assert report["lm_filtered"] <= report["filtered"]
    assert report["lm_filtered"] < report["filtered"]  # the tier filter bites
    # no surviving doc may sit in its language's tail tier OF THE FILTERED
    # set the LM was trained on
    filtered_before = out["decontaminated"].join(
        quality.drop_bottom_quantile(
            out["decontaminated"].select(
                "doc_id", "source",
                __import__("pulsar_replay_spark.operators.curation",
                           fromlist=["default_quality_score"])
                .default_quality_score(F.col("text")).alias("score"),
            ),
            0.25,
        ).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    buckets = {
        r["doc_id"]: r["bucket"]
        for r in quality.ccnet_buckets(filtered_before).collect()
    }
    survivors = {r["doc_id"] for r in out["filtered"].select("doc_id").collect()}
    assert survivors and all(buckets[i] != "tail" for i in survivors)


@pytest.mark.slow
def test_curate_corpus_lang_model_enriches_before_per_language_stages(spark):
    """r10 (verdict #5): a raw multilingual corpus whose WARC-style rows
    land lang-less gets its NULL langs filled by the trained classifier
    BEFORE the per-language stages — the CCNet tier filter then trains and
    thresholds PER ENRICHED LANGUAGE (no doc pools under a NULL-lang LM),
    and data_card's per-lang shares reflect the model, not the ingest
    path's labeling gaps."""
    from pulsar_replay_spark.operators import classifier, quality

    en = ["the house is on the hill and it was warm for the people",
          "this is not the only way to do it in the house",
          "we have seen that it was good for the people and the dog",
          "the dog and the cat are in the garden with the children"]
    es = ["el perro y el gato están en la casa con los niños",
          "esto es muy bueno para los que no tienen nada en la casa",
          "la vida es como una caja de sorpresas para todos los niños",
          "los libros están sobre la mesa de madera en la casa"]
    train = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(en)]
        + [(100 + i, t, "es") for i, t in enumerate(es)],
        "doc_id long, text string, lang string",
    )
    model = classifier.lang_classifier_train(train, n_iter=10)

    # the corpus under curation: same languages, NO labels on most rows
    rows = []
    for rep in range(3):  # enough docs per lang for quantile tiers
        for i, t in enumerate(en):
            rows.append((1000 + rep * 10 + i, f"{t} extra{rep}{i}", None, "warc"))
        for i, t in enumerate(es):
            rows.append((2000 + rep * 10 + i, f"{t} extra{rep}{i}", None, "warc"))
    rows.append((3000, "whatever text here", "ja", "web"))  # labeled: kept
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )

    out = pipeline.curate_corpus(
        docs, lang_model=model, budget_tokens=100_000, drop_quantile=0.0
    )
    report = {r.stage: r.n_docs for r in out["report"].collect()}
    assert report["lang_enriched"] == report["input"]  # lineage, not filter
    langs = {r.doc_id: r.lang for r in out["deduped"].collect()}
    assert langs[3000] == "ja"  # labeled rows untouched
    assert all(langs[d] == "en" for d in langs if 1000 <= d < 2000)
    assert all(langs[d] == "es" for d in langs if 2000 <= d < 3000)

    # per-language CCNet tiers over the ENRICHED corpus: every scored doc
    # buckets under its model lang, never under a NULL-lang LM
    buckets = quality.ccnet_buckets(out["deduped"]).collect()
    by_lang = {r.lang for r in buckets}
    assert "en" in by_lang and "es" in by_lang and None not in by_lang

    # data_card(lang_model=...): shares attribute the lang-less rows
    card = pipeline.data_card(docs, lang_model=model)
    shares = {r.lang: r.n_docs for r in card["by_lang"].collect()}
    assert shares.get("en") == 12 and shares.get("es") == 12
    # unenriched card for contrast: everything unlabeled pools under NULL
    raw = {r.lang: r.n_docs for r in pipeline.data_card(docs)["by_lang"].collect()}
    assert raw.get(None) == 24


def test_funnel_leakage_check_is_empty_after_dedup(spark, documents):
    out = pipeline.curate_corpus(documents, check_leakage=True, budget_tokens=10_000)
    leaks = out["leakage"]
    assert set(leaks.columns) == {"doc_a", "split_a", "doc_b", "split_b"}
    # the funnel deduped before splitting — no near-dup pair should cross
    assert leaks.count() == 0


def test_funnel_semantic_stage(spark, documents):
    """semantic=True adds the hashed-vector SemDeDup stage: the funnel
    reports it, planted paraphrase-heavy clones get collapsed (only one of
    each identical-text pair survives), and every survivor is a keep
    verdict of the stage's own dedup run."""
    clones = documents.limit(8).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        "text",  # identical text == cosine 1.0 in hashed space
        "lang",
        "source",
        "n_chars",
    )
    corpus = documents.unionByName(clones)
    out = pipeline.curate_corpus(corpus, semantic=True, budget_tokens=10_000)
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    assert "semantic_deduped" in report
    assert report["semantic_deduped"] <= report["filtered"]
    ids = {r["doc_id"] for r in out["filtered"].select("doc_id").collect()}
    for i in range(8):
        orig = documents.limit(8).collect()[i]["doc_id"]
        # identical-text pair: at most one of (orig, clone) survives
        assert not ({orig, orig + 4_000_000} <= ids)


def test_curate_corpus_domain_floor(spark, documents):
    """The optional host-authority floor: docs from bottom-quantile hosts
    drop, docs from unseen hosts PASS (missing prior is not low quality),
    and the stage is accounted in the funnel report."""
    from pulsar_replay_spark.operators.graph import domain_rank

    sample = documents.limit(30).localCheckpoint(eager=True)
    ids = [r["doc_id"] for r in sample.select("doc_id").collect()]
    lows, highs, unknowns = ids[0::3], ids[1::3], ids[2::3]
    host = (
        F.when(F.col("doc_id").isin(lows), F.lit("https://spam.example/p"))
        .when(F.col("doc_id").isin(highs), F.lit("https://hub.example/p"))
        .otherwise(F.lit("https://never-linked.example/p"))
    )
    docs = sample.withColumn("source", host)
    # link graph: a 4-cycle keeps a/b/c/hub at ~full mass; spam only LINKS
    # OUT (zero in-edges) so its rank is exactly the damping base — strictly
    # below the 0.5 host-percentile threshold
    links = spark.createDataFrame(
        [("a.example", "b.example"), ("b.example", "c.example"),
         ("c.example", "hub.example"), ("hub.example", "a.example"),
         ("spam.example", "a.example")],
        "src_host string, dst_host string",
    )
    ranks = domain_rank(links, n_iter=8)
    out = pipeline.curate_corpus(
        docs, domain_ranks=ranks, domain_floor_quantile=0.5, budget_tokens=10**9
    )
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    assert "domain_filtered" in report
    # out["decontaminated"] is the post-domain-floor frame when the stage
    # runs — the right place to observe the floor in isolation (later
    # stages add the TTR quality drop)
    after = {r["doc_id"] for r in out["decontaminated"].select("doc_id").collect()}
    deduped_ids = {r["doc_id"] for r in out["deduped"].select("doc_id").collect()}
    # every spam-host doc that survived dedup is gone at the domain stage
    assert not (after & set(lows)) and (deduped_ids & set(lows))
    # no unknown- or hub-host doc is dropped BY THE FLOOR
    assert (set(unknowns) & deduped_ids) <= after
    assert (set(highs) & deduped_ids) <= after


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


@pytest.mark.slow
def test_curate_corpus_url_dedup_stage(spark, documents):
    """url_dedup=True sheds re-fetches of the same canonical URL before any
    text hashing; non-URL sources pass untouched."""
    dup = documents.limit(5).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"),
        F.concat(F.lit("different text "), "text").alias("text"),
        "lang",
        F.lit("HTTPS://Re.Crawl.example/Page?utm_source=x").alias("source"),
        "n_chars",
    )
    first = documents.limit(5).select(
        (F.col("doc_id") + 8_000_000).alias("doc_id"),
        "text", "lang",
        F.lit("https://re.crawl.example/Page").alias("source"),
        "n_chars",
    ).limit(1)
    corpus = documents.unionByName(dup).unionByName(first)
    out = pipeline.curate_corpus(corpus, url_dedup=True, budget_tokens=10**9)
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    assert "url_deduped" in report
    # the 6 same-canonical-URL rows collapse to 1; everything else passes
    assert report["input"] - report["url_deduped"] == 5


@pytest.mark.slow
def test_curate_corpus_lexical_decontamination_stage(spark):
    """The BM25 decontamination lever: a paraphrase sharing an eval doc's
    rare vocabulary (but no long exact shingle run) survives the shingle
    stage and is dropped by the lexical stage; unrelated docs survive both;
    the stage appears in the funnel report."""
    docs = spark.createDataFrame(
        [
            # paraphrase of the benchmark question: rare terms shared,
            # word order scrambled so 3-shingle overlap stays < min_overlap
            (1, "mitochondria cellular respiration powerhouse organelle of eukaryotes explained simply", "web"),
            (2, "completely unrelated sailing boat maintenance text", "web"),
            (3, "another benign doc about cooking pasta at home", "web"),
        ],
        "doc_id long, text string, source string",
    )
    benchmark = spark.createDataFrame(
        [(900, "which organelle is the powerhouse of eukaryotes mitochondria cellular respiration")],
        "doc_id long, text string",
    )
    res = pipeline.curate_corpus(
        docs,
        benchmark=benchmark,
        budget_tokens=1_000,
        min_overlap=8,
        lexical_decontaminate=True,
        lexical_min_score=1.0,
    )
    # the shingle stage kept all 3 (no 8-shingle overlap exists); the
    # lexical stage dropped exactly the paraphrase
    stage_rows = {r.stage: r.n_docs for r in res["report"].collect()}
    assert stage_rows["decontaminated"] == 3
    assert stage_rows["lexically_decontaminated"] == 2
    kept = {r.doc_id for r in res["filtered"].collect()}
    assert 1 not in kept and {2, 3} & kept
    # r8 advice: the broadcast escape hatch and the df cap thread through —
    # the shuffle-join path must drop the very same paraphrase
    res_sh = pipeline.curate_corpus(
        docs,
        benchmark=benchmark,
        budget_tokens=1_000,
        min_overlap=8,
        lexical_decontaminate=True,
        lexical_min_score=1.0,
        lexical_broadcast_queries=False,
        lexical_max_df_ratio=1.0,
    )
    stage_sh = {r.stage: r.n_docs for r in res_sh["report"].collect()}
    assert stage_sh["lexically_decontaminated"] == 2


def test_curate_corpus_compression_filter_stage(spark):
    """The deflate gate in the funnel: templated spam leaves at the
    compression stage (before the per-source quantile floor it would have
    dragged down); natural prose passes."""
    docs = spark.createDataFrame(
        [
            (1, "the committee reviewed the proposal and requested two "
                "revisions before the next quarterly meeting in september "
                "while the finance team prepared an independent vendor "
                "analysis and legal examined licensing for each region", "web"),
            (2, "migratory birds navigate by combining magnetic field "
                "sensing with celestial cues and landscape memory which "
                "lets experienced individuals correct for wind drift over "
                "open water during their long autumn crossings", "web"),
            (9, "buy now " * 200, "web"),
        ],
        "doc_id long, text string, source string",
    )
    res = pipeline.curate_corpus(
        docs, budget_tokens=10_000, drop_quantile=0.0, compression_filter=True
    )
    stage_rows = {r.stage: r.n_docs for r in res["report"].collect()}
    assert stage_rows["deduped"] == 3
    assert stage_rows["compression_filtered"] == 2
    kept = {r.doc_id for r in res["filtered"].collect()}
    assert 9 not in kept and kept == {1, 2}
