"""Maintained IVF vector-index store (operators/vecstore.py, r11): the
dense twin of the BM25 postings store. Gates: served ANN is byte-equal to
the in-session ivf_topk over the same frozen centroids; the serve scan is
partition-pruned on cell_id; ingest batches reproduce the one-shot build;
compact folds latest-wins; expire is RTBF; conflicting build knobs raise.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import resident, similarity, vecstore

N_CELLS = 16
N_PROBE = 4


def _rows(df):
    return sorted(
        (r.q_id, r.neighbor_id, r.sim, r.rk) for r in df.collect()
    )


def _queries(embeddings):
    return embeddings.filter(F.col("vec_id") % 100 == 7).select(
        "vec_id", "embedding"
    )


def _spark_served(monkeypatch, spark, store, q, **kw):
    """Rows of the Spark serve, the path every store above
    ``resident.MAX_STORE_BYTES`` takes (a byte gate of 0 selects it); the
    fixture stores here are small enough for the resident path."""
    with monkeypatch.context() as m:
        m.setattr(resident, "MAX_STORE_BYTES", 0)
        return _rows(vecstore.ivf_topk_from_index(spark, store, q, **kw))


def test_ivf_store_serve_equals_in_session(
    spark, embeddings, tmp_path, monkeypatch
):
    """build → serve == the in-session ivf_topk over the SAME centroids
    (exact rows: ids, sims, ranks), and the serve plan partition-prunes
    the vectors scan on cell_id."""
    store = str(tmp_path / "ivf")
    emb = embeddings.select("vec_id", "embedding")
    vecstore.ivf_index_build(emb, store, n_cells=N_CELLS)
    q = _queries(embeddings)

    served = vecstore.ivf_topk_from_index(spark, store, q, k=5, n_probe=N_PROBE)
    cents = vecstore.store_centroids(spark, store)
    in_session = similarity.ivf_topk(
        emb, q, k=5, n_probe=N_PROBE, centroids=cents
    )
    assert _rows(served) == _rows(in_session)

    # partition pruning is structural: the vectors scan carries a cell_id
    # partition filter (the probed-cells bounded collect became the prune).
    # The plan gates read the Spark serve, the one above the byte gate; it
    # is pinned to the in-session path directly too.
    monkeypatch.setattr(resident, "MAX_STORE_BYTES", 0)
    spark_served = vecstore.ivf_topk_from_index(
        spark, store, q, k=5, n_probe=N_PROBE
    )
    assert _rows(spark_served) == _rows(in_session)
    plan = spark_served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan
    assert "CartesianProduct" not in plan

    # the cogroup-key discipline: the store read normalizes the
    # partition-inferred int cell_id back to long — cogrouping int-vs-long
    # keys silently mis-buckets (caught by the 50k probe as ~0.9→0.85
    # degraded served sims, invisible at this fixture's size)
    vr = spark.read.parquet(f"{store}/vectors")
    assert dict(vr.dtypes)["cell_id"] == "int"  # what parquet gives back
    cents2 = vecstore.store_centroids(spark, store)
    assert dict(cents2.dtypes)["cell_id"] == "bigint"  # what cogroup needs


def test_ivf_store_planted_vector_surfaces(spark, embeddings, tmp_path):
    """Load-bearing serve: a vector present ONLY in the store-build input
    (vec_id 999999 = an exact copy of a query's embedding) must come back
    at rank 1 with sim 1.0 — a serve path that rescanned some other frame
    would miss it."""
    store = str(tmp_path / "ivf_planted")
    emb = embeddings.select("vec_id", "embedding")
    q = _queries(embeddings).limit(1).localCheckpoint(eager=True)
    planted = q.select(
        F.lit(999999).cast("long").alias("vec_id"), "embedding"
    )
    vecstore.ivf_index_build(emb.unionByName(planted), store, n_cells=N_CELLS)

    top = (
        vecstore.ivf_topk_from_index(spark, store, q, k=3, n_probe=N_PROBE)
        .filter(F.col("rk") == 1)
        .collect()[0]
    )
    assert top.neighbor_id == 999999
    assert top.sim == pytest.approx(1.0, abs=1e-6)


def test_ivf_store_ingest_equals_one_shot_and_guards(
    spark, embeddings, tmp_path, monkeypatch
):
    """vec_id-ordered growth batches (first batch carries the lowest ids,
    so it freezes the SAME centroids the one-shot build picks) serve
    identically to the one-shot build over the union; conflicting n_cells
    and a dim change raise named errors."""
    emb = embeddings.select("vec_id", "embedding")
    one = str(tmp_path / "one_shot")
    grown = str(tmp_path / "grown")
    vecstore.ivf_index_build(emb, one, n_cells=N_CELLS)
    b0 = emb.filter(F.col("vec_id") < 250)
    b1 = emb.filter(F.col("vec_id") >= 250)
    vecstore.ivf_index_build(b0, grown, n_cells=N_CELLS, batch_id=0)
    vecstore.ivf_index_build(b1, grown, batch_id=1)  # frozen centroids

    q = _queries(embeddings)
    # the grown store through the Spark serve, the one-shot in process
    assert _spark_served(
        monkeypatch, spark, grown, q, k=5, n_probe=N_PROBE
    ) == _rows(
        vecstore.ivf_topk_from_index(spark, one, q, k=5, n_probe=N_PROBE)
    )

    with pytest.raises(ValueError, match="n_cells"):
        vecstore.ivf_index_build(b1, grown, n_cells=N_CELLS * 2, batch_id=2)
    short = b1.select(
        "vec_id", F.slice("embedding", 1, 8).alias("embedding")
    )
    with pytest.raises(ValueError, match="dim"):
        vecstore.ivf_index_build(short, grown, batch_id=2)


def test_ivf_store_compact_latest_wins_and_expire(
    spark, embeddings, tmp_path, monkeypatch
):
    """A re-ingested vec_id supersedes its older copy after compaction
    (latest batch wins); serving from the compacted store equals serving
    from the grown store; expire removes a vector for good."""
    emb = embeddings.select("vec_id", "embedding")
    store = str(tmp_path / "upsert")
    vecstore.ivf_index_build(emb, store, n_cells=N_CELLS, batch_id=0)
    q = _queries(embeddings).limit(1).localCheckpoint(eager=True)
    # re-ingest vec_id 3 as an exact copy of the query vector
    moved = q.select(F.lit(3).cast("long").alias("vec_id"), "embedding")
    vecstore.ivf_index_build(moved, store, batch_id=1)

    compacted = str(tmp_path / "compacted")
    vecstore.ivf_store_compact(spark, store, compacted)
    vecs = spark.read.parquet(f"{compacted}/vectors")
    assert vecs.filter(F.col("vec_id") == 3).count() == 1  # latest only

    got = vecstore.ivf_topk_from_index(spark, compacted, q, k=3, n_probe=N_PROBE)
    top = got.filter(F.col("rk") == 1).collect()[0]
    assert top.neighbor_id == 3 and top.sim == pytest.approx(1.0, abs=1e-6)
    assert _rows(got) == _spark_served(
        monkeypatch, spark, store, q, k=3, n_probe=N_PROBE
    )

    expired = str(tmp_path / "expired")
    drop = spark.createDataFrame([(3,)], "vec_id long")
    vecstore.ivf_store_expire(spark, compacted, expired, drop)
    after = vecstore.ivf_topk_from_index(spark, expired, q, k=3, n_probe=N_PROBE)
    assert all(r.neighbor_id != 3 for r in after.collect())


def test_ivf_store_serve_latest_wins_before_compaction(
    spark, embeddings, tmp_path, monkeypatch
):
    """r11 ADVICE regression: a vec_id re-ingested with a CHANGED
    embedding moves cells, and until compaction the store holds BOTH
    copies. Serve/decon/cohesion must apply compact's latest-batch-wins
    at read time — the grown store must behave exactly like its compacted
    twin (pre-fix, serve joined embeddings and cell assignments across
    both copies, yielding stale/arbitrary pairings whenever the old
    copy's cell was probed)."""
    emb = embeddings.select("vec_id", "embedding")
    store = str(tmp_path / "grown")
    vecstore.ivf_index_build(emb, store, n_cells=N_CELLS, batch_id=0)
    q = _queries(embeddings).limit(1).localCheckpoint(eager=True)
    # vec 3's ORIGINAL embedding as a probe: lands in the stale copy's cell
    old3 = (
        emb.filter(F.col("vec_id") == 3)
        .select(F.lit(888888).cast("long").alias("vec_id"), "embedding")
        .localCheckpoint(eager=True)
    )
    moved = q.select(F.lit(3).cast("long").alias("vec_id"), "embedding")
    vecstore.ivf_index_build(moved, store, batch_id=1)
    compacted = str(tmp_path / "compacted")
    vecstore.ivf_store_compact(spark, store, compacted)

    for probe in (q, old3):
        served = _rows(
            vecstore.ivf_topk_from_index(spark, store, probe, k=5, n_probe=N_PROBE)
        )
        assert served == _rows(
            vecstore.ivf_topk_from_index(
                spark, compacted, probe, k=5, n_probe=N_PROBE
            )
        )
        # the Spark serve applies latest-wins through its semi-join
        assert served == _spark_served(
            monkeypatch, spark, store, probe, k=5, n_probe=N_PROBE
        )
    # the stale copy must not serve sim 1.0 against its OLD embedding
    got = vecstore.ivf_topk_from_index(spark, store, old3, k=5, n_probe=N_PROBE)
    assert all(r.sim < 0.999999 for r in got.collect() if r.neighbor_id == 3)

    # r13 plan gates (the C5 fast path's OTHER half): the multi-batch store
    # must KEEP the latest-wins semi-join, while its compacted (one-batch)
    # twin serves without it
    # (on the Spark serve, the one above the byte gate)
    monkeypatch.setattr(resident, "MAX_STORE_BYTES", 0)
    multi_plan = (
        vecstore.ivf_topk_from_index(spark, store, q, k=5, n_probe=N_PROBE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    one_plan = (
        vecstore.ivf_topk_from_index(spark, compacted, q, k=5, n_probe=N_PROBE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in multi_plan
    assert "LeftSemi" not in one_plan

    # decon equals the compacted twin under both postures
    for np_ in (None, N_PROBE):
        a = sorted(
            map(
                tuple,
                vecstore.semantic_decontaminate_from_index(
                    spark, store, old3, min_sim=0.5, n_probe=np_
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                vecstore.semantic_decontaminate_from_index(
                    spark, compacted, old3, min_sim=0.5, n_probe=np_
                ).collect(),
            )
        )
        assert a == b

    # cohesion counts ONE copy per vec_id — the latest
    ga = vecstore.ivf_store_cohesion(spark, store).collect()[0]
    gb = vecstore.ivf_store_cohesion(spark, compacted).collect()[0]
    assert (ga.n_vecs, ga.avg_cos) == (gb.n_vecs, gb.avg_cos)


def test_ivf_index_build_empty_frame_raises(spark, tmp_path):
    """r11 ADVICE: an empty one-shot build/growth frame raised an opaque
    AttributeError off head() = None; now a named ValueError."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        vecstore.ivf_index_build(empty, str(tmp_path / "e"))


def test_ivf_ingest_sink_streaming(spark, embeddings, tmp_path, monkeypatch):
    """The streaming sink grows the store batch by batch (frozen centroids
    after batch 0) and serving equals the one-shot build over the union —
    the postings_ingest_sink discipline on the dense side."""
    from pulsar_replay_spark.streaming import pipelines

    emb = embeddings.select("vec_id", "embedding")
    src = str(tmp_path / "src")
    emb.filter(F.col("vec_id") < 250).coalesce(1).write.parquet(f"{src}/b0")
    emb.filter(F.col("vec_id") >= 250).coalesce(1).write.parquet(f"{src}/b1")

    store = str(tmp_path / "stream_store")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    pipelines.ivf_store_ingest_sink(
        stream, store, str(tmp_path / "ck"), n_cells=N_CELLS
    ).awaitTermination(120)

    one = str(tmp_path / "one")
    vecstore.ivf_index_build(emb, one, n_cells=N_CELLS)
    q = _queries(embeddings)
    assert _spark_served(
        monkeypatch, spark, store, q, k=5, n_probe=N_PROBE
    ) == _rows(vecstore.ivf_topk_from_index(spark, one, q, k=5, n_probe=N_PROBE))


def test_ivf_pq_store_serve_equals_in_session(spark, embeddings, tmp_path):
    """r12 PQ tier: a pq=True build freezes codebooks alongside the
    centroids and lands 32×-compressed codes partitions; ADC serving from
    the store is byte-equal to the in-session ivf_pq_topk over the same
    frozen quantizer + codebooks, and the codes scan is partition-pruned
    on cell_id. A non-pq store refuses the PQ serve with a named error."""
    store = str(tmp_path / "pq_store")
    emb = embeddings.select("vec_id", "embedding")
    vecstore.ivf_index_build(emb, store, n_cells=N_CELLS, pq=True)
    q = _queries(embeddings)

    served = vecstore.ivf_pq_topk_from_index(
        spark, store, q, k=5, n_probe=N_PROBE
    )
    cents = vecstore.store_centroids(spark, store)
    cells = similarity.ivf_assign(emb, cents, n_probe=1).localCheckpoint(
        eager=True
    )
    idx = similarity.pq_index(emb, centroids=cents, corpus_cells=cells)
    in_session = similarity.ivf_pq_topk(
        emb, q, k=5, n_probe=N_PROBE, index=idx
    )
    assert _rows(served) == _rows(in_session)
    # and the frozen codebooks ARE the in-session ones (deterministic
    # seed + Lloyd over the same input)
    stored_books = sorted(
        (r.m, r.cell, tuple(r.centroid))
        for r in spark.read.parquet(f"{store}/codebooks").collect()
    )
    session_books = sorted(
        (r.m, r.cell, tuple(r.centroid)) for r in idx["books"].collect()
    )
    assert stored_books == session_books

    plan = (
        vecstore.ivf_pq_topk_from_index(spark, store, q, k=5, n_probe=N_PROBE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "cell_id" in plan
    assert "CartesianProduct" not in plan
    # r13 plan gates (verdict #7) so the r12 structural wins can't silently
    # regress: (a) C5 — a SINGLE-batch store serves without the latest-wins
    # semi-joins; the ONE LeftSemi allowed is the r13 broadcast rerank
    # shortlist restriction (latest-wins would add two more, one per store
    # table — the two-batch gate lives in the latest_wins test); (b) C7 —
    # ADC scoring is the map-side LUT fold, so the serve plan contains
    # ZERO Generate/posexplode nodes (the old shape exploded 8 rows per
    # candidate into an Exchange).
    assert plan.count("LeftSemi") == 1
    assert "Generate" not in plan and "posexplode" not in plan

    plain = str(tmp_path / "plain_store")
    vecstore.ivf_index_build(emb, plain, n_cells=N_CELLS)
    with pytest.raises(ValueError, match="pq=True"):
        vecstore.ivf_pq_topk_from_index(spark, plain, q, k=5)
    # pq flag is frozen: growth with a conflicting flag raises
    with pytest.raises(ValueError, match="pq"):
        vecstore.ivf_index_build(emb, plain, batch_id=1, pq=True)


@pytest.mark.slow
def test_ivf_pq_store_planted_vector_and_lifecycle(
    spark, embeddings, tmp_path
):
    """PQ lifecycle end-to-end: a planted exact query-copy present ONLY in
    the store-build input surfaces at rank 1 (sim 1.0 — the exact-rerank
    tail reads the TRUE vector, not the code reconstruction); growth
    batches encode against the FROZEN codebooks and serve identically to
    the one-shot build; compact folds codes latest-wins and carries the
    codebooks; expire removes a vector's codes too."""
    emb = embeddings.select("vec_id", "embedding")
    q = _queries(embeddings).limit(1).localCheckpoint(eager=True)
    planted = q.select(F.lit(999999).cast("long").alias("vec_id"), "embedding")

    one = str(tmp_path / "one")
    vecstore.ivf_index_build(
        emb.unionByName(planted), one, n_cells=N_CELLS, pq=True
    )
    top = (
        vecstore.ivf_pq_topk_from_index(spark, one, q, k=3, n_probe=N_PROBE)
        .filter(F.col("rk") == 1)
        .collect()[0]
    )
    assert top.neighbor_id == 999999
    assert top.sim == pytest.approx(1.0, abs=1e-6)

    # growth ≡ one-shot: first batch must carry the same centroid/codebook
    # training input (the ingest-equality discipline of the plain store)
    grown = str(tmp_path / "grown")
    all_emb = emb.unionByName(planted)
    vecstore.ivf_index_build(all_emb, grown, n_cells=N_CELLS, pq=True, batch_id=0)
    moved = q.select(F.lit(3).cast("long").alias("vec_id"), "embedding")
    vecstore.ivf_index_build(moved, grown, batch_id=1)  # inherits pq from meta
    # latest-wins BEFORE compaction: vec 3 now serves as the query copy
    got = vecstore.ivf_pq_topk_from_index(spark, grown, q, k=3, n_probe=N_PROBE)
    top2 = {r.rk: r for r in got.collect()}
    assert {top2[1].neighbor_id, top2[2].neighbor_id} == {999999, 3}

    compacted = str(tmp_path / "compacted")
    vecstore.ivf_store_compact(spark, grown, compacted)
    codes = spark.read.parquet(f"{compacted}/codes")
    assert codes.filter(F.col("vec_id") == 3).count() == 1  # latest only
    assert _rows(
        vecstore.ivf_pq_topk_from_index(spark, compacted, q, k=3, n_probe=N_PROBE)
    ) == _rows(got)

    expired = str(tmp_path / "expired")
    drop = spark.createDataFrame([(999999,)], "vec_id long")
    vecstore.ivf_store_expire(spark, compacted, expired, drop)
    assert (
        spark.read.parquet(f"{expired}/codes")
        .filter(F.col("vec_id") == 999999)
        .count()
        == 0
    )
    after = vecstore.ivf_pq_topk_from_index(spark, expired, q, k=3, n_probe=N_PROBE)
    assert all(r.neighbor_id != 999999 for r in after.collect())


@pytest.mark.slow
def test_ivf_pq_store_retry_idempotent_and_streaming_ingest(
    spark, embeddings, tmp_path
):
    """PQ ingest discipline: a crash-retried batch (same batch_id re-run)
    overwrites its own codes partition rather than duplicating it, and
    the streaming sink with pq=True grows a store that serves identically
    to the one-shot pq build over the union."""
    from pulsar_replay_spark.streaming import pipelines

    emb = embeddings.select("vec_id", "embedding")
    store = str(tmp_path / "retry")
    vecstore.ivf_index_build(emb, store, n_cells=N_CELLS, pq=True, batch_id=0)
    before = spark.read.parquet(f"{store}/codes").count()
    vecstore.ivf_index_build(emb, store, batch_id=0)  # crash retry
    assert spark.read.parquet(f"{store}/codes").count() == before

    src = str(tmp_path / "src")
    emb.filter(F.col("vec_id") < 250).coalesce(1).write.parquet(f"{src}/b0")
    emb.filter(F.col("vec_id") >= 250).coalesce(1).write.parquet(f"{src}/b1")
    stream_store = str(tmp_path / "stream_pq")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    pipelines.ivf_store_ingest_sink(
        stream, stream_store, str(tmp_path / "ck"), n_cells=N_CELLS, pq=True
    ).awaitTermination(120)

    # the sink IS a foreachBatch wrapper over ivf_index_build: its store
    # must equal the manually-grown one with the same batch split (the
    # codebooks train on batch 0 and FREEZE — a one-shot build over the
    # union would Lloyd-refine them on everything, a different quantizer
    # by design, so growth-vs-one-shot is pinned only for the plain store
    # whose unrefined seed is split-invariant)
    grown = str(tmp_path / "grown_pq")
    vecstore.ivf_index_build(
        emb.filter(F.col("vec_id") < 250), grown,
        n_cells=N_CELLS, pq=True, batch_id=0,
    )
    vecstore.ivf_index_build(emb.filter(F.col("vec_id") >= 250), grown, batch_id=1)
    q = _queries(embeddings)
    assert _rows(
        vecstore.ivf_pq_topk_from_index(spark, stream_store, q, k=5, n_probe=N_PROBE)
    ) == _rows(
        vecstore.ivf_pq_topk_from_index(spark, grown, q, k=5, n_probe=N_PROBE)
    )


def test_ivf_store_cohesion_diagnostic(spark, embeddings, tmp_path):
    """The expire-path retrain signal: store cohesion equals the
    in-session assignment_cohesion over the same vectors+centroids, and
    after an expiry it recomputes over the retained corpus only."""
    from pulsar_replay_spark.operators.similarity import assignment_cohesion

    store = str(tmp_path / "coh")
    emb = embeddings.select("vec_id", "embedding")
    vecstore.ivf_index_build(emb, store, n_cells=N_CELLS)
    got = vecstore.ivf_store_cohesion(spark, store).collect()[0]
    want = assignment_cohesion(
        emb, vecstore.store_centroids(spark, store)
    ).collect()[0]
    assert (got.n_vecs, got.avg_cos) == (want.n_vecs, want.avg_cos)

    expired = str(tmp_path / "coh_exp")
    drop = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    vecstore.ivf_store_expire(spark, store, expired, drop)
    after = vecstore.ivf_store_cohesion(spark, expired).collect()[0]
    assert after.n_vecs == got.n_vecs - drop.count()


@pytest.mark.slow
def test_ivf_store_retrain_closes_the_cohesion_loop(
    spark, embeddings, tmp_path, monkeypatch
):
    """r12: the retrain action — a store whose ingest drifted away from
    the frozen build-day centroids (cohesion drop) is rebuilt from its
    CURRENT retained corpus: the retrained store serves byte-equal to a
    fresh build over the folded latest vectors, its cohesion recovers
    above the drifted store's, the √N geometry follows the retained
    count, and a pq store re-trains codebooks too."""
    emb = embeddings.select("vec_id", "embedding")
    lo = emb.filter(F.col("vec_id") < 250)
    # drifted ingest: the remaining vectors shifted far off the build
    # distribution (every dim + 25) — lands in few frozen cells
    hi = emb.filter(F.col("vec_id") >= 250).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: (x + F.lit(25.0)).cast("float")
        ).alias("embedding"),
    )
    store = str(tmp_path / "drifted")
    vecstore.ivf_index_build(lo, store, n_cells=N_CELLS, batch_id=0)
    vecstore.ivf_index_build(hi, store, batch_id=1)
    drifted = vecstore.ivf_store_cohesion(spark, store).collect()[0]

    out = str(tmp_path / "retrained")
    vecstore.ivf_store_retrain(spark, store, out, n_cells=N_CELLS)
    after = vecstore.ivf_store_cohesion(spark, out).collect()[0]
    assert after.n_vecs == drifted.n_vecs
    assert after.avg_cos > drifted.avg_cos  # the geometry fits again

    # retrain IS a fresh build over the folded latest vectors
    fresh = str(tmp_path / "fresh")
    folded = vecstore._store_vectors_latest(spark, store).select(
        "vec_id", "embedding"
    )
    vecstore.ivf_index_build(folded, fresh, n_cells=N_CELLS, kmeans_iters=2)
    q = _queries(embeddings).limit(2).localCheckpoint(eager=True)
    assert _spark_served(
        monkeypatch, spark, out, q, k=5, n_probe=N_PROBE
    ) == _rows(
        vecstore.ivf_topk_from_index(spark, fresh, q, k=5, n_probe=N_PROBE)
    )

    # a pq store re-trains codebooks and stays a pq store
    pq_store = str(tmp_path / "pq_drift")
    vecstore.ivf_index_build(lo, pq_store, n_cells=N_CELLS, pq=True, batch_id=0)
    vecstore.ivf_index_build(hi, pq_store, batch_id=1)
    pq_out = str(tmp_path / "pq_retrained")
    vecstore.ivf_store_retrain(spark, pq_store, pq_out, n_cells=N_CELLS)
    assert vecstore._store_meta(spark, pq_out)["pq"] is True
    assert spark.read.parquet(f"{pq_out}/codebooks").count() > 0
    top = (
        vecstore.ivf_pq_topk_from_index(spark, pq_out, q, k=3, n_probe=N_PROBE)
        .filter(F.col("rk") == 1)
        .collect()
    )
    assert top  # the retrained pq store serves

    with pytest.raises(ValueError, match="differ"):
        vecstore.ivf_store_retrain(spark, store, store)


def test_hybrid_topk_from_stores_equals_rescan_fusion(
    spark, embeddings, documents, tmp_path
):
    """The round's two store lifecycles composed: hybrid retrieval served
    entirely from the postings store + the vector store equals the same
    RRF fusion over the rescan paths (both components independently
    pinned; this pins the composition end-to-end)."""
    from pulsar_replay_spark.operators import retrieval

    docs = documents.select("doc_id", "text")
    tq = (
        docs.orderBy("doc_id")
        .limit(3)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_join(
                F.slice(F.split(F.col("text"), " "), 1, 6), " "
            ).alias("query"),
        )
        .localCheckpoint(eager=True)
    )
    eq = _queries(embeddings).limit(3).localCheckpoint(eager=True)

    bm25_store = str(tmp_path / "bm25")
    vec_store = str(tmp_path / "vec")
    retrieval.postings_index_build(docs, bm25_store)
    vecstore.ivf_index_build(
        embeddings.select("vec_id", "embedding"), vec_store, n_cells=N_CELLS
    )

    got = sorted(
        map(
            tuple,
            retrieval.hybrid_topk_from_stores(
                spark, bm25_store, vec_store, tq, eq, k=5, n_probe=N_PROBE
            ).collect(),
        )
    )
    sparse = retrieval.bm25_topk(docs, tq, k=5)
    dense = similarity.ivf_topk(
        embeddings.select("vec_id", "embedding"),
        eq,
        k=5,
        n_probe=N_PROBE,
        centroids=vecstore.store_centroids(spark, vec_store),
    )
    want = sorted(map(tuple, retrieval.hybrid_topk(sparse, dense, k=5).collect()))
    assert got == want and got


def test_hybrid_from_stores_pq_leg_equals_in_session_fusion(
    spark, embeddings, documents, tmp_path
):
    """r12 composition: hybrid retrieval with the dense leg served
    through the PQ store's ADC path equals the same RRF fusion over the
    rescan BM25 + in-session ivf_pq_topk (same frozen quantizer and
    codebooks) — the pq=True twin of the r11 stores-fusion pin."""
    from pulsar_replay_spark.operators import retrieval

    docs = documents.select("doc_id", "text")
    tq = (
        docs.orderBy("doc_id")
        .limit(3)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_join(
                F.slice(F.split(F.col("text"), " "), 1, 6), " "
            ).alias("query"),
        )
        .localCheckpoint(eager=True)
    )
    eq = _queries(embeddings).limit(3).localCheckpoint(eager=True)
    emb = embeddings.select("vec_id", "embedding")

    bm25_store = str(tmp_path / "bm25")
    vec_store = str(tmp_path / "pqvec")
    retrieval.postings_index_build(docs, bm25_store)
    vecstore.ivf_index_build(emb, vec_store, n_cells=N_CELLS, pq=True)

    got = sorted(
        map(
            tuple,
            retrieval.hybrid_topk_from_stores(
                spark, bm25_store, vec_store, tq, eq, k=5,
                n_probe=N_PROBE, pq=True,
            ).collect(),
        )
    )
    sparse = retrieval.bm25_topk(docs, tq, k=5)
    cents = vecstore.store_centroids(spark, vec_store)
    cells = similarity.ivf_assign(emb, cents, n_probe=1).localCheckpoint(
        eager=True
    )
    idx = similarity.pq_index(emb, centroids=cents, corpus_cells=cells)
    dense = similarity.ivf_pq_topk(emb, eq, k=5, n_probe=N_PROBE, index=idx)
    want = sorted(
        map(tuple, retrieval.hybrid_topk(sparse, dense, k=5).collect())
    )
    assert got == want and got


def test_semantic_decontaminate_from_index(spark, embeddings, tmp_path):
    """Dense decon served from the store: a planted exact copy of an eval
    embedding is flagged at sim 1.0 under BOTH the exact (n_probe=None)
    and the bounded-probe posture (identical vector ⇒ identical cell ⇒
    the eval's own probe finds it at n_probe=1); the exact posture equals
    a brute-force python mirror over the store; threshold semantics flag
    EVERY copy, not top-k."""
    import numpy as np

    store = str(tmp_path / "decon")
    emb = embeddings.select("vec_id", "embedding")
    evals = _queries(embeddings).limit(2).localCheckpoint(eager=True)
    planted = evals.limit(1).select(
        F.lit(777777).cast("long").alias("vec_id"), "embedding"
    )
    vecstore.ivf_index_build(emb.unionByName(planted), store, n_cells=N_CELLS)

    exact = {
        (r.doc_id, r.eval_id): r.sim
        for r in vecstore.semantic_decontaminate_from_index(
            spark, store, evals, min_sim=0.9
        ).collect()
    }
    ev = {r.vec_id: np.asarray(r.embedding, dtype="float64") for r in evals.collect()}
    assert any(d == 777777 and exact[(d, e)] == 1.0 for d, e in exact)
    # every eval flags ITSELF (it lives in the corpus) at 1.0
    for e in ev:
        assert exact.get((e, e)) == 1.0

    # brute-force python mirror over the store's vectors (exact posture)
    vecs = spark.read.parquet(f"{store}/vectors").select("vec_id", "embedding")
    want = {}
    for r in vecs.collect():
        v = np.asarray(r.embedding, dtype="float64")
        best = None
        for e_id in sorted(ev):
            q = ev[e_id]
            sim = round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 6)
            if sim >= 0.9 and (best is None or sim > best[1]):
                best = (e_id, sim)
        if best:
            want[(r.vec_id, best[0])] = best[1]
    assert set(exact) == set(want)
    for key in want:
        assert abs(exact[key] - want[key]) < 2e-6, key

    # bounded probe still catches the exact copy
    bounded = {
        (r.doc_id, r.eval_id): r.sim
        for r in vecstore.semantic_decontaminate_from_index(
            spark, store, evals, min_sim=0.9, n_probe=1
        ).collect()
    }
    assert any(d == 777777 and bounded[(d, e)] == 1.0 for d, e in bounded)


def test_ivf_pq_store_serve_with_dropped_codebook_cell(spark, tmp_path):
    """Gap-tolerant LUT: when Lloyd refinement drops an empty codebook
    cell, the served ADC must still read every other (m, cell) slot at
    its own index. The codebook seed is the PQ_K lowest vec_ids, so
    giving vec 1 the same subspace-0 block as vec 0 leaves (m=0, cell=1)
    with no assignments (ties go to the lower cell). With rerank == k and
    every cell probed, the served ids are the ADC top-k, which a numpy
    ADC over the store's own codebooks and codes must reproduce (0.0 in
    the missing slot); the served sims are the exact cosines of those ids."""
    import numpy as np

    pq_m, pq_k = similarity.PQ_M, similarity.PQ_K
    k, n_cells = 5, 4
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((200, similarity.DIM)).astype("float32")
    sub = similarity.DIM // pq_m
    vecs[1, :sub] = vecs[0, :sub]
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "pq_gap")
    vecstore.ivf_index_build(emb, store, n_cells=n_cells, pq=True)

    books = {
        (r.m, r.cell): np.asarray(r.centroid, dtype="float64")
        for r in spark.read.parquet(f"{store}/codebooks").collect()
    }
    assert len(books) == pq_m * pq_k - 1 and (0, 1) not in books
    stored = spark.read.parquet(f"{store}/codes").collect()
    ids = np.array([r.vec_id for r in stored])
    packed = np.array([r.packed_codes for r in stored])
    codes = np.stack([(packed // pq_k**m) % pq_k for m in range(pq_m)], axis=1)
    approx_norm = np.array([r.approx_norm for r in stored])
    assert 1 not in set(codes[:, 0])

    q_ids = [3, 50, 97, 144, 191]
    q = emb.filter(F.col("vec_id").isin(q_ids))
    served = vecstore.ivf_pq_topk_from_index(
        spark, store, q, k=k, n_probe=n_cells, rerank=k
    ).collect()

    x = vecs.astype("float64")
    unit = x / np.linalg.norm(x, axis=1, keepdims=True)
    for qid in q_ids:
        qv = x[qid]
        lut = np.zeros(pq_m * pq_k)
        for (m, cell), c in books.items():
            lut[m * pq_k + cell] = qv[m * sub : (m + 1) * sub] @ c
        adot = lut[np.arange(pq_m) * pq_k + codes].sum(axis=1)
        asim = adot / (np.linalg.norm(qv) * approx_norm)
        asim[ids == qid] = -np.inf
        order = np.lexsort((ids, -asim))
        # the top-k boundary is not a float near-tie
        assert asim[order[k - 1]] - asim[order[k]] > 1e-9
        want_ids = ids[order[:k]]
        got = sorted(
            ((r.rk, r.neighbor_id, r.sim) for r in served if r.q_id == qid)
        )
        assert {n for _, n, _ in got} == set(want_ids.tolist()), qid
        for _, n, sim in got:
            exact = round(float(unit[qid] @ unit[n]), 3)
            assert sim == pytest.approx(exact, abs=1e-3)
        sims = [s for _, _, s in got]
        assert sims == sorted(sims, reverse=True)


def test_store_meta_known_schema_reads_pre_pq_meta(spark, tmp_path):
    """The meta reads with its known schema (no inference job): a meta
    written before ``pq`` joined it reads as a plain store; a missing or
    empty meta directory means no store."""
    old = str(tmp_path / "old")
    spark.createDataFrame([(16, 64)], "n_cells int, dim int").write.parquet(
        f"{old}/meta"
    )
    assert vecstore._store_meta(spark, old) == {"n_cells": 16, "dim": 64, "pq": False}
    assert vecstore._store_meta(spark, str(tmp_path / "missing")) is None
    (tmp_path / "empty" / "meta").mkdir(parents=True)
    assert vecstore._store_meta(spark, str(tmp_path / "empty")) is None


def test_ivf_growth_batch_job_count(spark, embeddings, tmp_path):
    """A growth batch into a one-batch, 64-cell store runs 10 jobs: the
    meta read skips schema inference and the 64-cell partition root lists
    on the driver. It ran 12 before both."""
    emb = embeddings.select("vec_id", "embedding")
    store = str(tmp_path / "cells64")
    vecstore.ivf_index_build(emb.filter(F.col("vec_id") < 400), store, n_cells=64)
    growth = emb.filter(F.col("vec_id") >= 400).localCheckpoint(eager=True)
    sc = spark.sparkContext
    group = "test-vecstore-growth-job-count"
    sc.setJobGroup(group, "ivf_index_build growth")
    try:
        vecstore.ivf_index_build(growth, store, batch_id=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 10
