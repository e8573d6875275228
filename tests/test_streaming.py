"""Streaming surface tests: AvailableNow bounded reads vs batch expectations
(SURVEY §2.9; the reference's timeout-as-EOF idiom T2)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.streaming import pipelines
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_src(spark, tmp_path_factory):
    """Events fixture re-materialized as several parquet files so
    maxFilesPerTrigger produces real micro-batches."""
    from pulsar_replay_spark.session import load_events

    path = str(tmp_path_factory.mktemp("events_stream"))
    load_events(spark, SF_SMOKE).repartition(4).write.mode("overwrite").parquet(path)
    return path


def _run(spark, tmp_path_factory, stream_df, mode="append"):
    name = "t" + uuid.uuid4().hex[:12]
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_available_now_drains_everything(spark, events_src, tmp_path_factory):
    stream = pipelines.events_stream(spark, events_src)
    got = _run(spark, tmp_path_factory, stream)
    batch_n = spark.read.parquet(events_src).count()
    assert got.count() == batch_n


def test_windowed_counts_match_batch(spark, events_src, tmp_path_factory):
    stream = pipelines.windowed_counts(pipelines.events_stream(spark, events_src))
    got = _run(spark, tmp_path_factory, stream, mode="complete")

    batch = (
        spark.read.parquet(events_src)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type", "n", "sum_value",
        )
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b


def test_dedup_within_watermark(spark, events_src, tmp_path_factory):
    """Duplicated source rows collapse back to the original set (T6/T7)."""
    dup_path = str(tmp_path_factory.mktemp("dup"))
    src = spark.read.parquet(events_src)
    src.union(src).repartition(4).write.mode("overwrite").parquet(dup_path)

    # watermark wider than the fixture's full time span: micro-batch files are
    # not time-ordered, so a narrow watermark would also drop LATE rows (by
    # design) — this test isolates the dedup semantics.
    stream = pipelines.deduped_stream(pipelines.events_stream(spark, dup_path), watermark="90 days")
    got = _run(spark, tmp_path_factory, stream)
    assert got.select("event_id").distinct().count() == got.count()
    assert got.count() == src.count()


def test_session_windows_complete(spark, events_src, tmp_path_factory):
    stream = pipelines.session_windows(pipelines.events_stream(spark, events_src))
    got = _run(spark, tmp_path_factory, stream, mode="complete")
    assert got.count() > 0
    # session windows are disjoint per user and ordered
    w = got.filter(F.col("session_end_ms") <= F.col("session_start_ms"))
    assert w.count() == 0


def test_generated_stream_is_deterministic(spark, tmp_path_factory):
    """Rate-source generation: same ids → same derived fields as the batch
    generator (T5 + S9)."""
    from pulsar_replay_spark.generator import generate_flat

    stream = pipelines.generated_stream(spark, rows_per_second=500)
    got = _run(spark, tmp_path_factory, stream)
    if got.count() == 0:
        pytest.skip("rate source produced no rows in availableNow window")
    batch = generate_flat(spark, 10_000).select("id", "event_id_hex", "user_key", "campaign_id")
    j = got.join(batch, "id", "inner")
    mismatch = j.filter(
        (got["event_id_hex"] != batch["event_id_hex"])
        | (got["user_key"] != batch["user_key"])
        | (got["campaign_id"] != batch["campaign_id"])
    )
    assert mismatch.count() == 0


def test_stream_static_enrich_matches_batch(spark, events_src, tmp_path_factory):
    dim = spark.createDataFrame(
        [(i, "vip" if i % 3 == 0 else "std") for i in range(200)],
        "user_id long, segment string",
    )
    stream = pipelines.stream_static_enrich(
        pipelines.events_stream(spark, events_src), dim, "user_id"
    )
    got = _run(spark, tmp_path_factory, stream)
    batch = spark.read.parquet(events_src).join(dim, "user_id", "left")
    assert got.count() == batch.count()
    g = {r["event_id"]: r["segment"] for r in got.collect()}
    b = {r["event_id"]: r["segment"] for r in batch.collect()}
    assert g == b


@pytest.mark.slow
def test_stream_stream_interval_join_matches_batch(spark, events_src, tmp_path_factory):
    """Purchases join clicks of the same user within the preceding hour —
    both as a stream-stream interval join and as the equivalent batch join."""
    ev = spark.read.parquet(events_src)
    types = [r[0] for r in ev.select("event_type").distinct().collect()]
    t_left, t_right = sorted(types)[:2]

    left = (
        pipelines.events_stream(spark, events_src)
        .filter(F.col("event_type") == t_left)
        .select("event_id", F.col("ts").alias("l_ts"), "user_id")
    )
    right = (
        pipelines.events_stream(spark, events_src)
        .filter(F.col("event_type") == t_right)
        .select(
            F.col("event_id").alias("r_event_id"),
            F.col("ts").alias("r_ts"),
            F.col("user_id").alias("r_user_id"),
        )
    )
    # Micro-batches arrive in random time order (repartition(4) above), so
    # the watermark must span the fixture's whole range or cross-batch rows
    # get dropped as late — the production-relevant lesson this test pins.
    joined = pipelines.stream_stream_interval_join(
        left, right, "user_id", left_wm="60 days", right_wm="60 days"
    )
    got = _run(spark, tmp_path_factory, joined)

    b_left = ev.filter(F.col("event_type") == t_left).select(
        "event_id", F.col("ts").alias("l_ts"), "user_id"
    )
    b_right = ev.filter(F.col("event_type") == t_right).select(
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
        F.col("user_id").alias("r_user_id"),
    )
    batch = b_left.join(
        b_right,
        F.expr("user_id = r_user_id AND r_ts BETWEEN l_ts - INTERVAL 1 HOUR AND l_ts"),
    )
    g = sorted((r["event_id"], r["r_event_id"]) for r in got.collect())
    b = sorted((r["event_id"], r["r_event_id"]) for r in batch.collect())
    assert g == b and len(g) > 0


def test_max_files_per_trigger_bounds_micro_batches(spark, events_src, tmp_path_factory):
    """T4 (prefetch/backpressure): maxFilesPerTrigger=1 must produce one
    micro-batch per input file — the file-source analog of the reference's
    receiver_queue_size bound on in-flight data."""
    import uuid as _uuid

    stream = pipelines.events_stream(spark, events_src)
    name = "mb" + _uuid.uuid4().hex[:10]
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path_factory.mktemp("ck")))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_files = len(
        [f for f in __import__("os").listdir(events_src) if f.endswith(".parquet")]
    )
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert n_files >= 4
    assert len(batches) == n_files, (len(batches), n_files)


def test_foreach_batch_idempotent_rerun(spark, events_src, tmp_path_factory):
    """Re-delivering a batch with the same batch_id must overwrite, not
    duplicate — the exactly-once property."""
    from pulsar_replay_spark.streaming.pipelines import foreach_batch_idempotent

    out = str(tmp_path_factory.mktemp("out"))
    q = foreach_batch_idempotent(
        pipelines.events_stream(spark, events_src), out, str(tmp_path_factory.mktemp("ck"))
    )
    q.awaitTermination()
    n1 = spark.read.parquet(out).count()
    assert n1 == spark.read.parquet(events_src).count()

    # simulate the crash-retry: re-run batch 0's write directly
    batch0 = spark.read.parquet(out).filter("batch_id = 0").drop("batch_id")
    (
        batch0.withColumn("batch_id", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out)
    )
    assert spark.read.parquet(out).count() == n1  # no duplication


def test_kill_and_restart_from_checkpoint_exactly_once(
    spark, events_src, tmp_path_factory
):
    """Chaos recovery: kill the query mid-stream, delete the newest commit
    marker (simulating a crash AFTER the sink write but BEFORE the
    checkpoint commit — the window where at-least-once redelivery happens),
    restart from the same checkpoint, and drain. The re-delivered batch_id
    must overwrite itself: zero loss, zero duplicates."""
    import os
    import time

    out = str(tmp_path_factory.mktemp("out"))
    ck = str(tmp_path_factory.mktemp("ck"))
    stream = pipelines.events_stream(spark, events_src)  # 4 files → 4 batches

    # Phase 1: continuous trigger, stop after ≥2 batches committed.
    q = pipelines.foreach_batch_idempotent(stream, out, ck, processing_time="1 seconds")
    commits = os.path.join(ck, "commits")
    deadline = time.time() + 120
    while time.time() < deadline:
        done = [f for f in os.listdir(commits)] if os.path.isdir(commits) else []
        if len([f for f in done if not f.startswith(".")]) >= 2:
            break
        time.sleep(0.2)
    q.stop()
    try:
        q.awaitTermination()
    except Exception:
        pass  # stop() can surface as a query interrupt — termination is what matters
    deadline = time.time() + 60
    while time.time() < deadline and any(
        aq.id == q.id for aq in spark.streams.active
    ):
        time.sleep(0.2)
    assert not q.isActive
    committed = sorted(
        int(f) for f in os.listdir(commits) if not f.startswith(".")
    )
    assert committed, "no batch committed before the kill"

    # Crash simulation: the newest PLANNED batch's commit marker is lost but
    # its sink write (the batch_id= partition) survives — the poison scenario
    # for a plain append sink. Align with the offsets log: recovery tolerates
    # exactly one trailing uncommitted batch, so remove the commit only if
    # the last planned batch actually committed (otherwise the kill itself
    # already left that crash window open).
    offsets_dir = os.path.join(ck, "offsets")
    planned = sorted(
        int(f) for f in os.listdir(offsets_dir) if not f.startswith(".")
    )
    if planned and planned[-1] in committed:
        os.remove(os.path.join(commits, str(planned[-1])))
        crc = os.path.join(commits, f".{planned[-1]}.crc")  # Hadoop checksum shadow
        if os.path.exists(crc):
            os.remove(crc)

    # Phase 2: restart from the same checkpoint; AvailableNow drains the rest.
    q2 = pipelines.foreach_batch_idempotent(
        pipelines.events_stream(spark, events_src), out, ck
    )
    q2.awaitTermination()

    src = spark.read.parquet(events_src)
    got = spark.read.parquet(out)
    assert got.count() == src.count()  # no loss, no dupes
    assert (
        got.select("event_id").distinct().count()
        == src.select("event_id").distinct().count()
    )


def test_incremental_dedup_stream_matches_batch(spark, tmp_path_factory):
    """Micro-batched incremental dedup must discover the SAME pair set as
    one batch recompute over the whole corpus, and a crash-retry of a
    batch must not duplicate index rows or probe itself."""
    from pulsar_replay_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    src = str(tmp_path_factory.mktemp("docs_stream"))
    docs.repartition(3).write.mode("overwrite").parquet(src)

    index_dir = str(tmp_path_factory.mktemp("dedup_index"))
    pairs_dir = str(tmp_path_factory.mktemp("dedup_pairs"))
    q = pipelines.incremental_dedup_sink(
        pipelines.documents_stream(spark, src),
        index_dir,
        pairs_dir,
        str(tmp_path_factory.mktemp("ck")),
    )
    q.awaitTermination()

    full = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_candidate_pairs(docs).collect()
    }
    got = {
        (r.doc_a, r.doc_b) for r in spark.read.parquet(pairs_dir).collect()
    }
    assert got == full

    # index closure: all corpus bucket rows present exactly once
    idx = spark.read.parquet(index_dir)
    assert idx.count() == dedup.minhash_band_buckets(docs).count()

    # crash-retry: re-running a batch's writes must overwrite, not append
    b0 = spark.read.parquet(index_dir).filter("batch_id = 0")
    n_before = idx.count()
    (
        b0.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(index_dir)
    )
    assert spark.read.parquet(index_dir).count() == n_before


def test_ann_serving_stream_matches_batch(spark, tmp_path):
    """Streaming ANN serving must equal the one-shot batch ivf_topk over the
    same queries and the same prebuilt index: the stream only shards WHEN
    queries arrive, never WHAT they retrieve."""
    from pyspark.sql import functions as F

    from pulsar_replay_spark.operators import similarity
    from pulsar_replay_spark.streaming.pipelines import ann_serving_sink, embeddings_stream

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = corpus.filter(F.col("vec_id") % 100 == 0)

    # two query files → two micro-batches
    qdir = tmp_path / "queries"
    queries.filter(F.col("vec_id") % 200 == 0).coalesce(1).write.mode("append").parquet(str(qdir))
    queries.filter(F.col("vec_id") % 200 != 0).coalesce(1).write.mode("append").parquet(str(qdir))

    q = ann_serving_sink(
        embeddings_stream(spark, str(qdir)),
        corpus,
        str(tmp_path / "results"),
        str(tmp_path / "ckpt"),
        k=5,
    )
    q.awaitTermination(120)

    streamed = {
        (r.q_id, r.neighbor_id, r.rk)
        for r in spark.read.parquet(str(tmp_path / "results")).collect()
    }
    n_cells, n_probe = similarity.ivf_params(corpus.count())
    cents = similarity.kmeans_refine(corpus, n_cells, n_iter=1)
    cells = similarity.ivf_assign(corpus, cents, n_probe=1)
    batch = {
        (r.q_id, r.neighbor_id, r.rk)
        for r in similarity.ivf_topk(
            corpus, queries, k=5, n_cells=n_cells, n_probe=n_probe,
            centroids=cents, corpus_cells=cells,
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_ivf_ingest_stream_equals_full_assignment(spark, tmp_path):
    """The incrementally-grown cells store must equal one-shot ivf_assign
    over the whole corpus (same fixed centroids), and serving through the
    grown store must equal serving through the full recompute."""
    from pyspark.sql import functions as F

    from pulsar_replay_spark.operators import similarity
    from pulsar_replay_spark.streaming.pipelines import (
        embeddings_stream,
        ivf_ingest_sink,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.kmeans_refine(corpus, 16, n_iter=1)

    src = str(tmp_path / "emb_stream")
    corpus.repartition(3).write.mode("overwrite").parquet(src)
    q = ivf_ingest_sink(
        embeddings_stream(spark, src),
        cents,
        str(tmp_path / "index"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination()

    grown = spark.read.parquet(str(tmp_path / "index")).select("vec_id", "cell_id")
    full = similarity.ivf_assign(corpus, cents, n_probe=1)
    assert sorted(map(tuple, grown.collect())) == sorted(map(tuple, full.collect()))

    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    a = similarity.ivf_topk(
        corpus, queries, k=5, n_probe=4, centroids=cents,
        corpus_cells=grown.localCheckpoint(eager=True),
    )
    b = similarity.ivf_topk(
        corpus, queries, k=5, n_probe=4, centroids=cents, corpus_cells=full
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_curation_ingest_sink_end_to_end(spark, tmp_path_factory):
    """Composed ingest: across three micro-batches, planted exact dups,
    cross-batch near-dups, and below-threshold docs are all rejected; the
    accepted store ends exact-dup-free AND near-dup-candidate-free; a
    crash-retry of a batch partition leaves the store unchanged."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pulsar_replay_spark.functions.text import token_count
    from pulsar_replay_spark.operators.dedup import minhash_candidate_pairs

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    base = {r["doc_id"]: r for r in docs.collect()}

    def rows(ids, id_off=0, suffix=""):
        return [
            {
                "doc_id": i + id_off,
                "text": base[i]["text"] + suffix,
                "lang": base[i]["lang"],
                "source": base[i]["source"],
                "n_chars": base[i]["n_chars"],
            }
            for i in ids
        ]

    junk = [
        {"doc_id": 7_000_000 + j, "text": "zz", "lang": "en", "source": "junk",
         "n_chars": 2}
        for j in range(3)
    ]
    b0 = rows(range(1, 101))
    b1 = (
        rows([5, 7], id_off=5_000_000)            # exact dups of b0
        + rows([11], id_off=6_000_000, suffix=" tail")  # near dup of b0
        + rows(range(101, 161))                    # novel
        + junk                                     # below threshold
    )
    # 121/131 chosen free of NATURAL fixture near-dups (probed: ids 120,
    # 144, 157, 161, 174, 176 collide with earlier docs and get dropped)
    b2 = (
        rows([121], id_off=5_000_000)              # exact dup of b1 novel
        + rows([131], id_off=6_000_000, suffix=" tail")  # near dup of b1 novel
        + rows(range(161, 201))                    # novel
    )

    src = str(tmp_path_factory.mktemp("ingest_src"))
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    )
    now = time.time()
    for i, b in enumerate([b0, b1, b2]):
        pq.write_table(pa.Table.from_pylist(b, schema=schema), f"{src}/b{i}.parquet")
        os.utime(f"{src}/b{i}.parquet", (now + i, now + i))

    accepted_dir = str(tmp_path_factory.mktemp("ingest_accepted"))
    index_dir = str(tmp_path_factory.mktemp("ingest_index"))
    ck = str(tmp_path_factory.mktemp("ingest_ck"))

    def score_fn(df):
        return df.select("doc_id", token_count(F.col("text")).cast("double").alias("score"))

    pipelines.curation_ingest_sink(
        pipelines.documents_stream(spark, src), accepted_dir, index_dir, ck,
        score_fn, threshold=5.0,
    ).awaitTermination()

    accepted = spark.read.parquet(accepted_dir)
    ids = {r["doc_id"] for r in accepted.select("doc_id").collect()}

    # every planted reject is out
    assert not any(i >= 5_000_000 for i in ids)
    # the clean majority is in (natural fixture near-dups may drop a few)
    assert len(ids & set(range(1, 201))) > 150
    assert 121 in ids and 131 in ids  # originals beat their later dups
    # store invariants: exact-dup-free and near-dup-candidate-free
    assert accepted.select("_h").distinct().count() == accepted.count()
    assert minhash_candidate_pairs(accepted.select("doc_id", "text")).count() == 0
    # index covers exactly the accepted corpus
    idx_ids = {r["doc_id"] for r in spark.read.parquet(index_dir).select("doc_id").distinct().collect()}
    assert idx_ids == ids

    # crash-retry: rewriting batch 1's partitions must change nothing
    before = sorted(map(tuple, accepted.drop("batch_id").collect()))
    b1_part = (
        spark.read.parquet(accepted_dir)
        .where("batch_id = 1")
        .drop("batch_id")
        .localCheckpoint(eager=True)  # materialize before the in-place rewrite
    )
    (
        b1_part.withColumn("batch_id", F.lit(1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(accepted_dir)
    )
    after = sorted(map(tuple, spark.read.parquet(accepted_dir).drop("batch_id").collect()))
    assert after == before


def test_read_parquet_or_empty_distinguishes_missing_from_broken(spark, tmp_path):
    """The incremental sinks' store probe: a missing or empty store means
    'first batch', but a BROKEN store must raise — silently treating a
    corrupt read as empty would admit duplicates past the dedup probe."""
    schema = "doc_id long, band int"

    # missing path -> empty frame with the requested shape
    out = pipelines.read_parquet_or_empty(spark, str(tmp_path / "nope"), schema)
    assert out.count() == 0 and out.columns == ["doc_id", "band"]

    # pre-created empty dir (no parquet footers yet) -> same
    empty = tmp_path / "empty"
    empty.mkdir()
    assert pipelines.read_parquet_or_empty(spark, str(empty), schema).count() == 0

    # a real store reads through untouched
    real = tmp_path / "real"
    spark.createDataFrame([(1, 2)], schema).write.parquet(str(real))
    assert pipelines.read_parquet_or_empty(spark, str(real), schema).count() == 1

    # corrupt store -> must raise, not silently empty
    broken = tmp_path / "broken"
    broken.mkdir()
    (broken / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        pipelines.read_parquet_or_empty(spark, str(broken), schema).collect()


def test_dedup_index_compact_preserves_probe_and_expires(spark, tmp_path_factory):
    """Store lifecycle (r6): compacting the micro-batch-partitioned LSH
    index into one batch_id=-1 partition must leave any new batch's probe
    result IDENTICAL, collapse duplicate rows from an unchanged re-ingest,
    and expire documents via retain_docs so their cross pairs disappear."""
    from pulsar_replay_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    old = docs.filter("doc_id % 3 != 0")
    new = docs.filter("doc_id % 3 = 0").localCheckpoint(eager=True)

    # grow the store as two batch partitions + a duplicate re-ingest of one
    index_dir = str(tmp_path_factory.mktemp("idx"))
    b0 = dedup.minhash_band_buckets(old.filter("doc_id % 2 = 0"))
    b1 = dedup.minhash_band_buckets(old.filter("doc_id % 2 != 0"))
    for bid, b in ((0, b0), (1, b1), (2, b0.limit(50))):
        (
            b.withColumn("batch_id", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(index_dir)
        )

    def probe(idx_dir):
        idx = spark.read.parquet(idx_dir).select("doc_id", "band", "band_key")
        return {
            (r.doc_a, r.doc_b)
            for r in dedup.incremental_minhash_pairs(new, idx)[0].collect()
        }

    base = probe(index_dir)

    compact_dir = str(tmp_path_factory.mktemp("idx_compact"))
    pipelines.dedup_index_compact(spark, index_dir, compact_dir)
    cidx = spark.read.parquet(compact_dir)
    assert cidx.select("batch_id").distinct().collect()[0][0] == -1
    # duplicates collapsed: exactly the distinct index of `old`
    assert cidx.count() == dedup.minhash_band_buckets(old).count()
    assert probe(compact_dir) == base

    # expiry: retain only even doc_ids; pairs to expired docs vanish
    retain = old.filter("doc_id % 2 = 0").select("doc_id")
    retained = {r.doc_id for r in retain.collect()}
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    exp_dir = str(tmp_path_factory.mktemp("idx_exp"))
    pipelines.dedup_index_compact(spark, index_dir, exp_dir, retain_docs=retain)
    assert probe(exp_dir) == {
        (a, b)
        for (a, b) in base
        if (a in new_ids or a in retained) and (b in new_ids or b in retained)
    }


def test_incremental_simhash_stream_matches_batch(spark, tmp_path_factory):
    """Micro-batched incremental SimHash dedup must discover the SAME
    hamming<=3 pair set as one batch recompute over the whole corpus
    (every pair is found when its later member's batch arrives), keep the
    signature store equal to a one-shot signing, and compact without
    changing either."""
    from pulsar_replay_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    src = str(tmp_path_factory.mktemp("docs_stream_sh"))
    docs.repartition(3).write.mode("overwrite").parquet(src)

    store_dir = str(tmp_path_factory.mktemp("sh_store"))
    pairs_dir = str(tmp_path_factory.mktemp("sh_pairs"))
    q = pipelines.incremental_simhash_sink(
        pipelines.documents_stream(spark, src),
        store_dir,
        pairs_dir,
        str(tmp_path_factory.mktemp("sh_ck")),
    )
    q.awaitTermination()

    full = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_near_pairs(docs, max_hamming=3).collect()
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in spark.read.parquet(pairs_dir).select(
            "doc_a", "doc_b", "hamming"
        ).collect()
    }
    assert got == full

    # store closure: grown store == one-shot signatures of the corpus
    store = spark.read.parquet(store_dir).select("doc_id", "simhash")
    assert sorted(map(tuple, store.collect())) == sorted(
        map(tuple, dedup.simhash(docs).collect())
    )

    # lifecycle: compaction leaves the store's row set unchanged
    compacted = dedup.compact_simhash_store(store)
    assert sorted(map(tuple, compacted.collect())) == sorted(
        map(tuple, store.collect())
    )

    # crash-retry: re-running a batch's store write must overwrite its own
    # partition, never append (the exactly-once discipline)
    full_store = spark.read.parquet(store_dir)
    n_before = full_store.count()
    b0 = full_store.filter("batch_id = 0")
    (
        b0.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store_dir)
    )
    assert spark.read.parquet(store_dir).count() == n_before


@pytest.mark.slow
def test_incremental_labels_stream_matches_batch_cc(spark, tmp_path_factory):
    """Streaming cluster maintenance (r6 gap: pairs were incremental but CC
    re-ran full-corpus per ingest): after the stream drains, the maintained
    label store must equal a from-scratch connected_components over all
    candidate pairs, the summary must equal near_dup_clusters, a crash-retry
    overwrite must not duplicate, and compaction must serve the identical
    snapshot (never in place)."""
    from pulsar_replay_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    src = str(tmp_path_factory.mktemp("docs_stream_lab"))
    docs.repartition(3).write.mode("overwrite").parquet(src)

    index_dir = str(tmp_path_factory.mktemp("lab_index"))
    labels_dir = str(tmp_path_factory.mktemp("lab_store"))
    q = pipelines.incremental_labels_sink(
        pipelines.documents_stream(spark, src),
        index_dir,
        labels_dir,
        str(tmp_path_factory.mktemp("lab_ck")),
    )
    q.awaitTermination()

    got = sorted(
        (r.doc_id, r.cluster_id)
        for r in pipelines.read_cluster_labels(spark, labels_dir).collect()
    )
    full = sorted(
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(
            dedup.minhash_candidate_pairs(docs)
        ).collect()
    )
    assert got == full and len(got) > 0

    summary = dedup.cluster_summary(pipelines.read_cluster_labels(spark, labels_dir))
    assert sorted(map(tuple, summary.collect())) == sorted(
        map(tuple, dedup.near_dup_clusters(docs).collect())
    )

    # crash-retry: rewriting a batch partition overwrites, never appends
    store = spark.read.parquet(labels_dir)
    b0 = store.filter("batch_id = 0")
    n_before = store.count()
    (
        b0.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(labels_dir)
    )
    assert spark.read.parquet(labels_dir).count() == n_before

    # compaction: identical snapshot, bounded store, in-place refused
    compact_dir = str(tmp_path_factory.mktemp("lab_compact"))
    pipelines.labels_compact(spark, labels_dir, compact_dir)
    assert sorted(
        (r.doc_id, r.cluster_id)
        for r in pipelines.read_cluster_labels(spark, compact_dir).collect()
    ) == got
    assert (
        spark.read.parquet(compact_dir).count()
        == spark.read.parquet(compact_dir).select("doc_id").distinct().count()
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="differ"):
        pipelines.labels_compact(spark, labels_dir, labels_dir)
    with _pytest.raises(ValueError, match="differ"):
        pipelines.dedup_index_compact(spark, index_dir, index_dir + "/")


def test_compactors_tolerate_empty_store(spark, tmp_path_factory):
    """r8 (ADVICE): compacting a not-yet-created store must produce an
    empty compacted store, not raise — matching every other store reader
    in the module (read_parquet_or_empty)."""
    base = tmp_path_factory.mktemp("empty_compact")
    pipelines.labels_compact(
        spark, str(base / "no_labels"), str(base / "labels_out")
    )
    assert pipelines.read_cluster_labels(spark, str(base / "labels_out")).count() == 0
    pipelines.semantic_verdicts_compact(
        spark, str(base / "no_verdicts"), str(base / "verdicts_out")
    )
    assert (
        pipelines.read_semantic_verdicts(spark, str(base / "verdicts_out")).count()
        == 0
    )


def test_semantic_dedup_stream_matches_batch(spark, tmp_path_factory):
    """Streaming incremental SemDeDup: after the embedding stream drains,
    the latest-wins verdict store must equal a from-scratch semantic_dedup
    over the whole corpus with the same frozen centroids (cells are
    independent, so per-batch affected-cell recomputes compose exactly),
    and a crash-retry overwrite must not duplicate."""
    from pulsar_replay_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = similarity.kmeans_refine(emb, 16, n_iter=1).localCheckpoint(eager=True)
    src = str(tmp_path_factory.mktemp("emb_stream_sd"))
    emb.select("vec_id", "embedding").repartition(3).write.mode("overwrite").parquet(src)

    corpus_dir = str(tmp_path_factory.mktemp("sd_corpus"))
    verdicts_dir = str(tmp_path_factory.mktemp("sd_verdicts"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = pipelines.semantic_dedup_sink(
        stream, cents, corpus_dir, verdicts_dir,
        str(tmp_path_factory.mktemp("sd_ck")),
    )
    q.awaitTermination()

    got = {
        r["vec_id"]: (r["cell_id"], r["centroid_sim"], r["keep"])
        for r in pipelines.read_semantic_verdicts(spark, verdicts_dir).collect()
    }
    full = {
        r["vec_id"]: (r["cell_id"], r["centroid_sim"], r["keep"])
        for r in similarity.semantic_dedup(emb, centroids=cents).collect()
    }
    assert got == full and len(got) == emb.count()

    store = spark.read.parquet(verdicts_dir)
    b0 = store.filter("batch_id = 0")
    n_before = store.count()
    (
        b0.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(verdicts_dir)
    )
    assert spark.read.parquet(verdicts_dir).count() == n_before


def test_semantic_verdicts_compact_serves_identical_snapshot(spark, tmp_path_factory):
    from pulsar_replay_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = similarity.kmeans_refine(emb, 16, n_iter=1).localCheckpoint(eager=True)
    verdicts_dir = str(tmp_path_factory.mktemp("sv_store"))
    # two overlapping delta batches: batch 1 flips some of batch 0's rows
    v0 = similarity.semantic_dedup(emb.filter("vec_id % 2 = 0"), centroids=cents)
    v0.withColumn("batch_id", F.lit(0)).write.mode("overwrite").partitionBy(
        "batch_id"
    ).parquet(verdicts_dir)
    d1 = similarity.incremental_semantic_dedup(
        emb.filter("vec_id % 2 = 1"), emb.filter("vec_id % 2 = 0"),
        pipelines.read_semantic_verdicts(spark, verdicts_dir), cents,
    )
    d1.withColumn("batch_id", F.lit(1)).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(verdicts_dir)

    before = sorted(
        map(tuple, pipelines.read_semantic_verdicts(spark, verdicts_dir).collect())
    )
    compact_dir = str(tmp_path_factory.mktemp("sv_compact"))
    pipelines.semantic_verdicts_compact(spark, verdicts_dir, compact_dir)
    after = sorted(
        map(tuple, pipelines.read_semantic_verdicts(spark, compact_dir).collect())
    )
    assert before == after and before
    store = spark.read.parquet(compact_dir)
    assert store.count() == store.select("vec_id").distinct().count()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="differ"):
        pipelines.semantic_verdicts_compact(spark, verdicts_dir, verdicts_dir)


def test_warc_dropfolder_to_curated_corpus(spark, tmp_path_factory):
    """The production composition r8 closes: a drop-folder of raw-WARC
    segments (response records = HTTP messages with markup) streams through
    stream_warc_corpus straight into curation_ingest_sink — the accepted
    store ends with clean extracted text only (no headers/markup), exact
    and near dup pages rejected across segments, junk below the quality
    threshold out."""
    import gzip
    import os
    import time

    from pulsar_replay_spark.functions.text import token_count
    from pulsar_replay_spark.sources.corpusio import stream_warc_corpus

    def response_record(uri: str, html: str) -> bytes:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
            + html.encode()
        )
        hdr = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        return hdr + http + b"\r\n\r\n"

    body_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    body_b = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(40))
    seg0 = (
        response_record("https://a.example/1", f"<html><body><p>{body_a}</p></body></html>")
        + response_record("https://b.example/1", f"<html><body><p>{body_b}</p></body></html>")
    )
    seg1 = (
        # exact dup of page A under a new URI (same extracted text -> same
        # content-hash doc_id; the sink's hash probe absorbs it)
        response_record("https://mirror.example/1", f"<html><body><p>{body_a}</p></body></html>")
        # near dup of page B (one appended clause -> MinHash pair)
        + response_record("https://b.example/2", f"<html><body><p>{body_b} trailing clause</p></body></html>")
        # junk below the quality threshold
        + response_record("https://junk.example/1", "<html><body>zz</body></html>")
        # a novel clean page
        + response_record("https://c.example/1", "<html><script>nav()</script><body><p>"
                          + " ".join(f"eta{i} theta{i}" for i in range(40)) + "</p></body></html>")
    )
    drop = str(tmp_path_factory.mktemp("warc_drop"))
    now = time.time()
    for i, seg in enumerate((seg0, seg1)):
        p = os.path.join(drop, f"seg{i}.warc.gz")
        with open(p, "wb") as fh:
            fh.write(gzip.compress(seg))
        os.utime(p, (now + 10 * i, now + 10 * i))

    accepted_dir = str(tmp_path_factory.mktemp("warc_accepted"))
    index_dir = str(tmp_path_factory.mktemp("warc_index"))
    ck = str(tmp_path_factory.mktemp("warc_ck"))

    def score_fn(df):
        return df.select(
            "doc_id", token_count(F.col("text")).cast("double").alias("score")
        )

    pipelines.curation_ingest_sink(
        stream_warc_corpus(spark, drop, max_files_per_trigger=1),
        accepted_dir, index_dir, ck, score_fn, threshold=10.0,
    ).awaitTermination()

    accepted = spark.read.parquet(accepted_dir)
    texts = {r["source"]: r["text"] for r in accepted.collect()}
    # the three distinct, above-threshold pages survive — dups and junk out
    assert set(texts) == {
        "https://a.example/1", "https://b.example/1", "https://c.example/1"
    }
    for t in texts.values():
        assert "<" not in t and "HTTP/1.1" not in t and "nav()" not in t
    assert body_a.split()[0] in texts["https://a.example/1"]
    # store invariants hold across segments
    assert accepted.select("_h").distinct().count() == accepted.count()


def test_curation_state_expire_unsuppresses_near_dups(spark, tmp_path_factory):
    """Expiring an accepted doc removes its text AND its band-index rows,
    so a later ingest of a near-duplicate is admitted instead of being
    rejected by a forgotten doc's ghost."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pulsar_replay_spark.functions.text import token_count

    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    )
    body = " ".join(f"tok{i}" for i in range(60))
    rows0 = [{"doc_id": 1, "text": body, "lang": "en", "source": "s", "n_chars": 1}]
    rows1 = [{"doc_id": 2, "text": body + " tail", "lang": "en", "source": "s",
              "n_chars": 1}]

    src = str(tmp_path_factory.mktemp("exp_src"))
    accepted = str(tmp_path_factory.mktemp("exp_acc"))
    index = str(tmp_path_factory.mktemp("exp_idx"))

    def score_fn(df):
        return df.select("doc_id", token_count(F.col("text")).cast("double").alias("score"))

    ck = str(tmp_path_factory.mktemp("exp_ck"))  # ONE checkpoint: the
    # expired store is resumed against it (source progress carries over)

    def ingest(rows, fname, acc, idx):
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), f"{src}/{fname}")
        pipelines.curation_ingest_sink(
            pipelines.documents_stream(spark, src), acc, idx,
            ck, score_fn, threshold=5.0,
        ).awaitTermination()

    now = time.time()
    ingest(rows0, "b0.parquet", accepted, index)
    os.utime(f"{src}/b0.parquet", (now, now))

    # near-dup of doc 1 rejected while doc 1 is remembered
    ingest(rows1, "b1.parquet", accepted, index)
    ids = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert ids == {1}

    # forget doc 1 -> re-ingest the near-dup under a fresh id: admitted
    out_acc = str(tmp_path_factory.mktemp("exp_acc2"))
    out_idx = str(tmp_path_factory.mktemp("exp_idx2"))
    pipelines.curation_state_expire(
        spark, accepted, index, out_acc, out_idx,
        spark.createDataFrame([(1,)], "doc_id long"),
    )
    assert pipelines.read_parquet_or_empty(
        spark, out_acc, "doc_id long, batch_id long"
    ).count() == 0  # doc 2 was never accepted (empty store reads via the sinks' helper)
    rows2 = [{"doc_id": 3, "text": body + " tail", "lang": "en", "source": "s",
              "n_chars": 1}]
    ingest(rows2, "b2.parquet", out_acc, out_idx)  # same checkpoint: only b2
    ids2 = {r["doc_id"] for r in spark.read.parquet(out_acc).collect()}
    assert 3 in ids2

    # rebase guard: survivors fold to the reserved batch_id=-1 (a fresh-
    # checkpoint resume's micro-batch 0 excludes-then-overwrites batch 0)
    out_acc3 = str(tmp_path_factory.mktemp("exp_acc3"))
    out_idx3 = str(tmp_path_factory.mktemp("exp_idx3"))
    pipelines.curation_state_expire(
        spark, accepted, index, out_acc3, out_idx3,
        spark.createDataFrame([(99,)], "doc_id long"),  # drops nothing
    )
    for p in (out_acc3, out_idx3):
        surv = spark.read.parquet(p)
        assert surv.count() > 0
        assert {r["batch_id"] for r in surv.select("batch_id").collect()} == {-1}, p
        assert {r["doc_id"] for r in surv.select("doc_id").collect()} == {1}, p

    with pytest.raises(ValueError, match="differ"):
        pipelines.curation_state_expire(
            spark, accepted, index, accepted, out_idx,
            spark.createDataFrame([(1,)], "doc_id long"),
        )


def test_semantic_state_expire_restores_dominated_and_matches_fresh(spark, tmp_path_factory):
    """SemDeDup deletion: dropping vectors re-verdicts ONLY their cells —
    a dominated vector whose dominator is forgotten flips back to keep,
    untouched cells keep their rows verbatim, and the expired store equals
    a from-scratch semantic_dedup over the retained corpus."""
    from pulsar_replay_spark.operators import similarity

    base = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    # plant exact clones (vec_id + 100000): identical vectors always
    # dominate within their cell, guaranteeing keep=false rows to restore
    emb = base.select("vec_id", "embedding").unionByName(
        base.filter(F.col("vec_id") % 7 == 0).select(
            (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
        )
    ).localCheckpoint(eager=True)
    cents = similarity.kmeans_refine(emb, 16, n_iter=1).localCheckpoint(eager=True)

    corpus_dir = str(tmp_path_factory.mktemp("sem_corpus"))
    verdicts_dir = str(tmp_path_factory.mktemp("sem_verdicts"))
    (
        emb.select("vec_id", "embedding").withColumn("batch_id", F.lit(0))
        .write.mode("overwrite").partitionBy("batch_id").parquet(corpus_dir)
    )
    verdicts = similarity.semantic_dedup(emb, centroids=cents).localCheckpoint(
        eager=True
    )
    (
        verdicts.withColumn("batch_id", F.lit(0))
        .write.mode("overwrite").partitionBy("batch_id").parquet(verdicts_dir)
    )

    # pick a dropped vector and forget every keeper in its cell that
    # dominates it — the minimal "dominator leaves" scenario is simplest
    # as: forget ALL keepers of one cell that has drops; survivors of that
    # cell must then contain at least one restored keep=true row
    by_cell = {}
    for r in verdicts.collect():
        by_cell.setdefault(r["cell_id"], []).append(r)
    cell, rows = next(
        (c, rs) for c, rs in sorted(by_cell.items())
        if any(not r["keep"] for r in rs) and any(r["keep"] for r in rs)
    )
    dropped_keepers = [r["vec_id"] for r in rows if r["keep"]]
    survivor_drops = [r["vec_id"] for r in rows if not r["keep"]]
    drop_df = spark.createDataFrame([(v,) for v in dropped_keepers], "vec_id long")

    out_corpus = str(tmp_path_factory.mktemp("sem_corpus_out"))
    out_verdicts = str(tmp_path_factory.mktemp("sem_verdicts_out"))
    pipelines.semantic_state_expire(
        spark, corpus_dir, verdicts_dir, out_corpus, out_verdicts, drop_df, cents
    )

    served = pipelines.read_semantic_verdicts(spark, out_verdicts)
    got = {r["vec_id"]: (r["cell_id"], r["keep"]) for r in served.collect()}
    assert not (set(got) & set(dropped_keepers))  # forgotten rows gone
    # at least one formerly-dominated survivor is restored to keep
    assert any(got[v][1] for v in survivor_drops if v in got)

    # gold: expired == from-scratch over the retained corpus
    retained = emb.join(drop_df, "vec_id", "left_anti")
    fresh = {
        r["vec_id"]: (r["cell_id"], r["keep"])
        for r in similarity.semantic_dedup(retained, centroids=cents).collect()
    }
    assert got == fresh

    # fresh-checkpoint resume guard: the ENTIRE expired output (corpus rows,
    # untouched winners, re-verdicts) lives at the reserved batch_id=-1, so
    # micro-batch 0's exclude-then-overwrite can neither hide nor wipe it
    for path, schema in (
        (out_corpus, "vec_id long, embedding array<float>, batch_id long"),
        (out_verdicts,
         "vec_id long, cell_id int, centroid_sim double, keep boolean, batch_id long"),
    ):
        raw = pipelines.read_parquet_or_empty(spark, path, schema)
        assert raw.filter(F.col("batch_id") != -1).count() == 0, path
    visible = pipelines.read_semantic_verdicts(
        spark, out_verdicts, exclude_batch_id=0
    )
    assert {r["vec_id"] for r in visible.collect()} == set(got)

    with pytest.raises(ValueError, match="differ"):
        pipelines.semantic_state_expire(
            spark, corpus_dir, verdicts_dir, corpus_dir, out_verdicts, drop_df, cents
        )


def test_link_graph_sink_accumulates_and_refreshes(spark, tmp_path_factory):
    """Crawl segments dropped over time accumulate edges in the link store
    (idempotent batch_id partitions); domain_rank_refresh over the store
    equals domain_rank over the batch reader's edges for the same folder."""
    from pulsar_replay_spark.operators.graph import domain_rank
    from pulsar_replay_spark.sources import corpusio

    def seg(src: str, targets: list[str]) -> bytes:
        html = "".join(f'<a href="https://{t}/x">l</a>' for t in targets).encode()
        body = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)
        hdr = (f"WARC/1.0\r\nWARC-Type: response\r\n"
               f"WARC-Target-URI: https://{src}/p\r\n"
               f"Content-Length: {len(body)}\r\n\r\n").encode()
        return hdr + body + b"\r\n\r\n"

    drop = str(tmp_path_factory.mktemp("links_drop"))
    store = str(tmp_path_factory.mktemp("links_store"))
    ck = str(tmp_path_factory.mktemp("links_ck"))

    with open(f"{drop}/seg0.warc", "wb") as fh:
        fh.write(seg("a.example", ["hub.example"]) + seg("b.example", ["hub.example"]))
    pipelines.link_graph_sink(
        corpusio.stream_warc_links(spark, drop, max_files_per_trigger=1), store, ck
    ).awaitTermination()

    # a later segment lands; the SAME checkpoint resumes and appends
    with open(f"{drop}/seg1.warc", "wb") as fh:
        fh.write(seg("c.example", ["hub.example", "a.example"]))
    pipelines.link_graph_sink(
        corpusio.stream_warc_links(spark, drop, max_files_per_trigger=1), store, ck
    ).awaitTermination()

    stored = sorted(map(tuple, pipelines.read_link_store(spark, store).collect()))
    batch = sorted(map(tuple, corpusio.read_warc_links(spark, drop).collect()))
    assert stored == batch and len(batch) == 4

    got = {r["host"]: r["rank_fp"]
           for r in pipelines.domain_rank_refresh(spark, store, n_iter=5).collect()}
    want = {r["host"]: r["rank_fp"]
            for r in domain_rank(corpusio.read_warc_links(spark, drop), n_iter=5).collect()}
    assert got == want
    assert got["hub.example"] == max(got.values())


def test_drift_monitor_sink_flags_the_drifted_window(spark, tmp_path_factory):
    """Streaming drift monitoring: the sink stores ADDITIVE per-(window,
    bin) counts per micro-batch, so a window whose rows arrive across
    SEVERAL micro-batches (files here, maxFilesPerTrigger=1) re-aggregates
    exactly at read time — PSI computed over the folded counts equals the
    one-shot drift_by_window over all rows, the drifted hour crosses the
    threshold, and a one-row straggler batch cannot false-alarm."""
    import datetime as dt

    from pulsar_replay_spark.operators import quality

    bins = [0.2, 0.5, 0.8]
    ref = spark.createDataFrame(
        [(i, 0.1 + 0.05 * (i % 16)) for i in range(400)], "doc_id long, score double"
    )
    ref_h = quality.score_histogram(ref, bins).localCheckpoint(eager=True)

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    stable, drifted = [], []
    for i in range(200):
        stable.append((base + dt.timedelta(seconds=10 * i), 0.1 + 0.05 * (i % 16)))
    for i in range(200):
        drifted.append(
            (base + dt.timedelta(hours=1, seconds=10 * i), 0.92 + 0.001 * (i % 10))
        )
    src = str(tmp_path_factory.mktemp("drift_src"))
    schema = "ts timestamp, score double"
    # the drifted hour is SPLIT across batches — including a one-row
    # straggler file, the case that false-alarmed a per-batch-PSI store
    for fname, part in (
        ("b0", stable), ("b1", drifted[:150]), ("b2", drifted[150:199]),
        ("b3", drifted[199:]),
    ):
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{fname}")

    monitor = str(tmp_path_factory.mktemp("drift_mon"))
    ck = str(tmp_path_factory.mktemp("drift_ck"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    pipelines.drift_monitor_sink(
        stream, bins, monitor, ck, window="1 hour"
    ).awaitTermination()

    got = {r["window_start"]: r for r in
           pipelines.drift_monitor_read(spark, monitor, ref_h).collect()}
    assert len(got) == 2
    assert got[base]["psi"] < 0.01
    assert got[base + dt.timedelta(hours=1)]["psi"] > 0.25
    assert got[base + dt.timedelta(hours=1)]["n_cur"] == 200

    # stream ≡ one-shot over ALL rows despite the multi-batch window split
    one_shot = {
        r["window_start"]: r["psi"]
        for r in quality.drift_by_window(
            spark.read.parquet(f"{src}/*"), ref_h, bins, window="1 hour"
        ).collect()
    }
    assert {w: r["psi"] for w, r in got.items()} == one_shot


def test_dup_span_ingest_sink_scrubs_against_prior_batches(
    spark, tmp_path_factory
):
    """Continuous exact-substring dedup: a passage admitted in batch 0
    scrubs from every later batch's copies at any alignment; the
    accumulated scrubbed store over doc_id-ordered batches equals the
    one-shot dup_span_scrub over all docs; the gram index holds one row
    per distinct corpus gram."""
    from pulsar_replay_spark.operators import dedup

    src_tokens = [f"a{i}" for i in range(60)]
    rows = [
        (1, " ".join(src_tokens)),  # batch 0: first occurrence
        (2, " ".join([f"b{i}" for i in range(25)])),
        # batch 1: 14-token copy of a10..a23 at offset 5
        (3, " ".join([f"c{i}" for i in range(5)] + src_tokens[10:24] + ["ctail"])),
        # batch 2: 12-token copy of a30..a41, plus a copy of batch 1's OWN
        # unique prefix region (c0..c4 too short to matter at k=10)
        (4, " ".join(src_tokens[30:42] + [f"d{i}" for i in range(8)])),
    ]
    src = str(tmp_path_factory.mktemp("dupspan_src"))
    schema = "doc_id long, text string"
    for fname, part in (("b0", rows[:2]), ("b1", rows[2:3]), ("b2", rows[3:])):
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{fname}")

    store = str(tmp_path_factory.mktemp("dupspan_store"))
    out = str(tmp_path_factory.mktemp("dupspan_out"))
    ck = str(tmp_path_factory.mktemp("dupspan_ck"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    pipelines.dup_span_ingest_sink(
        stream, store, out, ck, min_tokens=10
    ).awaitTermination(120)

    got = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        for r in spark.read.parquet(out).collect()
    }
    docs = spark.createDataFrame(rows, schema)
    want = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        for r in dedup.dup_span_scrub(docs, min_tokens=10).collect()
    }
    assert got == want
    # the cross-batch copies actually lost their planted spans
    assert got[3][2] == got[3][1] - 14
    assert got[4][2] == got[4][1] - 12
    # index: one row per distinct corpus gram, nothing re-persisted
    idx = spark.read.parquet(store)
    assert idx.count() == idx.select("gh").distinct().count()


def test_dup_span_sink_bloom_auto_switch_output_invariant(
    spark, tmp_path_factory, monkeypatch
):
    """r12: bloom_fpp='auto' sources the prefilter decision from the
    _counts ledger the sink maintains — batch 0 probes plain (empty
    index), and once the resident grams cross the threshold (shrunk here
    via monkeypatch) later batches probe through the Bloom prefilter.
    Output must be INVARIANT across the switch (≡ the one-shot scrub over
    the union), the ledger must equal the resident index exactly, and
    compaction rebases it."""
    from pulsar_replay_spark.operators import dedup

    calls = []
    real = dedup.incremental_dup_span_scrub

    def spy(*args, **kw):
        calls.append(kw.get("bloom_fpp"))
        return real(*args, **kw)

    monkeypatch.setattr(dedup, "incremental_dup_span_scrub", spy)
    monkeypatch.setattr(pipelines, "AUTO_BLOOM_MIN_INDEX_GRAMS", 5)

    src_tokens = [f"a{i}" for i in range(40)]
    rows = [
        (1, " ".join(src_tokens)),
        (2, " ".join(f"b{i}" for i in range(25))),
        # 14-token cross-batch copy of a10..a23 — must scrub under BOTH legs
        (3, " ".join([f"c{i}" for i in range(5)] + src_tokens[10:24] + ["ct"])),
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path_factory.mktemp("auto_src"))
    for fname, part in (("b0", rows[:2]), ("b1", rows[2:])):
        spark.createDataFrame(part, schema).coalesce(1).write.parquet(
            f"{src}/{fname}"
        )
    store = str(tmp_path_factory.mktemp("auto_store"))
    out = str(tmp_path_factory.mktemp("auto_out"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    ck = str(tmp_path_factory.mktemp("auto_ck"))
    pipelines.dup_span_ingest_sink(
        stream,
        store,
        out,
        ck,
        min_tokens=10,
        bloom_fpp="auto",
    ).awaitTermination(120)

    # the switch happened: batch 0 plain, batch 1 through the prefilter
    assert calls == [None, pipelines.AUTO_BLOOM_FPP]

    got = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        for r in spark.read.parquet(out).collect()
    }
    docs = spark.createDataFrame(rows, schema)
    want = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        for r in dedup.dup_span_scrub(docs, min_tokens=10).collect()
    }
    assert got == want
    assert got[3][2] == got[3][1] - 14  # the planted span actually left

    # the ledger equals the resident index, exactly
    assert pipelines._dup_span_store_gram_count(spark, store) == (
        spark.read.parquet(store).count()
    )
    # compaction rebases the ledger over the folded base
    compact = str(tmp_path_factory.mktemp("auto_compact"))
    pipelines.dup_span_store_compact(spark, store, compact)
    assert pipelines._dup_span_store_gram_count(spark, compact) == (
        spark.read.parquet(compact).count()
    )

    # a legacy store without a ledger falls back to footer-counting
    import shutil as _sh

    _sh.rmtree(f"{store}/_counts")
    idx_total = spark.read.parquet(store).count()
    assert pipelines._dup_span_store_gram_count(spark, store) == idx_total

    # ...and a RESUMED 'auto' sink backfills the legacy total as a
    # batch_id=-2 ledger row, so later batches sum legacy + new grams
    # (without this, an arbitrarily large pre-ledger index would keep
    # 'auto' in the plain regime forever)
    spark.createDataFrame(
        [(4, " ".join(f"z{i}" for i in range(15)))], schema
    ).coalesce(1).write.parquet(f"{src}/b2")
    stream_resume = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    pipelines.dup_span_ingest_sink(
        stream_resume, store, out, ck, min_tokens=10, bloom_fpp="auto"
    ).awaitTermination(120)
    counts = {
        r.batch_id: r.n_grams
        for r in spark.read.parquet(f"{store}/_counts").collect()
    }
    assert counts.get(pipelines.LEGACY_COUNT_BATCH_ID) == idx_total
    assert pipelines._dup_span_store_gram_count(spark, store) == (
        spark.read.parquet(store).count()
    )
    assert calls[-1] == pipelines.AUTO_BLOOM_FPP  # legacy total drove bloom

    # only 'auto' is a legal string knob
    with pytest.raises(ValueError, match="auto"):
        pipelines.dup_span_ingest_sink(
            stream,
            store,
            out,
            str(tmp_path_factory.mktemp("auto_ck2")),
            bloom_fpp="always",
        )


def test_dup_span_sink_knobs_meta_guard_and_string_ids(
    spark, tmp_path_factory
):
    """r11 sink hardening: (1) a STRING-doc_id stream ingests cleanly (the
    gram store takes the stream's doc_id type instead of hardcoding long);
    (2) casefold/bloom_fpp plumb through and the accumulated store still
    equals the matching one-shot scrub; (3) the build-time knobs and the
    kernel tag are frozen in the store's _meta — resuming with different
    knobs, against another kernel's store, or against a store holding
    grams but no _meta raises instead of silently never matching hashes;
    (4) compaction carries _meta forward; (5) min_tokens < 1 is refused
    up front."""
    from pulsar_replay_spark.operators import dedup

    lower = " ".join(f"word{i}" for i in range(14))
    title = " ".join(f"Word{i}" for i in range(14))
    rows = [
        ("doc_a", f"intro {lower} outro0"),
        ("doc_b", " ".join(f"b{i}" for i in range(20))),
        ("doc_c", f"{title} tail0 tail1"),  # case-variant later copy
    ]
    schema = "doc_id string, text string"
    src = str(tmp_path_factory.mktemp("dupspan_meta_src"))
    for fname, part in (("b0", rows[:2]), ("b1", rows[2:])):
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{fname}")

    store = str(tmp_path_factory.mktemp("dupspan_meta_store"))
    out = str(tmp_path_factory.mktemp("dupspan_meta_out"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    pipelines.dup_span_ingest_sink(
        stream,
        store,
        out,
        str(tmp_path_factory.mktemp("dupspan_meta_ck")),
        min_tokens=10,
        casefold=True,
        bloom_fpp=0.01,
    ).awaitTermination(120)

    got = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        for r in spark.read.parquet(out).collect()
    }
    docs = spark.createDataFrame(rows, schema)
    want = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        for r in dedup.dup_span_scrub(docs, min_tokens=10, casefold=True).collect()
    }
    assert got == want
    assert got["doc_c"][0] == "tail0 tail1"  # cross-batch casefolded scrub
    idx = spark.read.parquet(store)
    assert dict(idx.dtypes)["doc_id"] == "string"
    # _meta freezes the VERSIONED kernel tag ('rolling2' = the r12
    # length-aware NUL fix)
    assert pipelines._dup_span_store_meta(spark, store) == {
        "min_tokens": 10,
        "casefold": True,
        "impl": "rolling2",
    }

    # mismatched resume: a different knob set against the same store raises
    from pyspark.errors import StreamingQueryException

    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    with pytest.raises(StreamingQueryException, match="built with"):
        pipelines.dup_span_ingest_sink(
            stream2,
            store,
            str(tmp_path_factory.mktemp("dupspan_meta_out2")),
            str(tmp_path_factory.mktemp("dupspan_meta_ck2")),
            min_tokens=10,  # same k, but byte-strict vs the store's casefold
        ).awaitTermination(120)

    def refused(store_dir):
        with pytest.raises(StreamingQueryException, match="built with"):
            pipelines.dup_span_ingest_sink(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{src}/*"),
                store_dir,
                str(tmp_path_factory.mktemp("dupspan_meta_out3")),
                str(tmp_path_factory.mktemp("dupspan_meta_ck3")),
                min_tokens=10,
                casefold=True,
            ).awaitTermination(120)

    # a store built by another kernel — the NUL-colliding pre-r12
    # 'rolling' or the retired 'md5' — refuses a resume: its resident
    # hashes would never match this kernel's
    for old_kernel in ("rolling", "md5"):
        old_store = str(tmp_path_factory.mktemp(f"dupspan_meta_{old_kernel}"))
        pipelines._dup_span_store_meta_write(spark, old_store, 10, True, old_kernel)
        refused(old_store)

    # a store holding grams but no _meta (written before r11) cannot name
    # its kernel — refused too, not resumed and silently never matched
    bare_store = str(tmp_path_factory.mktemp("dupspan_meta_bare"))
    spark.createDataFrame(
        [("0" * 32, "doc_z", 0, 0)],
        "gh string, doc_id string, pos int, batch_id long",
    ).write.partitionBy("batch_id").parquet(bare_store, mode="overwrite")
    refused(bare_store)
    assert pipelines._dup_span_store_meta(spark, bare_store) is None

    with pytest.raises(ValueError, match="min_tokens"):
        pipelines.dup_span_ingest_sink(
            stream2, store, out, str(tmp_path_factory.mktemp("ck_k0")),
            min_tokens=0,
        )

    # compaction carries the meta forward
    compact = str(tmp_path_factory.mktemp("dupspan_meta_compact"))
    pipelines.dup_span_store_compact(spark, store, compact)
    assert pipelines._dup_span_store_meta(spark, compact) == {
        "min_tokens": 10,
        "casefold": True,
        "impl": "rolling2",
    }


def test_dup_span_sink_composes_with_curation_sink(spark, tmp_path_factory):
    """The continuous-pipeline composition: dup_span_ingest_sink upstream
    (any-length exact-substring scrub against everything admitted so far)
    feeding curation_ingest_sink downstream (exact/near dedup + quality) —
    a later batch's copy of an admitted passage loses the passage before
    curation ever sees it, and a doc that was NOTHING but the passage
    arrives empty and falls to the quality floor."""
    from pulsar_replay_spark.functions.text import token_count

    passage = " ".join(f"boiler{i}" for i in range(15))
    own1 = " ".join(f"alpha{i}" for i in range(25))
    own2 = " ".join(f"beta{i}" for i in range(25))
    rows_by_batch = [
        [(1, f"{own1} {passage}")],  # admits passage
        [(2, f"{passage} {own2}"), (3, passage)],  # copy + passage-only
    ]
    src = str(tmp_path_factory.mktemp("comp_src"))
    for i, rows in enumerate(rows_by_batch):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/b{i}")

    gram_store = str(tmp_path_factory.mktemp("comp_grams"))
    scrubbed_dir = str(tmp_path_factory.mktemp("comp_scrubbed"))
    pipelines.dup_span_ingest_sink(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*"),
        gram_store,
        scrubbed_dir,
        str(tmp_path_factory.mktemp("comp_ck1")),
        min_tokens=10,
    ).awaitTermination(120)

    # stage 2: curate the scrubbed store (its files stream in as batches)
    scrub_stream = (
        spark.readStream.schema(
            "doc_id long, cleaned_text string, n_tokens long, "
            "n_kept_tokens long, batch_id long"
        )
        .parquet(scrubbed_dir)
        .select(
            "doc_id",
            F.col("cleaned_text").alias("text"),
            F.lit("web").alias("source"),
        )
    )
    accepted_dir = str(tmp_path_factory.mktemp("comp_accepted"))
    pipelines.curation_ingest_sink(
        scrub_stream,
        accepted_dir,
        str(tmp_path_factory.mktemp("comp_index")),
        str(tmp_path_factory.mktemp("comp_ck2")),
        lambda df: df.select(
            "doc_id", token_count(F.col("text")).cast("double").alias("score")
        ),
        threshold=10.0,
    ).awaitTermination(120)

    texts = {
        r.doc_id: r.text for r in spark.read.parquet(accepted_dir).collect()
    }
    assert set(texts) == {1, 2}  # doc 3 arrived empty → quality floor
    assert texts[1] == f"{own1} {passage}"  # first occurrence intact
    assert texts[2] == own2  # the copy lost exactly the passage


def test_dup_span_store_compact_and_expire(spark, tmp_path_factory):
    """Gram-store lifecycle: compaction folds batches to one base partition
    with the globally-first occurrence per distinct gram (serving against
    the compacted store ≡ the grown store); expiry removes a dropped doc's
    gram rows, after which content whose only source was the dropped doc
    no longer scrubs future copies; both refuse in-place overwrite."""
    from pulsar_replay_spark.operators import dedup

    src = [f"a{i}" for i in range(40)]
    store = str(tmp_path_factory.mktemp("gs_store"))
    idx = spark.createDataFrame([], "gh string, doc_id long, pos int")
    batches = [
        [(1, " ".join(src))],
        [(2, " ".join([f"b{i}" for i in range(3)] + src[10:24]))],
    ]
    for bid, rows in enumerate(batches):
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        _, new_grams = dedup.incremental_dup_span_scrub(batch, idx, 10)
        new_grams.withColumn("batch_id", F.lit(bid)).write.mode(
            "append"
        ).partitionBy("batch_id").parquet(store)
        idx = spark.read.parquet(store).select("gh", "doc_id", "pos")

    compacted = str(tmp_path_factory.mktemp("gs_compact"))
    pipelines.dup_span_store_compact(spark, store, compacted)
    cidx = spark.read.parquet(compacted)
    assert set(cidx.select("batch_id").distinct().toPandas()["batch_id"]) == {-1}
    assert cidx.count() == cidx.select("gh").distinct().count()
    # serving equivalence: a new batch scrubs identically against either
    probe = spark.createDataFrame(
        [(9, " ".join(src[5:20] + ["tail9"]))], "doc_id long, text string"
    )
    s_grown, _ = dedup.incremental_dup_span_scrub(
        probe, spark.read.parquet(store).select("gh", "doc_id", "pos"), 10
    )
    s_comp, _ = dedup.incremental_dup_span_scrub(
        probe, cidx.select("gh", "doc_id", "pos"), 10
    )
    assert s_grown.collect() == s_comp.collect()

    # expire doc 1: its gram rows leave the store, so a fresh copy of
    # content whose only first occurrence was doc 1 no longer scrubs
    expired = str(tmp_path_factory.mktemp("gs_expired"))
    one = spark.createDataFrame([(1,)], "doc_id long")
    pipelines.dup_span_store_expire(spark, store, expired, one)
    eidx = spark.read.parquet(expired).select("gh", "doc_id", "pos")
    assert eidx.filter(F.col("doc_id") == 1).count() == 0
    s_exp, _ = dedup.incremental_dup_span_scrub(probe, eidx, 10)
    row = s_exp.collect()[0]
    grown_row = s_grown.collect()[0]
    assert grown_row.n_kept_tokens < row.n_kept_tokens  # less scrubs now
    with pytest.raises(ValueError, match="differ"):
        pipelines.dup_span_store_compact(spark, store, store)
    with pytest.raises(ValueError, match="differ"):
        pipelines.dup_span_store_expire(spark, store, store, one)


@pytest.mark.slow
def test_lang_drift_sink_flags_planted_lang_shift(spark, tmp_path_factory):
    """r10 lang-share drift: a crawl that starts in English and drifts into
    Spanish mid-stream crosses the PSI 0.25 rule in the drifted window and
    stays quiet in the stable one; the sink's accumulated counts fold to
    EXACTLY the one-shot lang_window_counts of the same docs (stream ≡
    batch), and abstained/OOV predictions occupy their own bin."""
    import datetime as dt

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

    # frozen reference: a vetted, English-dominant corpus
    ref_docs = spark.createDataFrame(
        [(i, en[i % 4] + f" r{i}") for i in range(40)]
        + [(100 + i, es[i % 4] + f" r{i}") for i in range(4)],
        "doc_id long, text string",
    )
    ref_h = classifier.lang_share_counts(ref_docs, model).localCheckpoint(
        eager=True
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    stable = [
        (1000 + i, en[i % 4] + f" s{i}", base + dt.timedelta(seconds=30 * i))
        for i in range(40)
    ] + [
        (1100 + i, es[i % 4] + f" s{i}", base + dt.timedelta(seconds=40 * i))
        for i in range(4)
    ]
    drifted = [
        (2000 + i, es[i % 4] + f" d{i}",
         base + dt.timedelta(hours=1, seconds=30 * i))
        for i in range(40)
    ]
    src = str(tmp_path_factory.mktemp("lang_src"))
    schema = "doc_id long, text string, ts timestamp"
    # the drifted hour split across batches, straggler included
    for fname, part in (
        ("b0", stable), ("b1", drifted[:30]), ("b2", drifted[30:39]),
        ("b3", drifted[39:]),
    ):
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{fname}")

    monitor = str(tmp_path_factory.mktemp("lang_mon"))
    ck = str(tmp_path_factory.mktemp("lang_ck"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    pipelines.lang_drift_sink(
        stream, model, monitor, ck, window="1 hour"
    ).awaitTermination()

    got = {r["window_start"]: r for r in
           pipelines.drift_monitor_read(spark, monitor, ref_h).collect()}
    assert len(got) == 2
    assert got[base]["psi"] < 0.1
    assert got[base + dt.timedelta(hours=1)]["psi"] > 0.25
    assert got[base + dt.timedelta(hours=1)]["n_cur"] == 40

    # stream ≡ one-shot over all rows despite the multi-batch split
    one_shot = {
        r["window_start"]: r["psi"]
        for r in quality.psi_from_window_hist(
            classifier.lang_window_counts(
                spark.read.parquet(f"{src}/*"), model, window="1 hour"
            ),
            ref_h,
        ).collect()
    }
    assert {w: r["psi"] for w, r in got.items()} == one_shot

    # the abstain bin: gibberish lands at index len(langs), not in a lang
    gib = spark.createDataFrame(
        [(9000, "zzqx wqv kkjj pzt 0192 8374")], "doc_id long, text string"
    )
    bins = {r.bin: r.n for r in classifier.lang_share_counts(gib, model).collect()}
    assert bins == {len(model["langs"]): 1}

    # the labeled breakdown names WHICH language moved: es absorbs the
    # drifted window's share, en loses it, labels are language names
    drift_docs = spark.read.parquet(f"{src}/*").filter(
        F.col("ts") >= base + dt.timedelta(hours=1)
    )
    cur = classifier.lang_share_counts(drift_docs, model)
    contrib = {
        r.lang: r for r in classifier.lang_psi_contributions(
            model, ref_h, cur
        ).collect()
    }
    assert set(contrib) <= set(model["langs"]) | {"__abstain__"}
    assert contrib["es"].p_cur > contrib["es"].p_ref
    assert contrib["en"].p_cur < contrib["en"].p_ref
    assert contrib["es"].psi_term > 0


def test_compactors_refuse_in_place_overwrite(spark, tmp_path_factory):
    """rollup_compact and cdc_compact must refuse out_dir == source dir —
    lazy parquet reads would clobber their own input mid-fold."""
    d = str(tmp_path_factory.mktemp("inplace"))
    with pytest.raises(ValueError, match="differ"):
        pipelines.rollup_compact(spark, d, d)
    with pytest.raises(ValueError, match="differ"):
        pipelines.cdc_compact(spark, d, d)


@pytest.mark.slow
def test_embedding_drift_sink_matches_batch_monitor(spark, tmp_path):
    """The streaming embedding-drift monitor: counts accumulated across
    micro-batches fold to EXACTLY the one-shot cell histogram (cumulative
    NULL-window mode), the read's PSI equals similarity.embedding_drift over
    the same frames, and a crash-retry of a batch partition leaves the
    store unchanged (idempotent batch_id overwrite)."""
    from pyspark.sql import functions as F

    from pulsar_replay_spark.operators import similarity
    from pulsar_replay_spark.streaming.pipelines import (
        embedding_drift_read,
        embedding_drift_sink,
        embeddings_stream,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.kmeans_refine(corpus, 8, n_iter=1)
    # baseline = even vec_ids; the "ingest" = odd vec_ids (a real shift:
    # halves of a random corpus differ a little, not massively)
    ref = corpus.filter(F.col("vec_id") % 2 == 0)
    cur = corpus.filter(F.col("vec_id") % 2 == 1)

    src = str(tmp_path / "emb_src")
    cur.repartition(3).write.mode("overwrite").parquet(src)
    monitor = str(tmp_path / "monitor")
    q = embedding_drift_sink(
        embeddings_stream(spark, src), cents, monitor, str(tmp_path / "ck")
    )
    q.awaitTermination()

    # folded counts == one-shot histogram over the same vectors
    folded = {
        r["bin"]: r["n"]
        for r in spark.read.parquet(monitor)
        .groupBy("bin")
        .agg(F.sum("n_cur").alias("n"))
        .collect()
    }
    oneshot = {
        r["bin"]: r["n"]
        for r in similarity.embedding_cell_histogram(cur, cents).collect()
    }
    assert folded == oneshot and sum(folded.values()) == cur.count()

    ref_hist = similarity.embedding_cell_histogram(ref, cents)
    served = embedding_drift_read(spark, monitor, ref_hist).collect()
    batch = similarity.embedding_drift(ref, cur, cents).first()
    assert len(served) == 1
    assert abs(served[0]["psi"] - batch["psi"]) < 1e-9
    assert served[0]["n_cur"] == cur.count() == batch["n_cur"]
    assert served[0]["n_ref"] == ref.count()

    # crash-retry: rewriting one batch partition must not change the read
    import glob
    import os

    part = sorted(glob.glob(os.path.join(monitor, "batch_id=*")))[0]
    batch_id = int(part.rsplit("=", 1)[1])
    rows = spark.read.parquet(part).withColumn("batch_id", F.lit(batch_id))
    rows.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(monitor)
    retry = embedding_drift_read(spark, monitor, ref_hist).collect()
    assert abs(retry[0]["psi"] - served[0]["psi"]) < 1e-12
    assert retry[0]["n_cur"] == served[0]["n_cur"]


@pytest.mark.slow
def test_embedding_drift_sink_windowed_mode(spark, tmp_path):
    """ts mode: per-(event-time window, cell) counts land in the store and
    the windowed read serves per-window PSI — with all rows in one hour the
    single window's PSI equals the cumulative batch number."""
    from pyspark.sql import functions as F

    from pulsar_replay_spark.operators import similarity
    from pulsar_replay_spark.streaming.pipelines import (
        embedding_drift_read,
        embedding_drift_sink,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.kmeans_refine(corpus, 8, n_iter=1)
    ref = corpus.filter(F.col("vec_id") % 2 == 0)
    cur = corpus.filter(F.col("vec_id") % 2 == 1).withColumn(
        "ts", F.to_timestamp(F.lit("2026-08-16 12:30:00"))
    )

    src = str(tmp_path / "emb_src")
    cur.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    monitor = str(tmp_path / "monitor")
    q = embedding_drift_sink(
        stream, cents, monitor, str(tmp_path / "ck"), ts_col="ts"
    )
    q.awaitTermination()

    ref_hist = similarity.embedding_cell_histogram(ref, cents)
    served = embedding_drift_read(spark, monitor, ref_hist, windowed=True).collect()
    assert len(served) == 1 and served[0]["window_start"] is not None
    batch_psi = similarity.embedding_drift(ref, cur, cents).first()["psi"]
    assert abs(served[0]["psi"] - batch_psi) < 1e-9
    assert served[0]["n_cur"] == cur.count()


def test_embedding_drift_from_maintained_ivf_index(spark, tmp_path):
    """Drift served straight off the ANN cells store: a pipeline already
    running ivf_ingest_sink gets the monitor for one aggregation — PSI off
    the index equals batch embedding_drift over the same vectors."""
    from pyspark.sql import functions as F

    from pulsar_replay_spark.operators import similarity
    from pulsar_replay_spark.streaming.pipelines import (
        embedding_drift_from_index,
        embeddings_stream,
        ivf_ingest_sink,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.kmeans_refine(corpus, 8, n_iter=1)
    ref = corpus.filter(F.col("vec_id") % 2 == 0)
    cur = corpus.filter(F.col("vec_id") % 2 == 1)

    src = str(tmp_path / "emb_src")
    cur.repartition(2).write.mode("overwrite").parquet(src)
    index = str(tmp_path / "index")
    q = ivf_ingest_sink(embeddings_stream(spark, src), cents, index, str(tmp_path / "ck"))
    q.awaitTermination()

    ref_hist = similarity.embedding_cell_histogram(ref, cents)
    got = embedding_drift_from_index(spark, index, ref_hist).first()
    want = similarity.embedding_drift(ref, cur, cents).first()
    assert abs(got["psi"] - want["psi"]) < 1e-9
    assert got["n_cur"] == want["n_cur"] == cur.count()


@pytest.mark.slow
def test_curation_ingest_sink_continuous_decontamination(spark, tmp_path_factory):
    """r9: the sink's decontamination stage against a FIXED eval suite —
    policy 'scrub' stores the quoting doc minus the quote (scored on the
    post-scrub text), policy 'drop' discards it; both are per-doc decisions
    so the streamed store matches the one-shot op on the same docs."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pulsar_replay_spark.functions.text import token_count
    from pulsar_replay_spark.operators.dedup import span_decon_scrub

    filler = " ".join(f"filler{i}" for i in range(30))
    filler_b = " ".join(f"otherword{i}" for i in range(30))
    quote = "the capital of france is paris since the middle ages period"
    rows_b0 = [
        {"doc_id": 1, "text": f"{filler} {quote}", "lang": "en",
         "source": "web", "n_chars": 1},
        {"doc_id": 2, "text": "a clean long document " + filler_b, "lang": "en",
         "source": "web", "n_chars": 1},
    ]
    rows_b1 = [
        {"doc_id": 3, "text": quote, "lang": "en",  # nothing but the quote
         "source": "web", "n_chars": 1},
        {"doc_id": 4, "text": "another clean piece " + " ".join(
            f"third{i}" for i in range(30)), "lang": "en",
         "source": "web", "n_chars": 1},
    ]
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    )
    bench = spark.createDataFrame([(900, quote)], "doc_id long, text string")

    def run(policy):
        src = str(tmp_path_factory.mktemp(f"decon_src_{policy}"))
        now = time.time()
        for i, b in enumerate([rows_b0, rows_b1]):
            pq.write_table(pa.Table.from_pylist(b, schema=schema),
                           f"{src}/b{i}.parquet")
            os.utime(f"{src}/b{i}.parquet", (now + i, now + i))
        acc = str(tmp_path_factory.mktemp(f"decon_acc_{policy}"))
        idx = str(tmp_path_factory.mktemp(f"decon_idx_{policy}"))
        ck = str(tmp_path_factory.mktemp(f"decon_ck_{policy}"))

        def score_fn(df):
            return df.select(
                "doc_id", token_count(F.col("text")).cast("double").alias("score")
            )

        pipelines.curation_ingest_sink(
            pipelines.documents_stream(spark, src), acc, idx, ck,
            score_fn, threshold=5.0,
            benchmark=bench, decontaminate_policy=policy, min_overlap=8,
        ).awaitTermination()
        return {r["doc_id"]: r["text"]
                for r in spark.read.parquet(acc).collect()}

    scrubbed = run("scrub")
    # quoting doc kept minus the quote; quote-only doc fully scrubbed out
    assert set(scrubbed) == {1, 2, 4}
    assert scrubbed[1] == filler and "paris" not in scrubbed[1]
    # streamed text == the one-shot span scrub of the same doc
    one_shot = span_decon_scrub(
        spark.createDataFrame([(1, f"{filler} {quote}")], "doc_id long, text string"),
        bench,
    ).collect()[0]["cleaned_text"]
    assert scrubbed[1] == one_shot

    dropped = run("drop")
    assert set(dropped) == {2, 4}  # the quoting doc discarded wholesale
