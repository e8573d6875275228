"""Structured Streaming surface (SURVEY §2.9).

Maps the reference's streaming semantics onto Structured Streaming:

- T2 bounded read of an unbounded stream (5s-timeout-as-EOF,
  ``pulsar_backup_restore.py:117,135-137``) → ``Trigger.AvailableNow``;
- T5 rate-limited generation (``pulsar_remote_inspector.py:291-319``) →
  ``rate-micro-batch`` source + the expression generator;
- T1/T7 event-time + late/duplicate handling (absent in the reference,
  engine addition) → ``withWatermark`` + ``dropDuplicatesWithinWatermark``;
- T8 windows → tumbling/sliding ``window()`` and ``session_window()``.

All pipelines are file/memory-backed here (no broker needed); the Pulsar
read/write option mapping lives in ``sources/pulsar_connector.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def read_parquet_or_empty(spark: SparkSession, path: str, empty_schema: str) -> DataFrame:
    """Read a parquet store that may not exist yet (first micro-batch);
    ``empty_schema`` shapes the empty frame when the path is absent.

    Only a missing path (PATH_NOT_FOUND) or a pre-created-but-empty
    directory (UNABLE_TO_INFER_SCHEMA: no parquet footers to read) means
    "no store yet" — any OTHER read failure (corrupt file, permission,
    transient FS error) must re-raise, or an incremental-dedup sink would
    silently admit the batch without probing prior state, breaking its
    no-duplicate contract."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "UNABLE_TO_INFER_SCHEMA" in str(e):
            return spark.createDataFrame([], empty_schema)
        raise


def _require_distinct_dirs(out_dir: str, src_dir: str) -> None:
    """Every compactor/rewriter's guard: parquet reads are lazy, so writing
    a store's fold over the store itself would clobber the very files the
    plan still scans."""
    if out_dir.rstrip("/") == src_dir.rstrip("/"):
        raise ValueError(
            "output dir must differ from the source dir: an in-place "
            "overwrite would read and clobber the same parquet files"
        )


def _read_parquet_or_none(spark: SparkSession, path: str) -> "DataFrame | None":
    """``read_parquet_or_empty`` for stores whose schema the caller cannot
    declare up front (CDC payloads, sample rows): None when the store does
    not exist yet, the frame otherwise, any OTHER failure re-raised."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "UNABLE_TO_INFER_SCHEMA" in str(e):
            return None
        raise


def events_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-based stream of the events fixture (one file per micro-batch) —
    the broker-free stand-in for a Pulsar topic subscription."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def generated_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Rate-paced synthetic emailSend stream (T5): the rate source replaces
    the reference's sleep-based token pacing; generation is the same
    deterministic expression pipeline as the batch generator."""
    from pulsar_replay_spark.generator import USER_DOMAINS, USER_PREFIXES, USER_SUFFIXES, _pick

    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    id_ = F.col("value")
    return rate.select(
        id_.alias("id"),
        F.col("timestamp").alias("ts"),
        F.md5(F.concat(F.lit("event-"), id_.cast("string"))).alias("event_id_hex"),
        F.concat(
            _pick(id_, USER_PREFIXES), F.lit("."), _pick(id_, USER_SUFFIXES),
            F.lit("@"), _pick(id_, USER_DOMAINS),
        ).alias("user_key"),
        (F.lit(1000) + (id_ * 37) % 50).cast("int").alias("campaign_id"),
    )


def windowed_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h event-time window per event_type with late-data watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def deduped_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """T6/T7: at-least-once delivery → exactly-once effect by idempotent-key
    dedup within the watermark (the engine's answer to the reference's
    no-dedup replay)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def session_windows(stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """T8: per-user session windows with an inactivity gap."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            F.unix_millis(F.col("w.end")).alias("session_end_ms"),
            "n_events",
            "sum_value",
        )
    )


def running_counts_stateful(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (the brief's
    named mechanism for operators Structured Streaming lacks): a per-user
    running event count + running value sum maintained in explicit state
    across micro-batches. Equivalent batch semantics: groupBy(user_id).agg —
    which is exactly how tests pin it."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 2)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def foreach_batch_to_parquet(
    stream: DataFrame, out_dir: str, checkpoint_dir: str, output_mode: str = "append"
):
    """foreachBatch sink: arbitrary batch logic per micro-batch (the escape
    hatch for sinks without native streaming support — e.g. upserts).

    ``output_mode`` must match the upstream plan: update-mode operators
    (``running_counts_stateful``) require ``output_mode="update"``.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_static_enrich(stream: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream-static join: enrich each streaming row with a dimension table.

    The static side is broadcast per micro-batch (no stream-side state, no
    watermark needed) — the standard pattern for topic→catalog or
    user→customer enrichment at any scale, as long as the dim side stays
    broadcastable; bigger dims become a stream-stream join or a state store.
    """
    return stream.join(F.broadcast(dim), key, "left")


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_wm: str = "1 hour",
    right_wm: str = "2 hours",
    interval: str = "INTERVAL 1 HOUR",
) -> DataFrame:
    """Stream-stream inner join on ``key`` within a time interval: right rows
    join left rows at most ``interval`` older. Both watermarks bound the join
    state Spark must hold — without them state grows forever; with them
    expired rows are evicted at the watermark.

    Column contract: left exposes ``l_ts`` and the bare ``key``; right
    exposes ``r_ts`` AND the key prefixed as ``r_<key>`` (e.g. ``r_user_id``
    for key='user_id') — the prefix is what keeps the self-join reference
    unambiguous.
    """
    return left.withWatermark("l_ts", left_wm).join(
        right.withWatermark("r_ts", right_wm),
        F.expr(
            f"{key} = r_{key} AND r_ts BETWEEN l_ts - {interval} AND l_ts"
        ),
    )


def run_available_now(stream_df: DataFrame, sink_table: str, checkpoint_dir: str) -> None:
    """T2: drain everything currently available, then stop — the declarative
    form of the reference's receive-timeout EOF. Blocks until completion."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now_complete(stream_df: DataFrame, sink_table: str, checkpoint_dir: str) -> None:
    """AvailableNow with complete output mode (for streaming aggregations)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def foreach_batch_idempotent(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    processing_time: str | None = None,
):
    """Exactly-once foreachBatch: after a crash between sink-write and
    checkpoint-commit, Structured Streaming re-runs the SAME batch_id; the
    plain append sink would then duplicate it. Writing each batch into its
    own ``batch_id=`` partition with dynamic partition overwrite makes the
    retry overwrite itself — at-least-once delivery + idempotent write =
    exactly-once effect (the engine's answer to the reference's
    at-least-once replay, SURVEY §2.9 T6)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    if processing_time is not None:
        # continuous mode for restart/chaos tests: batches keep coming until
        # an explicit stop(), instead of draining-and-terminating
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def documents_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-based stream of the documents fixture (one file per micro-batch)
    — the ingest feed of the incremental-dedup pipeline."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def incremental_dedup_sink(
    doc_stream: DataFrame, index_dir: str, pairs_dir: str, checkpoint_dir: str
):
    """Streaming incremental near-dedup: every micro-batch of documents
    probes the persisted LSH bucket index
    (``dedup.incremental_minhash_pairs``), emits the candidate pairs that
    touch the batch, and appends its OWN bucket rows as a new batch_id
    partition of the index store.

    Exactly-once: both writes are batch_id-partitioned dynamic overwrites
    (the ``foreach_batch_idempotent`` discipline), so a crash-retry of the
    same batch overwrites itself — and because the batch's own partition is
    written AFTER the probe reads the index, a retried batch never probes
    its own half-written buckets as if they were prior corpus. At 100 TB
    the index store is the compact (doc_id, band, band_key) relation, not
    the corpus; storing it partitioned/bucketed by band_key prefix turns
    each probe into a partition-pruned equi-join."""
    from pulsar_replay_spark.operators.dedup import incremental_minhash_pairs

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idx = (
            read_parquet_or_empty(
                spark, index_dir, "doc_id long, band int, band_key string, batch_id long"
            )
            .where(F.col("batch_id") != batch_id)  # retry safety: never self-probe
            .select("doc_id", "band", "band_key")
        )
        pairs, new_buckets = incremental_minhash_pairs(batch_df, idx)
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(pairs_dir)
        )
        (
            new_buckets.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(index_dir)
        )

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def incremental_labels_sink(
    doc_stream: DataFrame,
    index_dir: str,
    labels_dir: str,
    checkpoint_dir: str,
):
    """Streaming incremental CLUSTER maintenance — closes the r6 gap where
    pairs arrived incrementally but ``near_dup_clusters`` re-ran
    full-corpus CC per ingest: each micro-batch probes the persisted band
    index (``incremental_minhash_pairs``), folds the resulting pairs into
    the maintained label table via ``dedup.cluster_label_deltas`` (CC over
    the affected-cluster representative graph ONLY), and appends just the
    changed/new label rows as one idempotent batch_id partition of the
    label store. ``read_cluster_labels`` serves the current labels
    (latest batch wins per doc) — equal to a from-scratch
    ``connected_components`` over all pairs so far, pinned in tests.

    Exactly-once: index, labels read and both writes all exclude the
    current batch_id, so a crash-retry recomputes the identical deltas and
    overwrites its own partitions."""
    from pulsar_replay_spark.operators.dedup import (
        cluster_label_deltas,
        incremental_minhash_pairs,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idx = (
            read_parquet_or_empty(
                spark, index_dir, "doc_id long, band int, band_key string, batch_id long"
            )
            .where(F.col("batch_id") != batch_id)  # retry safety
            .select("doc_id", "band", "band_key")
        )
        labels = read_cluster_labels(spark, labels_dir, exclude_batch_id=batch_id)
        pairs, new_buckets = incremental_minhash_pairs(batch_df, idx)
        deltas = cluster_label_deltas(labels, pairs)
        (
            deltas.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(labels_dir)
        )
        (
            new_buckets.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(index_dir)
        )

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cluster_labels(
    spark: SparkSession, labels_dir: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """(doc_id, cluster_id): current labels from the delta store — the
    highest batch_id wins per doc (a doc relabels when later ingests merge
    its cluster). ``exclude_batch_id`` is the sink's own retry guard."""
    from pyspark.sql.window import Window

    store = read_parquet_or_empty(
        spark, labels_dir, "doc_id long, cluster_id long, batch_id long"
    )
    if exclude_batch_id is not None:
        store = store.where(F.col("batch_id") != exclude_batch_id)
    w = Window.partitionBy("doc_id").orderBy(F.desc("batch_id"))
    return (
        store.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "cluster_id")
    )


def labels_compact(spark: SparkSession, labels_dir: str, compact_dir: str) -> None:
    """Fold the label delta store to its per-doc winners (keeping their
    original batch_id so reads over the compacted store serve the identical
    snapshot) — bounds the store at the labeled-doc count however long the
    ingest feed runs. Same in-place guard as ``dedup_index_compact``."""
    if compact_dir.rstrip("/") == labels_dir.rstrip("/"):
        raise ValueError(
            "compact_dir must differ from labels_dir: an in-place overwrite "
            "would read and clobber the same parquet files"
        )
    from pyspark.sql.window import Window

    store = read_parquet_or_empty(
        spark, labels_dir, "doc_id long, cluster_id long, batch_id long"
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("batch_id"))
    (
        store.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(compact_dir)
    )


def incremental_simhash_sink(
    doc_stream: DataFrame,
    store_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
):
    """Streaming incremental hamming-band dedup — the ``incremental_dedup_sink``
    shape for the SimHash family: every micro-batch signatures its own
    documents, block-probes the persisted (doc_id, simhash) store
    (``dedup.incremental_simhash_pairs``), emits hamming≤k pairs touching
    the batch, and appends its signatures as an idempotent batch_id
    partition. Same exactly-once discipline: dynamic partition overwrites,
    the store filter excludes the current batch_id so a crash-retry never
    probes its own half-written rows, and the store write lands AFTER the
    probe. The store is one long per document — the most compact dedup
    state in the engine; compact/expire it with
    ``dedup.compact_simhash_store`` on the slow path."""
    from pulsar_replay_spark.operators.dedup import incremental_simhash_pairs

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        store = (
            read_parquet_or_empty(
                spark, store_dir, "doc_id long, simhash long, batch_id long"
            )
            .where(F.col("batch_id") != batch_id)  # retry safety
            .select("doc_id", "simhash")
        )
        pairs, new_sigs = incremental_simhash_pairs(
            batch_df, store, max_hamming=max_hamming
        )
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(pairs_dir)
        )
        (
            new_sigs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store_dir)
        )

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def embeddings_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-based stream of query vectors (one file per micro-batch) — the
    request feed of the ANN serving pipeline."""
    return (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def ann_serving_sink(
    query_stream: DataFrame,
    corpus: DataFrame,
    results_dir: str,
    checkpoint_dir: str,
    k: int = 5,
):
    """Streaming ANN serving against a build-once IVF index: the corpus-side
    index (Lloyd-refined centroids + cell assignment, corpus-scaled
    ``ivf_params``) is built ONCE before the stream starts and localCheckpoint
    pins it; each micro-batch of query vectors then only assigns ITSELF to
    its n_probe cells and ranks in-cell candidates (``ivf_topk`` with the
    prebuilt ``centroids``/``corpus_cells``) — per-batch work is O(|batch| ·
    cell population), never a corpus rescan. This is the production retrieval
    shape: index refresh is a separate slow path; serving reads it immutably.

    Exactly-once: results are batch_id-partitioned dynamic overwrites (the
    ``foreach_batch_idempotent`` discipline) — a crash-retried batch
    overwrites its own partition. At 100 TB the index lives as a parquet
    artifact instead of a checkpoint, same plan."""
    from pulsar_replay_spark.operators.similarity import (
        ivf_assign,
        ivf_params,
        ivf_topk,
        kmeans_refine,
    )

    n = corpus.count()
    n_cells, n_probe = ivf_params(n)
    cents = kmeans_refine(corpus, n_cells, n_iter=1)
    cells = ivf_assign(corpus, cents, n_probe=1).localCheckpoint(eager=True)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = ivf_topk(
            corpus,
            batch_df,
            k=k,
            n_cells=n_cells,
            n_probe=n_probe,
            centroids=cents,
            corpus_cells=cells,
        )
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(results_dir)
        )

    return (
        query_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dsir_scoring_sink(
    doc_stream: DataFrame,
    ratio: DataFrame,
    default: float,
    threshold: float,
    results_dir: str,
    checkpoint_dir: str,
    salt: str = "dsir-v1",
    tie_doc_id: int | None = None,
):
    """Streaming DSIR selection against an offline-trained model: the
    bucket log-ratio table (``curation.dsir_bucket_log_ratio`` — the ≤16^hex
    pinned model artifact) is built ONCE before the stream starts; each
    micro-batch of documents scores only ITSELF (one feature pass +
    broadcast ratio join) and keeps docs whose Gumbel resampling key clears
    ``threshold``.

    Selection key = the SAME ``curation.dsir_gumbel_key`` expression as the
    offline ``dsir_select`` — a pure function of (salt, doc_id, logw) — so
    streaming with τ = the offline top-k's minimum key admits EXACTLY the
    offline winners regardless of how ingest shards the docs (pinned in
    tests). Keys round to 6 decimals, so the BOUNDARY can tie: calibrate
    ``tie_doc_id = max(doc_id of offline winners whose key == τ)`` and the
    admission replicates the offline (key desc, doc_id asc) cut exactly;
    without it the filter is the inclusive ``key >= τ``, which admits
    every boundary tie (a superset on ties). This is how resampling
    deploys at ingest: global top-k is calibrated offline into a
    threshold, the stream applies it statelessly.

    Exactly-once: batch_id-partitioned dynamic overwrites (the
    ``foreach_batch_idempotent`` discipline)."""
    from pulsar_replay_spark.operators.curation import dsir_gumbel_key, dsir_score

    admit = _dsir_admission(threshold, tie_doc_id)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = (
            dsir_score(batch_df, ratio, default)
            .withColumn("key", dsir_gumbel_key(salt))
            .filter(admit)
        )
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(results_dir)
        )

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _dsir_admission(threshold: float, tie_doc_id: "int | None"):
    """The streaming replica of ``dsir_select``'s (key desc, doc_id asc)
    cut: strictly-above always admits; AT the boundary, only doc_ids up to
    the calibrated tie winner. Without ``tie_doc_id`` the legacy inclusive
    ``>=`` applies (admits every boundary tie)."""
    if tie_doc_id is None:
        return F.col("key") >= threshold
    return (F.col("key") > threshold) | (
        (F.col("key") == threshold) & (F.col("doc_id") <= tie_doc_id)
    )


def ivf_ingest_sink(
    emb_stream: DataFrame, centroids: DataFrame, index_dir: str, checkpoint_dir: str
):
    """Incremental IVF index maintenance — the daily-embedding-ingest shape
    (symmetric to ``incremental_dedup_sink``): each micro-batch of new
    vectors assigns to the FIXED coarse quantizer and appends its cell rows
    as one idempotent batch_id partition of the cells store; the corpus is
    never re-assigned. Centroid refresh (``kmeans_refine``) is the separate
    slow path — after a refresh the cells store is rebuilt once, exactly
    like any index rebuild.

    Assignment is a pure function of (vector, centroids), so the
    incrementally-grown store equals a full one-shot ``ivf_assign`` over
    the union of all batches (pinned in tests, including serving equality
    through ``ivf_topk``). Exactly-once: batch_id-partitioned dynamic
    overwrites — a crash-retried batch overwrites itself."""
    from pulsar_replay_spark.operators.similarity import ivf_assign

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        cells = ivf_assign(batch_df, centroids, n_probe=1)
        (
            cells.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(index_dir)
        )

    return (
        emb_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def continuous_rollup_sink(
    event_stream: DataFrame,
    rollup_dir: str,
    checkpoint_dir: str,
    bucket: str = "1 hour",
):
    """Continuous time-bucketed aggregate — the hypertable/continuous-
    aggregate shape (TimescaleDB's "continuous aggregates", materialized
    incrementally, served merge-on-read):

    Each micro-batch reduces to a PARTIAL aggregate over its own rows —
    (bucket_start, event_type) → (cnt, sum_value) — and appends it as one
    idempotent batch_id partition. The store therefore grows with
    #batches × bucket-keyspace, never with raw events, and no batch ever
    reads or rewrites previous state: commutative+associative partials make
    the sink O(batch) regardless of table history — the only rollup shape
    that holds at 100 TB of events. Serving is ``rollup_read`` (final-merge
    of the partials); ``rollup_compact`` folds history into a single
    partial partition when the batch count grows (identical semantics,
    pinned in tests).

    Exactly-once: batch_id-partitioned dynamic overwrite (the
    ``foreach_batch_idempotent`` discipline) — a crash-retried batch
    overwrites its own partials, never double-counts.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.groupBy(
                F.window("ts", bucket).start.alias("bucket_start"), "event_type"
            )
            .agg(
                F.count("*").alias("cnt"),
                F.sum("value").alias("sum_value"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
                # distinct users via a MERGEABLE sketch partial: HLL register
                # maxima are order-independent, so per-batch sketches union
                # at read time to the exact sketch one pass would build —
                # the only distinct-count shape that survives merge-on-read
                F.hll_sketch_agg("user_id").alias("users_hll"),
            )
        )
        (
            partial.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(rollup_dir)
        )

    return (
        event_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def rollup_read(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Serve the continuous aggregate: final-merge the stored partials.

    count/sum/min/max all merge associatively, and avg derives as
    sum/cnt at read time (never store avg partials — they don't merge).
    The scan is bucket-keyspace-sized, not event-sized.
    """
    return (
        spark.read.parquet(rollup_dir)
        .groupBy("bucket_start", "event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.hll_sketch_estimate(F.hll_union_agg("users_hll")).alias(
                "approx_users"
            ),
        )
        .withColumn("avg_value", F.col("sum_value") / F.col("cnt"))
    )


def rollup_compact(spark: SparkSession, rollup_dir: str, compact_dir: str) -> None:
    """Fold all partial partitions into one (batch_id=-1) partial store.

    Run on the slow path when #batches grows; ``rollup_read`` over the
    compacted store returns identical results (merge is associative)."""
    _require_distinct_dirs(compact_dir, rollup_dir)
    merged = (
        spark.read.parquet(rollup_dir)
        .groupBy("bucket_start", "event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            # fold sketches with union — stays a PARTIAL (re-servable)
            F.hll_union_agg("users_hll").alias("users_hll"),
        )
        .withColumn("batch_id", F.lit(-1))
    )
    merged.write.mode("overwrite").partitionBy("batch_id").parquet(compact_dir)


def dedup_index_compact(
    spark: SparkSession,
    index_dir: str,
    compact_dir: str,
    retain_docs: DataFrame | None = None,
) -> None:
    """Fold the batch_id-partitioned LSH band-bucket index grown by
    ``incremental_dedup_sink`` into one batch_id=-1 partition — the
    ``rollup_compact``/``cdc_compact`` lifecycle discipline applied to the
    dedup family, closing the store's unbounded-growth gap.

    Semantics: DISTINCT (doc_id, band, band_key) — a re-ingested document's
    identical bucket rows collapse (signatures are deterministic, so rows
    can only be exact duplicates) — then an optional EXPIRY semi-join
    against ``retain_docs`` (doc_id): documents deleted or aged out of the
    corpus stop colliding with future batches. Probing a new batch against
    the compacted store returns exactly the pairs of the uncompacted store
    restricted to retained docs (equality pinned in tests).

    Run on the slow path when the partition count grows: one partition
    instead of one per micro-batch bounds file count, distinct+expiry bound
    store size. At 100 TB the job is one shuffle of the compact index
    relation, never the corpus. ``compact_dir`` must differ from
    ``index_dir``: parquet reads are lazy, so an in-place overwrite would
    clobber the very files the fold is still reading (swap directories —
    or atomically rename — after the compact lands). The same applies to
    writers of ``dedup.compact_simhash_store``'s result."""
    if compact_dir.rstrip("/") == index_dir.rstrip("/"):
        raise ValueError(
            "compact_dir must differ from index_dir: an in-place overwrite "
            "would read and clobber the same parquet files"
        )
    idx = (
        spark.read.parquet(index_dir)
        .select("doc_id", "band", "band_key")
        .distinct()
    )
    if retain_docs is not None:
        idx = idx.join(retain_docs.select("doc_id").distinct(), "doc_id", "semi")
    (
        idx.withColumn("batch_id", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(compact_dir)
    )


# ---------------------------------------------------------------------------
# Streaming CDC apply (merge-on-read): the change-feed twin of the rollup
# sink. Micro-batches of upsert/delete changes land as idempotent batch_id
# partitions — the base snapshot is NEVER rewritten per batch (no table
# format to rewrite it into, and at 100 TB rewriting the snapshot per
# micro-batch is the anti-pattern anyway). Serving merges base + stored
# changes through the batch MERGE operator (curation.merge_upsert), so
# stream and batch share one semantics definition; compaction folds the
# change store to its per-key winners without changing the served result.
# ---------------------------------------------------------------------------


def cdc_apply_sink(
    change_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    key: str = "doc_id",
    op_col: str = "op",
    seq_col: str = "seq",
    processing_time: str | None = None,
):
    """Append each micro-batch's per-key LATEST changes as one idempotent
    batch_id partition. In-batch conflicts resolve exactly like the batch
    operator (seq desc, upsert-over-delete); cross-batch conflicts resolve
    at read time via (seq, batch_id) — the global CDC sequence is
    authoritative, stream arrival order only breaks its ties."""
    from pyspark.sql.window import Window

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        payload = [c for c in batch_df.columns if c not in (key, op_col, seq_col)]
        # payload-hash tie-break: equal (seq, op) must resolve identically
        # across retries/repartitions (same discipline as merge_upsert)
        tie = [F.desc(F.xxhash64(*payload))] if payload else []
        w = Window.partitionBy(key).orderBy(F.desc(seq_col), F.desc(op_col), *tie)
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        (
            latest.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store_dir)
        )

    writer = change_stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_time is not None:
        # continuous mode for restart/chaos tests (the
        # foreach_batch_idempotent convention)
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def cdc_read(
    spark: SparkSession,
    base: DataFrame,
    store_dir: str,
    key: str = "doc_id",
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Serve the maintained snapshot: base MERGE stored changes, winners
    chosen by (seq, batch_id) struct order — one window over the change
    store (which holds ≤ one change per key per batch), one anti-join
    probe, one union; the base never re-sorts."""
    from pulsar_replay_spark.operators.curation import merge_upsert

    store = _read_parquet_or_none(spark, store_dir)
    if store is None:
        return base  # no changes committed yet: the snapshot IS the base
    changes = store.withColumn(
        "_seq", F.struct(F.col(seq_col), F.col("batch_id"))
    ).drop("batch_id", seq_col)
    return merge_upsert(base, changes, key=key, op_col=op_col, seq_col="_seq")


def cdc_compact(
    spark: SparkSession,
    store_dir: str,
    compact_dir: str,
    key: str = "doc_id",
    op_col: str = "op",
    seq_col: str = "seq",
) -> None:
    """Fold the change store to its per-key winners (the row cdc_read would
    pick), preserving their original (batch_id, seq) so a read over the
    compacted store serves the identical snapshot — the store stays bounded
    by the LIVE key count however long the feed runs."""
    from pyspark.sql.window import Window

    _require_distinct_dirs(compact_dir, store_dir)
    store = spark.read.parquet(store_dir)
    payload = [c for c in store.columns if c not in (key, op_col, seq_col, "batch_id")]
    # (seq, batch_id) is unique per key when the store came from
    # cdc_apply_sink; the payload-hash tie-break covers hand-built stores
    tie = [F.desc(F.xxhash64(*payload))] if payload else []
    w = Window.partitionBy(key).orderBy(
        F.desc(F.struct(F.col(seq_col), F.col("batch_id"))), F.desc(op_col), *tie
    )
    winners = (
        store.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    (
        winners.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(compact_dir)
    )


def rollup_topk(
    spark: SparkSession, rollup_dir: str, k: int = 3
) -> DataFrame:
    """Trending report over the continuous aggregate: the top-k event types
    per time bucket by merged count (plus each one's share of the bucket)
    — the serving face of a "what's trending now" dashboard, computed
    entirely from the bucket-keyspace-sized partial store; raw events are
    never touched."""
    from pyspark.sql.window import Window

    merged = rollup_read(spark, rollup_dir)
    w = Window.partitionBy("bucket_start").orderBy(F.desc("cnt"), "event_type")
    tot = Window.partitionBy("bucket_start")
    return (
        merged.withColumn("rk", F.row_number().over(w))
        .withColumn("share", F.round(F.col("cnt") / F.sum("cnt").over(tot), 6))
        .filter(F.col("rk") <= k)
        .select("bucket_start", "event_type", "cnt", "share", "rk")
    )


# ---------------------------------------------------------------------------
# Streaming uniform sample (bottom-k by md5 priority): maintain a fixed-size
# uniform-without-replacement sample of an unbounded stream. The priority
# md5(salt || id) is a deterministic uniform deal, so "the k smallest
# priorities seen so far" IS a uniform k-sample of everything seen — and
# bottom-k is exactly mergeable: each batch contributes its own bottom-k,
# and bottom-k of the stored candidates equals bottom-k of the full stream.
# No randomness state, no reservoir mutation, retry-safe by construction.
# ---------------------------------------------------------------------------


def sample_sink(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    k: int = 100,
    key: str = "doc_id",
    salt: str = "sample-v1",
):
    """Each micro-batch appends its own bottom-k (by md5 priority) as one
    idempotent batch_id partition — O(k) rows stored per batch whatever the
    batch size; a crash-retried batch overwrites itself."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        pick = (
            batch_df.withColumn(
                "_pri", F.md5(F.concat(F.lit(salt), F.col(key).cast("string")))
            )
            .orderBy("_pri", key)
            .limit(k)
        )
        (
            pick.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store_dir)
        )

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def sample_read(
    spark: SparkSession, store_dir: str, k: int = 100, key: str = "doc_id"
) -> DataFrame:
    """Serve the maintained sample: bottom-k of the stored per-batch
    candidates (≤ k·batches rows — the only data this read touches) ==
    bottom-k of every row the stream ever carried. Drops the bookkeeping
    columns; the result is a plain uniform k-sample frame."""
    store = _read_parquet_or_none(spark, store_dir)
    if store is None:
        raise ValueError(
            f"sample store {store_dir} does not exist yet — run sample_sink "
            "over at least one micro-batch first"
        )
    # an at-least-once source can redeliver a doc in a LATER batch: its
    # priority is deterministic per key, so both copies land in the stored
    # candidates — dedupe before the bottom-k or the served "k-sample
    # without replacement" carries duplicates
    return (
        store.dropDuplicates([key])
        .orderBy("_pri", key)
        .limit(k)
        .drop("_pri", "batch_id")
    )


# ---------------------------------------------------------------------------
# Composed curation ingest: the production shape of "a feed of documents
# arrives; admit only novel, non-near-duplicate, above-threshold docs" —
# chaining the exact-dup hash probe, the incremental MinHash index probe,
# and a pluggable quality scorer into ONE exactly-once foreachBatch sink.
# Every stage reuses an existing oracle/pytest-gated operator; this sink
# contributes the orchestration + idempotent storage layout only.
# ---------------------------------------------------------------------------


def curation_ingest_sink(
    doc_stream: DataFrame,
    accepted_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    score_fn,
    threshold: float,
    benchmark: DataFrame | None = None,
    decontaminate_policy: str = "drop",
    min_overlap: int = 8,
):
    """Per micro-batch:

    1. exact dedup — md5(normalize_text) probe against the ACCEPTED store's
       hash column (anti-join on 16-byte keys; at 100 TB put the Bloom
       prefilter of ``operators/bloom`` in front so the store isn't scanned
       per batch) + keep-min-doc_id within the batch;
    2. near dedup — probe the persisted LSH band index
       (``incremental_minhash_pairs``): a batch doc pairing with ANY prior
       accepted doc is dropped, within-batch pairs keep the smaller doc_id;
    2b. (r9, when ``benchmark`` is given) continuous decontamination
       against the FIXED eval suite: policy "drop" discards contaminated
       docs (``benchmark_overlap`` ≥ ``min_overlap``); policy "scrub"
       removes only the contaminated token spans (``span_decon_scrub``) —
       both are per-doc decisions against a static benchmark, so the
       streamed result ≡ the one-shot funnel's stage on the same docs
       (pinned in tests);
    3. quality — ``score_fn(docs) -> (doc_id, score)`` (e.g. a pinned
       ``dsir_score`` or ``lr_score`` artifact); admit ``score >= threshold``
       — scored on the post-scrub text, the funnel's stage order.

    Writes two idempotent batch_id partitions: accepted docs (+ text hash)
    and the accepted docs' OWN index buckets — rejected docs are never
    indexed, so the store represents exactly the admitted corpus. Crash
    retries overwrite themselves and never self-probe (batch_id excluded
    from both reads).

    NOTE on the stored ``_h`` under policy "scrub": ``_h`` is the RAW-TEXT
    ADMISSION hash — md5(normalize_text(text-as-ingested)), computed BEFORE
    span scrubbing — while the persisted ``text`` column is the scrubbed
    text. That is intentional (a future raw copy of the same doc must still
    dedup against the admitted one), but it means a reader recomputing
    md5(normalize_text(text)) over ``accepted_dir`` will NOT reproduce
    ``_h`` for scrubbed rows; treat ``_h`` as an opaque dedup key, not a
    content checksum of the stored text.
    """
    from pulsar_replay_spark.functions.text import normalize_text
    from pulsar_replay_spark.operators.dedup import incremental_minhash_pairs

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.withColumn(
            "_h", F.md5(normalize_text(F.col("text")))
        ).localCheckpoint(eager=True)

        seen = (
            read_parquet_or_empty(spark, accepted_dir, "_h string, batch_id long")
            .where(F.col("batch_id") != batch_id)
            .select("_h")
            .distinct()
        )
        from pyspark.sql.window import Window

        wh = Window.partitionBy("_h").orderBy("doc_id")
        fresh = (
            batch.join(seen, "_h", "left_anti")
            .withColumn("_rn", F.row_number().over(wh))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint(eager=True)
        )

        idx = (
            read_parquet_or_empty(
                spark, index_dir, "doc_id long, band int, band_key string, batch_id long"
            )
            .where(F.col("batch_id") != batch_id)
            .select("doc_id", "band", "band_key")
        )
        pairs, buckets = incremental_minhash_pairs(
            fresh.select("doc_id", "text"), idx
        )
        ids = fresh.select("doc_id")
        flagged = (
            pairs.join(
                ids.select(F.col("doc_id").alias("doc_a"), F.lit(True).alias("a_in")),
                "doc_a",
                "left",
            )
            .join(
                ids.select(F.col("doc_id").alias("doc_b"), F.lit(True).alias("b_in")),
                "doc_b",
                "left",
            )
        )
        dropped = flagged.select(
            F.when(F.col("a_in") & F.col("b_in"), F.col("doc_b"))
            .when(F.col("b_in") & F.col("a_in").isNull(), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_id")
        ).distinct()
        survivors = fresh.join(dropped, "doc_id", "left_anti")

        if benchmark is not None and decontaminate_policy == "scrub":
            from pulsar_replay_spark.operators.dedup import span_decon_scrub

            scrubbed = span_decon_scrub(
                survivors.select("doc_id", "text"), benchmark
            )
            survivors = (
                survivors.drop("text")
                .join(
                    scrubbed.select(
                        "doc_id", F.col("cleaned_text").alias("text")
                    ),
                    "doc_id",
                )
                .filter(F.length("text") > 0)
            )
            if "n_chars" in survivors.columns:
                survivors = survivors.withColumn(
                    "n_chars", F.length("text").cast("long")
                )
        elif benchmark is not None:
            from pulsar_replay_spark.operators.dedup import benchmark_overlap

            overlap = benchmark_overlap(
                survivors.select("doc_id", "text"), benchmark, min_overlap
            )
            survivors = survivors.join(
                overlap.filter(~F.col("contaminated")).select("doc_id"),
                "doc_id",
                "left_semi",
            )

        scores = score_fn(survivors)
        accepted = survivors.join(
            scores.filter(F.col("score") >= threshold).select("doc_id"),
            "doc_id",
            "left_semi",
        ).localCheckpoint(eager=True)

        (
            accepted.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(accepted_dir)
        )
        acc_buckets = buckets.join(
            accepted.select("doc_id"), "doc_id", "left_semi"
        )
        (
            acc_buckets.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(index_dir)
        )

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def curation_state_expire(
    spark: SparkSession,
    accepted_dir: str,
    index_dir: str,
    out_accepted: str,
    out_index: str,
    drop_docs: DataFrame,
) -> None:
    """Deletion for the text-curation state (``curation_ingest_sink``):
    remove ``drop_docs`` from the accepted store AND its band index, so a
    future ingest of near-identical text is no longer suppressed by the
    deleted doc (the index row is the suppressor — forgetting the text but
    keeping its bands would keep rejecting its near-dups forever). Pure
    anti-join filters: the text sink maintains no cluster labels.

    Surviving rows fold (per-doc winners / distinct index rows) and rebase
    to the reserved ``batch_id = -1`` — the expired output is a compacted
    BASE state, so a sink resumed against it with a FRESH checkpoint
    (micro-batch 0: retry guard excludes batch_id 0, dynamic overwrite
    replaces it) can neither hide nor wipe pre-expiry rows."""
    from pyspark.sql.window import Window

    for a, b in ((out_accepted, accepted_dir), (out_index, index_dir)):
        if a.rstrip("/") == b.rstrip("/"):
            raise ValueError(
                "output dirs must differ from store dirs: an in-place "
                "overwrite would read and clobber the same parquet files"
            )
    drop = drop_docs.select("doc_id").distinct().localCheckpoint(eager=True)
    w = Window.partitionBy("doc_id").orderBy(F.desc("batch_id"))
    accepted = (
        spark.read.parquet(accepted_dir)
        .join(drop, "doc_id", "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("batch_id", F.lit(-1))
    )
    (
        accepted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_accepted)
    )
    index = (
        spark.read.parquet(index_dir)
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "band", "band_key")
        .distinct()  # the dedup_index_compact fold
        .withColumn("batch_id", F.lit(-1))
    )
    (
        index.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_index)
    )


def rollup_ewma(
    spark: SparkSession, rollup_dir: str, alpha: float = 0.3
) -> DataFrame:
    """Smoothed serve over the continuous aggregate: EWMA of each type's
    merged per-bucket sum (``stats.ewma`` codegen fold over the
    bucket-keyspace-sized rollup — raw events never touched). The
    dashboard's smoothed line next to ``rollup_topk``'s trending table."""
    from pulsar_replay_spark.operators.stats import ewma

    merged = rollup_read(spark, rollup_dir).select(
        "event_type", "bucket_start", F.round("sum_value", 4).alias("v")
    )
    return ewma(merged, "event_type", "bucket_start", "v", alpha=alpha)


def rollup_read_coarse(
    spark: SparkSession, rollup_dir: str, unit: str = "day"
) -> DataFrame:
    """Hierarchical serve: fold the stored HOUR partials up to a coarser
    bucket (day/week/...) at read time — counts/sums/min/max merge
    associatively and the HLL sketches union, so every level of the
    hierarchy serves from the same single store (the hypertable multi-level
    continuous-aggregate shape without materializing each level)."""
    return (
        spark.read.parquet(rollup_dir)
        .groupBy(
            F.date_trunc(unit, F.col("bucket_start")).alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.hll_sketch_estimate(F.hll_union_agg("users_hll")).alias("approx_users"),
        )
        .withColumn("avg_value", F.col("sum_value") / F.col("cnt"))
    )


def semantic_dedup_sink(
    emb_stream: DataFrame,
    centroids: DataFrame,
    corpus_dir: str,
    verdicts_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.6,
):
    """Streaming incremental SemDeDup: every micro-batch of embeddings
    re-scans only its AFFECTED CELLS against the frozen build-once
    centroids (``similarity.incremental_semantic_dedup`` — exact by cell
    independence), appends the verdict DELTAS (new rows + keep→drop flips)
    as one idempotent batch_id partition of the verdict store, and appends
    its own vectors to the corpus store. ``read_semantic_verdicts`` serves
    the current table (latest batch wins per vec_id). Same exactly-once
    discipline as ``incremental_labels_sink``: every read and both writes
    exclude the current batch_id, so a crash-retry recomputes identical
    deltas over identical state."""
    from pulsar_replay_spark.operators.similarity import incremental_semantic_dedup

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        corpus = (
            read_parquet_or_empty(
                spark, corpus_dir, "vec_id long, embedding array<float>, batch_id long"
            )
            .where(F.col("batch_id") != batch_id)  # retry safety
            .select("vec_id", "embedding")
        )
        verdicts = read_semantic_verdicts(
            spark, verdicts_dir, exclude_batch_id=batch_id
        )
        deltas = incremental_semantic_dedup(
            batch_df, corpus, verdicts, centroids, threshold=threshold
        )
        (
            deltas.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(verdicts_dir)
        )
        (
            batch_df.select("vec_id", "embedding")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(corpus_dir)
        )

    return (
        emb_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def semantic_state_expire(
    spark: SparkSession,
    corpus_dir: str,
    verdicts_dir: str,
    out_corpus: str,
    out_verdicts: str,
    drop_vecs: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.6,
) -> None:
    """Deletion for the SemDeDup state: remove ``drop_vecs`` (vec_id) from
    the corpus store and re-verdict ONLY the cells they lived in — the
    ``incremental_semantic_dedup`` argument run backwards: removing a
    vector can flip its cell-mates drop→keep (their dominator left), and
    with frozen centroids the recompute over the cell's retained members
    reproduces the from-scratch verdicts exactly; every other cell is
    untouched by cell independence. This is AFFECTED-CELL-bound, not
    corpus-bound — SemDeDup deletion is cheap.

    Both output stores are written compacted (one winner row per retained
    vec_id; the corpus rows verbatim) at the reserved ``batch_id = -1`` —
    the expired output is a BASE state, so a sink resumed against it with
    a FRESH checkpoint (micro-batch 0 excludes-then-overwrites batch_id 0)
    can neither hide nor wipe pre-expiry rows. Same in-place guard as
    every store rewriter."""
    for a, b in ((out_corpus, corpus_dir), (out_verdicts, verdicts_dir)):
        if a.rstrip("/") == b.rstrip("/"):
            raise ValueError(
                "output dirs must differ from store dirs: an in-place "
                "overwrite would read and clobber the same parquet files"
            )
    from pulsar_replay_spark.operators.similarity import semantic_dedup

    drop = drop_vecs.select("vec_id").distinct().localCheckpoint(eager=True)
    corpus = read_parquet_or_empty(
        spark, corpus_dir, "vec_id long, embedding array<float>, batch_id long"
    )
    retained = corpus.join(drop, "vec_id", "left_anti").localCheckpoint(eager=True)
    (
        retained.withColumn("batch_id", F.lit(-1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_corpus)
    )

    current = read_semantic_verdicts(spark, verdicts_dir)
    store = read_parquet_or_empty(
        spark,
        verdicts_dir,
        "vec_id long, cell_id int, centroid_sim double, keep boolean, batch_id long",
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("batch_id"))
    winners = (
        store.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    affected = (
        current.join(drop, "vec_id", "semi").select("cell_id").distinct()
    ).localCheckpoint(eager=True)
    untouched = (
        winners.join(drop, "vec_id", "left_anti")
        .join(affected, "cell_id", "left_anti")
        .withColumn("batch_id", F.lit(-1))
    )
    members = (
        current.join(affected, "cell_id", "semi")
        .join(drop, "vec_id", "left_anti")
        .select("vec_id")
    )
    # reserved batch_id=-1: a fresh-checkpoint resume's first micro-batch is
    # 0 — its retry guard would hide re-verdicts stored under 0 and its
    # dynamic overwrite would then wipe them
    redone = semantic_dedup(
        retained.join(members, "vec_id", "semi").select("vec_id", "embedding"),
        threshold=threshold,
        centroids=centroids,
    ).withColumn("batch_id", F.lit(-1))
    (
        untouched.unionByName(redone)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_verdicts)
    )


def read_semantic_verdicts(
    spark: SparkSession, verdicts_dir: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """(vec_id, cell_id, centroid_sim, keep): the current SemDeDup verdicts
    from the delta store — highest batch_id wins per vector (a vector's
    verdict can flip keep→drop when later ingests land higher-priority
    near-dups in its cell)."""
    from pyspark.sql.window import Window

    store = read_parquet_or_empty(
        spark,
        verdicts_dir,
        "vec_id long, cell_id int, centroid_sim double, keep boolean, batch_id long",
    )
    if exclude_batch_id is not None:
        store = store.where(F.col("batch_id") != exclude_batch_id)
    w = Window.partitionBy("vec_id").orderBy(F.desc("batch_id"))
    return (
        store.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "cell_id", "centroid_sim", "keep")
    )


def semantic_verdicts_compact(
    spark: SparkSession, verdicts_dir: str, compact_dir: str
) -> None:
    """Fold the SemDeDup verdict delta store to its per-vector winners
    (keeping their original batch_id so reads over the compacted store
    serve the identical snapshot) — bounds the store at the corpus vector
    count however long the ingest feed runs. Same in-place guard as
    ``labels_compact``."""
    if compact_dir.rstrip("/") == verdicts_dir.rstrip("/"):
        raise ValueError(
            "compact_dir must differ from verdicts_dir: an in-place overwrite "
            "would read and clobber the same parquet files"
        )
    from pyspark.sql.window import Window

    store = read_parquet_or_empty(
        spark,
        verdicts_dir,
        "vec_id long, cell_id int, centroid_sim double, keep boolean, batch_id long",
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("batch_id"))
    (
        store.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(compact_dir)
    )


def link_graph_sink(
    edge_stream: DataFrame, store_dir: str, checkpoint_dir: str
):
    """Maintain a host link-graph store from a streaming edge frame
    (``corpusio.stream_warc_links``): one idempotent batch_id partition per
    micro-batch (crash-retry overwrites its own partition — the engine's
    exactly-once discipline), appending edges as crawl segments land.
    Refresh authority priors at takeout cadence with
    ``domain_rank_refresh`` — PageRank is global, so the refresh is
    corpus-bound by nature; the STORE is what streams."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store_dir)
        )

    return (
        edge_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_link_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """(src_host, dst_host) from the maintained link store — the edge frame
    ``graph.domain_rank`` consumes."""
    return read_parquet_or_empty(
        spark, store_dir, "src_host string, dst_host string, batch_id long"
    ).select("src_host", "dst_host")


def domain_rank_refresh(
    spark: SparkSession, store_dir: str, n_iter: int = 10
) -> DataFrame:
    """(host, rank_fp) over everything the link store has accumulated —
    run at takeout cadence and serve the result to any per-host quality
    join."""
    from pulsar_replay_spark.operators.graph import domain_rank

    return domain_rank(read_link_store(spark, store_dir), n_iter=n_iter)


def drift_monitor_sink(
    scored_stream: DataFrame,
    bins: list,
    monitor_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    ts_col: str = "ts",
    col: str = "score",
):
    """Continuous distribution-drift monitoring: per micro-batch, append the
    batch's per-(event-time window, bin) histogram COUNTS as one idempotent
    batch_id partition of the monitor store. Counts are ADDITIVE — a window
    whose rows span several micro-batches re-aggregates exactly at read
    time — so PSI is computed by ``drift_monitor_read``, never persisted
    per batch (PSI of a partial batch is meaningless and would false-alarm
    on a one-row straggler).

    The reference histogram is the FROZEN baseline (build once from a
    vetted corpus via ``quality.score_histogram``); recompute it only on a
    deliberate re-baselining, never per batch."""
    from pulsar_replay_spark.operators.quality import window_histogram

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = window_histogram(
            batch_df, bins, window=window, ts_col=ts_col, col=col
        )
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(monitor_dir)
        )

    return (
        scored_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def drift_monitor_read(
    spark: SparkSession, monitor_dir: str, ref_hist: DataFrame, eps: float = 1e-6
) -> DataFrame:
    """(window_start, psi, n_cur): PSI per event-time window against the
    frozen reference, computed over the monitor store's re-aggregated
    counts (partial per-batch histograms of one window sum exactly).
    Newest window first — the alerting query reads the head."""
    from pulsar_replay_spark.operators.quality import psi_from_window_hist

    counts = read_parquet_or_empty(
        spark,
        monitor_dir,
        "window_start timestamp, bin long, n_cur long, batch_id long",
    ).select("window_start", "bin", "n_cur")
    return psi_from_window_hist(counts, ref_hist, eps=eps).orderBy(
        F.desc("window_start")
    )


def _dup_span_store_meta(
    spark: SparkSession, store_dir: str
) -> "dict | None":
    """Read the gram store's frozen build settings from ``_meta`` (an
    underscore-prefixed subdir — Spark's data listing ignores it, so
    reading ``store_dir`` as parquet still sees only gram partitions).
    None = no meta yet (fresh store, or one written before r11)."""
    from pyspark.errors import AnalysisException

    try:
        r = spark.read.parquet(f"{store_dir}/_meta").head()
        return {
            "min_tokens": r.min_tokens,
            "casefold": r.casefold,
            "impl": r.impl,
        }
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "UNABLE_TO_INFER_SCHEMA" in str(e):
            return None
        raise


def _dup_span_store_meta_write(
    spark: SparkSession, store_dir: str, min_tokens: int, casefold: bool, kernel: str
) -> None:
    # the column keeps its historical name: the stored kernel tag is how a
    # store built by another kernel gets detected on resume
    spark.createDataFrame(
        [(int(min_tokens), bool(casefold), kernel)],
        "min_tokens int, casefold boolean, impl string",
    ).write.mode("overwrite").parquet(f"{store_dir}/_meta")


# bloom_fpp='auto' policy constants, sourced from the measured crossover
# (SCALE.md r11): the plain leg's
# per-batch DISTINCT SHUFFLE of the index's gh column wins at ≤8.5M index
# grams (−11%) and loses from 25.4M (+6%, then 2.6× at 50.9M). 16M is the
# geometric midpoint √(8.5M·25.4M) ≈ 14.7M rounded up — inside the
# measured bracket, conservative toward plain (the cheap-to-be-wrong
# side: near the crossover both legs are within ~10%). fpp=0.01 is the
# measured setting (~1% candidate shuffle, SCALE.md r11 selectivity table).
AUTO_BLOOM_MIN_INDEX_GRAMS = 16_000_000
AUTO_BLOOM_FPP = 0.01


LEGACY_COUNT_BATCH_ID = -2  # the backfill ledger row for pre-ledger grams
# (streaming batches are >= 0 and the compacted base is -1, so -2 can
# never collide with, or be overwritten by, a real batch's row)


def _dup_span_store_gram_count(
    spark: SparkSession,
    store_dir: str,
    exclude_batch: "int | None" = None,
    backfill: bool = False,
) -> int:
    """Total grams resident in the store, from the ``_counts`` ledger the
    sink maintains (one row per batch, dynamic-overwritten with its batch
    so crash retries stay idempotent — reading it is a tiny-table scan,
    never an index scan). Stores without a ledger (pre-r12, or any
    one-shot-written index) fall back to one footer-count of the index
    itself (metadata-bounded: parquet row counts, no data pages);
    ``backfill=True`` then RECORDS that total as a ``batch_id = -2``
    ledger row, so a resumed sink's later batches sum legacy + new grams
    instead of silently counting only post-resume batches (which would
    keep 'auto' in the plain regime against an arbitrarily large legacy
    index)."""
    counts = read_parquet_or_empty(
        spark, f"{store_dir}/_counts", "n_grams long, batch_id long"
    )
    if exclude_batch is not None:
        counts = counts.where(F.col("batch_id") != exclude_batch)
    rows = counts.collect()  # one row per ingested batch — bounded
    if rows:
        return int(sum(r.n_grams for r in rows))
    idx = read_parquet_or_empty(
        spark, store_dir, "gh string, batch_id long"
    ).select("gh", "batch_id")
    if exclude_batch is not None:
        idx = idx.where(F.col("batch_id") != exclude_batch)
    n = idx.count()
    if backfill and n > 0:
        _dup_span_store_count_write(spark, store_dir, LEGACY_COUNT_BATCH_ID, n)
    return n


def _dup_span_store_count_write(
    spark: SparkSession, store_dir: str, batch_id: int, n_grams: int
) -> None:
    (
        spark.createDataFrame(
            [(int(n_grams), int(batch_id))], "n_grams long, batch_id long"
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{store_dir}/_counts")
    )


def dup_span_ingest_sink(
    docs_stream: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    min_tokens: int = 20,
    casefold: bool = False,
    bloom_fpp: "float | str | None" = None,
):
    """Continuous any-length exact-substring dedup (r10): grow a k-gram
    first-occurrence index from a documents stream and scrub each
    micro-batch against EVERYTHING previously admitted — the streaming
    twin of ``dedup.dup_span_scrub`` (the Lee et al. family), same
    discipline as the minhash band index and the BM25 postings store.

    Per micro-batch:
    1. probe — the batch's k-grams equi-join the accumulated index
       (own batch_id excluded: a crash-retried batch never self-probes);
       an index hit scrubs every occurrence (the first lives in a prior
       batch); within-batch duplication keeps the batch-first occurrence;
    2. write the scrubbed docs (``dup_span_scrub``'s shape + batch_id) as
       one idempotent partition of ``out_dir``;
    3. append the batch's UNSEEN first-occurrence grams (gh, doc_id, pos)
       as one idempotent partition of ``store_dir`` — the index grows by
       new grams only, so its size tracks DISTINCT corpus grams, not
       ingested volume.

    doc_id-ordered batches reproduce the one-shot scrub over their union
    EXACTLY (pinned in tests). Crash retries overwrite themselves
    (dynamic partition overwrite on batch_id, reads exclude own batch).

    ``min_tokens`` (≥ 1, checked up front) and ``casefold`` select the
    gram length and normalization; both are FROZEN into the store's
    ``_meta`` on first write, together with the hash kernel's versioned
    tag (``dedup.KGRAM_KERNEL_TAG``). Hashes only compare equal under the
    build-time settings, so resuming with different ones — or against a
    store built by another kernel, or one that holds grams but no
    ``_meta`` and so cannot say which kernel built it — raises instead of
    silently never matching. ``bloom_fpp`` enables the per-batch Bloom
    prefilter on the index probe (``dedup.incremental_dup_span_scrub``) —
    output-identical by construction, index-side join input tracks batch
    size. ``bloom_fpp='auto'`` (r12) picks per batch: the sink keeps a
    per-batch gram-count ledger in ``_counts`` (idempotent, like the gram
    partitions themselves) and switches the prefilter on once the
    resident index crosses ``AUTO_BLOOM_MIN_INDEX_GRAMS`` — the measured
    crossover where the plain leg's index distinct-shuffle stops being
    cheap. Output is invariant across the switch (both legs are pinned
    output-identical). The gram store's doc_id column takes the STREAM's
    doc_id type
    (string ids ingest as cleanly as longs; a type change mid-stream
    fails the schema'd read loudly, not by miscast)."""
    from pulsar_replay_spark.operators.dedup import (
        KGRAM_KERNEL_TAG,
        incremental_dup_span_scrub,
    )

    if int(min_tokens) < 1:
        raise ValueError(
            f"dup_span_ingest_sink: min_tokens must be >= 1, got {min_tokens!r}"
        )
    if isinstance(bloom_fpp, str) and bloom_fpp != "auto":
        raise ValueError(
            f"dup_span_ingest_sink: bloom_fpp must be a float, None, or "
            f"'auto', got {bloom_fpp!r}"
        )
    try:
        doc_id_type = docs_stream.schema["doc_id"].dataType.simpleString()
    except KeyError:
        raise ValueError(
            "dup_span_ingest_sink: stream must carry a doc_id column"
        ) from None

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        meta = _dup_span_store_meta(spark, store_dir)
        # _meta freezes the VERSIONED kernel tag: a kernel fix that changes
        # hash values bumps it (r12: 'rolling' -> 'rolling2'), so a store
        # built by any other kernel refuses a resume here instead of
        # silently never matching. A store holding grams but no _meta
        # (written before r11) cannot name its kernel and is refused too.
        want = {
            "min_tokens": int(min_tokens),
            "casefold": bool(casefold),
            "impl": KGRAM_KERNEL_TAG,
        }
        if meta is None and (
            read_parquet_or_empty(spark, store_dir, "gh string").head(1)
        ):
            meta = "an unknown kernel (grams but no _meta)"
        if meta is not None and meta != want:
            raise ValueError(
                f"dup_span_ingest_sink: store at {store_dir} was built with "
                f"{meta}; cannot ingest with {want} — gram hashes would "
                "never match the resident index"
            )
        if meta is None:
            _dup_span_store_meta_write(
                spark, store_dir, min_tokens, casefold, KGRAM_KERNEL_TAG
            )
        batch = batch_df.select("doc_id", "text").localCheckpoint(eager=True)
        idx = (
            read_parquet_or_empty(
                spark,
                store_dir,
                f"gh string, doc_id {doc_id_type}, pos int, batch_id long",
            )
            .where(F.col("batch_id") != batch_id)
            .select("gh", "doc_id", "pos")
        )
        effective_fpp = bloom_fpp
        if bloom_fpp == "auto":
            n_index = _dup_span_store_gram_count(
                spark, store_dir, exclude_batch=batch_id, backfill=True
            )
            effective_fpp = (
                AUTO_BLOOM_FPP
                if n_index >= AUTO_BLOOM_MIN_INDEX_GRAMS
                else None
            )
        scrubbed, new_grams = incremental_dup_span_scrub(
            batch,
            idx,
            min_tokens=min_tokens,
            casefold=casefold,
            bloom_fpp=effective_fpp,
        )
        (
            scrubbed.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
        (
            new_grams.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store_dir)
        )
        # ledger the batch's gram count for 'auto': count the JUST-WRITTEN
        # partition (parquet footer row counts — no data pages, no plan
        # re-execution) and overwrite this batch's ledger row, so a crash
        # retry replaces rather than double-counts.
        n_new = (
            spark.read.parquet(store_dir)
            .where(F.col("batch_id") == batch_id)
            .count()
        )
        _dup_span_store_count_write(spark, store_dir, batch_id, n_new)

    return (
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dup_span_store_compact(
    spark: SparkSession, store_dir: str, compact_dir: str
) -> None:
    """Fold the gram store's accumulated batch_id partitions into the
    batch_id = -1 base (the store-wide compaction discipline — a resumed
    sink's micro-batch 0 can neither hide nor wipe it). One row per
    distinct gram survives, keeping the GLOBALLY first (doc_id, pos)
    occurrence — crash-retry duplicates and any cross-batch races fold to
    the same winner the one-shot path picks."""
    _require_distinct_dirs(compact_dir, store_dir)
    from pyspark.sql.window import Window

    w = Window.partitionBy("gh").orderBy("doc_id", "pos")
    (
        spark.read.parquet(store_dir)
        .select("gh", "doc_id", "pos")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("batch_id", F.lit(-1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(compact_dir)
    )
    meta = _dup_span_store_meta(spark, store_dir)
    if meta is not None:
        _dup_span_store_meta_write(
            spark, compact_dir, meta["min_tokens"], meta["casefold"], meta["impl"]
        )
    # rebase the 'auto' ledger: one row covering the compacted base
    n = spark.read.parquet(compact_dir).count()
    _dup_span_store_count_write(spark, compact_dir, -1, n)


def dup_span_store_expire(
    spark: SparkSession, store_dir: str, out_dir: str, drop_docs: DataFrame
) -> None:
    """Deletion / right-to-be-forgotten for the gram store: a dropped doc's
    gram rows leave, so the store derives from exactly the retained corpus
    (the content itself was only ever stored as one-way hashes, but
    deletion disciplines remove DERIVED rows too). Semantics after expiry:
    content whose only first occurrence lived in a dropped doc no longer
    scrubs future copies — correct, the content left the corpus; already-
    scrubbed docs are not resurrected (scrubbing is applied at admission).
    Folds to the batch_id = -1 base like ``dup_span_store_compact``."""
    _require_distinct_dirs(out_dir, store_dir)
    drop = drop_docs.select("doc_id").distinct().localCheckpoint(eager=True)
    (
        spark.read.parquet(store_dir)
        .select("gh", "doc_id", "pos")
        .join(drop, "doc_id", "left_anti")
        .withColumn("batch_id", F.lit(-1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )
    meta = _dup_span_store_meta(spark, store_dir)
    if meta is not None:
        _dup_span_store_meta_write(
            spark, out_dir, meta["min_tokens"], meta["casefold"], meta["impl"]
        )
    n = spark.read.parquet(out_dir).count()
    _dup_span_store_count_write(spark, out_dir, -1, n)


def embedding_drift_sink(
    emb_stream: DataFrame,
    centroids: DataFrame,
    monitor_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    ts_col: str | None = None,
):
    """Continuous EMBEDDING-distribution drift monitoring — the vector twin
    of ``drift_monitor_sink``: per micro-batch, assign the batch's vectors
    to the FROZEN coarse quantizer (``centroids`` — frozen exactly like the
    scalar monitor's bins; re-deriving it per batch would compare axes, not
    distributions) and append the per-(window, cell) occupancy COUNTS as one
    idempotent batch_id partition. Counts are additive, so PSI computes at
    read (``embedding_drift_read``), never per partial batch.

    ``ts_col=None`` (embedding streams often carry no event time): counts
    land under a NULL window_start and the read serves ONE cumulative row —
    drift of everything ingested since the baseline."""
    from pulsar_replay_spark.operators.similarity import ivf_assign

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        cells = ivf_assign(
            batch_df.select("vec_id", "embedding"), centroids, n_probe=1
        )
        if ts_col is not None:
            out = (
                cells.join(
                    batch_df.select("vec_id", F.col(ts_col).alias("_ts")), "vec_id"
                )
                .groupBy(
                    F.window("_ts", window).alias("w"),
                    F.col("cell_id").alias("bin"),
                )
                .agg(F.count("*").alias("n_cur"))
                .select(F.col("w.start").alias("window_start"), "bin", "n_cur")
            )
        else:
            out = (
                cells.groupBy(F.col("cell_id").alias("bin"))
                .agg(F.count("*").alias("n_cur"))
                .select(
                    F.lit(None).cast("timestamp").alias("window_start"),
                    "bin",
                    "n_cur",
                )
            )
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(monitor_dir)
        )

    return (
        emb_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def embedding_drift_read(
    spark: SparkSession,
    monitor_dir: str,
    ref_hist: DataFrame,
    eps: float = 1e-6,
    windowed: bool = False,
) -> DataFrame:
    """PSI against the frozen reference cell histogram
    (``similarity.embedding_cell_histogram`` over the vetted baseline, built
    with the SAME centroids the sink assigns against).

    ``windowed=False`` (the sink's ``ts_col=None`` mode): the store's counts
    fold to ONE cumulative histogram and the result is ``psi_drift``'s
    single (psi, n_ref, n_cur) row — drift of everything ingested since the
    baseline. (The NULL window_start those stores carry would silently
    empty the windowed read's equi-join — NULL keys never match — so the
    cumulative mode folds explicitly rather than sharing that path.)
    ``windowed=True`` (the sink ran with ``ts_col``): per-window
    (window_start, psi, n_cur) via the scalar monitor's shared read."""
    if windowed:
        return drift_monitor_read(spark, monitor_dir, ref_hist, eps=eps)
    from pulsar_replay_spark.operators.quality import psi_drift

    cur_hist = (
        read_parquet_or_empty(
            spark,
            monitor_dir,
            "window_start timestamp, bin long, n_cur long, batch_id long",
        )
        .groupBy("bin")
        .agg(F.sum("n_cur").cast("long").alias("n"))
    )
    return psi_drift(ref_hist, cur_hist, eps=eps)


def embedding_drift_from_index(
    spark: SparkSession, index_dir: str, ref_hist: DataFrame, eps: float = 1e-6
) -> DataFrame:
    """Cumulative embedding drift read STRAIGHT off the maintained IVF cells
    store (``ivf_ingest_sink``'s index): a pipeline already serving ANN has
    every ingested vector's cell assignment persisted, so drift costs one
    |cells|-key agg over (vec_id, cell_id) rows — no second assignment pass
    and no dedicated monitor sink. Same contract as ``embedding_drift_read``
    cumulative mode: ``ref_hist`` is ``similarity.embedding_cell_histogram``
    over the vetted baseline under the SAME centroids the index was built
    with (a centroid refresh rebuilds the index AND re-baselines — drift
    across quantizers compares axes, not distributions). Returns one
    (psi, n_ref, n_cur) row."""
    from pulsar_replay_spark.operators.quality import psi_drift

    cur_hist = (
        read_parquet_or_empty(
            spark, index_dir, "vec_id long, cell_id long, batch_id long"
        )
        .groupBy(F.col("cell_id").alias("bin"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    return psi_drift(ref_hist, cur_hist, eps=eps)


def postings_ingest_sink(
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    n_buckets: int | None = None,
):
    """Grow the BM25 postings store (``operators/retrieval.py``) from a
    documents micro-batch stream: each batch lands as its own batch_id
    partition of postings + doclen (dynamic partition overwrite — a
    crash-retried batch clobbers only itself, the engine's exactly-once
    discipline), so serving (``bm25_topk_from_index``,
    ``lexical_decontaminate_from_index``) is index-bounded instead of
    rescanning the grown corpus every query batch. n_buckets defaults to
    the store's frozen modulus (or the library default on first build);
    passing a conflicting value raises in the build."""
    from pulsar_replay_spark.operators import retrieval

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        nb = n_buckets
        if nb is None:
            nb = (
                retrieval._store_n_buckets(spark, store_dir)
                or retrieval.N_TERM_BUCKETS
            )
        retrieval.postings_index_build(
            batch_df, store_dir, batch_id=batch_id, n_buckets=nb
        )

    return (
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def ivf_store_ingest_sink(
    emb_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    n_cells: "int | None" = None,
    pq: "bool | None" = None,
):
    """Grow the IVF vector STORE (``operators/vecstore.py`` — vectors +
    frozen centroids + meta on disk; distinct from ``ivf_ingest_sink``
    above, which grows only a (vec_id, cell_id) assignment table against
    caller-held centroids) from an
    embedding micro-batch stream: each batch assigns to the store's FROZEN
    centroids (first batch freezes them — the FAISS train-then-add
    posture) and lands as its own batch_id partition (dynamic partition
    overwrite — a crash-retried batch clobbers only itself), so ANN
    serving (``ivf_topk_from_index``) stays partition-pruned and
    byte-equal to the in-session path over the same centroids while the
    corpus grows. Same shape as ``postings_ingest_sink``. ``pq=True``
    makes it a PQ-compressed store: the first batch also freezes the
    codebooks and every batch lands its 32×-compressed codes partition
    (``ivf_pq_topk_from_index`` is then the ADC serve path)."""
    from pulsar_replay_spark.operators import vecstore

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return  # empty trigger: nothing to assign, nothing to freeze
        vecstore.ivf_index_build(
            batch_df, store_dir, n_cells=n_cells, batch_id=batch_id, pq=pq
        )

    return (
        emb_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def postings_compact(
    spark: SparkSession,
    store_dir: str,
    compact_dir: str,
    max_df_ratio: float | None = None,
) -> None:
    """Fold the postings store's accumulated batch_id partitions into one
    base partition (batch_id = -1; the store-wide compaction discipline —
    a resumed sink's micro-batch 0 can neither hide nor wipe it): DISTINCT
    drops crash-retry and re-ingest duplicates in both substores.

    ``max_df_ratio`` BAKES a document-frequency cap into the compacted
    index: terms in more than that ratio of the store's docs lose their
    posting lists entirely — the stopword lists that dominate index bytes
    and carry near-zero idf. Serving an uncapped query against a capped
    store equals serving the SAME cap against the full scan
    (``bm25_scores(max_df_ratio=...)``) because the cap predicate is
    df-over-global-corpus in both places; doclen is never capped, so
    n_docs/avgdl stay corpus-exact."""
    _require_distinct_dirs(compact_dir, store_dir)
    post = (
        spark.read.parquet(f"{store_dir}/postings")
        .select("term_bucket", "term", "doc_id", "tf", "dl")
        .distinct()
    )
    doclen = (
        spark.read.parquet(f"{store_dir}/doclen")
        .select("doc_id", "dl")
        .distinct()
    )
    if max_df_ratio is not None:
        n_docs = doclen.count()
        df_t = post.groupBy("term").agg(F.count("*").alias("df"))
        keep_terms = df_t.filter(
            F.col("df") <= F.lit(float(n_docs) * max_df_ratio)
        ).select("term")
        post = post.join(keep_terms, "term", "semi")
    (
        post.withColumn("batch_id", F.lit(-1))
        .repartition(F.col("term_bucket"), F.col("term"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "term_bucket")
        .parquet(f"{compact_dir}/postings")
    )
    (
        doclen.withColumn("batch_id", F.lit(-1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{compact_dir}/doclen")
    )
    spark.read.parquet(f"{store_dir}/meta").write.mode("overwrite").parquet(
        f"{compact_dir}/meta"
    )


def postings_index_expire(
    spark: SparkSession,
    store_dir: str,
    out_dir: str,
    drop_docs: DataFrame,
) -> None:
    """Deletion / right-to-be-forgotten for the postings store: a dropped
    doc's posting rows AND its doclen row leave, so future serves compute
    df/n_docs/avgdl over exactly the retained corpus — pinned equal to
    ``bm25_scores`` over the retained docs (test_retrieval.py). Folds to
    the batch_id = -1 base partition like ``postings_compact``."""
    _require_distinct_dirs(out_dir, store_dir)
    drop = drop_docs.select("doc_id").distinct().localCheckpoint(eager=True)
    post = (
        spark.read.parquet(f"{store_dir}/postings")
        .join(drop, "doc_id", "left_anti")
        .select("term_bucket", "term", "doc_id", "tf", "dl")
        .distinct()
        .withColumn("batch_id", F.lit(-1))
    )
    (
        post.repartition(F.col("term_bucket"), F.col("term"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "term_bucket")
        .parquet(f"{out_dir}/postings")
    )
    doclen = (
        spark.read.parquet(f"{store_dir}/doclen")
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "dl")
        .distinct()
        .withColumn("batch_id", F.lit(-1))
    )
    (
        doclen.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{out_dir}/doclen")
    )
    spark.read.parquet(f"{store_dir}/meta").write.mode("overwrite").parquet(
        f"{out_dir}/meta"
    )
