"""Maintained IVF vector-index store: the dense-retrieval twin of the BM25
postings store (``operators/retrieval.py``), r11.

A training-data pipeline's embedding corpus is append-mostly and served
constantly (ANN dedup probes, hard-negative mining, hybrid retrieval). The
rescan posture — re-deriving centroids + assignments per query batch — pays
the O(N·cells·dim) assignment on EVERY serve; this store pays it once per
ingested batch and makes serving INDEX-BOUNDED:

    store_dir/
      vectors/batch_id=N/cell_id=C/   (vec_id, embedding)
      centroids/                      (cell_id, centroid) — FROZEN at build
      meta/                           (n_cells, dim, pq) — one row, frozen
      codes/batch_id=N/cell_id=C/     (vec_id, codes, approx_norm) — pq=True
                                      only: the 32×-compressed ADC relation
      codebooks/                      (m, cell, centroid) — pq=True only,
                                      FROZEN at build like the centroids

The serve path's scan is PARTITION-PRUNED on ``cell_id``: a query batch's
probed cells (≤ |Q|·n_probe distinct ids — a bounded collect, the engine's
scalar-collect pattern) become a partition filter, so the store read
touches only the Voronoi cells the queries land in (~n_probe/n_cells of
the bytes — the pruning the k-gram store structurally CANNOT have, because
gram probes are corpus-like while cell probes are vocabulary-like).
Centroids are frozen at build time — the standard serving posture (FAISS
``add`` after ``train``): ingested batches assign to the EXISTING cells,
so old assignments never churn and serving stays byte-equal to the
in-session ``ivf_topk`` over the same centroids (pinned in tests).
Re-train = build a fresh store and swap directories.

Small stores are served from driver memory (``operators/resident.py``):
when the store directory holds at most ``resident.MAX_STORE_BYTES`` on disk
and the query frame at most ``resident.MAX_QUERY_ROWS`` rows,
``ivf_topk_from_index`` loads the centroids and latest-wins vectors once
per store version — keyed by the job-free listing of the store's part
files, which every write renames — and answers each batch in process with
the same kernels. The snapshot takes about 1.5× the store's on-disk
bytes of driver memory (measured up to a 76 MB store, the table in
``resident.py``). Larger stores and batches take the partition-pruned Spark
serve described above.

Lifecycle mirrors the postings store: one-shot build and streaming ingest
land idempotent ``batch_id`` partitions (dynamic partition overwrite — a
crash-retried batch clobbers only itself; ``BASE_BATCH_ID = -1`` keeps the
one-shot base disjoint from micro-batch 0), ``ivf_store_compact`` folds
batches into the base (latest batch wins per vec_id — re-ingested vectors
supersede), ``ivf_store_expire`` is deletion/right-to-be-forgotten.

Reference analog: none in `pulsar-replay` (no vector surface) — north-star
extension; the store discipline itself cites the reference's
backup-then-serve posture (pulsar_backup_restore.py:100-137: capture once,
serve restores from the artifact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from pulsar_replay_spark.operators import resident
from pulsar_replay_spark.operators.similarity import (
    ivf_assign,
    ivf_centroids,
    ivf_params,
    ivf_topk,
    kmeans_refine,
)

BASE_BATCH_ID = -1  # the one-shot/compacted base partition; streaming
# micro-batch ids start at 0, so dynamic overwrite can never half-replace
# the base (the retrieval.py discipline, same constant, same reason).


def _pack_codes(codes_col):
    """PQ_M 4-bit codes → ONE long (Σ code_m · PQ_K^m): the on-disk codes
    row shrinks from an 8-element array<int> to a single bit-packable
    column — measured ~2× smaller codes partitions on top of parquet's
    own compression. PQ_K=16 keeps the packed value < 16^8 = 2^32."""
    import operator
    from functools import reduce

    from pulsar_replay_spark.operators.similarity import PQ_K, PQ_M

    return reduce(
        operator.add,
        [
            F.element_at(codes_col, m + 1).cast("long") * F.lit(PQ_K**m)
            for m in range(PQ_M)
        ],
    )


def _unpack_codes(packed_col):
    """Inverse of ``_pack_codes`` — pure JVM arithmetic (floor-div by
    PQ_K^m, mod PQ_K; exact for packed < 2^52), restoring the exact
    array<int> the in-session ADC kernel consumes."""
    from pulsar_replay_spark.operators.similarity import PQ_K, PQ_M

    return F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda m: (
            F.floor(
                packed_col / F.pow(F.lit(float(PQ_K)), m.cast("double"))
            )
            % PQ_K
        ).cast("int"),
    )


def _store_meta(spark: SparkSession, store_dir: str) -> "dict | None":
    from pyspark.errors import AnalysisException

    try:
        # the known schema skips the schema-inference job; pq joined the
        # meta in r12, so a pre-r12 meta reads pq as NULL → plain store
        r = (
            spark.read.schema("n_cells int, dim int, pq boolean")
            .parquet(f"{store_dir}/meta")
            .head()
        )
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            return None
        raise
    if r is None:
        return None
    return {"n_cells": int(r.n_cells), "dim": int(r.dim), "pq": bool(r.pq)}


def ivf_index_build(
    embeddings: DataFrame,
    store_dir: str,
    n_cells: int | None = None,
    kmeans_iters: int = 0,
    batch_id: int = BASE_BATCH_ID,
    pq: "bool | None" = None,
    pq_iters: int = 1,
) -> None:
    """Build (or grow) the store from one embedding batch.

    First call freezes the centroids: ``n_cells`` defaults to the √N rule
    (``ivf_params`` on the batch count), optionally Lloyd-refined
    ``kmeans_iters`` rounds; (cell_id, centroid) and (n_cells, dim) are
    written once. Later calls (growth) ASSIGN ONLY — vectors route to the
    frozen cells; passing a conflicting ``n_cells`` against an existing
    store raises (the bucket-modulus discipline), as does a dim change.
    Vectors land as one idempotent ``batch_id`` partition, repartitioned by
    (cell_id, vec_id) so write parallelism isn't capped at n_cells tasks.

    ``pq=True`` (r12) makes this a PQ-compressed store: the first call
    ALSO trains the per-subspace codebooks (``similarity.pq_codebooks``,
    ``pq_iters`` Lloyd rounds) and freezes them alongside the centroids —
    the FAISS train-then-add posture again; every batch (first and
    growth) then writes its compressed (vec_id, packed_codes,
    approx_norm) rows under ``codes/`` — the PQ_M 4-bit codes bit-packed
    into one long — with the same (batch_id, cell_id) layout as the
    vectors, so the ADC serve scan partition-prunes identically. ``pq``
    is frozen in ``meta`` like ``n_cells``: ``None`` on a growth call
    inherits; an explicit conflict raises. The raw vectors are still
    stored — they are the exact-rerank tail and the RTBF source of truth.
    """
    spark = embeddings.sparkSession
    meta = _store_meta(spark, store_dir)
    dim_row = embeddings.select(F.size("embedding").alias("d")).head()
    if dim_row is None:
        raise ValueError(
            "ivf_index_build: embeddings frame is empty — nothing to build "
            "or ingest (the streaming sink skips empty micro-batches; "
            "one-shot callers should too)"
        )
    dim = dim_row.d
    if meta is not None:
        if n_cells is not None and n_cells != meta["n_cells"]:
            raise ValueError(
                f"ivf store at {store_dir} was built with "
                f"n_cells={meta['n_cells']}; cannot ingest with {n_cells}"
            )
        if dim != meta["dim"]:
            raise ValueError(
                f"ivf store at {store_dir} holds dim={meta['dim']} vectors; "
                f"batch has dim={dim}"
            )
        if pq is not None and bool(pq) != meta["pq"]:
            raise ValueError(
                f"ivf store at {store_dir} was built with pq={meta['pq']}; "
                f"cannot ingest with pq={pq} — codes and codebooks are "
                "build-time artifacts"
            )
        # element-type drift guard (r12): a double-element growth batch
        # against a float-element store would WRITE cleanly into its own
        # partition and fail every later full read with a parquet
        # type-mismatch — refuse loudly at ingest instead.
        stored_t = (
            spark.read.parquet(f"{store_dir}/vectors")
            .schema["embedding"]
            .dataType.simpleString()
        )
        batch_t = embeddings.schema["embedding"].dataType.simpleString()
        if batch_t != stored_t:
            raise ValueError(
                f"ivf store at {store_dir} holds {stored_t} embeddings; "
                f"batch has {batch_t} — cast the batch to the store's "
                "element type (a mixed-type store fails every read)"
            )
        store_pq = meta["pq"]
        cents = spark.read.parquet(f"{store_dir}/centroids")
    else:
        store_pq = bool(pq)
        if n_cells is None:
            n_cells, _ = ivf_params(embeddings.count())
        cents = (
            kmeans_refine(embeddings, n_cells, kmeans_iters)
            if kmeans_iters > 0
            else ivf_centroids(embeddings, n_cells)
        ).localCheckpoint(eager=True)
        cents.write.mode("overwrite").parquet(f"{store_dir}/centroids")
        if store_pq:
            from pulsar_replay_spark.operators.similarity import pq_codebooks

            pq_codebooks(embeddings, pq_iters).write.mode("overwrite").parquet(
                f"{store_dir}/codebooks"
            )
        spark.createDataFrame(
            [(int(n_cells), int(dim), bool(store_pq))],
            "n_cells int, dim int, pq boolean",
        ).write.mode("overwrite").parquet(f"{store_dir}/meta")

    assigned = embeddings.select("vec_id", "embedding").join(
        ivf_assign(embeddings, cents, n_probe=1), "vec_id"
    )
    if store_pq:
        assigned = assigned.localCheckpoint(eager=True)  # feeds 2 writes
    (
        assigned.withColumn("batch_id", F.lit(int(batch_id)))
        # repartition on cell_id ALONE: one file per cell per batch. The
        # postings store hashes the term in for parallelism, but n_cells
        # follows the √N rule (256 at 50k, 2^15 at 1e9) so cell-count ≥
        # core-count already — and the (cell, vec)-salted variant measured
        # 5× slower end-to-end here purely on tiny-file explosion
        # (tasks × cells files per batch vs one).
        .repartition(F.col("cell_id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "cell_id")
        .parquet(f"{store_dir}/vectors")
    )
    if store_pq:
        from pulsar_replay_spark.operators.similarity import pq_encode

        books = spark.read.parquet(f"{store_dir}/codebooks")
        codes = (
            pq_encode(embeddings.select("vec_id", "embedding"), books)
            .join(assigned.select("vec_id", "cell_id"), "vec_id")
            .select(
                "vec_id",
                _pack_codes(F.col("codes")).alias("packed_codes"),
                "approx_norm",
                "cell_id",
            )
        )
        (
            codes.withColumn("batch_id", F.lit(int(batch_id)))
            .repartition(F.col("cell_id"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "cell_id")
            .parquet(f"{store_dir}/codes")
        )


def _store_latest(
    spark: SparkSession,
    store_dir: str,
    subdir: str,
    cols: "list[str]",
    cell_ids: "list | None" = None,
) -> DataFrame:
    """A store table (``vectors`` or ``codes`` — same (batch_id, cell_id)
    layout) with compact's LATEST-BATCH-WINS applied at read time (r12,
    ADVICE): a vec_id re-ingested with a changed embedding has two copies
    (possibly in different cells) until compaction, and a serve that
    treats any copy as current joins payloads and cell assignments across
    both — stale, and arbitrary. The max-batch frame reads only vec_id +
    the batch_id partition value (never the payload), so with ``cell_ids``
    the fat payload bytes still come ONLY from the pruned cells; the
    prune stays correct because a moved vector's latest copy is served
    via its OWN (current) cell and the stale copy in a probed cell is
    dropped by the semi-join. Compaction collapses the store to one
    batch, making the semi-join a trivial self-match.

    r12 optimization (guide §2.4): when the store layout holds exactly ONE
    batch_id partition (one-shot build, or post-compaction — the common
    serving posture), latest-wins is the identity and the full-store
    max-batch aggregation + semi-join are skipped outright. The batch set
    comes from the datasource's own partition listing (``inputFiles`` —
    driver-side paths, no job, already paid by the parquet read), so the
    fast path can never misfire on data: a second batch directory brings
    the semi-join back."""
    all_rows = spark.read.parquet(f"{store_dir}/{subdir}")
    batch_ids = {
        seg.split("=", 1)[1]
        for f in all_rows.inputFiles()
        for seg in f.split("/")
        if seg.startswith("batch_id=")
    }
    pruned = (
        all_rows
        if cell_ids is None
        else all_rows.filter(F.col("cell_id").isin(cell_ids))
    )
    if len(batch_ids) > 1:
        latest = all_rows.groupBy("vec_id").agg(
            F.max("batch_id").alias("batch_id")
        )
        pruned = pruned.join(latest, ["vec_id", "batch_id"], "left_semi")
    return (
        pruned
        # cell_id comes back PARTITION-INFERRED as int; the in-session
        # assignment frames carry long (centroid ids are vec_ids). The
        # arrow path cogroups on cell_id, and cogrouping int-vs-long keys
        # silently mis-buckets instead of casting (caught by the 50k
        # probe: served top-k degraded ~0.9→0.85 sims) — normalize HERE,
        # at the read, so every downstream consumer sees one type.
        .select(*cols, F.col("cell_id").cast("long").alias("cell_id"))
        # crash-retried duplicate partitions are byte-identical copies
        # (idempotent dynamic overwrite); within the latest batch a vec_id
        # has one assignment — distinct is belt-and-braces only
        .dropDuplicates(["vec_id", "cell_id"])
    )


def _store_vectors_latest(
    spark: SparkSession, store_dir: str, cell_ids: "list | None" = None
) -> DataFrame:
    return _store_latest(
        spark, store_dir, "vectors", ["vec_id", "embedding"], cell_ids
    )


def store_centroids(spark: SparkSession, store_dir: str) -> DataFrame:
    meta = _store_meta(spark, store_dir)
    if meta is None:
        raise FileNotFoundError(f"no ivf store at {store_dir}")
    return spark.read.parquet(f"{store_dir}/centroids")


_IVF_TOPK_SCHEMA = StructType(
    [
        StructField("q_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("sim", DoubleType()),
        StructField("rk", IntegerType(), nullable=False),
    ]
)


def _ivf_snapshot(spark: SparkSession, store_dir: str) -> dict:
    """The store as the Spark serve reads it — frozen centroids and the
    latest-wins, deduplicated vectors (``_store_vectors_latest``) — held
    as numpy centroids and one (n_id, n_emb) pandas frame per cell."""
    import numpy as np

    from pulsar_replay_spark.operators.similarity import _fold_norms

    cents = store_centroids(spark, store_dir).orderBy("cell_id").collect()
    C = np.stack([np.asarray(r.centroid, dtype="float64") for r in cents])
    vecs = _store_vectors_latest(spark, store_dir).toPandas()
    vecs = vecs.rename(columns={"vec_id": "n_id", "embedding": "n_emb"})
    return {
        "cell_ids": np.array([r.cell_id for r in cents], dtype="int64"),
        "C": C,
        "c_norm": _fold_norms(C, C.shape[1]),
        "cells": {
            int(cid): g[["n_id", "n_emb"]].reset_index(drop=True)
            for cid, g in vecs.groupby("cell_id")
        },
    }


def _resident_ivf_topk(
    spark: SparkSession, snap: dict, rows: list, k: int, n_probe: int
) -> DataFrame:
    """The Spark serve on a snapshot, through the driver-side twins of its
    steps in ``similarity``: ``_probe_cells`` (``ivf_assign``), the cogroup
    kernel ``_cell_pair_sims`` per probed cell, and ``_topk_of_pair_sims``
    (``ivf_topk``'s dedup, rounding and rank)."""
    import numpy as np
    import pandas as pd

    from pulsar_replay_spark.operators.similarity import (
        _cell_pair_sims,
        _fold_norms,
        _probe_cells,
        _require_nonzero_norms,
        _topk_of_pair_sims,
    )

    rows = [r for r in rows if r.vec_id is not None]  # the join drops them
    if not rows:
        return spark.createDataFrame([], _IVF_TOPK_SCHEMA)
    q_ids = np.array([r.vec_id for r in rows], dtype="int64")
    Q = np.stack([np.asarray(r.embedding, dtype="float64") for r in rows])
    q_norm = _fold_norms(Q, Q.shape[1])
    _require_nonzero_norms(q_norm, q_ids, "embedding")
    cell_ids, c_norm = snap["cell_ids"], snap["c_norm"]
    _require_nonzero_norms(c_norm, cell_ids, "centroid", key="cell_id")
    probing: dict = {}
    for qi, cells in enumerate(
        _probe_cells(Q, q_norm, snap["C"], c_norm, cell_ids, n_probe)
    ):
        for cid in cells:
            probing.setdefault(int(cid), []).append(qi)
    parts = [
        _cell_pair_sims(
            snap["cells"][cid],
            pd.DataFrame({"q_id": q_ids[qis], "q_emb": list(Q[qis])}),
            k=k,
        )
        for cid, qis in probing.items()
        if cid in snap["cells"]
    ]
    if not parts:
        return spark.createDataFrame([], _IVF_TOPK_SCHEMA)
    return spark.createDataFrame(
        _topk_of_pair_sims(pd.concat(parts, ignore_index=True), k),
        _IVF_TOPK_SCHEMA,
    )


def _assign_queries(queries: DataFrame, cents: DataFrame, n_probe: int) -> list:
    """``ivf_assign``'s (vec_id, cell_id) rows for the query frame, in one
    collect. A zero-norm query raises the resident serve's named
    ``ValueError`` instead of the HOF cosine's ``DIVIDE_BY_ZERO``
    (``n_probe > 1``) or a worker-wrapped error (``nearest_cells``): its
    rows skip the assignment and come back with a null cell_id."""
    from pulsar_replay_spark.functions.vectors import norm
    from pulsar_replay_spark.operators.similarity import _zero_norm_error

    zero = F.coalesce(norm(F.col("embedding")) == 0.0, F.lit(False))
    rows = (
        ivf_assign(queries.filter(~zero), cents, n_probe=n_probe)
        .unionByName(
            queries.filter(zero).select(
                "vec_id", F.lit(None).cast("long").alias("cell_id")
            )
        )
        .collect()
    )
    for r in rows:
        if r.cell_id is None:
            raise _zero_norm_error("embedding", r.vec_id)
    return rows


def ivf_topk_from_index(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """``ivf_topk`` served from the store — same output contract
    (q_id, neighbor_id, sim, rk), pinned byte-equal to the in-session
    ``ivf_topk`` over the same centroids, but the corpus scan is the
    PARTITION-PRUNED union of the queries' probed cells: the ≤|Q|·n_probe
    distinct cell ids (bounded collect) become a partition filter, the
    centroids ride in as the frozen artifact, and the stored (vec_id,
    cell_id) partition column IS the corpus assignment — the
    O(N·cells·dim) assignment never reruns at serve time.

    A store of at most ``resident.MAX_STORE_BYTES`` on disk, queried with
    at most ``resident.MAX_QUERY_ROWS`` rows, is served in process instead
    (``_resident_ivf_topk``): its centroids and latest-wins vectors load
    into driver memory once per store version (the job-free file listing,
    see ``operators/resident.py``), and each batch then costs one query
    collect plus the caller's action on the returned local frame. Rows and
    schema equal this Spark serve's (pinned in tests)."""
    version = resident.store_version(spark, store_dir)
    if version is not None and version[1] <= resident.MAX_STORE_BYTES:
        rows = resident.bounded_rows(queries, ["vec_id", "embedding"])
        if rows is not None:
            snap = resident.snapshot(
                ("ivf", store_dir),
                version,
                lambda: _ivf_snapshot(spark, store_dir),
            )
            return _resident_ivf_topk(spark, snap, rows, k, n_probe)
    cents = store_centroids(spark, store_dir)
    # r13 (guide §5): the query assignment is ≤ |Q|·n_probe rows — collect
    # it ONCE and rebuild the frame as a local relation instead of paying a
    # localCheckpoint job AND a distinct-collect job (two serial jobs → one;
    # the bounded-collect posture is unchanged, only the job count).
    assigned = _assign_queries(queries, cents, n_probe)
    cell_ids = sorted({r.cell_id for r in assigned})
    query_cells = spark.createDataFrame(
        [(r.vec_id, r.cell_id) for r in assigned], "vec_id long, cell_id long"
    )
    # r12 optimization: the store read already carries (vec_id, embedding,
    # cell_id) — hand it to ivf_topk whole (``corpus_assigned``) instead of
    # splitting into two projections that ivf_topk re-joined on vec_id,
    # which both re-executed the pruned store read twice and paid a
    # corpus-side self-join per serve. Output pinned byte-equal as before.
    vectors = _store_vectors_latest(
        spark, store_dir, cell_ids
    ).select("vec_id", "embedding", "cell_id")
    return ivf_topk(
        vectors.select("vec_id", "embedding"),  # recall-oracle/fallback arg
        queries,
        k=k,
        centroids=cents,
        query_cells=query_cells,
        corpus_assigned=vectors,
    )


def ivf_pq_topk_from_index(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 50,
) -> DataFrame:
    """``similarity.ivf_pq_topk`` served from a ``pq=True`` store — same
    output contract (q_id, neighbor_id, sim, rk), pinned byte-equal to the
    in-session path over the same frozen quantizer+codebooks, but the ADC
    scan is the PARTITION-PRUNED union of the probed cells' CODES
    partitions: 32× smaller bytes than the vectors (8 nibbles + a norm vs
    64 floats), times the n_probe/n_cells prune — the read profile that
    makes 100 TB serving a codes problem, not a vectors problem. Codes
    are stored bit-PACKED (one long per vector, ``_pack_codes``) and
    unpacked by pure JVM arithmetic at read. Full vectors are touched
    ONLY for the exact rerank tail: the checkpointed ≤ rerank·|Q|
    shortlist rides a broadcast left-semi join into the cell-pruned
    vectors read via ``rerank_source`` (r13 — previously a
    distinct-collect + giant isin literal, whose parquet pushdown
    degraded to a no-op min/max range for uniformly-spread ids anyway).

    Reads apply compact's latest-wins (see ``_store_latest``) to BOTH
    tables, so a re-ingested vector serves its current codes and current
    embedding before compaction."""
    from pulsar_replay_spark.operators.similarity import ivf_pq_topk

    meta = _store_meta(spark, store_dir)
    if meta is None:
        raise FileNotFoundError(f"no ivf store at {store_dir}")
    if not meta["pq"]:
        raise ValueError(
            f"ivf store at {store_dir} was built without pq=True — no "
            "codes/codebooks to serve ADC from (use ivf_topk_from_index, "
            "or rebuild with pq=True)"
        )
    cents = store_centroids(spark, store_dir)
    books = spark.read.parquet(f"{store_dir}/codebooks")
    # r13: one bounded collect replaces checkpoint + distinct-collect (see
    # ivf_topk_from_index) — the serve's serial job ladder loses a rung
    assigned = ivf_assign(queries, cents, n_probe=n_probe).collect()
    cell_ids = sorted({r.cell_id for r in assigned})
    query_cells = spark.createDataFrame(
        [(r.vec_id, r.cell_id) for r in assigned], "vec_id long, cell_id long"
    )
    codes = _store_latest(
        spark,
        store_dir,
        "codes",
        ["vec_id", "packed_codes", "approx_norm"],
        cell_ids,
    ).withColumn("codes", _unpack_codes(F.col("packed_codes")))
    idx = {
        "books": books,
        "codes": codes.select("vec_id", "codes", "approx_norm"),
        "cents": cents,
        "cells": codes.select("vec_id", "cell_id"),
    }

    def rerank_source(short: DataFrame) -> DataFrame:
        # the shortlist is ≤ rerank·|Q| rows, already checkpointed by the
        # caller — a BROADCAST LEFT-SEMI join restricts the (cell-pruned)
        # vectors scan to finalists. r13: this replaces a distinct-collect
        # job + a rerank·|Q|-literal isin filter (the giant In expression
        # cost more in plan build/codegen than its pushdown recovered —
        # parquet rewrites >10-value In filters to a min/max range, which
        # prunes nothing for uniformly-spread finalist ids; the cell_id
        # partition prune remains the real read bound).
        return (
            _store_vectors_latest(spark, store_dir, cell_ids)
            .join(
                F.broadcast(short.select("vec_id").distinct()),
                "vec_id",
                "left_semi",
            )
            .select("vec_id", "embedding")
        )

    # embeddings arg is only the rerank fallback; rerank_source overrides
    emb = _store_vectors_latest(spark, store_dir, cell_ids).select(
        "vec_id", "embedding"
    )
    return ivf_pq_topk(
        emb,
        queries,
        k=k,
        n_probe=n_probe,
        rerank=rerank,
        index=idx,
        rerank_source=rerank_source,
        query_cells=query_cells,
    )


def semantic_decontaminate_from_index(
    spark: SparkSession,
    store_dir: str,
    eval_embs: DataFrame,
    min_sim: float = 0.95,
    n_probe: int | None = None,
) -> DataFrame:
    """Dense decontamination served from the vector store — the embedding
    twin of ``retrieval.lexical_decontaminate_from_index``: flag every
    stored vector whose cosine to ANY eval embedding reaches ``min_sim``,
    one row per flagged doc with its strongest accusing eval —
    (doc_id, eval_id, sim). Threshold semantics, NOT top-k: a benchmark
    pasted into a thousand training docs flags all thousand.

    ``n_probe=None`` (default) scans every cell — EXACT decontamination
    (recall 1 within the store) at one full-store pass per eval batch,
    the posture a release gate wants. A bounded ``n_probe`` is the
    continuous-ingest posture: each eval probes only its nearest cells
    (partition-pruned scan), trading recall for a bounded read — a
    contaminated copy of an eval lands in the eval's OWN nearest cell
    (identical vector ⇒ identical assignment), so exact copies are
    always caught even at n_probe=1; only heavily-paraphrased
    contamination near a Voronoi boundary can slip a small probe.

    The pair scoring is the JVM HOF dot/norm form (eval suites are small
    → broadcast; candidates never shuffle)."""
    from pulsar_replay_spark.functions.vectors import dot, norm
    from pyspark.sql.window import Window

    cents = store_centroids(spark, store_dir)
    cell_ids = None
    if n_probe is not None:
        probe_cells = ivf_assign(eval_embs, cents, n_probe=n_probe)
        cell_ids = [
            r.cell_id for r in probe_cells.select("cell_id").distinct().collect()
        ]
    cand = (
        _store_vectors_latest(spark, store_dir, cell_ids)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").alias("d_emb"),
            norm(F.col("embedding")).alias("d_norm"),
        )
    )
    q = eval_embs.select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("q_emb"),
        norm(F.col("embedding")).alias("q_norm"),
    )
    hits = (
        cand.join(F.broadcast(q))
        .withColumn(
            "sim",
            F.round(
                dot(F.col("d_emb"), F.col("q_emb"))
                / (F.col("d_norm") * F.col("q_norm")),
                6,
            ),
        )
        .filter(F.col("sim") >= F.lit(float(min_sim)))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("sim"), "eval_id")
    return (
        hits.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") == 1)
        .select("doc_id", "eval_id", "sim")
    )


def ivf_store_compact(
    spark: SparkSession, store_dir: str, compact_dir: str
) -> None:
    """Fold accumulated batch_id partitions into the batch_id = -1 base:
    one row per vec_id survives, LATEST batch wins (a re-ingested vector
    supersedes its older copy — content-addressed ids make this the
    upsert), cell assignment recomputed against the FROZEN centroids is
    unnecessary — the stored cell_id rides along. Centroids + meta carry
    forward so the compacted store serves identically."""
    from pyspark.sql.window import Window

    if compact_dir == store_dir:
        raise ValueError("compact_dir must differ from store_dir")
    w = Window.partitionBy("vec_id").orderBy(F.desc("batch_id"))

    def fold(subdir: str, payload_cols: "list[str]") -> None:
        (
            spark.read.parquet(f"{store_dir}/{subdir}")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("vec_id", *payload_cols, "cell_id")
            .withColumn("batch_id", F.lit(BASE_BATCH_ID))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "cell_id")
            .parquet(f"{compact_dir}/{subdir}")
        )

    fold("vectors", ["embedding"])
    meta = _store_meta(spark, store_dir)
    if meta is not None and meta["pq"]:
        # codes fold with the SAME latest-wins; codebooks are a frozen
        # aggregate artifact like the centroids — carried, never refit
        fold("codes", ["packed_codes", "approx_norm"])
        spark.read.parquet(f"{store_dir}/codebooks").write.mode(
            "overwrite"
        ).parquet(f"{compact_dir}/codebooks")
    spark.read.parquet(f"{store_dir}/centroids").write.mode(
        "overwrite"
    ).parquet(f"{compact_dir}/centroids")
    spark.read.parquet(f"{store_dir}/meta").write.mode("overwrite").parquet(
        f"{compact_dir}/meta"
    )


def ivf_store_cohesion(spark: SparkSession, store_dir: str) -> DataFrame:
    """1-row (n_vecs, avg_cos) of the STORE's vectors against its frozen
    centroids — the retrain signal for the expire path: centroids are an
    aggregate artifact deletion does not touch, so after a large expiry
    (or a drifting ingest) run this and compare against the build-time
    value; a material drop means the Voronoi geometry no longer fits the
    retained corpus and recall decays silently — rebuild into a fresh
    store. Cost = one assignment pass over the store (the same
    O(N·cells·dim) the build paid once)."""
    from pulsar_replay_spark.operators.similarity import assignment_cohesion

    vectors = _store_vectors_latest(spark, store_dir).select(
        "vec_id", "embedding"
    )
    return assignment_cohesion(vectors, store_centroids(spark, store_dir))


def ivf_store_retrain(
    spark: SparkSession,
    store_dir: str,
    out_dir: str,
    n_cells: "int | None" = None,
    kmeans_iters: int = 2,
    pq_iters: int = 1,
) -> None:
    """The ACTION the ``ivf_store_cohesion`` signal calls for — the
    lifecycle's last edge (build → ingest → drift detected → retrain →
    swap directories): rebuild the quantizer from the CURRENT retained
    corpus (latest-wins fold of the vectors) and re-bucket everything
    into a fresh store at ``out_dir``. Centroids — and codebooks, for a
    pq store — RE-TRAIN on today's distribution instead of the frozen
    build-day one; every vector re-assigns; the result lands as the
    batch_id = -1 base of a store that serves exactly like a fresh
    ``ivf_index_build`` over the folded vectors (it IS one — pinned in
    tests). ``n_cells`` defaults to the √N rule on the RETAINED count,
    so a heavily-expired store's geometry follows its new size.
    ``kmeans_iters`` defaults to 2 Lloyd rounds — the deterministic
    lowest-id seed alone reproduces the OLD geometry on the same ids
    (a retrain that doesn't refine changes nothing); refinement is what
    moves the centroids onto today's distribution. Cost = one quantizer
    train + one assignment pass — what the cohesion docstring prices;
    serve from the old store until the swap."""
    meta = _store_meta(spark, store_dir)
    if meta is None:
        raise FileNotFoundError(f"no ivf store at {store_dir}")
    if out_dir == store_dir:
        raise ValueError("out_dir must differ from store_dir")
    vectors = (
        _store_vectors_latest(spark, store_dir)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    ivf_index_build(
        vectors,
        out_dir,
        n_cells=n_cells,
        kmeans_iters=kmeans_iters,
        pq=meta["pq"],
        pq_iters=pq_iters,
    )


def ivf_store_expire(
    spark: SparkSession, store_dir: str, out_dir: str, drop_ids: DataFrame
) -> None:
    """Deletion / right-to-be-forgotten: dropped vec_ids leave the store,
    so it derives from exactly the retained corpus. Folds to the base
    partition like compact; centroids stay frozen (they are an aggregate
    artifact, not per-vector derived rows — re-train via a fresh build if
    the deletion is large enough to shift cells)."""
    if out_dir == store_dir:
        raise ValueError("out_dir must differ from store_dir")
    drop = drop_ids.select("vec_id").distinct().localCheckpoint(eager=True)
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("batch_id"))

    def fold_out(subdir: str, payload_cols: "list[str]") -> None:
        (
            spark.read.parquet(f"{store_dir}/{subdir}")
            .join(F.broadcast(drop), "vec_id", "left_anti")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("vec_id", *payload_cols, "cell_id")
            .withColumn("batch_id", F.lit(BASE_BATCH_ID))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "cell_id")
            .parquet(f"{out_dir}/{subdir}")
        )

    fold_out("vectors", ["embedding"])
    meta = _store_meta(spark, store_dir)
    if meta is not None and meta["pq"]:
        # a dropped vec_id's CODES are derived per-vector rows — RTBF
        # removes them too; codebooks are aggregates (like centroids) and
        # carry (re-train via a fresh pq build if the deletion is large)
        fold_out("codes", ["packed_codes", "approx_norm"])
        spark.read.parquet(f"{store_dir}/codebooks").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/codebooks")
    spark.read.parquet(f"{store_dir}/centroids").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/centroids")
    spark.read.parquet(f"{store_dir}/meta").write.mode("overwrite").parquet(
        f"{out_dir}/meta"
    )
