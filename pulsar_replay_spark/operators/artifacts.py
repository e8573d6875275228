"""Model-artifact persistence: every build-once index/model in the engine
(IVF coarse quantizer, PQ index, DSIR ratio table, PCA model, Bloom
filter) saved to and loaded from a plain parquet directory layout.

This is the production seam the serving operators document ("at 100 TB the
index lives as a parquet artifact; the localCheckpoint is the in-session
analogue"): build on the slow path, persist, and serve any number of
query batches / streaming micro-batches from the immutable load. Parquet
(not pickle) so artifacts are engine-portable, schema-checked, and
partition-prunable; scalar metadata rides a one-row ``_meta`` table.

Layout: ``<dir>/<piece>`` is one parquet dataset per DataFrame piece plus
``<dir>/_meta`` for scalars. Loads return the same shapes the builders
produce, eagerly pinned (``localCheckpoint``) like the builders pin their
outputs, so serving plans scan a materialized artifact either way.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _read(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).localCheckpoint(eager=True)


# --- IVF coarse quantizer (centroids + cell assignment) --------------------


def save_ivf_index(centroids: DataFrame, corpus_cells: DataFrame, path: str) -> None:
    _write(centroids, f"{path}/centroids")
    _write(corpus_cells, f"{path}/cells")


def load_ivf_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, corpus_cells) — feed straight into
    ``similarity.ivf_topk(centroids=…, corpus_cells=…)``."""
    return _read(spark, f"{path}/centroids"), _read(spark, f"{path}/cells")


# --- PQ index (codebooks + codes + coarse quantizer) -----------------------


def save_pq_index(index: dict, path: str) -> None:
    for piece in ("books", "codes", "cents", "cells"):
        _write(index[piece], f"{path}/{piece}")


def load_pq_index(spark: SparkSession, path: str) -> dict:
    """The ``similarity.pq_index`` dict, reloaded — serve with
    ``similarity.ivf_pq_topk(index=…)``."""
    return {
        piece: _read(spark, f"{path}/{piece}")
        for piece in ("books", "codes", "cents", "cells")
    }


# --- DSIR ratio model ------------------------------------------------------


def save_dsir_model(ratio: DataFrame, default: float, path: str) -> None:
    _write(ratio, f"{path}/ratio")
    spark = ratio.sparkSession
    _write(
        spark.createDataFrame([(float(default),)], "default double"),
        f"{path}/_meta",
    )


def load_dsir_model(spark: SparkSession, path: str) -> tuple[DataFrame, float]:
    """(ratio, default) — feed straight into ``curation.dsir_score`` or
    ``streaming.pipelines.dsir_scoring_sink``."""
    ratio = _read(spark, f"{path}/ratio")
    default = spark.read.parquet(f"{path}/_meta").first()["default"]
    return ratio, default


# --- PCA model -------------------------------------------------------------


def save_pca_model(spark: SparkSession, model: dict, path: str) -> None:
    k, dim = model["components"].shape
    df = spark.createDataFrame(
        [
            (
                int(model["n"]),
                bool(model["whiten"]),
                [float(v) for v in model["mean"]],
                [float(v) for v in model["eigvals"]],
                [float(v) for v in model["explained_var_ratio"]],
                [float(v) for v in model["components"].ravel()],
                int(k),
                int(dim),
            )
        ],
        "n long, whiten boolean, mean array<double>, eigvals array<double>, "
        "evr array<double>, components array<double>, k int, dim int",
    )
    _write(df, f"{path}/_meta")


def load_pca_model(spark: SparkSession, path: str) -> dict:
    """The ``pca.pca_fit`` dict, reloaded — feed straight into
    ``pca.pca_project``."""
    r = spark.read.parquet(f"{path}/_meta").first()
    return {
        "n": r.n,
        "mean": np.asarray(r.mean),
        "components": np.asarray(r.components).reshape(r.k, r.dim),
        "eigvals": np.asarray(r.eigvals),
        "explained_var_ratio": np.asarray(r.evr),
        "whiten": r.whiten,
    }


# --- Bloom filter (history-membership state) -------------------------------


def save_bloom(spark: SparkSession, bitmap: bytes, n_hashes: int, path: str) -> None:
    """The filter is one binary blob + its hash count; stored as a one-row
    table so it lives next to the other artifacts (and ORs with a re-built
    filter on merge, should the caller shard by ingest era)."""
    _write(
        spark.createDataFrame([(bitmap, n_hashes)], "bitmap binary, n_hashes int"),
        f"{path}/bloom",
    )


def load_bloom(spark: SparkSession, path: str) -> tuple[bytes, int]:
    row = spark.read.parquet(f"{path}/bloom").first()
    return bytes(row["bitmap"]), row["n_hashes"]
