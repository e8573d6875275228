"""Sequence packing: documents → fixed-token training sequences.

The step between a deduplicated corpus and a training run: concatenate
documents into sequences of exactly ``seq_len`` tokens (GPT-style
concat-and-cut) or greedily bin whole documents without splitting
(first-fit by order, padding-minimizing). Neither exists in the reference
(its payloads are opaque messages, `pulsar_inspector.py` never tokenizes);
both are core to the 100 TB training-data story the engine targets.

Scale shape: packing is inherently sequential *within* an output shard
(each document's placement depends on every predecessor's length), so the
distributed formulation shards the corpus first — md5(doc_id)-derived shard
keys, deterministic under retries/repartitioning like every other hash in
the engine — and packs shards independently:

- ``pack_token_stream``: pure-JVM window cumsum per shard (whole-stage
  codegen, no Python). The window partitions on ``shard`` — NEVER a global
  single-partition sort; 100 TB is ``n_shards`` independent sorts of
  corpus/n_shards tokens each, and ``n_shards`` scales with the cluster.
- ``pack_greedy``: per-shard Arrow batch via ``applyInPandas`` (the greedy
  scan is a per-group loop, the sanctioned Python seam — one batch per
  shard, not per row). At 100 TB a shard must fit an Arrow batch: pick
  ``n_shards`` so corpus/n_shards ≈ 10⁵ docs (metadata only — doc_id +
  token count, never text).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pulsar_replay_spark.functions.text import token_count


def _sharded_lengths(docs: DataFrame, n_shards: int) -> DataFrame:
    """(doc_id, shard, n_tokens): hex-prefix shard key — identical
    arithmetic in DuckDB (substr(md5(..),1,2)), uniform by construction —
    and the whitespace token count of ``text``."""
    shard = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int") % n_shards
    return docs.select(
        "doc_id",
        shard.alias("shard"),
        token_count(F.col("text")).alias("n_tokens"),
    )


def pack_token_stream(
    docs: DataFrame, seq_len: int = 512, n_shards: int = 16
) -> DataFrame:
    """Concat-and-cut packing: within each shard, documents concatenate in
    doc_id order into one token stream cut every ``seq_len`` tokens.

    Returns one row per document: its half-open token span
    [``start_tok``, ``end_tok``) in the shard stream and the sequence ids
    containing its first/last token (``first_seq``/``last_seq``; a document
    straddles a cut when they differ — the trainer splits it there).
    Sequences are exactly ``seq_len`` tokens except each shard's tail.
    """
    lens = _sharded_lengths(docs, n_shards)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    end = F.sum("n_tokens").over(w)
    return lens.select(
        "doc_id",
        "shard",
        "n_tokens",
        (end - F.col("n_tokens")).alias("start_tok"),
        end.alias("end_tok"),
        F.floor((end - F.col("n_tokens")) / seq_len).cast("bigint").alias("first_seq"),
        F.floor((end - 1) / seq_len).cast("bigint").alias("last_seq"),
    )


def pack_greedy(docs: DataFrame, seq_len: int = 512, n_shards: int = 16) -> DataFrame:
    """No-split packing: scan each shard in doc_id order, appending each
    document to the current sequence unless it would overflow ``seq_len``,
    then start the next (documents longer than ``seq_len`` get a sequence
    of their own). Returns (doc_id, shard, n_tokens, seq_id, tok_offset).

    First-fit-by-order, not best-fit: placement depends only on the ordered
    prefix, so output is deterministic and stable as the corpus grows —
    appending new doc_ids never repacks old ones within a shard epoch.
    """
    out_schema = (
        "doc_id bigint, shard int, n_tokens int, seq_id bigint, tok_offset bigint"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq_ids, offsets = [], []
        seq_id, fill = 0, 0
        for n in pdf["n_tokens"]:
            if fill > 0 and fill + n > seq_len:
                seq_id += 1
                fill = 0
            seq_ids.append(seq_id)
            offsets.append(fill)
            fill += n
            if fill >= seq_len:
                seq_id += 1
                fill = 0
        pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
        pdf["tok_offset"] = pd.Series(offsets, dtype="int64")
        return pdf

    return (
        _sharded_lengths(docs, n_shards)
        .groupBy("shard")
        .applyInPandas(pack, schema=out_schema)
    )


def packing_stats(packed: DataFrame, seq_len: int) -> DataFrame:
    """Per-shard packing quality for ``pack_greedy`` output: sequences
    produced, mean fill ratio, and padding fraction — the number the
    packing exists to minimize."""
    per_seq = packed.groupBy("shard", "seq_id").agg(
        F.sum("n_tokens").alias("seq_tokens"),
        F.count("*").alias("n_docs"),
    )
    capped = F.least(F.col("seq_tokens"), F.lit(seq_len))
    return per_seq.groupBy("shard").agg(
        F.count("*").alias("n_seqs"),
        F.sum("n_docs").alias("n_docs"),
        F.round(F.avg(capped / F.lit(seq_len)), 4).alias("avg_fill"),
        F.round(
            1 - F.sum(capped) / (F.count("*") * F.lit(seq_len)), 4
        ).alias("padding_frac"),
    )


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 16,
    order_col: str = "doc_id",
    max_records_per_file: int = 0,
    shuffle_salt: str | None = None,
) -> None:
    """Deterministic sharded export — the dataset layout trainers consume.

    Shard assignment is the same md5 deal the packers use (a pure function
    of doc_id — stable across re-runs, retries, and cluster sizes), rows
    inside each shard file are in ``order_col`` order, and each shard is one
    ``shard=k`` parquet partition directory. One repartition on the shard
    key + sortWithinPartitions — never a global sort: shards write in
    parallel, and the per-file row order is the per-task sort order, so the
    bytes a trainer streams are reproducible. ``max_records_per_file``
    splits oversized shards into sequentially-named files whose
    lexicographic order preserves the sort (left at 0 = one file per shard
    per task).

    This is the batch twin of the reference's per-topic backup-file layout
    (pulsar_backup_restore.py:146-183: one ordered JSON file per topic) at
    training-corpus scale.

    ``shuffle_salt`` switches the within-shard order from ``order_col`` to
    md5(salt ‖ id) — epoch reshuffling: a new salt per epoch re-deals the
    read order deterministically while shard ASSIGNMENT (and therefore data
    placement) never moves. The sort key is a pure expression, so the
    written schema is unchanged.
    """
    shard = F.conv(
        F.substring(F.md5(F.col(order_col).cast("string")), 1, 2), 16, 10
    ).cast("int") % n_shards
    order_key = (
        F.md5(F.concat(F.lit(shuffle_salt), F.col(order_col).cast("string")))
        if shuffle_salt is not None
        else F.col(order_col)
    )
    writer = (
        docs.withColumn("shard", shard)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", order_key)
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(out_dir)


def length_bucketed_batches(
    docs: DataFrame,
    batch_size: int = 32,
    band: int = 16,
    n_shards: int = 4,
) -> DataFrame:
    """Inference/eval batching that minimizes padding waste: group documents
    of similar token length into fixed-size batches, so each batch pads only
    to ITS max length instead of the corpus max (the dynamic-batching step
    every serving/eval harness runs before a forward pass).

    Scale shape: a global length sort would single-thread the corpus, so
    documents first key by (length band, md5 sub-shard) — the window sorts
    only within one band×shard cell, and padding waste stays bounded by the
    band width per document REGARDLESS of sharding (every batch's lengths
    differ by < ``band`` tokens, except a cell's ragged tail batch). Batch
    ids are globally unique via the (band, shard) prefix; assignment is an
    md5-deterministic pure function of the input (retry/repartition-stable).

    Returns (doc_id, n_tokens, band, shard, batch_id, pos_in_batch).
    """
    lens = _sharded_lengths(docs, n_shards)
    banded = lens.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("n_tokens") / band).cast("int").alias("band"),
        "shard",
    )
    w = Window.partitionBy("band", "shard").orderBy("n_tokens", "doc_id")
    rn = F.row_number().over(w) - 1
    return banded.select(
        "doc_id",
        "n_tokens",
        "band",
        "shard",
        F.concat_ws(
            "-",
            F.col("band").cast("string"),
            F.col("shard").cast("string"),
            F.floor(rn / batch_size).cast("string"),
        ).alias("batch_id"),
        (rn % batch_size).cast("int").alias("pos_in_batch"),
    )


def batching_stats(batches: DataFrame, batch_size: int = 32) -> DataFrame:
    """One row per batch: docs, max_len (the pad target), padding_tokens,
    fill_ratio — the padding-waste report a serving harness watches. A
    |batches|-key aggregate (map-side combined)."""
    return batches.groupBy("batch_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.max("n_tokens").alias("max_len"),
        (F.max("n_tokens") * F.count("*") - F.sum("n_tokens"))
        .cast("bigint")
        .alias("padding_tokens"),
        F.round(F.sum("n_tokens") / (F.max("n_tokens") * F.count("*")), 6).alias(
            "fill_ratio"
        ),
    )
