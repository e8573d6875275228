"""Multimodal columns: media as an opaque ``binary`` payload plus typed
metadata, video frame sampling, and perceptual (dHash) image dedup.

The Spark-side plumbing is real — schema, partition-friendly batch iteration,
Arrow-batched ``mapInPandas`` signatures — while the media decode is a
deterministic fake (the engine ships no image/video decoder): frames are
byte slices of the payload and thumbnails are nearest-sampled from them, so
tests can pin the pipeline shape end-to-end.

At scale: media blobs ride in parquet binary columns; decode runs as
``mapInPandas`` (one Arrow batch per call — the batch, not the row, is the
unit of Python overhead), and signature outputs are small fixed-width
columns so downstream joins/aggs never shuffle raw bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def as_media(docs: DataFrame) -> DataFrame:
    """Model documents as media rows: an opaque binary payload plus typed
    metadata (media_type derived deterministically for fixtures)."""
    raw = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        raw.alias("payload"),
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
            ((F.col("doc_id") % 3) + 1).cast("int"),
        ).alias("media_type"),
        F.octet_length(raw).alias("byte_len"),
        F.sha2(raw, 256).alias("sha256"),
    )


FRAME_SCHEMA = "doc_id long, frame_idx int, offset_ms long, frame_bytes binary"


def frame_sample(
    media: DataFrame, n_frames: int = 4, frame_len: int = 16
) -> DataFrame:
    """Video frame sampling: N evenly-spaced frames per payload — the 1→N
    mapInPandas shape (each input row yields n_frames output rows inside the
    same Arrow batch; no explode of raw bytes through a shuffle).

    The seek+decode is a deterministic fake: frames are byte slices
    (``frame_len`` bytes at each offset — the oracle-pinned contract
    default is 16; perceptual-dedup tests use wider slices so the dHash
    grid has real structure to hash), so the row-multiplication plumbing is
    pinned end-to-end.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "offset_ms": [], "frame_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                dur_ms = max(len(raw), 1)  # fake: 1 ms per byte
                for i in range(n_frames):
                    off = (i * dur_ms) // n_frames
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["offset_ms"].append(off)
                    out["frame_bytes"].append(raw[off : off + frame_len])
            yield pd.DataFrame(out)

    return (
        media.filter(F.col("media_type").startswith("video/"))
        .select("doc_id", "payload")
        .mapInPandas(run, schema=FRAME_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Perceptual (near-duplicate) image/frame dedup: dHash over the thumbnail
# grid + the banded hamming equi-join the text side already owns. An exact
# byte hash collapses identical frames only — one pixel of re-encode noise
# defeats it; the dHash signature is stable under small pixel nudges
# because each bit is a SIGN of an adjacent-cell luminance difference, and
# candidate generation reuses dedup.banded_hamming_pairs (pigeonhole blocks,
# never all-pairs).
# ---------------------------------------------------------------------------

DHASH_GRID = 8
DHASH_BITS = DHASH_GRID * (DHASH_GRID - 1)  # 56: row-adjacent comparisons
FRAME_THUMB_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, thumb binary"
)
DHASH_SCHEMA = "doc_id long, simhash long"


def _dhash_bytes(thumb: bytes, width: int, height: int, grid: int = DHASH_GRID) -> int:
    """Pure dHash of one thumbnail buffer: grayscale the pixels (channel
    mean; channel count inferred from len/(w·h)), block-mean down to a
    grid×grid luminance grid, then bit (r, c) = [cell(r,c) < cell(r,c+1)] —
    grid·(grid−1) bits packed little-endian. Module-level and numpy-only so
    the Spark kernel and the test oracle share nothing but this contract."""
    import numpy as np

    if width <= 0 or height <= 0:
        raise ValueError(f"bad thumb dims {width}x{height}")
    npx = width * height
    arr = np.frombuffer(bytes(thumb), dtype=np.uint8)
    channels = len(arr) // npx
    if channels < 1 or len(arr) != npx * channels:
        raise ValueError(
            f"thumb byte length {len(arr)} is not a multiple of {width}x{height}"
        )
    gray = arr.reshape(height, width, channels).mean(axis=2, dtype=np.float64)
    r_idx = (np.arange(height) * grid) // height
    c_idx = (np.arange(width) * grid) // width
    sums = np.zeros((grid, grid))
    counts = np.zeros((grid, grid))
    np.add.at(sums, (r_idx[:, None], c_idx[None, :]), gray)
    np.add.at(counts, (r_idx[:, None], c_idx[None, :]), 1.0)
    # thumbnails smaller than the grid leave empty cells: repeat-sample the
    # nearest populated source row/col instead (deterministic, no NaNs)
    cells = np.divide(sums, counts, out=np.zeros((grid, grid)), where=counts > 0)
    if (counts == 0).any():
        src_r = np.minimum((np.arange(grid) * height) // grid, height - 1)
        src_c = np.minimum((np.arange(grid) * width) // grid, width - 1)
        cells = gray[src_r[:, None], src_c[None, :]]
    sig = 0
    for r in range(grid):
        for c in range(grid - 1):
            if cells[r, c] < cells[r, c + 1]:
                sig |= 1 << (r * (grid - 1) + c)
    return sig


def dhash_signatures(thumbs: DataFrame, grid: int = DHASH_GRID) -> DataFrame:
    """(doc_id, simhash): the dHash of every thumbnail row — Arrow-batched,
    column-named to feed ``dedup.banded_hamming_pairs`` directly. Expects
    (doc_id, width, height, thumb) rows, e.g. ``frame_thumbs`` output
    re-keyed upstream."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "simhash": [
                        _dhash_bytes(bytes(t), int(w), int(h), grid)
                        for t, w, h in zip(pdf["thumb"], pdf["width"], pdf["height"])
                    ],
                }
            )

    return thumbs.select("doc_id", "width", "height", "thumb").mapInPandas(
        run, schema=DHASH_SCHEMA
    )


def dhash_signatures_wide(thumbs: DataFrame, grid: int) -> DataFrame:
    """(doc_id, sig array<long>): wide-grid dHash — grid·(grid−1) bits
    packed little-endian into 60-bit words (``dedup.pack_sig_words``), the
    multi-long mitigation the 56-bit selectivity ceiling documents. Same
    ``_dhash_bytes`` math (python ints are arbitrary-width); only the
    packing differs from ``dhash_signatures``."""
    from pulsar_replay_spark.operators.dedup import pack_sig_words

    bits = grid * (grid - 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sig": [
                        pack_sig_words(
                            _dhash_bytes(bytes(t), int(w), int(h), grid), bits
                        )
                        for t, w, h in zip(pdf["thumb"], pdf["width"], pdf["height"])
                    ],
                }
            )

    return thumbs.select("doc_id", "width", "height", "thumb").mapInPandas(
        run, schema="doc_id long, sig array<long>"
    )


def image_near_dup_pairs(
    thumbs: DataFrame, max_hamming: int = 4, grid: int = DHASH_GRID
) -> DataFrame:
    """(doc_a, doc_b, hamming): thumbnail pairs within ``max_hamming`` dHash
    bits — re-encoded/nudged image clones collide (sign bits survive small
    luminance noise), distinct images land ~grid²/2 bits apart. Candidates
    come from the pigeonhole banded equi-join (``banded_hamming_pairs``);
    nothing all-pairs ever runs.

    Selectivity ceiling (the SimHash family's bits≤60 story, same math):
    the 56-bit signature splits into max_hamming+1 blocks, so at k=4 each
    block key carries 11 bits — per-block bucket population ~N/2048. That
    is fine through hundreds of millions of images; at billions, run the
    EXACT sha256 dedup first, lower the radius (k=3 gives 14-bit blocks,
    8× finer buckets), or raise ``grid`` — grids wider than 8 route
    automatically to the multi-word signature path
    (``dedup.banded_hamming_pairs_multi``: array<long> signatures, same
    pigeonhole join; grid=12 → 132 bits → 26-bit block keys at k=4,
    ~32,000× finer buckets than the 8-grid)."""
    from pulsar_replay_spark.operators.dedup import (
        banded_hamming_pairs,
        banded_hamming_pairs_multi,
    )

    bits = grid * (grid - 1)
    if bits <= 60:
        sigs = dhash_signatures(thumbs, grid).localCheckpoint(eager=True)
        return banded_hamming_pairs(sigs, max_hamming, bits)
    sigs = dhash_signatures_wide(thumbs, grid).localCheckpoint(eager=True)
    return banded_hamming_pairs_multi(sigs, max_hamming, bits)


def frame_thumbs(
    frames: DataFrame, width: int = 8, height: int = 8
) -> DataFrame:
    """Per-frame grayscale thumbnails keyed by (doc_id, frame_idx) — the
    resize step feeding the dHash signatures.

    The deterministic fake resize is LOCALITY-PRESERVING (a hash fold's
    avalanche would erase similarity): the frame's byte stream is
    nearest-sampled down/up to width·height gray pixels, so a few nudged
    payload bytes move a few pixels — letting the perceptual semantics be
    tested end-to-end without a decoder."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        npx = width * height
        for pdf in batches:
            thumbs = []
            for p in pdf["frame_bytes"]:
                raw = bytes(p)
                if len(raw) == 0:
                    thumbs.append(bytes(npx))
                    continue
                buf = np.frombuffer(raw, dtype=np.uint8)
                idx = (np.arange(npx) * len(buf)) // npx
                thumbs.append(buf[idx].tobytes())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "frame_idx": pdf["frame_idx"],
                    "width": width,
                    "height": height,
                    "thumb": thumbs,
                }
            )

    return frames.select("doc_id", "frame_idx", "frame_bytes").mapInPandas(
        run, schema=FRAME_THUMB_SCHEMA
    )
