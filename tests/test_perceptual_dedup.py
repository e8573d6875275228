"""Perceptual (near-dup) image dedup: dHash signatures + banded hamming
pairs.

An exact byte hash collapses identical images only — one pixel of
re-encode noise defeats it. These tests pin (a) the dHash kernel against
an INDEPENDENT naive python oracle, (b) planted nudged-clone pairing /
distinct survival semantics at the thumb level, (c) the no-cartesian
candidate plan, (d) the locality-preserving fake frame resize, and (e) the
wide-grid multi-word signature path.
"""

from __future__ import annotations

import numpy as np
import pytest

from pulsar_replay_spark.operators import multimodal as mm


def _oracle_dhash(thumb: bytes, width: int, height: int, grid: int) -> int:
    """Naive double-loop re-derivation of the dHash contract (no shared
    code with the kernel beyond the docstring's math)."""
    arr = np.frombuffer(thumb, dtype=np.uint8).astype(float)
    ch = len(arr) // (width * height)
    gray = arr.reshape(height, width, ch).mean(axis=2)
    cells = np.zeros((grid, grid))
    if height >= grid and width >= grid:
        for r in range(grid):
            for c in range(grid):
                rs = [i for i in range(height) if (i * grid) // height == r]
                cs = [j for j in range(width) if (j * grid) // width == c]
                cells[r, c] = np.mean([gray[i, j] for i in rs for j in cs])
    else:
        for r in range(grid):
            for c in range(grid):
                cells[r, c] = gray[
                    min((r * height) // grid, height - 1),
                    min((c * width) // grid, width - 1),
                ]
    sig = 0
    for r in range(grid):
        for c in range(grid - 1):
            if cells[r, c] < cells[r, c + 1]:
                sig |= 1 << (r * (grid - 1) + c)
    return sig


def _gradient_thumb(seed: int, w: int = 16, h: int = 16, channels: int = 1) -> bytes:
    """Strong-gradient image: adjacent-cell luminance differences are large,
    so ±2 pixel noise can never flip a dHash sign bit."""
    rng = np.random.default_rng(seed)
    base = (np.arange(h)[:, None] * 29 + np.arange(w)[None, :] * 37) % 200
    img = (base + rng.integers(0, 3, size=(h, w))).astype(np.uint8)
    if channels > 1:
        img = np.repeat(img[:, :, None], channels, axis=2)
    return img.tobytes()


def _nudge(thumb: bytes, seed: int, amp: int = 2) -> bytes:
    rng = np.random.default_rng(seed)
    arr = np.frombuffer(thumb, dtype=np.uint8).astype(int)
    noisy = np.clip(arr + rng.integers(-amp, amp + 1, size=arr.shape), 0, 255)
    return noisy.astype(np.uint8).tobytes()


def _thumb_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, width int, height int, thumb binary"
    )


def test_dhash_matches_independent_oracle(spark):
    """Spark kernel output == naive oracle for grayscale and RGB thumbs,
    exact-divisible and ragged grid mappings, and tiny sub-grid thumbs."""
    cases = []
    rng = np.random.default_rng(11)
    for i, (w, h, ch) in enumerate(
        [(16, 16, 1), (16, 16, 3), (13, 9, 1), (32, 8, 3), (4, 4, 1)]
    ):
        cases.append((i, w, h, rng.integers(0, 256, size=w * h * ch).astype(np.uint8).tobytes()))
    df = _thumb_df(spark, [(i, w, h, t) for i, w, h, t in cases])
    got = {r["doc_id"]: r["simhash"] for r in mm.dhash_signatures(df).collect()}
    for i, w, h, t in cases:
        assert got[i] == _oracle_dhash(t, w, h, mm.DHASH_GRID), (i, w, h)


def test_dhash_bytes_validates_input():
    with pytest.raises(ValueError, match="not a multiple"):
        mm._dhash_bytes(b"\x00" * 7, 4, 4)
    with pytest.raises(ValueError, match="bad thumb dims"):
        mm._dhash_bytes(b"", 0, 4)


def test_image_near_dup_pairs_planted_clones_collapse(spark):
    """Nudged clones (±2 pixel noise on a strong-gradient image) pair up
    within the hamming radius; independent images never pair; the candidate
    plan is the banded equi-join, not a cross product."""
    base0, base1 = _gradient_thumb(0), _gradient_thumb(1, w=13, h=9)
    rng_imgs = [
        np.random.default_rng(100 + i).integers(0, 256, size=16 * 16).astype(np.uint8).tobytes()
        for i in range(4)
    ]
    rows = [
        (0, 16, 16, base0),
        (1, 16, 16, _nudge(base0, 7)),
        (2, 16, 16, _nudge(base0, 8)),
        (10, 13, 9, base1),
        (11, 13, 9, _nudge(base1, 9)),
        (20, 16, 16, rng_imgs[0]),
        (21, 16, 16, rng_imgs[1]),
        (22, 16, 16, rng_imgs[2]),
        (23, 16, 16, rng_imgs[3]),
    ]
    df = _thumb_df(spark, rows)
    pairs_df = mm.image_near_dup_pairs(df, max_hamming=4)
    plan = pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    pairs = {(r["doc_a"], r["doc_b"]) for r in pairs_df.collect()}
    assert {(0, 1), (0, 2), (1, 2), (10, 11)} <= pairs
    clone_ids = {0, 1, 2} | {10, 11}
    for a, b in pairs:
        assert not ({a, b} & {20, 21, 22, 23}), f"independent image paired: {(a, b)}"
        assert ({a, b} <= {0, 1, 2}) or ({a, b} <= {10, 11}), (a, b)
    assert clone_ids is not None


def test_frame_thumbs_fake_is_locality_preserving_and_sized(spark):
    frames = spark.createDataFrame(
        [(1, 0, 0, bytes(range(64))), (1, 1, 0, b""), (2, 0, 0, b"\x10")],
        "doc_id long, frame_idx int, offset_ms long, frame_bytes binary",
    )
    rows = {(r["doc_id"], r["frame_idx"]): bytes(r["thumb"]) for r in
            mm.frame_thumbs(frames, width=8, height=8).collect()}
    assert all(len(t) == 64 for t in rows.values())
    assert rows[(1, 1)] == bytes(64)  # empty payload -> zero thumb
    assert rows[(2, 0)] == b"\x10" * 64  # single byte repeats (nearest sample)
    # nearest-sampling of 0..63 into 64 slots is the identity
    assert rows[(1, 0)] == bytes(range(64))


def test_dhash_invariances_property():
    """The properties the perceptual claim rests on, fuzzed: (1) an RGB
    image with equal channels hashes identically to its grayscale twin
    (channel-mean), (2) a uniform brightness shift never flips a bit (sign
    of adjacent-cell DIFFERENCES), (3) the hash is total on arbitrary sizes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(2, 24),
        st.integers(2, 24),
        st.integers(0, 2**32 - 1),
        st.integers(1, 30),
    )
    def fuzz(w, h, seed, shift):
        rng = np.random.default_rng(seed)
        gray = rng.integers(0, 200, size=(h, w)).astype(np.uint8)
        sig = mm._dhash_bytes(gray.tobytes(), w, h)
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        assert mm._dhash_bytes(rgb.tobytes(), w, h) == sig
        brighter = (gray.astype(int) + shift).clip(0, 255).astype(np.uint8)
        if (gray.astype(int) + shift).max() <= 255:  # no clipping
            assert mm._dhash_bytes(brighter.tobytes(), w, h) == sig
        assert 0 <= sig < 1 << mm.DHASH_BITS

    fuzz()


def test_multi_word_blocks_match_python_bit_slicing(spark):
    """Spark-side block extraction (two shifts + OR across a straddled word
    boundary) == naive python bit slicing of the same wide signature, for
    every block, over random signatures."""
    from pulsar_replay_spark.operators.dedup import (
        SIG_WORD_BITS,
        _multi_word_blocks,
        pack_sig_words,
    )

    bits, k = 132, 4  # grid=12; width=26 — blocks 2 and 4 straddle words
    width = bits // (k + 1)
    rng = np.random.default_rng(12)
    sigs = [int.from_bytes(rng.bytes(17), "little") % (1 << bits) for _ in range(50)]
    df = spark.createDataFrame(
        [(i, pack_sig_words(s, bits)) for i, s in enumerate(sigs)],
        "doc_id long, sig array<long>",
    )
    got = {
        (r["doc_id"], r["blk"]): r["val"]
        for r in _multi_word_blocks(df, k, bits).collect()
    }
    for i, s in enumerate(sigs):
        for b in range(k + 1):
            want = (s >> (b * width)) & ((1 << width) - 1)
            assert got[(i, b)] == want, (i, b)
    assert SIG_WORD_BITS == 60


def test_wide_dhash_matches_oracle_and_routes_multi(spark):
    """grid=12 signatures equal the python oracle word-for-word; the wide
    pair path finds exactly the oracle's all-pairs hamming≤k set; the plan
    is still the banded equi-join (no cartesian)."""
    from pulsar_replay_spark.operators.dedup import pack_sig_words

    grid, k = 12, 4
    bits = grid * (grid - 1)
    base0, base1 = _gradient_thumb(21, w=24, h=24), _gradient_thumb(22, w=24, h=24)
    rows = [
        (0, 24, 24, base0),
        (1, 24, 24, _nudge(base0, 31)),
        (2, 24, 24, _nudge(base0, 32)),
        (10, 24, 24, base1),
        (11, 24, 24, _nudge(base1, 33)),
    ] + [
        (20 + i, 24, 24,
         np.random.default_rng(200 + i).integers(0, 256, size=24 * 24)
         .astype(np.uint8).tobytes())
        for i in range(4)
    ]
    df = _thumb_df(spark, rows)

    sigs = {r["doc_id"]: r["sig"] for r in mm.dhash_signatures_wide(df, grid).collect()}
    oracle = {i: _oracle_dhash(t, w, h, grid) for i, w, h, t in rows}
    for i, s in oracle.items():
        assert list(sigs[i]) == pack_sig_words(s, bits), i

    pairs_df = mm.image_near_dup_pairs(df, max_hamming=k, grid=grid)
    plan = pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs_df.collect()}
    ids = sorted(oracle)
    want = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            h = bin(oracle[ids[x]] ^ oracle[ids[y]]).count("1")
            if h <= k:
                want[(ids[x], ids[y])] = h
    assert got == want
    assert {(0, 1), (0, 2), (10, 11)} <= set(want)  # planted clones load-bear
