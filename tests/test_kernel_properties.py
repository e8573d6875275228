"""Hypothesis property gates for the Arrow scoring kernels: the numpy
sequential-dim fold must be BIT-identical to the IEEE-754 left-fold mirror
in ``tests/ann_reference.py`` (the same op order the JVM HOF and DuckDB's
list_inner_product execute) on arbitrary float32 inputs, and the lossless
ε-band cuts must never drop a row the exact rounded top-k needs. Pure
numpy — no Spark session, so these run in milliseconds."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pulsar_replay_spark.operators.similarity import (
    _cell_pair_sims,
    _cross_sims_batches,
)
from tests.ann_reference import cosines, spark_round

finite_f32 = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, width=32
).filter(lambda x: abs(x) > 1e-3 or x == 0.0)


def _vec(dim):
    return st.lists(finite_f32, min_size=dim, max_size=dim)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(2, 6).flatmap(
        lambda dim: st.tuples(
            st.lists(_vec(dim), min_size=1, max_size=8),
            st.lists(_vec(dim), min_size=1, max_size=4),
        )
    )
)
def test_cell_pair_sims_bitwise_matches_python_fold_mirror(corpora):
    cands, qs = corpora
    if any(all(x == 0.0 for x in v) for v in cands + qs):
        return  # zero-norm raises by contract; covered elsewhere
    cand = pd.DataFrame(
        {
            "n_id": np.arange(len(cands), dtype="int64"),
            "n_emb": [np.asarray(v, dtype="float32") for v in cands],
        }
    )
    q = pd.DataFrame(
        {
            "q_id": np.arange(100, 100 + len(qs), dtype="int64"),
            "q_emb": [np.asarray(v, dtype="float32") for v in qs],
        }
    )
    out = _cell_pair_sims(cand, q)
    got = {(r.q_id, r.n_id): r.raw_sim for r in out.itertuples()}
    assert len(got) == len(cands) * len(qs)
    for qi, qv in enumerate(qs):
        expected = cosines(qv, cands)
        for ni in range(len(cands)):
            assert got[(100 + qi, ni)] == expected[ni]  # BIT equality, not approx


@settings(max_examples=25, deadline=None)
@given(
    st.integers(2, 5).flatmap(
        lambda dim: st.tuples(
            st.lists(_vec(dim), min_size=3, max_size=20),
            st.lists(_vec(dim), min_size=1, max_size=3),
            st.integers(1, 4),
            st.integers(1, 7),
        )
    )
)
def test_cross_sims_chunked_cut_preserves_exact_rounded_topk(params):
    corpus, qs, k, chunk = params
    if any(all(x == 0.0 for x in v) for v in corpus + qs):
        return
    pdf = pd.DataFrame(
        {
            "n_id": np.arange(len(corpus), dtype="int64"),
            "embedding": [np.asarray(v, dtype="float32") for v in corpus],
        }
    )
    Q = np.stack([np.asarray(v, dtype="float64") for v in qs])
    dim = Q.shape[1]
    q_acc = np.zeros(len(Q))
    for d in range(dim):
        q_acc += Q[:, d] * Q[:, d]
    kw = dict(
        q_ids=np.arange(len(qs), dtype="int64"),
        Q=Q,
        q_norm=np.sqrt(q_acc),
        dim=dim,
        k=k,
    )
    frames = list(_cross_sims_batches(iter([pdf]), chunk=chunk, **kw))
    emitted = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
        {"q_id": [], "n_id": [], "raw_sim": []}
    )
    # the exact rounded-then-ranked top-k over ALL pairs must be a subset of
    # what the chunked ε-band cut emitted
    for qi, qv in enumerate(qs):
        sims = [(spark_round(s, 6), ni) for ni, s in enumerate(cosines(qv, corpus))]
        sims.sort(key=lambda t: (-t[0], t[1]))
        want = {ni for _, ni in sims[:k]}
        have = set(emitted[emitted["q_id"] == qi]["n_id"])
        assert want <= have, f"cut lost exact top-k rows: {want - have}"


# ---------------------------------------------------------------------------
# r11: the rolling positioned-k-gram kernel (dedup._rolling_kgram_batch).
# Property over arbitrary token corpora: the kernel's (doc_id, pos)
# bookkeeping matches a plain-python window enumeration exactly, and gh
# equality induces EXACTLY the gram-text equality partition (no false
# splits ever; a false merge is a 4-channel hash collision — 2^-124-ish,
# so observing one here would itself be a finding). Pure pandas/numpy.
# ---------------------------------------------------------------------------

_token = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters=[" "], max_codepoint=0x2FFF
    ),
    min_size=0,
    max_size=6,
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.lists(_token, min_size=0, max_size=12), min_size=1, max_size=8),
    st.integers(1, 4),
    st.booleans(),
)
def test_rolling_kgram_batch_matches_window_enumeration(docs_tokens, k, casefold):
    from collections import defaultdict

    from pulsar_replay_spark.operators.dedup import _rolling_kgram_batch

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs_tokens)),
            "text": [" ".join(toks) for toks in docs_tokens],
        }
    )
    out = _rolling_kgram_batch(pdf, k, casefold)

    want_positions = set()
    gram_text = {}
    for d, toks in enumerate(docs_tokens):
        # the kernel splits the JOINED text — "" joins to [''], matching
        # the JVM split(coalesce(text,''), ' ') contract exactly
        toks = " ".join(toks).split(" ")
        if casefold:
            toks = [t.lower() for t in toks]
        for i in range(len(toks) - k + 1):
            want_positions.add((d, i))
            gram_text[(d, i)] = " ".join(toks[i : i + k])

    got_positions = set(zip(out["doc_id"], out["pos"]))
    assert got_positions == want_positions

    by_gh = defaultdict(set)
    for d, i, gh in zip(out["doc_id"], out["pos"], out["gh"]):
        by_gh[gh].add(gram_text[(d, i)])
    # no false splits: every occurrence of one gram text got one gh
    for gh, texts in by_gh.items():
        assert len(texts) == 1, f"collision (!): {texts}"
    # no false merges of DIFFERENT texts under one gh is the same assert;
    # and distinct texts must get distinct ghs (the partition is exact)
    seen = {}
    for gh, texts in by_gh.items():
        t = next(iter(texts))
        assert t not in seen or seen[t] == gh
        seen[t] = gh
    assert len(seen) == len(set(gram_text.values()))


def test_rolling_kgram_nul_tokens_do_not_collide():
    """r11 regression (fixed r12, kernel tag 'rolling2'): the fixed-width
    UCS4 view zero-pads every token, and codepoint 0 was indistinguishable
    from padding — '' ≡ '\\x00' and 'a' ≡ 'a\\x00' hashed identically on
    ALL 4 channels (hypothesis counterexample ``[[], ['\\x00']], k=1``).
    The length-aware +1 offset keys every real codepoint off padding;
    these explicit pairs stay as non-hypothesis regression cases."""
    from pulsar_replay_spark.operators.dedup import _rolling_kgram_batch

    pairs = [
        ("", "\x00"),
        ("a", "a\x00"),
        ("a", "\x00a"),
        ("\x00", "\x00\x00"),
        ("a\x00", "a\x00\x00"),
    ]
    for left, right in pairs:
        pdf = pd.DataFrame({"doc_id": [0, 1], "text": [left, right]})
        out = _rolling_kgram_batch(pdf, 1, False)
        assert len(out) == 2, (left, right)
        ghs = out["gh"].tolist()
        assert ghs[0] != ghs[1], f"NUL collision regressed: {(left, right)}"
    # equal NUL-bearing grams still merge (the fix must not false-split)
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": ["x\x00 y", "x\x00 y"]})
    out = _rolling_kgram_batch(pdf, 2, False)
    assert len(out) == 2 and out["gh"].nunique() == 1
