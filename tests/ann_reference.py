"""Numpy reference for the similarity kernels: nearest cells, LSH signatures
and table buckets, and exact top-k over a candidate set.

It restates the engine's numeric contract from first principles and imports
no engine code. Every dot product is a left fold over dims from 0.0 in IEEE
doubles, the add order of the JVM ``aggregate`` fold and DuckDB's
``list_inner_product`` loop. Rounding mirrors Spark's ``F.round`` on doubles
(``BigDecimal(Double.toString(x))`` at HALF_UP). The Arrow kernels in
``operators/similarity.py`` must match these results bit for bit.

Vectors are ``{id: float64 array}`` dicts; ``vectors`` builds one from
collected ``(id, embedding)`` rows.
"""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def vectors(rows) -> dict[int, np.ndarray]:
    return {int(i): np.asarray(v, dtype="float64") for i, v in rows}


def _fold(X, Y):
    """Row-wise Σ_d X[:, d]·Y[:, d], summed left to right from 0.0."""
    acc = np.zeros(len(X))
    for d in range(X.shape[1]):
        acc += X[:, d] * Y[:, d]
    return acc


def cosines(a, B) -> np.ndarray:
    """Raw cosine of vector ``a`` against every row of ``B``:
    fold(a, b) / (sqrt(fold(a, a)) · sqrt(fold(b, b)))."""
    B = np.atleast_2d(np.asarray(B, dtype="float64"))
    A = np.broadcast_to(np.asarray(a, dtype="float64"), B.shape)
    return _fold(A, B) / (np.sqrt(_fold(A, A)) * np.sqrt(_fold(B, B)))


def spark_round(x: float, digits: int) -> float:
    """``F.round(x, digits)`` on a double: HALF_UP on the shortest decimal
    string of ``x``."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def nearest_cells(vecs, cents, n_probe: int = 1) -> dict[int, tuple]:
    """{vec_id: its ``n_probe`` best cell_ids}, ranked by raw cosine desc;
    the lowest cell_id wins ties."""
    cell_ids = sorted(cents)
    ids = list(vecs)
    V = np.stack([vecs[i] for i in ids])
    S = np.stack([cosines(cents[c], V) for c in cell_ids], axis=1)
    out = {}
    for row, i in enumerate(ids):
        order = sorted(range(len(cell_ids)), key=lambda c: (-S[row, c], c))
        out[i] = tuple(cell_ids[c] for c in order[:n_probe])
    return out


def _plane_bits(vecs, n_planes: int, dim: int = 64) -> dict[int, np.ndarray]:
    """{vec_id: [⟨v, h_p⟩ > 0 for each plane p]}: component j of plane p is
    +1 when the first md5 hex nibble of ``"p-j"`` is 0–7, else −1."""
    H = np.array(
        [
            [
                1.0 if int(hashlib.md5(f"{p}-{j}".encode()).hexdigest()[0], 16) < 8 else -1.0
                for j in range(dim)
            ]
            for p in range(n_planes)
        ]
    )
    ids = list(vecs)
    V = np.stack([vecs[i] for i in ids])
    proj = np.stack([_fold(V, np.broadcast_to(h, V.shape)) for h in H], axis=1)
    return {i: proj[row] > 0 for row, i in enumerate(ids)}


def lsh_signatures(vecs, n_planes: int = 8) -> dict[int, int]:
    """{vec_id: Σ_p 2^p · [⟨v, h_p⟩ > 0]}."""
    return {
        i: sum(1 << p for p, bit in enumerate(bits) if bit)
        for i, bits in _plane_bits(vecs, n_planes).items()
    }


def lsh_table_buckets(vecs, n_tables: int = 4, bits: int = 2) -> dict[int, tuple]:
    """{vec_id: (bucket of table 0, …)}; table t packs planes t·bits + i as
    bit i."""
    return {
        v: tuple(
            sum(1 << i for i in range(bits) if plane[t * bits + i])
            for t in range(n_tables)
        )
        for v, plane in _plane_bits(vecs, n_tables * bits).items()
    }


def lsh_candidates(buckets, q_ids, bits: int, multiprobe: int = 0) -> dict[int, set]:
    """{q_id: corpus ids sharing a bucket with q in ANY table}; with
    ``multiprobe=1`` q also probes its ``bits`` one-bit-flip buckets."""
    index: dict[tuple, list] = {}
    for n, bs in buckets.items():
        for t, b in enumerate(bs):
            index.setdefault((t, b), []).append(n)
    flips = [0] + ([1 << i for i in range(bits)] if multiprobe else [])
    return {
        q: {n for t, b in enumerate(buckets[q]) for f in flips for n in index.get((t, b ^ f), ())}
        for q in q_ids
    }


def cell_candidates(corpus_cells, query_cells) -> dict[int, set]:
    """{q_id: corpus ids in any of q's cells}; both arguments are
    (vec_id, cell_id) pairs, duplicates allowed."""
    members: dict[int, set] = {}
    for n, c in corpus_cells:
        members.setdefault(c, set()).add(n)
    out: dict[int, set] = {}
    for q, c in query_cells:
        out.setdefault(q, set()).update(members.get(c, ()))
    return out


def topk(q_vecs, n_vecs, candidates, k: int, exclude_self: bool = True) -> list[tuple]:
    """Exact top-k over each query's candidate set: (q_id, n_id, sim6, rk),
    sim6 = round(raw cosine, 6), ranked by (sim6 desc, n_id). Candidates are
    a set, so multi-table duplicates are already collapsed."""
    out = []
    for q, cands in candidates.items():
        ns = sorted(n for n in cands if not (exclude_self and n == q))
        if not ns:
            continue
        raw = cosines(q_vecs[q], np.stack([n_vecs[n] for n in ns]))
        ranked = sorted(
            ((spark_round(s, 6), n) for s, n in zip(raw, ns)), key=lambda t: (-t[0], t[1])
        )
        out += [(q, n, s, rk) for rk, (s, n) in enumerate(ranked[:k], start=1)]
    return sorted(out)


def topk_rows(q_vecs, n_vecs, candidates, k: int) -> list[tuple]:
    """The serving output contract: (q_id, neighbor_id, round(sim6, 3), rk)."""
    return [
        (q, n, spark_round(s, 3), rk) for q, n, s, rk in topk(q_vecs, n_vecs, candidates, k)
    ]
