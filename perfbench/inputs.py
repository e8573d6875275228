"""Seeded input generators and their ground truth.

Every input is made here with numpy/pyarrow only, never with engine code, so
a change to the engine cannot change what it is measured on. The same seed
gives byte-identical files (``tests/test_perfbench.py`` pins this).
"""

from __future__ import annotations

import hashlib
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAX_PER_TOPIC = 10_000  # the reference's per-topic capture bound
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
EVENT_TYPES = ["click", "view", "signup", "purchase", "error",
               "login", "logout", "share", "search", "refund"]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# ---------------------------------------------------------------------------
# capture_replay: namespace backlogs with Zipf-skewed topic sizes
# ---------------------------------------------------------------------------

@dataclass
class Backlog:
    """One namespace's message backlog and what a correct capture keeps."""

    path: str
    n_msgs: int
    captured: int  # messages a correct capture keeps
    payload_crc: int  # sum of crc32(payload) over the captured messages
    topic_crc: int  # sum of crc32(topic) over the captured messages


def _residue(tenant: int, part: int | None) -> int:
    """Smallest r in [0, 660) such that an event_id == r (mod 660) lands on
    the wanted tenant and partition under the catalog's topic derivation
    (tenant from id mod 11 and 3, partition child from id mod 5 and 4)."""
    for r in range(660):
        if (r % 11 == 0) != (tenant < 0):
            continue
        if tenant >= 0 and r % 3 != tenant:
            continue
        if (r % 5 == 0) != (part is not None):
            continue
        if part is not None and r % 4 != part:
            continue
        return r
    raise ValueError("no residue")


def capture_backlogs(root: str, seed: int, n_backlogs: int = 4,
                     n_msgs: int = 36_000, n_topics: int = 60) -> list[Backlog]:
    """``n_backlogs`` namespace backlogs of ``n_msgs`` messages each.

    Topic sizes follow Zipf(1.3) over ``n_topics`` topics, so only the
    hottest topics exceed the 10 000-message bound. 1 topic in 5 is a
    ``-partition-N`` child, 1 in 11 belongs to the system tenant, and about
    1 payload in 7 is invalid UTF-8."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for b in range(n_backlogs):
        ns = b % 4
        ns_name = "org-1" if ns == 0 else f"ns-{ns}"
        specs, seen = [], set()
        while len(specs) < n_topics:
            i = len(specs)
            tenant = -1 if i % 11 == 5 else int(rng.integers(3))
            part = int(rng.integers(4)) if i % 5 == 4 else None
            et = EVENT_TYPES[int(rng.integers(len(EVENT_TYPES)))]
            u = int(rng.integers(5))
            key = (tenant, et, u, part)
            if key not in seen:
                seen.add(key)
                specs.append(key)
        # topic i has Zipf rank i, so which ranks are system or partition
        # topics (and so the captured volume) does not depend on the seed
        topic_idx = rng.choice(n_topics, size=n_msgs, p=_zipf_weights(n_topics, 1.3))

        seq = np.arange(n_msgs, dtype=np.int64) + b * n_msgs
        res = np.array([_residue(t, p) for t, _, _, p in specs], dtype=np.int64)
        event_id = seq * 660 + res[topic_idx]
        umod = np.array([next(c for c in range(20) if c % 4 == ns and c % 5 == s[2])
                         for s in specs], dtype=np.int64)
        user_id = rng.integers(0, 500, size=n_msgs) * 20 + umod[topic_idx]
        # millisecond-granular times over one day, so ties on ts exist and the
        # event_id tie-break matters
        ts_us = EPOCH_US + rng.integers(0, 86_400_000, size=n_msgs) * 1000
        value = np.round(rng.uniform(0, 500, size=n_msgs), 2)
        invalid = rng.random(n_msgs) < 1 / 7
        filler = rng.integers(0, 256, size=(n_msgs, 6), dtype=np.uint8)
        payloads = []
        for k in range(n_msgs):
            if invalid[k]:
                payloads.append(b"\xff\x80" + filler[k].tobytes())
            elif k % 3 == 0:
                payloads.append(f'{{"seq": {int(seq[k])}, "note": "päylöad-世界"}}'.encode())
            else:
                payloads.append(f'{{"seq": {int(seq[k])}, "v": {value[k]}}}'.encode())

        tenants = ["pulsar" if t < 0 else f"tenant-{t}" for t, _, _, _ in specs]
        topic_names = [
            f"persistent://{tenants[j]}/{ns_name}/{et}-{u}"
            + ("" if p is None else f"-partition-{p}")
            for j, (t, et, u, p) in enumerate(specs)
        ]
        # ground truth: non-system, non-partition topics, earliest 10 000 by
        # (ts, event_id)
        captured = payload_crc = topic_crc = 0
        for j, (t, _, _, p) in enumerate(specs):
            if t < 0 or p is not None:
                continue
            members = np.flatnonzero(topic_idx == j)
            if members.size == 0:
                continue
            order = np.lexsort((event_id[members], ts_us[members]))
            keep = members[order][:MAX_PER_TOPIC]
            captured += keep.size
            payload_crc += sum(zlib.crc32(payloads[k]) for k in keep)
            topic_crc += keep.size * zlib.crc32(topic_names[j].encode())

        table = pa.table({
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array([specs[j][1] for j in topic_idx], pa.string()),
            "value": pa.array(value, pa.float64()),
            "raw": pa.array(payloads, pa.binary()),
        })
        path = os.path.join(root, f"backlog-{b}.parquet")
        _write(table, path)
        out.append(Backlog(path, n_msgs, captured, payload_crc, topic_crc))
    return out


def emailsend_event_crc(n: int) -> int:
    """sum of crc32(eventId) over a generated emailSend batch of ``n`` docs:
    eventId is md5("event-<id>") by the generator's documented contract."""
    return sum(zlib.crc32(hashlib.md5(f"event-{i}".encode()).hexdigest().encode())
               for i in range(n))


# ---------------------------------------------------------------------------
# corpus_curation: a corpus with planted duplicates and contamination
# ---------------------------------------------------------------------------

@dataclass
class Corpus:
    docs_path: str
    bench_path: str
    target_path: str
    n_docs: int
    exact_losers: set  # higher-id copies of byte-identical docs
    family: dict  # doc_id -> id of the original it was copied from
    contaminated: set  # docs holding a 20-token span of an eval doc


def _vocab(n: int) -> list[str]:
    return [f"w{i}" for i in range(n)]


def curation_corpus(root: str, seed: int, n_orig: int = 1600, vocab: int = 4000,
                    exact_share: float = 0.05, near_share: float = 0.10,
                    contam_share: float = 0.02, n_eval: int = 40) -> Corpus:
    """Originals over a Zipf(1.1) vocabulary, then planted copies: exact
    duplicates (``exact_share``), near-duplicates with 1-3 token
    substitutions (``near_share``), and docs carrying a 20-token span of an
    eval document (``contam_share``), all as shares of the originals."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(_vocab(vocab))
    p = _zipf_weights(vocab, 1.1)
    # eval tokens come from a disjoint rare band so a 20-token span is the
    # only way a corpus doc can share eight of its shingles
    eval_words = np.array([f"q{i}" for i in range(2000)])

    def doc(lo=40, hi=160):
        return list(words[rng.choice(vocab, size=int(rng.integers(lo, hi)), p=p)])

    texts = [doc() for _ in range(n_orig)]
    family = {}
    exact_losers = set()
    n_exact = int(n_orig * exact_share)
    n_near = int(n_orig * near_share)
    n_contam = int(n_orig * contam_share)
    for _ in range(n_exact):
        src = int(rng.integers(n_orig))
        family[len(texts)] = src
        exact_losers.add(len(texts))
        texts.append(list(texts[src]))
    for _ in range(n_near):
        src = int(rng.integers(n_orig))
        t = list(texts[src])
        for _ in range(int(rng.integers(1, 4))):
            t[int(rng.integers(len(t)))] = words[int(rng.integers(vocab))]
        family[len(texts)] = src
        texts.append(t)
    evals = [list(eval_words[rng.choice(len(eval_words), size=60)]) for _ in range(n_eval)]
    contaminated = set()
    for _ in range(n_contam):
        t = doc()
        e = evals[int(rng.integers(n_eval))]
        start = int(rng.integers(0, len(e) - 20))
        at = int(rng.integers(len(t)))
        t[at:at] = e[start:start + 20]
        contaminated.add(len(texts))
        texts.append(t)

    # shuffle doc ids so copies are not all at the tail
    perm = rng.permutation(len(texts))  # new id of old index i is perm[i]
    new_texts = [None] * len(texts)
    for old, new in enumerate(perm):
        new_texts[new] = " ".join(texts[old])
    family = {int(perm[c]): int(perm[s]) for c, s in family.items()}
    # an exact copy loses to whichever of the identical docs has the lower id
    exact_losers = {max(int(perm[c]), family[int(perm[c])]) for c in exact_losers}
    contaminated = {int(perm[c]) for c in contaminated}

    n = len(new_texts)
    langs = np.array(["en", "es", "de", "fr", "zh"])[rng.integers(0, 5, size=n)]
    sources = np.array([f"src{i}" for i in range(4)])[rng.integers(0, 4, size=n)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(new_texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in new_texts], pa.int64()),
    })
    bench = pa.table({
        "doc_id": pa.array(np.arange(n_eval, dtype=np.int64) + 10_000_000),
        "text": pa.array([" ".join(e) for e in evals], pa.string()),
    })
    # the DSIR target favours the low ranks of the vocabulary
    tp = _zipf_weights(vocab, 1.4)
    target_texts = [" ".join(words[rng.choice(vocab, size=80, p=tp)]) for _ in range(300)]
    target = pa.table({
        "doc_id": pa.array(np.arange(300, dtype=np.int64) + 20_000_000),
        "text": pa.array(target_texts, pa.string()),
        "lang": pa.array(["en"] * 300, pa.string()),
        "source": pa.array(["target"] * 300, pa.string()),
        "n_chars": pa.array([len(t) for t in target_texts], pa.int64()),
    })
    paths = [os.path.join(root, f"{name}.parquet") for name in ("docs", "bench", "target")]
    for t, path in zip((docs, bench, target), paths):
        _write(t, path)
    return Corpus(*paths, n, exact_losers, family, contaminated)


# ---------------------------------------------------------------------------
# stream_ingest: event files with redeliveries and out-of-order arrivals
# ---------------------------------------------------------------------------

@dataclass
class EventFiles:
    paths: list  # one parquet file per micro-batch, in arrival order
    ids: list  # per file: the event ids it carries (with repeats)
    rows: list  # per file: row count


def stream_files(root: str, seed: int, n_files: int = 60, rows: int = 2000,
                 span_min: int = 10) -> EventFiles:
    """``n_files`` files in the ``events`` schema, each covering
    ``span_min`` minutes of event time, so event time advances and a 2 h
    watermark evicts dedup state. About 5 % of rows are redeliveries of an
    event from the previous three files (same id and time); about 5 % carry
    a time up to 40 minutes before their file's start (late, but inside the
    watermark)."""
    rng = np.random.default_rng([seed, 3])
    paths, ids, counts = [], [], []
    next_id = 0
    history: list[tuple[np.ndarray, np.ndarray]] = []
    span_us = span_min * 60 * 1_000_000
    for f in range(n_files):
        n_redeliver = int(rows * 0.05) if history else 0
        n_new = rows - n_redeliver
        new_ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        start = EPOCH_US + f * span_us
        ts = start + rng.integers(0, span_us, size=n_new)
        late = rng.random(n_new) < 0.05
        ts[late] -= rng.integers(0, 40 * 60 * 1_000_000, size=int(late.sum()))
        ev_ids, ev_ts = new_ids, ts
        if n_redeliver:
            old_ids = np.concatenate([h[0] for h in history[-3:]])
            old_ts = np.concatenate([h[1] for h in history[-3:]])
            pick = rng.choice(old_ids.size, size=n_redeliver, replace=False)
            ev_ids = np.concatenate([new_ids, old_ids[pick]])
            ev_ts = np.concatenate([ts, old_ts[pick]])
        history.append((new_ids, ts))
        order = rng.permutation(ev_ids.size)
        ev_ids, ev_ts = ev_ids[order], ev_ts[order]
        table = pa.table({
            "event_id": pa.array(ev_ids, pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(ev_ids % 997, pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[ev_ids % 10], pa.string()),
            "value": pa.array((ev_ids % 10_000) / 100.0, pa.float64()),
            "props": pa.array([f'{{"k": {int(i % 100)}}}' for i in ev_ids], pa.string()),
        })
        path = os.path.join(root, f"part-{f:05d}.parquet")
        _write(table, path)
        paths.append(path)
        ids.append(ev_ids)
        counts.append(int(ev_ids.size))
    return EventFiles(paths, ids, counts)


# ---------------------------------------------------------------------------
# index_serve: clustered embeddings, a document corpus, query pools
# ---------------------------------------------------------------------------

@dataclass
class ServeInputs:
    base_path: str
    docs_path: str
    growth_paths: list  # growth batches, in order
    base: np.ndarray  # (n, dim) float32 corpus, row i is vec_id i
    growth: list  # float32 arrays; batch g has vec_ids after the base
    queries: np.ndarray  # (n_queries, dim) dense query pool
    text_queries: list  # (marker doc_id, query text)


def _clustered(rng, n: int, centers: np.ndarray, p: np.ndarray) -> np.ndarray:
    c = rng.choice(len(centers), size=n, p=p)
    x = centers[c] + rng.normal(0, 0.35, size=(n, centers.shape[1]))
    return x.astype(np.float32)


def serve_inputs(root: str, seed: int, n_base: int = 3_000, dim: int = 64,
                 n_growth: int = 12, growth_size: int = 500, n_queries: int = 256,
                 n_docs: int = 2000, vocab: int = 3000) -> ServeInputs:
    """Clustered-Gaussian vectors whose cluster sizes follow Zipf(1.1), so
    IVF cells are uneven; a document corpus in which doc ``i`` carries the
    unique marker token ``m<i>``; and query pools for both paths: a text
    query is a doc's marker plus three common words."""
    rng = np.random.default_rng([seed, 4])
    n_clusters = 64
    centers = rng.normal(0, 1, size=(n_clusters, dim))
    p = _zipf_weights(n_clusters, 1.1)[rng.permutation(n_clusters)]
    base = _clustered(rng, n_base, centers, p)
    growth = [_clustered(rng, growth_size, centers, p) for _ in range(n_growth)]
    queries = _clustered(rng, n_queries, centers, p)

    def vec_table(x: np.ndarray, first_id: int) -> pa.Table:
        return pa.table({
            "vec_id": pa.array(np.arange(first_id, first_id + len(x), dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
        })

    base_path = os.path.join(root, "vectors-base.parquet")
    _write(vec_table(base, 0), base_path)
    growth_paths = []
    for g, x in enumerate(growth):
        path = os.path.join(root, f"vectors-growth-{g:03d}.parquet")
        _write(vec_table(x, n_base + g * growth_size), path)
        growth_paths.append(path)

    words = np.array(_vocab(vocab))
    wp = _zipf_weights(vocab, 1.1)
    texts = []
    for i in range(n_docs):
        toks = list(words[rng.choice(vocab, size=int(rng.integers(30, 120)), p=wp)])
        toks.insert(int(rng.integers(len(toks))), f"m{i}")
        texts.append(" ".join(toks))
    docs_path = os.path.join(root, "docs.parquet")
    _write(pa.table({"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                     "text": pa.array(texts, pa.string())}), docs_path)
    text_queries = []
    for d in rng.choice(n_docs, size=n_queries, replace=False):
        # common words only: their low idf leaves the marker deciding rank 1
        extra = words[rng.integers(0, 30, size=3)]
        text_queries.append((int(d), " ".join([f"m{d}", *extra])))
    return ServeInputs(base_path, docs_path, growth_paths, base, growth, queries,
                       text_queries)


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int = 10) -> np.ndarray:
    """Exact cosine top-k ids (ties to the lower id), the recall reference."""
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    return np.argsort(-(q @ c.T), axis=1, kind="stable")[:, :k]
