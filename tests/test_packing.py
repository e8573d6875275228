"""Sequence-packing gates: DuckDB hash-parity for the JVM token-stream
packer, invariants (no overflow, determinism, monotone placement, token
conservation) for the greedy packer, and the shard-parallel plan shape
(the window partitions on shard — never a global single-partition sort)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import packing
from tests.conftest import SF_SMOKE

SEQ_LEN = 512
N_SHARDS = 16

_STREAM_ORACLE = f"""
WITH lens AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
              % {N_SHARDS} AS INT) AS shard,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
  FROM documents
),
spans AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
              AS BIGINT) AS end_tok
  FROM lens
)
SELECT doc_id, shard, n_tokens,
       end_tok - n_tokens AS start_tok, end_tok,
       (end_tok - n_tokens) // {SEQ_LEN} AS first_seq,
       (end_tok - 1) // {SEQ_LEN} AS last_seq
FROM spans
"""


@pytest.fixture(scope="module")
def stream_packed(documents):
    df = packing.pack_token_stream(documents, SEQ_LEN, N_SHARDS)
    rows = df.collect()
    return df, rows


@pytest.fixture(scope="module")
def greedy_packed(documents):
    return packing.pack_greedy(documents, SEQ_LEN, N_SHARDS).collect()


def test_token_stream_matches_duckdb(stream_packed):
    _, rows = stream_packed
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    oracle = con.execute(_STREAM_ORACLE).fetchall()
    key = lambda r: r[0]
    assert sorted([tuple(r) for r in rows], key=key) == sorted(oracle, key=key)


def test_token_stream_is_shard_parallel(documents):
    plan = packing.pack_token_stream(documents, SEQ_LEN, N_SHARDS)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan


def test_greedy_never_overflows(greedy_packed):
    per_seq: dict[tuple, list[int]] = {}
    for r in greedy_packed:
        per_seq.setdefault((r.shard, r.seq_id), []).append(r.n_tokens)
    for toks in per_seq.values():
        assert sum(toks) <= SEQ_LEN or len(toks) == 1  # overlong doc = own seq


def test_greedy_offsets_and_monotone_placement(greedy_packed):
    by_shard: dict[int, list] = {}
    for r in greedy_packed:
        by_shard.setdefault(r.shard, []).append(r)
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.doc_id)
        prev_seq, fill = 0, 0
        for r in rows:
            assert r.seq_id >= prev_seq  # first-fit-by-order never goes back
            if r.seq_id != prev_seq:
                fill = 0
            assert r.tok_offset == fill
            fill += r.n_tokens
            prev_seq = r.seq_id


def test_greedy_is_deterministic(documents):
    a = sorted(map(tuple, packing.pack_greedy(documents, SEQ_LEN, N_SHARDS).collect()))
    b = sorted(
        map(
            tuple,
            packing.pack_greedy(
                documents.repartition(7), SEQ_LEN, N_SHARDS
            ).collect(),
        )
    )
    assert a == b


def test_packers_conserve_tokens(documents, stream_packed, greedy_packed):
    from pulsar_replay_spark.functions.text import token_count

    total = documents.agg(F.sum(token_count(F.col("text")))).first()[0]
    _, stream_rows = stream_packed
    assert sum(r.n_tokens for r in stream_rows) == total
    assert sum(r.n_tokens for r in greedy_packed) == total


def test_packing_stats_bounds(documents, spark):
    stats = packing.packing_stats(
        packing.pack_greedy(documents, SEQ_LEN, N_SHARDS), SEQ_LEN
    ).collect()
    assert len(stats) > 0
    for r in stats:
        assert 0 < r.avg_fill <= 1.0
        assert 0 <= r.padding_frac < 1.0
        # greedy padding at 512 tokens on real-length docs should be modest
        assert r.padding_frac < 0.5


# --- length-bucketed inference batching ------------------------------------


@pytest.fixture(scope="module")
def batched(documents):
    return packing.length_bucketed_batches(
        documents, batch_size=8, band=16, n_shards=4
    ).localCheckpoint(eager=True)


def test_batches_match_duckdb(documents, batched):
    import duckdb

    from tests.conftest import SF_SMOKE

    got = sorted(map(tuple, batched.collect()))
    con = duckdb.connect()
    expect = con.execute(
        f"""
        WITH lens AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n_tokens,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                      % 4 AS INT) AS shard
          FROM read_parquet('{SF_SMOKE}/documents.parquet')
        ),
        banded AS (
          SELECT doc_id, n_tokens, CAST(floor(n_tokens / 16) AS INT) AS band, shard
          FROM lens
        ),
        numbered AS (
          SELECT *, row_number() OVER (PARTITION BY band, shard
                                       ORDER BY n_tokens, doc_id) - 1 AS rn
          FROM banded
        )
        SELECT doc_id, n_tokens, band, shard,
               band || '-' || shard || '-' || CAST(floor(rn / 8) AS BIGINT) AS batch_id,
               CAST(rn % 8 AS INT) AS pos_in_batch
        FROM numbered ORDER BY doc_id
        """
    ).fetchall()
    assert got == sorted(tuple(r) for r in expect)


def test_batches_partition_docs_and_bound_padding(documents, batched):
    rows = batched.collect()
    assert len(rows) == documents.count()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    by_batch: dict[str, list] = {}
    for r in rows:
        by_batch.setdefault(r["batch_id"], []).append(r)
    cells: dict[tuple, list] = {}
    for bid, members in by_batch.items():
        assert 1 <= len(members) <= 8
        lengths = [m["n_tokens"] for m in members]
        assert max(lengths) - min(lengths) < 16  # band bound on padding
        assert sorted(m["pos_in_batch"] for m in members) == list(range(len(members)))
        cells.setdefault((members[0]["band"], members[0]["shard"]), []).append(len(members))
    for sizes in cells.values():  # every cell: at most one ragged tail batch
        assert sum(1 for s in sizes if s < 8) <= 1


def test_batching_stats_consistent(batched):
    stats = {r["batch_id"]: r for r in packing.batching_stats(batched, 8).collect()}
    rows = batched.collect()
    by_batch: dict[str, list] = {}
    for r in rows:
        by_batch.setdefault(r["batch_id"], []).append(r["n_tokens"])
    for bid, lens in by_batch.items():
        s = stats[bid]
        assert s["n_docs"] == len(lens)
        assert s["max_len"] == max(lens)
        assert s["padding_tokens"] == max(lens) * len(lens) - sum(lens)
        assert 0 < s["fill_ratio"] <= 1.0


def test_batches_deterministic_and_shard_parallel(documents, batched):
    again = packing.length_bucketed_batches(
        documents.repartition(7), batch_size=8, band=16, n_shards=4
    )
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, batched.collect()))
    plan = (
        packing.length_bucketed_batches(documents, 8, 16, 4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(band" in plan  # never a single-partition sort


def test_batches_property_model(documents, spark):
    """Degenerate-shape model check (hypothesis-style over crafted cases
    rather than the fixture): single doc, all-equal lengths, and lengths
    straddling a band edge all follow the pure-python model."""
    import hashlib

    def model(rows, batch_size, band, n_shards):
        cells: dict[tuple, list] = {}
        for doc_id, n in rows:
            shard = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:2], 16) % n_shards
            cells.setdefault((n // band, shard), []).append((n, doc_id))
        out = {}
        for (b, s), members in cells.items():
            for rn, (n, doc_id) in enumerate(sorted(members)):
                out[doc_id] = (n, b, s, f"{b}-{s}-{rn // batch_size}", rn % batch_size)
        return out

    cases = [
        [(1, 5)],                                  # single doc
        [(i, 10) for i in range(20)],              # all-equal lengths
        [(i, 15 + (i % 2)) for i in range(10)],    # straddle band edge 16
        [(i, i) for i in range(1, 40)],            # strictly increasing
    ]
    for rows in cases:
        docs = spark.createDataFrame(
            [(i, "w " * (n - 1) + "w") for i, n in rows], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (
                r["n_tokens"], r["band"], r["shard"], r["batch_id"], r["pos_in_batch"]
            )
            for r in packing.length_bucketed_batches(
                docs, batch_size=4, band=16, n_shards=4
            ).collect()
        }
        assert got == model(rows, 4, 16, 4), rows
