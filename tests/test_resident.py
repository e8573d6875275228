"""Resident serving of small stores (operators/resident.py): the in-process
``ivf_topk_from_index`` / ``bm25_topk_from_index`` return the Spark serve's
rows AND schema on every store shape, follow every writer of the store
(the file-listing version key), switch on both gates, and cost at most two
jobs per warm call. The Spark serve is the reference: each comparison
re-runs the call with the byte gate at 0."""

from __future__ import annotations

import itertools
import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import resident, retrieval, vecstore
from pulsar_replay_spark.streaming import pipelines as sp

N_CELLS = 16
N_PROBE = 4
_groups = itertools.count()


def _served(df):
    return df.schema, sorted(map(tuple, df.collect()))


def _in_process(df) -> bool:
    """The resident path returns a local relation; the Spark serve always
    scans the store's parquet."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "parquet" not in plan.lower()


def _resident_and_spark(monkeypatch, serve):
    got = serve()
    assert _in_process(got)
    with monkeypatch.context() as m:
        m.setattr(resident, "MAX_STORE_BYTES", 0)
        ref = serve()
    return _served(got), _served(ref)


def _jobs(spark, action) -> int:
    sc = spark.sparkContext
    group = f"test-resident-{next(_groups)}"
    sc.setJobGroup(group, "resident")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _swap(path: str, new: str) -> None:
    """Serve ``new`` under ``path``: the retrain/compact posture."""
    shutil.rmtree(path)
    os.rename(new, path)


@pytest.fixture(scope="module")
def vectors(embeddings):
    return embeddings.select("vec_id", "embedding")


@pytest.fixture(scope="module")
def dense_queries(vectors):
    return vectors.filter(F.col("vec_id") % 50 == 7).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def ivf_stores(spark, vectors, tmp_path_factory):
    """One-shot; two batches where 50 re-ingested ids changed embedding
    (latest wins before compaction); a copy of the one-shot store with a
    crash-retried duplicate part file in one cell."""
    root = tmp_path_factory.mktemp("resident_ivf")
    one, multi, dup = (str(root / n) for n in ("one", "multi", "dup"))
    vecstore.ivf_index_build(vectors, one, n_cells=N_CELLS)
    vecstore.ivf_index_build(
        vectors.filter(F.col("vec_id") < 300), multi, n_cells=N_CELLS, batch_id=0
    )
    moved = vectors.filter(F.col("vec_id") < 50).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    vecstore.ivf_index_build(
        vectors.filter(F.col("vec_id") >= 300).unionByName(moved),
        multi,
        batch_id=1,
    )
    shutil.copytree(one, dup)
    cell = sorted((root / "dup" / "vectors" / "batch_id=-1").iterdir())[0]
    part = next(p for p in cell.iterdir() if p.name.startswith("part-"))
    shutil.copy(part, cell / "part-99999-retry.c000.snappy.parquet")
    return {"one": one, "multi": multi, "dup": dup}


@pytest.fixture(scope="module")
def bm25_store(spark, documents, tmp_path_factory):
    """Three batches, batch 1 crash-retried, and doc 0 re-ingested with
    changed text in batch 2 (both copies stay in the postings)."""
    store = str(tmp_path_factory.mktemp("resident_bm25") / "store")
    docs = documents.select("doc_id", "text")
    for i in (0, 1, 1, 2):
        part = docs.filter(F.col("doc_id") % 3 == i)
        if i == 2:
            part = part.unionByName(
                docs.filter(F.col("doc_id") == 0).select(
                    "doc_id", F.concat_ws(" ", "text", F.lit("dup dup")).alias("text")
                )
            )
        retrieval.postings_index_build(part, store, batch_id=i)
    return store


@pytest.fixture(scope="module")
def text_queries(spark, documents):
    """The first six tokens of 12 docs, plus a query with no stored term
    and one whose tokens are joined by a tab and a double space (only
    single spaces split, so the tab-joined pair is one unstored term)."""
    head = documents.orderBy("doc_id").limit(12).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 6), " ").alias("query"),
    )
    words = F.split("query", " ")
    spaced = head.limit(1).select(
        F.lit(998).cast("long").alias("query_id"),
        F.concat_ws(
            "  ", F.array_join(F.slice(words, 1, 2), "\t"), words[2]
        ).alias("query"),
    )
    unseen = spark.createDataFrame(
        [(999, "zzz-unseen nothing-stored")], "query_id long, query string"
    )
    return head.unionByName(spaced).unionByName(unseen).localCheckpoint(eager=True)


@pytest.mark.parametrize(
    "store,k,n_probe",
    [("one", 5, N_PROBE), ("multi", 5, N_PROBE), ("dup", 1000, 1)],
)
def test_resident_ivf_equals_spark_serve(
    spark, ivf_stores, dense_queries, store, k, n_probe, monkeypatch
):
    """Rows and schema equal the Spark serve's, including k larger than
    any query's candidate count (every probed candidate is returned)."""
    got, ref = _resident_and_spark(
        monkeypatch,
        lambda: vecstore.ivf_topk_from_index(
            spark, ivf_stores[store], dense_queries, k=k, n_probe=n_probe
        ),
    )
    assert got == ref and got[1]


def test_resident_ivf_empty_and_zero_norm_queries(
    spark, ivf_stores, dense_queries, monkeypatch
):
    """An empty query frame serves an empty frame of the Spark schema; a
    zero-norm query raises the same named ValueError on both paths and at
    every n_probe (the Spark serve checks query norms before assigning)."""
    path = ivf_stores["one"]
    got, ref = _resident_and_spark(
        monkeypatch,
        lambda: vecstore.ivf_topk_from_index(
            spark, path, dense_queries.limit(0), k=5, n_probe=N_PROBE
        ),
    )
    assert got == ref and not got[1]

    zero = spark.createDataFrame(
        [(1, [0.0] * 64)], "vec_id long, embedding array<float>"
    ).unionByName(dense_queries.limit(3))
    msg = r"^zero-norm embedding \(vec_id=1\): cosine is undefined"
    for byte_gate in (resident.MAX_STORE_BYTES, 0):
        for n_probe in (1, N_PROBE):
            with monkeypatch.context() as m:
                m.setattr(resident, "MAX_STORE_BYTES", byte_gate)
                with pytest.raises(ValueError, match=msg):
                    vecstore.ivf_topk_from_index(
                        spark, path, zero, k=5, n_probe=n_probe
                    )


def test_resident_bm25_equals_spark_serve(
    spark, bm25_store, text_queries, monkeypatch
):
    """Rows and schema equal the Spark serve's: multi-batch with a
    crash-retried batch and a re-ingested doc, a query with no stored
    term, the df cap, k larger than the hit count, an empty query frame,
    and a NOT NULL query_id (the output schema follows the query frame)."""
    not_null = text_queries.select(
        F.coalesce("query_id", F.lit(0)).alias("query_id"), "query"
    )
    assert not not_null.schema["query_id"].nullable
    served = []
    for queries, kw in (
        (text_queries, {"k": 10}),
        (text_queries, {"k": 10, "max_df_ratio": 0.78}),
        (text_queries, {"k": 100000}),
        (text_queries.limit(0), {"k": 10}),
        (not_null, {"k": 3}),
    ):
        got, ref = _resident_and_spark(
            monkeypatch,
            lambda: retrieval.bm25_topk_from_index(spark, bm25_store, queries, **kw),
        )
        assert got == ref
        served.append(got[1])
    uncapped, capped, everything, empty, _ = served
    assert capped and capped != uncapped  # the cap drops some terms
    assert len(everything) > len(uncapped) and not empty
    assert 999 not in {r[0] for r in everything}  # no stored term


def test_resident_ivf_follows_every_writer(
    spark, vectors, dense_queries, tmp_path, monkeypatch
):
    """After each writer — growth, a crash-retried rewrite of the same
    batch_id, compact, expire and retrain (each swapped in under the
    served path), and the path deleted and rebuilt — the resident serve
    equals the Spark serve of the store as it now is."""
    path = str(tmp_path / "store")
    planted = dense_queries.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )

    def serve():
        got, ref = _resident_and_spark(
            monkeypatch,
            lambda: vecstore.ivf_topk_from_index(
                spark, path, dense_queries, k=5, n_probe=N_PROBE
            ),
        )
        assert got == ref and got[1]
        return {n for _, n, _, rk in got[1] if rk == 1}

    vecstore.ivf_index_build(
        vectors.filter(F.col("vec_id") < 400), path, n_cells=N_CELLS, batch_id=0
    )
    assert all(n < 1_000_000 for n in serve())
    vecstore.ivf_index_build(planted, path, batch_id=1)  # growth
    assert all(n >= 1_000_000 for n in serve())
    vecstore.ivf_index_build(planted, path, batch_id=1)  # crash retry
    serve()
    vecstore.ivf_store_compact(spark, path, str(tmp_path / "compacted"))
    _swap(path, str(tmp_path / "compacted"))
    serve()
    vecstore.ivf_store_expire(spark, path, str(tmp_path / "expired"), planted)
    _swap(path, str(tmp_path / "expired"))
    assert all(n < 1_000_000 for n in serve())
    vecstore.ivf_store_retrain(spark, path, str(tmp_path / "retrained"), n_cells=8)
    _swap(path, str(tmp_path / "retrained"))
    serve()
    shutil.rmtree(path)
    vecstore.ivf_index_build(vectors.unionByName(planted), path, n_cells=N_CELLS)
    assert all(n >= 1_000_000 for n in serve())


def test_resident_bm25_follows_every_writer(
    spark, documents, text_queries, tmp_path, monkeypatch
):
    """The same for the postings store: postings ingest of a new batch,
    a crash-retried rewrite, compact, expire, and the path deleted and
    rebuilt (what the ``bm25_topk_served`` contract query does)."""
    path = str(tmp_path / "store")
    docs = documents.select("doc_id", "text")
    served = []

    def serve():
        got, ref = _resident_and_spark(
            monkeypatch,
            lambda: retrieval.bm25_topk_from_index(spark, path, text_queries, k=5),
        )
        assert got == ref and got[1]
        served.append(got)

    evens, odds = (docs.filter(F.col("doc_id") % 2 == i) for i in (0, 1))
    retrieval.postings_index_build(evens, path, batch_id=0)
    serve()
    retrieval.postings_index_build(odds, path, batch_id=1)
    serve()
    assert served[-1] != served[-2]
    retrieval.postings_index_build(odds, path, batch_id=1)  # crash retry
    serve()
    sp.postings_compact(spark, path, str(tmp_path / "compacted"))
    _swap(path, str(tmp_path / "compacted"))
    serve()
    drop = docs.filter(F.col("doc_id") < 100).select("doc_id")
    sp.postings_index_expire(spark, path, str(tmp_path / "expired"), drop)
    _swap(path, str(tmp_path / "expired"))
    serve()
    assert served[-1] != served[-2]
    shutil.rmtree(path)
    retrieval.postings_index_build(docs.filter(F.col("doc_id") >= 250), path)
    serve()
    assert served[-1] != served[-2]


def test_resident_gates(
    spark, ivf_stores, bm25_store, dense_queries, text_queries, monkeypatch
):
    """Both gates, both sides: the store's listed bytes against
    MAX_STORE_BYTES, and the query rows against MAX_QUERY_ROWS."""
    for path, serve, queries in (
        (ivf_stores["one"], vecstore.ivf_topk_from_index, dense_queries),
        (bm25_store, retrieval.bm25_topk_from_index, text_queries),
    ):
        n_bytes = resident.store_version(spark, path)[1]
        n_rows = queries.count()
        for gate, at, inside in (
            ("MAX_STORE_BYTES", n_bytes, True),
            ("MAX_STORE_BYTES", n_bytes - 1, False),
            ("MAX_QUERY_ROWS", n_rows, True),
            ("MAX_QUERY_ROWS", n_rows - 1, False),
        ):
            with monkeypatch.context() as m:
                m.setattr(resident, gate, at)
                assert _in_process(serve(spark, path, queries, k=5)) is inside


def test_resident_warm_call_job_count(
    spark, ivf_stores, bm25_store, dense_queries, text_queries
):
    """A warm call plus its collect runs at most 2 jobs — the query
    collect and the caller's own. The Spark serve ran 16 (dense) and 19
    (BM25) here."""
    for call in (
        lambda: vecstore.ivf_topk_from_index(
            spark, ivf_stores["multi"], dense_queries, k=10, n_probe=N_PROBE
        ).collect(),
        lambda: retrieval.bm25_topk_from_index(
            spark, bm25_store, text_queries, k=10
        ).collect(),
    ):
        call()
        assert _jobs(spark, call) <= 2


def test_round_half_up_matches_spark_round(spark):
    """``resident.round_half_up`` is Spark's ``F.round`` on doubles:
    HALF_UP on the decimal string, at the digits the serves use."""
    rng = random.Random(7)
    xs = [3.5e-06, 0.0000125, 0.1234565, -0.0000005, 0.9999995, 1.0000005, 2.5e-7,
          -1e-9, 0.00015, 1.00005, 123.45675]
    xs += [rng.uniform(-1, 1) for _ in range(300)]
    xs += [round(rng.uniform(0, 1), 7) + 5e-8 for _ in range(300)]
    rows = (
        spark.createDataFrame([(x,) for x in xs], "x double")
        .select("x", *(F.round("x", d).alias(f"r{d}") for d in (3, 4, 6)))
        .collect()
    )
    for r in rows:
        for d in (3, 4, 6):
            assert resident.round_half_up(r.x, d) == r[f"r{d}"], (r.x, d)
    assert resident.round_half_up(3.5e-06, 6) == 4e-06 != round(3.5e-06, 6)


def test_partition_root_lists_without_a_job(spark, tmp_path):
    """A partition root with 64 children lists on the driver, so the
    version key and every store read skip the 64-task listing job Spark's
    default threshold (32 children) started per read: 1 job before
    ``session.get_spark`` raised the threshold, 0 now."""
    root = str(tmp_path / "cells")
    spark.range(64).withColumn("cell_id", F.col("id")).write.partitionBy(
        "cell_id"
    ).parquet(root)
    reader = spark.read.schema("id long")
    assert _jobs(spark, lambda: reader.parquet(root).inputFiles()) == 0
