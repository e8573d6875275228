"""Dataset snapshot diff + join-size advisor.

Gates: dataset_diff vs an exact DuckDB full-outer twin (same md5 content
hash), status partition invariants on a planted old→new mutation,
join_size_estimate EXACT equality with the materialized join's count, and
the recommendation thresholds.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import curation, skew

from tests.conftest import SF_SMOKE
from tests.spec_reference import split_leakage_report


@pytest.fixture(scope="module")
def snapshots(spark, documents):
    """old = fixture docs; new = drop ids %17==0, rewrite text of %13==0,
    add 20 fresh ids — a deterministic planted churn."""
    old = documents
    kept = documents.filter(F.col("doc_id") % 17 != 0)
    mutated = kept.withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
            F.col("text")
        ),
    )
    added = documents.limit(20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    return old, mutated.unionByName(added)


def test_dataset_diff_matches_duckdb(spark, snapshots, tmp_path):
    old, new = snapshots
    old_p, new_p = str(tmp_path / "old.parquet"), str(tmp_path / "new.parquet")
    old.write.mode("overwrite").parquet(old_p)
    new.write.mode("overwrite").parquet(new_p)

    got = sorted(map(tuple, curation.dataset_diff(old, new).collect()))

    h = (
        "substring(md5(concat_ws(chr(31), "
        + ", ".join(
            f"coalesce(CAST({c} AS VARCHAR), chr(0))"
            for c in sorted(["lang", "n_chars", "source", "text"])
        )
        + ")), 1, 16)"
    )
    con = duckdb.connect()
    expect = con.execute(
        f"""
        WITH o AS (SELECT doc_id, {h} AS old_h FROM read_parquet('{old_p}/*.parquet')),
             n AS (SELECT doc_id, {h} AS new_h FROM read_parquet('{new_p}/*.parquet'))
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN old_h IS NULL THEN 'added'
                    WHEN new_h IS NULL THEN 'removed'
                    WHEN old_h <> new_h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        ORDER BY 1
        """
    ).fetchall()
    assert got == [tuple(r) for r in expect]


def test_dataset_diff_planted_statuses(spark, snapshots):
    old, new = snapshots
    by_status: dict[str, set] = {}
    for r in curation.dataset_diff(old, new).collect():
        by_status.setdefault(r["status"], set()).add(r["doc_id"])
    assert all(i >= 1_000_000 for i in by_status["added"])
    assert len(by_status["added"]) == 20
    assert all(i % 17 == 0 for i in by_status["removed"])
    assert all(i % 13 == 0 and i % 17 != 0 for i in by_status["changed"])
    n_old = old.count()
    total = sum(len(v) for v in by_status.values())
    assert total == n_old + 20  # every doc in either snapshot, exactly once
    summary = {
        r["status"]: r["n_docs"]
        for r in curation.dataset_diff_summary(curation.dataset_diff(old, new)).collect()
    }
    assert summary == {k: len(v) for k, v in by_status.items()}


def test_join_size_estimate_is_exact(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    est = skew.join_size_estimate(orders, cust, "o_custkey")
    actual = orders.join(cust, "o_custkey").count()
    assert est["rows_out"] == actual
    assert est["left_rows"] == orders.count()
    assert est["recommendation"] == "broadcast"  # fixture dims are tiny

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "k"
    )
    od = orders.withColumnRenamed("o_orderkey", "k")
    est2 = skew.join_size_estimate(li, od, "k")
    assert est2["rows_out"] == li.join(od, "k").count()


def test_join_size_estimate_recommendations(spark):
    # 91x hot key on both sides -> salted when broadcast is ruled out
    hot = spark.range(0, 1000).select(
        F.when(F.col("id") < 910, F.lit(0)).otherwise(F.col("id")).alias("k")
    )
    est = skew.join_size_estimate(hot, hot, "k", broadcast_threshold_rows=10)
    assert est["recommendation"] == "salted"
    assert est["top_key"] == 0
    assert est["top_key_rows_out"] == 910 * 910
    # uniform keys -> shuffle
    uni = spark.range(0, 1000).select(F.col("id").alias("k"))
    est2 = skew.join_size_estimate(uni, uni, "k", broadcast_threshold_rows=10)
    assert est2["recommendation"] == "shuffle"
    assert est2["rows_out"] == 1000


def test_split_leakage_report(spark, documents):
    """Planted near-dup clone forced into the opposite split must surface as
    a crossing pair; same-split near-dups must NOT."""
    from pyspark.sql.window import Window  # noqa: F401

    clone = documents.filter(F.col("doc_id") == 7).select(
        F.lit(3_000_007).cast("bigint").alias("doc_id"),
        F.concat("text", F.lit(" x")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    corpus = documents.unionByName(clone)
    split = curation.hash_split(corpus)
    # force the clone into the opposite split of its source
    src_split = split.filter(F.col("doc_id") == 7).collect()[0]["split"]
    other = "test" if src_split == "train" else "train"
    forced = split.withColumn(
        "split",
        F.when(F.col("doc_id") == 3_000_007, F.lit(other)).otherwise(F.col("split")),
    )
    leaks = split_leakage_report(corpus, forced).collect()
    assert any(
        {r["doc_a"], r["doc_b"]} == {7, 3_000_007} for r in leaks
    )
    for r in leaks:
        assert r["split_a"] != r["split_b"]
    # same-split placement must silence that pair
    same = split.withColumn(
        "split",
        F.when(F.col("doc_id") == 3_000_007, F.lit(src_split)).otherwise(F.col("split")),
    )
    silent = split_leakage_report(corpus, same).collect()
    assert not any({r["doc_a"], r["doc_b"]} == {7, 3_000_007} for r in silent)


def test_corpus_drift_properties(spark, documents):
    """JS divergence: 0 for identical snapshots; small for a mild rewrite;
    large (near ln 2) against a vocabulary-disjoint corpus; symmetric; and
    exactly matching a python mirror of the same bucketed arithmetic."""
    import hashlib
    import math

    same = {
        r["source"]: r["js_divergence"]
        for r in curation.corpus_drift(documents, documents).collect()
    }
    assert same and all(abs(v) < 1e-9 for v in same.values())

    mild = documents.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" drifted"))
        ).otherwise(F.col("text")),
    )
    mild_js = {
        r["source"]: r["js_divergence"]
        for r in curation.corpus_drift(documents, mild).collect()
    }
    disjoint = documents.withColumn(
        "text", F.concat(F.lit("zzq"), F.regexp_replace("text", " ", " zzq"))
    )
    far_js = {
        r["source"]: r["js_divergence"]
        for r in curation.corpus_drift(documents, disjoint).collect()
    }
    assert any(v > 0 for v in mild_js.values())
    for s in mild_js:
        assert 0 <= mild_js[s] < 0.05
        assert far_js[s] > 0.3
        assert far_js[s] <= math.log(2) + 1e-6

    # symmetry
    rev = {
        r["source"]: r["js_divergence"]
        for r in curation.corpus_drift(mild, documents).collect()
    }
    assert all(abs(rev[s] - mild_js[s]) < 1e-9 for s in rev)

    # python mirror on one source
    src = sorted(mild_js)[0]
    def counts(df):
        out: dict[int, float] = {}
        for r in df.filter(F.col("source") == src).select("text").collect():
            for w in r["text"].split(" "):
                if w:
                    b = int(hashlib.md5(w.encode()).hexdigest()[:3], 16)
                    out[b] = out.get(b, 0.0) + 1
        return out
    cp, cq = counts(documents), counts(mild)
    tp, tq = sum(cp.values()), sum(cq.values())
    js = 0.0
    for b in set(cp) | set(cq):
        pp, qq = cp.get(b, 0.0) / tp, cq.get(b, 0.0) / tq
        m = (pp + qq) / 2
        if pp > 0:
            js += 0.5 * pp * math.log(pp / m)
        if qq > 0:
            js += 0.5 * qq * math.log(qq / m)
    assert abs(mild_js[src] - round(js, 6)) < 2e-6


def test_corpus_drift_group_in_one_snapshot_reports_ln2(spark):
    """A source present in only ONE snapshot: its other-side total is 0 and
    the proportions must clamp to the zero measure — the group reports
    ln(2)/2 (only the present side's half-sum contributes), never NaN (the
    unclamped 0/0 double poisons the whole group sum)."""
    import math

    old = spark.createDataFrame(
        [(1, "alpha beta gamma", "keeps"), (2, "alpha beta", "vanishes")],
        "doc_id long, text string, source string",
    )
    new = spark.createDataFrame(
        [(3, "alpha beta gamma", "keeps"), (4, "delta epsilon", "appears")],
        "doc_id long, text string, source string",
    )
    js = {
        r["source"]: r["js_divergence"]
        for r in curation.corpus_drift(old, new).collect()
    }
    assert abs(js["keeps"]) < 1e-9
    for one_sided in ("vanishes", "appears"):
        assert js[one_sided] == js[one_sided], f"{one_sided}: NaN"  # not NaN
        assert abs(js[one_sided] - math.log(2) / 2) < 1e-6
