"""Physical-plan quality gates — the 100 TB story, asserted.

These tests pin the plan shapes that matter at scale: dimension joins must
broadcast, filters and projections must reach the parquet scan, the capture
window must not double-shuffle, and LSH must never degrade to a cross join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q5_broadcasts_dimensions(spark):
    from pulsar_replay_spark.queries_relational import q5_region_revenue

    plan = _plan(q5_region_revenue(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    assert "CartesianProduct" not in plan


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan, plan


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    df = li.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan, plan


def test_capture_pipeline_single_shuffle(spark):
    """Window partitionBy(topic) then groupBy(topic) must reuse the
    partitioning — exactly one exchange."""
    from pulsar_replay_spark.operators.capture import capture_pipeline
    from pulsar_replay_spark.session import load_events

    plan = _plan(capture_pipeline(load_events(spark, SF_SMOKE)))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} shuffles:\n{plan[:3000]}"


def test_q1_partial_aggregation_map_side(spark):
    """Raw lineitem rows must never shuffle: partial (map-side) hash
    aggregation before the exchange, final after. (AQE shows codegen spans
    only post-execution, so assert the aggregate shape instead.)"""
    from pulsar_replay_spark.queries_relational import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, SF_SMOKE))
    assert "partial_sum" in plan  # map-side combine
    assert plan.count("HashAggregate") >= 2  # partial + final, hash not sort
    assert plan.index("partial_sum") > plan.index("Exchange") or plan.count("Exchange") == 1


def test_lsh_join_is_hash_not_cartesian(spark, embeddings):
    from pulsar_replay_spark.operators.similarity import lsh_topk

    queries = embeddings.filter(F.col("vec_id") % 100 == 0)
    plan = _plan(lsh_topk(embeddings, queries, k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_semi_anti_joins_planned(spark):
    from pulsar_replay_spark.queries_relational import (
        q_customers_without_orders,
        q_nations_with_f_orders,
    )

    anti = _plan(q_customers_without_orders(spark, SF_SMOKE))
    semi = _plan(q_nations_with_f_orders(spark, SF_SMOKE))
    assert "LeftAnti" in anti
    assert "LeftSemi" in semi


def test_events_scan_prunes_columns_for_counts(spark):
    """per_topic_count must not read value/props (topic derives from
    event_id/user_id/event_type only)."""
    from pulsar_replay_spark.queries_reference import q_per_topic_count

    plan = _plan(q_per_topic_count(spark, SF_SMOKE))
    assert "value" not in plan.split("ReadSchema:")[-1]
    assert "props" not in plan.split("ReadSchema:")[-1]


def test_no_row_at_a_time_python_udf_in_any_query(spark):
    """Global gate: every contract query must stay JVM-side or Arrow-batched.
    `BatchEvalPython` (pickled row-at-a-time UDF) in any plan is a bug;
    `ArrowEvalPython` / `MapInPandas` / `FlatMapGroupsInPandas` are the
    sanctioned Python seams."""
    import __spark_entry__ as m

    offenders = []
    for name, fn in m.queries().items():
        plan = _plan(fn(spark, SF_SMOKE))
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, f"row-at-a-time Python UDFs in: {offenders}"


def test_gapfill_grid_join_is_equi(spark):
    from pulsar_replay_spark.queries_temporal import q_gapfill_hourly_counts

    plan = _plan(q_gapfill_hourly_counts(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nested_field_pruning_on_generated_docs(spark, tmp_path):
    """Selecting one leaf of the 4-level emailSend struct must prune the rest
    at the parquet scan — at 100 TB reading the whole payload struct for a
    one-field projection is the difference between a column chunk and the
    full dataset."""
    from pulsar_replay_spark.generator import generate_emailsend

    path = str(tmp_path / "nested")
    generate_emailsend(spark, 200).select("id", "doc").write.parquet(path)
    df = spark.read.parquet(path).select("doc.payload.metadata.source.action")
    schema = _plan(df).split("ReadSchema:")[-1]
    assert "action" in schema
    for leaked in ("telemetry", "esContext", "diff", "userKey"):
        assert leaked not in schema, schema


def test_aqe_coalesces_small_shuffle(spark):
    """AQE must rewrite the 8-partition shuffle of a tiny agg down to fewer
    partitions at runtime (the property that makes the static
    shuffle.partitions setting a ceiling, not a knob)."""
    ev = spark.range(0, 1000).groupBy((F.col("id") % 7).alias("k")).count()
    ev.collect()  # adaptive plans finalize on execution
    final = ev._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead coalesced" in final, final[:2000]


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, "/root/testdata/sf0.1"])
def test_replay_preserves_per_topic_order(spark, sf_dir):
    """SURVEY §3.2 caveat: the reference replays files in order; the engine
    must keep per-topic publish order — each topic in one partition, sorted
    within it. Run at sf0.1 too: AQE coalescing merges the small shuffle
    partitions there, and the ordering guarantee must survive the merged
    plan (coalescing concatenates whole partitions, preserving each one's
    internal sort — this gate is the proof, not the assumption)."""
    from pulsar_replay_spark.operators.capture import with_topics
    from pulsar_replay_spark.session import load_events
    from pulsar_replay_spark.sources.jsonio import replay_frame
    from pulsar_replay_spark.envelope import with_envelope

    ev = with_topics(load_events(spark, sf_dir))
    env = (
        ev.select(
            "topic",
            F.encode(F.col("event_type"), "UTF-8").alias("raw"),
            F.create_map(F.lit("k"), F.col("props")).alias("properties"),
            F.unix_millis("ts").alias("event_timestamp"),
            F.col("user_id").cast("string").alias("partition_key"),
            F.unix_millis("ts").alias("publish_timestamp"),
        )
    )
    env = with_envelope(env)
    out = replay_frame(env)

    import pyspark.sql.functions as SF

    rows = out.withColumn("pid", SF.spark_partition_id()).collect()
    by_topic_partitions = {}
    by_partition_seq = {}
    for i, r in enumerate(rows):
        by_topic_partitions.setdefault(r["topic"], set()).add(r["pid"])
    # collect() preserves within-partition order; check monotone publish ts
    # per (partition, topic)
    last = {}
    ok = True
    for r in rows:
        key = (r["pid"], r["topic"])
        if key in last and r["publish_timestamp"] < last[key]:
            ok = False
            break
        last[key] = r["publish_timestamp"]
    assert ok, "publish order violated within a topic partition"
    assert all(len(p) == 1 for p in by_topic_partitions.values()), (
        "a topic spans multiple partitions"
    )


def test_q4_exists_plans_as_semi_join(spark):
    """EXISTS with a correlated inequality must plan as ONE semi join (no
    aggregate-then-join rewrite, no cartesian), with the orders date range
    pushed to the scan."""
    from pulsar_replay_spark.queries_relational import q4_order_priority

    plan = _plan(q4_order_priority(spark, SF_SMOKE))
    assert "LeftSemi" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan[:2000]


def test_q19_factored_conjuncts_push_to_scans(spark):
    """Catalyst must factor the OR-of-ANDs: the brand disjunction pushes to
    the part scan and the quantity envelope to the lineitem scan, so both
    sides prune before the join."""
    from pulsar_replay_spark.queries_relational import q19_disjunctive_revenue

    plan = _plan(q19_disjunctive_revenue(spark, SF_SMOKE))
    # both scans carry the (factored) disjunction in PushedFilters
    assert plan.count("Or(Or(And(") >= 2, plan[:3000]
    # plus the extracted common conjunct on the part side
    assert "GreaterThanOrEqual(p_size,1)" in plan, plan[:3000]


def test_q22_scalar_subquery_broadcasts(spark):
    """The 1-row average-balance side must broadcast (never shuffle customer
    against it) and the recent-orders anti-join must plan as LeftAnti."""
    from pulsar_replay_spark.queries_relational import q22_idle_rich_customers

    plan = _plan(q22_idle_rich_customers(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin BuildRight, Inner" in plan or "BroadcastHashJoin" in plan, plan[:3000]
    assert "LeftAnti" in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_fact_join(spark):
    """Runtime row-level filtering (Spark 3.3+): a selective filter on one
    side of a fact⋈fact shuffle join must inject a bloom_filter_agg subquery
    whose might_contain() prunes the big side BEFORE the shuffle. At 100 TB
    the default thresholds (10 GB application side) enable this untouched;
    the thresholds are lowered here only so tiny fixtures qualify."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(j)
        assert "might_contain" in plan, plan[:3000]
        assert "bloom_filter_agg" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_served_ivf_plan_is_cell_keyed_not_bnlj(spark):
    """The corpus-scaled IVF serving path (r3): candidate generation must
    stay keyed on cell_id (no BNLJ/cartesian) except the broadcast of the
    tiny centroid set."""
    from pyspark.sql import functions as F

    from pulsar_replay_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    n_cells, n_probe = similarity.ivf_params(emb.count())
    cents = similarity.ivf_centroids(emb, n_cells)
    served = similarity.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") % 200 == 0),
        k=5,
        n_cells=n_cells,
        n_probe=n_probe,
        centroids=cents,
        corpus_cells=similarity.ivf_assign(emb, cents, n_probe=1),
    )
    plan = _plan(served)
    assert "CartesianProduct" not in plan
    # the only nested loops allowed are the broadcasts of the n_cells-row
    # centroid frame during the two assignments (corpus, queries) — O(N·cells)
    # map-side compute, the inherent IVF assignment cost
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan[:3000]
    # candidate generation itself must stay cell_id-KEYED: since r6 the
    # in-cell pair scoring is the cogrouped Arrow kernel (both sides hash-
    # partitioned on cell_id into FlatMapCoGroupsInPandas) — same keyed
    # shuffle discipline as the old equi-join, embeddings cross Arrow once
    # per cell and the top-k window never sorts vectors
    assert "FlatMapCoGroupsInPandas" in plan, plan[:3000]


def test_doc_profile_is_single_scan_no_exchange(spark):
    """The per-doc profile (quality ratios, fingerprint, repetition,
    SimHash) must be ONE map-side scan: the SimHash signature is an
    expression, not an explode+groupBy — any Exchange here means a corpus
    shuffle for per-row arithmetic."""
    from pulsar_replay_spark.queries_llm import q_doc_profile

    plan = _plan(q_doc_profile(spark, SF_SMOKE))
    assert "Exchange" not in plan, plan[:3000]


def test_r3_tpch_sweep_plan_shapes(spark):
    """The r3 TPC-H sweep's physical shapes: q6 is a pure pushdown scan+agg
    (zero joins); q8/q9/q20 broadcast every dim (no SMJ anywhere — the only
    fact⋈fact edges ride broadcast candidates at fixture scale); q11's one
    BroadcastNestedLoopJoin is the 1-row scalar-cutoff crossJoin, never a
    pair blowup."""
    import re

    from pulsar_replay_spark import queries_relational as qr

    def shapes(name):
        plan = getattr(qr, name)(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        return re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)",
            plan,
        ), plan

    joins, plan = shapes("q6_forecast_revenue")
    assert joins == []
    assert "PushedFilters: [IsNotNull" in plan  # predicates reach the scan

    for name in ("q8_market_share", "q9_product_profit", "q20_excess_shipments"):
        joins, _ = shapes(name)
        assert joins and set(joins) == {"BroadcastHashJoin"}, (name, joins)

    joins, _ = shapes("q11_important_parts")
    assert joins.count("BroadcastNestedLoopJoin") == 1  # the 1-row cutoff
    assert "CartesianProduct" not in joins


def test_simhash_banded_join_is_hash_not_cartesian(spark):
    """The r6 contract row: the Manku banded pair join must plan as a hash
    equi-join on (blk, val) — never a cartesian/BNLJ pair scan — at both
    the 16-bit contract width and the 60-bit scale width."""
    from pulsar_replay_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(200)
    for bits in (16, 60):
        plan = _plan(dedup.simhash_near_pairs(docs, max_hamming=3, bits=bits))
        assert "CartesianProduct" not in plan, bits
        assert "BroadcastNestedLoopJoin" not in plan, bits
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, bits


def test_blocked_semdedup_scan_has_no_cartesian(spark, embeddings):
    """The giant-cell block decomposition replicates rows through an
    explode + groupBy, never a cross join; both scan variants stay
    cartesian-free."""
    from pulsar_replay_spark.operators import similarity

    for blk in (None, 64):
        plan = _plan(
            similarity.semantic_dedup(embeddings, n_cells=8, block_rows=blk)
        )
        assert "CartesianProduct" not in plan, blk
        assert "BroadcastNestedLoopJoin" not in plan, blk


def test_image_near_dup_contract_join_is_hash_not_cartesian(spark):
    """The r8 contract row: the perceptual dHash pair query (thumbnails →
    56-bit dHash → banded pigeonhole join) must plan as a hash equi-join
    on (blk, val), never a cartesian/BNLJ pair scan."""
    from pulsar_replay_spark.queries_llm import q_image_near_dup_pairs

    plan = _plan(q_image_near_dup_pairs(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_pagerank_round_is_equi_join_not_cartesian(spark):
    """The r8 contract row's per-iteration plan (pagerank checkpoints each
    round away, so the gate runs on the factored _pagerank_round): the
    edge⋈ranks join and the nodes⋈contrib join must both plan as hash/merge
    equi-joins — never a cartesian/BNLJ — and the share aggregation must
    carry a map-side partial_sum."""
    from pyspark.sql import functions as F

    from pulsar_replay_spark.operators.graph import _pagerank_round

    edges = spark.range(500).select(
        F.pmod(F.xxhash64("id"), F.lit(50)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(50)).alias("dst"),
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    ed = edges.join(deg, "src")
    nodes = edges.select(F.col("src").alias("node")).distinct()
    based = nodes.select("node", F.lit(150_000_000_000).cast("long").alias("base"))
    ranks = nodes.select("node", F.lit(10**12).cast("long").alias("pr"))
    plan = _plan(_pagerank_round(based, ed, ranks, 85))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "partial_sum" in plan
