"""Gates for the last unexercised public surface: the SimHash hamming-0
cluster operator, the streaming console sink, the availableNow drain
helpers, and the broker-facing reader/writer option mapping (drivable
without a broker only up to plan construction — asserted to fail on the
CONNECTOR boundary, not inside the engine).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_simhash_dup_clusters_find_planted_identicals(spark, documents):
    from pulsar_replay_spark.operators.dedup import simhash_dup_clusters

    clone = documents.limit(3).select(
        (F.col("doc_id") + 8_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    clusters = simhash_dup_clusters(documents.unionByName(clone)).collect()
    assert clusters
    keeps = {r["keep_doc_id"] for r in clusters}
    originals = {r["doc_id"] for r in documents.limit(3).collect()}
    # each planted identical pair clusters, keeper = min doc_id = original
    assert originals <= keeps
    for r in clusters:
        assert r["n_docs"] > 1


def test_console_stream_drains(spark, tmp_path):
    from pulsar_replay_spark.sources.console import console_stream
    from pulsar_replay_spark.streaming.pipelines import events_stream

    src = str(tmp_path / "src")
    from pulsar_replay_spark.session import load_events

    load_events(spark, SF_SMOKE).limit(50).write.parquet(src)
    q = console_stream(events_stream(spark, src), str(tmp_path / "ck"), n=5)
    q.awaitTermination()
    assert not q.isActive  # availableNow drained and stopped


def test_run_available_now_helpers(spark, tmp_path):
    from pulsar_replay_spark.streaming import pipelines

    src = str(tmp_path / "src")
    from pulsar_replay_spark.session import load_events

    load_events(spark, SF_SMOKE).limit(100).write.parquet(src)
    stream = pipelines.events_stream(spark, src)
    pipelines.run_available_now(stream, "t_sink_append", str(tmp_path / "ck1"))
    assert spark.table("t_sink_append").count() == 100
    counted = pipelines.windowed_counts(stream)
    pipelines.run_available_now_complete(counted, "t_sink_complete", str(tmp_path / "ck2"))
    assert spark.table("t_sink_complete").count() > 0


def test_broker_facing_paths_fail_at_connector_boundary(spark):
    """Without a Pulsar connector jar/broker, read_topics/write_replay must
    fail on the DATA SOURCE lookup — proving the engine-side option mapping
    constructs cleanly and nothing engine-side breaks first."""
    from pulsar_replay_spark.sources import pulsar_connector as pc

    with pytest.raises(Exception) as e:
        pc.read_topics(spark, "pulsar://x:6650", "http://x:8080", topics=["t"]).count()
    assert "pulsar" in str(e.value).lower() or "DATA_SOURCE" in str(e.value)

    env = spark.createDataFrame(
        [("cGF5bG9hZA==", True, "t", 1, 2, "k", {"a": "b"})],
        "content string, binary_encoded boolean, topic string, "
        "event_timestamp long, publish_timestamp long, partition_key string, "
        "properties map<string,string>",
    )
    with pytest.raises(Exception) as e2:
        pc.write_replay(env, "pulsar://x:6650", "http://x:8080")
    assert "pulsar" in str(e2.value).lower() or "DATA_SOURCE" in str(e2.value)


def test_default_cpus_follows_env_else_affinity(monkeypatch):
    """get_spark's core count: $SPARK_GRAFT_CPUS when set, else the cores
    this process may run on — never a fixed count that oversubscribes a
    smaller box."""
    import os

    from pulsar_replay_spark.session import default_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert default_cpus() == 5
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert default_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_cpus() == 3
