"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the conf set here is chosen so the same
logical plans scale to a multi-executor cluster reading ~100 TB:

- AQE on (runtime re-plan: join-strategy switching, skew-join splitting,
  partition coalescing) so small-SF test plans and large-SF cluster plans
  both come out right without hand-tuning.
- Arrow on for the few Pandas-UDF seams (vectorized Python, never row-at-a-time).
- ``spark.sql.shuffle.partitions`` sized for the local box; on a real cluster
  AQE's coalescing makes the initial number mostly irrelevant.
- Broadcast threshold left at default (10 MB) — dimension tables (region,
  nation, supplier, catalog listings) broadcast; fact tables never do.
- The whole-stage codegen cache holds 1024 compiled classes, not Spark's
  100, so a repeated pipeline reuses its classes instead of recompiling
  them on every call (``maxEntries`` below).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the cores this process may run
    on — never more threads than the box gives us."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(app_name: str = "pulsar-replay-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12 (guide §3.1): let AQE rewrite a planned sort-merge join to a
        # shuffled hash join AT RUNTIME when every post-shuffle partition of
        # the build side measures under this threshold — removes both sorts
        # exactly when the per-partition hash table provably fits (the
        # OOM-safety condition), and stays SMJ otherwise. Scale-adaptive by
        # construction: at 100 TB fact⋈fact partitions exceed the threshold
        # and keep the spill-safe SMJ. This factory sets 128m (Spark's own
        # default is 0 = off). Memory note: the build side of each
        # concurrent task can hold up to the threshold, so budget
        # ~threshold × concurrent tasks of executor memory headroom when
        # raising it.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Generated classes are cached per (classloader, source), and Spark
        # keeps 100. One curate_corpus call generates about 150 distinct
        # classes, so at 100 the LRU evicts each class before the next call
        # asks for it again (measured: 186 Janino compiles, 1.7-2.2 s on 4
        # cores, per warm call); at 1024 a warm call compiles none.
        # perfbench's serving op fell from 40-55 compiles to 10-19; the rest
        # carry data literals (watermark, batch_id) and never hit the cache.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # Partition discovery lists a directory level on the driver while it
        # holds at most this many children; above it Spark starts a listing
        # JOB (64 tasks, ~0.5 s here) per level. Spark's default of 32 made
        # every read of a 64-cell store root pay one such job per batch_id
        # directory, and the stores' job-free version listing
        # (operators/resident.py) relies on the serial listing. Stores at
        # cluster scale (2^15 cells) still list in parallel.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # events.ts has shipped both as parquet TIMESTAMP(NANOS) (which the
        # vectorized reader only accepts as a raw long under this conf) and as
        # TIMESTAMP(MICROS) (read natively). Setting nanosAsLong is harmless in
        # the micros era; load_events() dispatches on the observed dtype.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def load_events(spark: SparkSession, sf_dir: str):
    """events with `ts` as a proper TimestampType, whatever the fixture era.

    The fixture's parquet physical type for ``ts`` has changed across
    environments and may change again, so dispatch on the *observed* dtype
    rather than assuming either era:

    - TIMESTAMP(NANOS): under ``nanosAsLong`` it scans as epoch-nanos BIGINT;
      ``ts div 1000`` is exact integer division (a double division would lose
      precision at 1.7e18), truncating nanos → micros the same way DuckDB's
      epoch_ms later truncates — oracles compare at millisecond granularity.
    - TIMESTAMP(MICROS) (pyspark ≥4.1 fixtures): scans natively as
      TIMESTAMP/TIMESTAMP_NTZ; just cast to session-zone TimestampType.
    """
    from pyspark.sql import functions as F

    # Runtime-settable; required even when the session wasn't built by
    # get_spark() (e.g. the verification driver's vanilla session). Only
    # affects the nanos era; never assume it took effect — check the dtype.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        return ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load every fixture table from ``sf_dir`` as a DataFrame.

    Parquet scans keep column-pruning + predicate-pushdown; callers filter
    and select on the returned DataFrames so the pushdowns reach the scan.
    """
    out = {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in TABLES}
    out["events"] = load_events(spark, sf_dir)
    return out


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> list[str]:
    """Expose every fixture table as a temp view (``events`` normalized via
    load_events) so the whole engine surface is reachable from plain
    ``spark.sql`` — the second query API next to the DataFrame layer (the
    monthly_orders contract leg already pins that both run the same Catalyst
    pipeline). Returns the registered view names."""
    names = []
    for t, df in load_tables(spark, sf_dir).items():
        name = f"{prefix}{t}"
        df.createOrReplaceTempView(name)
        names.append(name)
    return names
