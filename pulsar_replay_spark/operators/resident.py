"""Driver-resident snapshots of the small served stores.

At serving scale a query batch against a store of a few thousand rows pays
per-job overhead, not compute: the Spark serve of 16 queries runs 17–20
jobs whose work is milliseconds each. A store below ``MAX_STORE_BYTES`` is
therefore loaded into driver memory once per store VERSION, through the
store's own Spark read code, and batches of at most ``MAX_QUERY_ROWS``
queries are answered in process from that snapshot. Bigger stores and
bigger batches keep the Spark serve; it is also the equality reference the
tests pin the resident path to.

The version key is job-free: the sorted data-file listing of the store
directory. Every parquet write names its part files with a fresh job UUID,
so any writer — a growth batch, a crash-retried batch, a meta rewrite, or
the directory deleted and rebuilt — changes the key, and the next serve
reloads. The listing is a user-schema read with ``recursiveFileLookup``
(no schema-inference job); it runs no job as long as no directory level
holds more children than ``spark.sql.sources.parallelPartitionDiscovery
.threshold``, which ``session.get_spark`` raises for this reason.

Snapshots live in a small LRU keyed by (kind, store directory, scoring
parameters), holding the version each was loaded at.

The gates are set from measurements (4-core box, ``local[4]``, 16-row
query batches, warm medians; the Spark serve forced by a byte gate of 0):

====================  ========  =======  =======  ===========  ==========
store                 on disk   load     warm     Spark serve  driver RSS
====================  ========  =======  =======  ===========  ==========
IVF 9k vectors        2.4 MB    2.5 s    0.90 s   3.1 s        +6 MB
IVF 100k vectors      25 MB     4.0 s    1.1 s    3.1 s        +57 MB
IVF 300k vectors      76 MB     5.3 s    1.2 s    2.6 s        +109 MB
BM25 2k docs          0.7 MB    5.0 s    0.69 s   2.4 s        +18 MB
BM25 20k docs         5.8 MB    7.0 s    0.54 s   3.3 s        +99 MB
BM25 60k docs         17 MB     12.7 s   0.66 s   4.7 s        +128 MB
====================  ========  =======  =======  ===========  ==========

A warm resident call wins at every size; the load (paid once per store
version) costs up to 2.7× one Spark serve. Postings decode to about 8×
their compressed on-disk bytes, vectors to about 1.5×, so
``MAX_STORE_BYTES`` is the largest BM25 store measured, and the
``MAX_SNAPSHOTS`` snapshots hold about 0.5 GB at most. Larger stores are
unmeasured and keep the Spark serve; the snapshot's collect is also
bounded by ``spark.driver.maxResultSize`` (1 GB by default). At
``MAX_QUERY_ROWS`` queries (2.4 MB IVF store, 0.7 MB postings) the
resident warm call took 4.9 s against 5.5 s dense and 2.5 s against
23.5 s BM25.

Every call lists the store first; a store above the gate is then listed
again by the Spark serve's own read. That listing took 0.03–0.15 s and no
job on a one-batch postings store (64 buckets), a six-batch 64-cell IVF
store and a one-batch 512-cell IVF store; a query frame above
``MAX_QUERY_ROWS`` also pays one bounded collect (0.14–0.18 s for 5,000
rows) before the Spark serve.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import DataFrame, SparkSession

MAX_STORE_BYTES = 16 << 20  # on-disk bytes under the store directory
MAX_QUERY_ROWS = 4096  # rows of one query frame served in process
MAX_SNAPSHOTS = 4

_WIDE = Context(prec=400)  # quantize any finite double without overflow
_lock = threading.Lock()
_snapshots: "OrderedDict[tuple, tuple]" = OrderedDict()


def store_version(spark: SparkSession, store_dir: str) -> "tuple | None":
    """(sorted data files, total bytes) under ``store_dir``, or None when
    the directory is missing or empty. Runs no Spark job below the
    partition-discovery threshold."""
    from pyspark.errors import AnalysisException

    try:
        jdf = (
            spark.read.option("recursiveFileLookup", "true")
            .schema("_listing long")
            .parquet(store_dir)
            ._jdf
        )
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            return None
        raise
    files = tuple(sorted(jdf.inputFiles()))
    if not files:
        return None
    n_bytes = int(str(jdf.queryExecution().analyzed().stats().sizeInBytes()))
    return files, n_bytes


def bounded_rows(df: DataFrame, cols: "list[str]") -> "list | None":
    """``df``'s ``cols`` rows collected in one job, or None when the frame
    holds more than ``MAX_QUERY_ROWS`` rows. Collected through the RDD: a
    DataFrame ``limit(n).collect()`` scans 1, then 4, 16, … partitions in
    one job each until it has n rows, which a frame below the gate never
    fills."""
    rows = df.select(*cols).limit(MAX_QUERY_ROWS + 1).rdd.collect()
    return None if len(rows) > MAX_QUERY_ROWS else rows


def snapshot(key: tuple, version: tuple, load):
    """The snapshot cached under ``key`` if it was loaded at ``version``;
    otherwise ``load()``'s result, cached. Loads run outside the lock (they
    are Spark jobs); two racing callers may both load, and the later one
    wins the slot."""
    with _lock:
        hit = _snapshots.get(key)
        if hit is not None and hit[0] == version:
            _snapshots.move_to_end(key)
            return hit[1]
    snap = load()
    with _lock:
        _snapshots[key] = (version, snap)
        _snapshots.move_to_end(key)
        while len(_snapshots) > MAX_SNAPSHOTS:
            _snapshots.popitem(last=False)
    return snap


def round_half_up(x: float, digits: int) -> float:
    """Spark's ``F.round`` on a double: HALF_UP on the decimal string of
    the value (``BigDecimal.valueOf``), not on its binary expansion —
    ``round_half_up(3.5e-06, 6)`` is 4e-06 where Python's ``round``, which
    sees the binary value just below the half, gives 3e-06."""
    x = float(x)  # repr of a numpy scalar is not its decimal string
    if x != x or x in (float("inf"), float("-inf")):
        return x
    q = Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-digits), ROUND_HALF_UP, _WIDE
    )
    return float(q) + 0.0  # BigDecimal has no -0: -1e-9 rounds to +0.0
