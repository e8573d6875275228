"""Distributed graph analytics: fixed-point integer PageRank.

The training-data angle: web-crawl curation pipelines weight documents by
the authority of their source domain (host-graph centrality is the classic
prior — a page on a well-linked host is likelier to be quality text than
one on a link farm). ``pagerank`` is the engine's centrality operator;
``sources.corpusio.read_warc_links`` builds the host graph from raw crawl
archives, and the two compose into a per-domain quality prior
(``domain_rank``) that joins against any quality-scoring stage.

Arithmetic discipline — FIXED-POINT INTEGERS, no floats anywhere:

- ranks are BIGINTs scaled by ``scale`` (default 1e12, i.e. 12 fractional
  decimal digits);
- each out-edge carries ``pr div outdeg`` (integer floor);
- the update is ``base + (damping_pct * Σ incoming) div 100`` with
  ``base = ((100 - damping_pct) * scale) div 100``.

Integer sums are ORDER-INDEPENDENT, so the result is bit-identical across
partitionings, engines, and reruns — a DuckDB oracle can re-derive it
exactly (float PageRank can't be cross-engine hash-compared: summation
order perturbs the last ulps). Floor division and dangling nodes (no
out-edges) LEAK mass rather than redistributing it — the standard
"no-dangling-redistribution" PageRank variant, deterministic and
rank-order-equivalent for curation purposes.

Overflow bound: total mass never exceeds n_nodes·scale, and the widest
intermediate is ``damping_pct · Σ incoming`` — callers must keep
``n_nodes * scale * damping_pct < 2**63`` (raise ``scale`` for precision on
small graphs, lower it for billion-node web graphs: at n=1e9, scale=1e6
keeps 6 fractional digits with 10× headroom).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# r13 (guide §2.4/§3.1): below this node count the per-round rank frame is
# explicitly broadcast into the edge⋈rank join, so the CHECKPOINTED edge
# table is never exchanged again after materialization — the iteration's
# only shuffle is the node-scale contribution agg. 2M nodes ≈ 32 MB of
# (long, long) rows — comfortably inside executor build memory; a web-scale
# graph (1e9 nodes) stays on the spill-safe SMJ/SHJ path. The node count is
# already measured by every entry point (overflow pre-check / adaptive
# scale), so the gate costs nothing extra.
PR_BROADCAST_MAX_NODES = 2_000_000


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
    checkpoint_interval: int = 3,
) -> DataFrame:
    """(node, rank_fp): fixed-point PageRank over directed ``edges``
    (src, dst) after ``n_iter`` synchronous iterations. Duplicate edges are
    honored as weight (each row carries one share) — pre-``distinct`` for
    the unweighted reading.

    Scale shape: ``(src, dst, outdeg)`` is materialized ONCE (eager
    localCheckpoint) and re-joined each round — the per-iteration work is
    one edge-scale join on src plus one node-scale groupBy on dst, the
    minimum PageRank's data flow admits. Ranks are eagerly checkpointed
    every ``checkpoint_interval`` rounds (and at the end): an iterative
    plan otherwise accretes lineage until driver-side analysis, not
    execution, is the bottleneck — but UNLIKE the self-join case
    (connected components) the growth here is LINEAR (each round appends
    one join+agg+join segment with a single rank consumer, so nothing
    re-executes), which buys batching a few rounds per materialization job
    instead of paying one job's fixed overhead per round. At cluster
    scale, pre-bucketing/partitioning the edge table by ``src`` makes the
    per-round join shuffle ranks only (node-scale), never the edge table
    (the GraphX/Pregel layout expressed relationally).

    Reference analog: none in `pulsar-replay` — north-star extension for
    crawl-corpus domain priors.
    """
    damping_pct, scale = _validate_knobs(
        n_iter, scale, checkpoint_interval, damping_pct
    )
    ed, nodes = _edge_frames(edges)
    n_nodes = nodes.count()
    _check_overflow_bound(n_nodes, scale, damping_pct)
    base = ((100 - damping_pct) * scale) // 100
    based = nodes.select("node", F.lit(base).cast("long").alias("base"))
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("pr"))
    return _pagerank_loop(
        based, ed, ranks, damping_pct, n_iter, checkpoint_interval,
        broadcast_ranks=n_nodes <= PR_BROADCAST_MAX_NODES,
    )


def adaptive_scale(
    n_mass_carriers: int, damping_pct: int = 85, cap: int = 10**12
) -> int:
    """The module docstring's overflow arithmetic as a derivation instead
    of a refusal: the largest POWER OF 10 ≤ ``cap`` satisfying
    ``n · scale · damping_pct < 2**63``. Powers of 10 keep the fixed-point
    reading human (k fractional decimal digits) and make the derivation
    exactly mirrorable in SQL as integer comparisons — no float log10
    whose boundary behavior could split engines."""
    max_scale = (2**63 - 1) // max(n_mass_carriers * damping_pct, 1)
    if max_scale < 1:
        raise ValueError(
            f"adaptive_scale: {n_mass_carriers} mass-carrying nodes x "
            f"damping {damping_pct} overflow BIGINT even at scale=1"
        )
    s = 1
    bound = min(max_scale, cap)
    while s * 10 <= bound:
        s *= 10
    return s


def pagerank_adaptive(
    edges: DataFrame,
    n_iter: int = 10,
    damping_pct: int = 85,
    cap: int = 10**12,
    checkpoint_interval: int = 3,
) -> DataFrame:
    """(node, rank_fp, scale): ``pagerank`` with ``scale`` DERIVED from the
    measured mass-carrying node count via ``adaptive_scale`` — the
    production knob for graphs whose size isn't known up front (a pinned
    scale=1e12 correctly refuses past ~10^5 nodes; this picks the largest
    power of 10 the bound admits, so the same call serves a 10^3-node
    trade graph at 1e12 and a 10^9-node web graph at 1e5). The chosen
    scale rides the output as a column so callers (and the contract
    oracle, which re-derives it from its own node count) see which
    precision the ranks are in. The node count is one action on the
    already-materialized node frame — the same bounded collect the
    overflow pre-check performs."""
    damping_pct, cap = _validate_knobs(
        n_iter, cap, checkpoint_interval, damping_pct
    )
    ed, nodes = _edge_frames(edges)
    n_nodes = nodes.count()
    scale = adaptive_scale(n_nodes, damping_pct, cap)
    base = ((100 - damping_pct) * scale) // 100
    based = nodes.select("node", F.lit(base).cast("long").alias("base"))
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("pr"))
    out = _pagerank_loop(
        based, ed, ranks, damping_pct, n_iter, checkpoint_interval,
        broadcast_ranks=n_nodes <= PR_BROADCAST_MAX_NODES,
    )
    return out.withColumn("scale", F.lit(scale).cast("long"))


def _check_overflow_bound(
    n: int, scale: int, damping_pct: int, what: str = "graph"
) -> None:
    """Enforce the module docstring's overflow bound with a NAMED error.
    Total fixed-point mass never exceeds n·scale, n = |mass carriers|
    (every node for plain PageRank, the SEEDS for the personalized
    variant — teleport only lands there) and the widest intermediate is
    ``damping_pct · Σ incoming``, so worst-case mass concentration (a
    mega-hub receiving everything) needs
    ``n · scale · damping_pct < 2**63`` — otherwise ANSI mode raises an
    opaque BIGINT overflow mid-iteration on exactly the skewed graphs the
    operator exists for (found by a mega-hub rehearsal). Callers count
    the carriers on an already-materialized frame and reuse that count
    (r13: the broadcast-ranks gate)."""
    if n * scale * damping_pct >= 2**63:
        max_scale = (2**63 - 1) // max(n * damping_pct, 1)
        raise ValueError(
            f"scale={scale} can overflow BIGINT on this {what} "
            f"({n} mass-carrying nodes x damping {damping_pct}): worst-case "
            f"mass concentration exceeds 2^63. Use scale <= {max_scale} "
            "(rank precision is relative to scale, so 1e6+ is still ample)."
        )


def _validate_knobs(
    n_iter: int, scale: int, checkpoint_interval: int, damping_pct: int | None = None
) -> tuple[int, int]:
    """Shared knob validation for the graph family — every check runs
    BEFORE the eager edge/node materialization jobs (a bad knob must fail
    in milliseconds, not after edge-scale Spark jobs)."""
    if damping_pct is not None and not 1 <= int(damping_pct) <= 99:
        raise ValueError(f"damping_pct must be in [1, 99], got {damping_pct}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    if checkpoint_interval < 1:
        raise ValueError(
            f"checkpoint_interval must be >= 1, got {checkpoint_interval}"
        )
    return int(damping_pct or 0), int(scale)


def _edge_frames(
    edges: DataFrame, with_outdeg: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(edge frame, node frame), both eagerly materialized ONCE: the degree
    agg, the per-round joins, and the node set all consume the caller's
    edge frame, and an expensive upstream derivation (join + distinct)
    would otherwise re-execute for each. With ``with_outdeg`` the edge
    frame carries (src, dst, outdeg) — PageRank's share denominator; HITS
    passes False (its max-normalization needs no degrees)."""
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    if with_outdeg:
        # r12 note: a window-based outdeg (count over partitionBy(src), one
        # shuffle, no join) was measured SLOWER here — WindowExec sorts and
        # buffers the full edge relation, while this agg produces a
        # node-scale degree table that broadcasts back onto the checkpointed
        # edges (no edge shuffle at all when it fits; SHJ/SMJ otherwise).
        deg = e.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
        e = e.join(deg, "src").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return e, nodes


def _pagerank_loop(
    based: DataFrame,
    ed: DataFrame,
    ranks: DataFrame,
    damping_pct: int,
    n_iter: int,
    checkpoint_interval: int,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """The shared synchronous iteration driver: ``based`` is the node table
    carrying each node's per-round teleport ``base`` (uniform for
    ``pagerank``, seed-concentrated for ``personalized_pagerank``).
    ``broadcast_ranks`` (r13) is the node-count-gated join strategy: the
    rank frame rides a broadcast into each round's edge join, so the
    checkpointed edge table is never re-exchanged per round."""
    for i in range(n_iter):
        ranks = _pagerank_round(based, ed, ranks, damping_pct, broadcast_ranks)
        if (i + 1) % checkpoint_interval == 0 or i + 1 == n_iter:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("pr").alias("rank_fp"))


def _pagerank_round(
    based: DataFrame,
    ed: DataFrame,
    ranks: DataFrame,
    damping_pct: int,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """One synchronous PageRank round, UNcheckpointed — factored out so the
    per-iteration physical plan is gate-able (test_plans.py: equi-joins
    only, never a cartesian) even though the loop checkpoints each
    materialization away. ``based`` = (node, base). Integer sums are
    order-independent, so the join strategy (broadcast vs SMJ/SHJ) can
    never change the result — ``broadcast_ranks`` is purely a plan knob."""
    rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
    contrib = (
        ed.join(rank_side, ed["src"] == ranks["node"])
        # `div` = integral division (floor for the non-negative ranks
        # here) — a float `/` would melt the exactness guarantee
        .select(ed["dst"].alias("node"), F.expr("pr div outdeg").alias("share"))
        .groupBy("node")
        .agg(F.sum("share").alias("insum"))
    )
    return based.join(contrib, "node", "left").select(
        "node",
        (
            F.col("base")
            + F.expr(f"({damping_pct} * coalesce(insum, 0L)) div 100")
        )
        .cast("long")
        .alias("pr"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
    checkpoint_interval: int = 3,
) -> DataFrame:
    """(node, rank_fp): PageRank with the teleport concentrated on
    ``seeds`` (node) — the TrustRank shape: trust mass originates ONLY at a
    vetted whitelist and flows along links, so link-farm hosts that inflate
    plain PageRank stay near zero unless something trusted (transitively)
    points at them. Use for crawl-frontier prioritization and spam
    demotion: rank = proximity to the trusted set.

    Same integer discipline, loop, and plan shape as ``pagerank``; only the
    per-node base differs (seeds get the full (100-damping)·scale teleport,
    everyone else 0) and initial mass sits on the seeds. Seeds not present
    in the edge set are ignored (they have no links to flow through)."""
    damping_pct, scale = _validate_knobs(
        n_iter, scale, checkpoint_interval, damping_pct
    )
    ed, nodes = _edge_frames(edges)
    base = ((100 - damping_pct) * scale) // 100
    # carry seedness EXPLICITLY: base floors to 0 when
    # (100-damping)·scale < 100, so `base > 0` is not a seed test — seeds
    # must still start with the full initial mass
    seed_marks = seeds.select("node").distinct().withColumn("_seed", F.lit(True))
    marked = nodes.join(seed_marks, "node", "left").select(
        "node", F.coalesce("_seed", F.lit(False)).alias("_seed")
    ).localCheckpoint(eager=True)
    # PPR's total mass is bounded by the SEED count (teleport only lands on
    # seeds), not the node count — the plain-pagerank bound would falsely
    # reject a small whitelist on a huge graph. The broadcast gate keys on
    # the FULL rank table: both counts come from one aggregate.
    counts = marked.agg(
        F.count(F.lit(1)).alias("n_nodes"), F.count_if("_seed").alias("n_seeds")
    ).head()
    _check_overflow_bound(counts.n_seeds, scale, damping_pct, what="seed whitelist")
    n_nodes = counts.n_nodes
    based = marked.select(
        "node",
        F.when(F.col("_seed"), F.lit(base)).otherwise(F.lit(0))
        .cast("long")
        .alias("base"),
    )
    ranks = marked.select(
        "node",
        F.when(F.col("_seed"), F.lit(scale)).otherwise(F.lit(0))
        .cast("long")
        .alias("pr"),
    )
    return _pagerank_loop(
        based, ed, ranks, damping_pct, n_iter, checkpoint_interval,
        broadcast_ranks=n_nodes <= PR_BROADCAST_MAX_NODES,
    )


def domain_rank(
    links: DataFrame,
    n_iter: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """(host, rank_fp): host-authority prior from a host-level link frame
    (src_host, dst_host) — ``corpusio.read_warc_links``'s shape. Hosts are
    mapped to stable 60-bit content-hash node ids for the integer kernel
    and mapped back by join (the hash space makes collisions negligible at
    web scale and keeps the rank table join-able against any host column
    without carrying strings through the iterations)."""
    from pulsar_replay_spark.functions.text import token_hash60

    ids = (
        links.select(F.col("src_host").alias("host"))
        .unionByName(links.select(F.col("dst_host").alias("host")))
        .distinct()
        .select("host", token_hash60(F.col("host")).alias("node"))
        .localCheckpoint(eager=True)
    )
    edges = links.select(
        token_hash60(F.col("src_host")).alias("src"),
        token_hash60(F.col("dst_host")).alias("dst"),
    )
    ranks = pagerank(edges, n_iter=n_iter, damping_pct=damping_pct, scale=scale)
    return ids.join(ranks, "node").select("host", "rank_fp")


def host_expr(url) -> "F.Column":
    """JVM-side host of an absolute http(s) URL column — the COLUMN twin of
    ``corpusio._host_of`` (equality property-tested), so a corpus-scale
    prior join never runs a Python kernel: lowercase, userinfo/port
    stripped, edge dots trimmed; NULL for relative/mailto/other schemes."""
    # edge-whitespace strip mirrors _host_of (both pinned to Java's ASCII
    # \s set), anchored \A/\z not ^/$ — Java's $ also matches before a
    # final line TERMINATOR (U+2028 etc.), which would strip whitespace
    # from the middle of the value: stray whitespace around a sloppy
    # WARC-Target-URI must not silently exempt the doc from the prior join
    h = F.regexp_extract(
        F.regexp_replace(url, r"\A\s+|\s+\z", ""), r"^(?i:https?)://([^/?#]+)", 1
    )
    h = F.regexp_extract(h, r"([^@]*)$", 1)
    h = F.regexp_extract(h, r"^([^:]*)", 1)
    # \z, not $: Java's $ also matches BEFORE a final line terminator, so
    # "\t.\n" would lose its inner dot; strip(".") in the python twin never
    # looks through a trailing newline
    h = F.lower(F.regexp_replace(F.regexp_replace(h, r"\.+\z", ""), r"^\.+", ""))
    return F.when(h != "", h).otherwise(F.lit(None).cast("string"))


def with_domain_prior(docs: DataFrame, domain_ranks: DataFrame) -> DataFrame:
    """docs + (host, domain_rank_fp): join each document's source-URL host
    against a ``domain_rank`` table. LEFT join — documents from hosts the
    link graph never saw carry NULL, and the drop policy belongs to the
    caller (a missing prior is absence of evidence, not low quality).

    Scale shape: the rank table is host-scale (corpus/10³–10⁴); the join
    key is a short string and Spark's AQE will broadcast it when it fits —
    no hint needed, no Python kernel anywhere (``host_expr`` is pure
    Catalyst)."""
    ranks = domain_ranks.select(
        F.col("host"), F.col("rank_fp").alias("domain_rank_fp")
    )
    return docs.withColumn("host", host_expr(F.col("source"))).join(
        ranks, "host", "left"
    )


def hits(
    edges: DataFrame,
    n_iter: int = 10,
    scale: int = 10**9,
    checkpoint_interval: int = 3,
) -> DataFrame:
    """(node, auth_fp, hub_fp): Kleinberg HITS after ``n_iter`` synchronous
    rounds — authorities are endorsed BY good hubs (in-edge sums of hub
    scores), hubs endorse good authorities (out-edge sums of authority
    scores). The crawl-curation use: hub scores find link directories /
    seed lists, authority scores find canonical content hosts — the two
    roles PageRank's single score conflates.

    Same integer discipline as ``pagerank`` (order-independent sums,
    bit-identical across partitionings; duplicate edges carry weight), with
    max-normalization per half-round: scores renormalize to [0, scale] via
    ``raw div ((max_raw + scale - 1) div scale)`` — a pure integer floor
    (no L2 norm: sqrt would reintroduce float drift; max-norm preserves the
    ORDER semantics HITS is used for). The normalizing max rides a 1-row
    broadcast crossJoin (the engine's stat-join pattern), so no driver
    round-trip per iteration. Zero-in-degree (or zero-out-degree) nodes
    hold score 0 after round one — isolated-role nodes, by definition.

    Reference analog: none — north-star extension (graph tier)."""
    from pyspark.sql.functions import broadcast

    _, scale = _validate_knobs(n_iter, scale, checkpoint_interval)
    e, nodes = _edge_frames(edges, with_outdeg=False)

    def _half_round(scores: DataFrame, col: str, key_in: str, key_out: str) -> DataFrame:
        """Sum `col` over edges arriving at key_out (auth: in-edges sum hub;
        hub: out-edges sum auth), then max-normalize back to [0, scale]."""
        raw = (
            e.join(scores, e[key_in] == scores["node"])
            .select(e[key_out].alias("node"), F.col(col).alias("x"))
            .groupBy("node")
            .agg(F.sum("x").alias("raw"))
        )
        raw = nodes.join(raw, "node", "left").select(
            "node", F.coalesce("raw", F.lit(0).cast("long")).alias("raw")
        )
        q = raw.agg(
            F.expr(f"(greatest(max(raw), 1) + {scale} - 1) div {scale}").alias("q")
        )
        return raw.crossJoin(broadcast(q)).select(
            "node", F.expr("raw div q").cast("long").alias(col)
        )

    auth = nodes.select("node", F.lit(scale).cast("long").alias("a"))
    hub = nodes.select("node", F.lit(scale).cast("long").alias("h"))
    for i in range(n_iter):
        auth = _half_round(hub, "h", "src", "dst").withColumnRenamed("h", "a")
        hub = _half_round(auth, "a", "dst", "src").withColumnRenamed("a", "h")
        if (i + 1) % checkpoint_interval == 0 or i + 1 == n_iter:
            auth = auth.localCheckpoint(eager=True)
            hub = hub.localCheckpoint(eager=True)
    return (
        auth.join(hub, "node")
        .select("node", F.col("a").alias("auth_fp"), F.col("h").alias("hub_fp"))
    )
