"""Fixed-point PageRank: exact equality against an independent naive-python
mirror (same integer arithmetic, dict-and-loop implementation sharing no
code with the Spark kernel), plus structural sanity and validation gates."""

import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators.graph import domain_rank, pagerank

SCALE = 10**12


def naive_pagerank(edges, n_iter=10, damping_pct=85, scale=SCALE):
    from collections import defaultdict

    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    pr = {n: scale for n in nodes}
    base = ((100 - damping_pct) * scale) // 100
    for _ in range(n_iter):
        insum = defaultdict(int)
        for s, d in edges:
            insum[d] += pr[s] // outdeg[s]
        pr = {n: base + (damping_pct * insum.get(n, 0)) // 100 for n in nodes}
    return pr


def _spark_ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["rank_fp"] for r in pagerank(df, **kw).collect()}


def test_pagerank_matches_naive_mirror_exactly(spark):
    """Bit-exact vs the mirror on a messy graph: cycles, a dangling node,
    a multi-edge, an isolated-source node — at two damping settings."""
    import random

    rng = random.Random(42)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(150)]
    edges += [(1, 2), (1, 2), (1, 2)]   # weighted multi-edge
    edges += [(40, 41)]                 # 41 is dangling (no out-edges)
    edges += [(50, 1)]                  # 50 is source-only (rank = base)
    for kw in (dict(n_iter=10), dict(n_iter=3, damping_pct=60)):
        assert _spark_ranks(spark, edges, **kw) == naive_pagerank(edges, **kw)


def test_pagerank_structure_and_mass(spark):
    """A star hub out-ranks its leaves; total fixed-point mass never exceeds
    the initial n_nodes * scale (floors/dangling only LEAK mass)."""
    leaves = list(range(1, 9))
    edges = [(leaf, 0) for leaf in leaves] + [(0, 1)]
    # 25 iterations: the 0↔1 two-cycle oscillates with period 2 and damps by
    # 0.85² per period — converge past the swing before comparing ranks
    got = _spark_ranks(spark, edges, n_iter=25)
    assert got[0] > max(got[leaf] for leaf in leaves)
    assert sum(got.values()) <= len(got) * SCALE


def test_pagerank_duplicate_edges_carry_weight(spark):
    """Each duplicate edge row carries one share: tripling an edge raises
    its target's rank above an otherwise-symmetric target's."""
    edges = [(0, 1), (0, 1), (0, 1), (0, 2)]
    got = _spark_ranks(spark, edges, n_iter=5)
    assert got[1] > got[2]


def test_pagerank_validation(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="damping_pct"):
        pagerank(df, damping_pct=0)
    with pytest.raises(ValueError, match="n_iter"):
        pagerank(df, n_iter=0)
    with pytest.raises(ValueError, match="scale"):
        pagerank(df, scale=0)


def test_domain_rank_maps_hosts_back(spark):
    """domain_rank = pagerank over hashed host ids, joined back to host
    strings — the authority ordering matches the naive mirror run on the
    same (hashed) graph."""
    links = [
        ("blog.example", "hub.example"),
        ("shop.example", "hub.example"),
        ("news.example", "hub.example"),
        ("hub.example", "news.example"),
    ]
    df = spark.createDataFrame(links, "src_host string, dst_host string")
    # n_iter=25: the hub<->news two-cycle needs convergence past the swing
    got = {r["host"]: r["rank_fp"] for r in domain_rank(df, n_iter=25).collect()}
    assert set(got) == {"blog.example", "shop.example", "news.example", "hub.example"}
    assert got["hub.example"] == max(got.values())
    assert got["news.example"] > got["blog.example"]  # hub endorses news

    # exact mirror on the hashed ids
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    edges = [(h60(a), h60(b)) for a, b in links]
    mirror = naive_pagerank(edges, n_iter=25)
    assert {h60(k): v for k, v in got.items()} == mirror


def test_host_expr_matches_python_host_of(spark):
    """The Catalyst host extractor must equal corpusio._host_of on every
    absolute-URL-ish input (one vectorized pass over seeded + generated
    strings; the protocol-relative '//host' form is _host_of-only by
    design — read_warc_links feeds it page hrefs, host_expr feeds on
    source URIs, which always carry a scheme)."""
    import random

    from pulsar_replay_spark.operators.graph import host_expr, with_domain_prior
    from pulsar_replay_spark.sources.corpusio import _host_of

    seeds = [
        "https://Ex.Com./x", "HTTP://user:p@WWW.a.B:8080/q?y#z", "http:///x",
        "https://@host/", "https://:443/", "ftp://nope", "/rel", "mailto:a@b",
        "https://trailing.dots...", "https://...leading", "http://a.b?q",
        "  https://padded.example/x", "\thttps://tabbed.example\n",
        "https://h \u2028", "http://h\t\u2028", "\rhttp://cr.example/x",
        "http://a.b#f", "", "https://", "https://x", "HtTpS://MiXeD.CaSe/Path",
    ]
    rng = random.Random(7)
    alphabet = "aB.:/@?#-_% \t\n\r\xa0\u2028"
    fuzz = ["http://" + "".join(rng.choice(alphabet) for _ in range(rng.randrange(12)))
            for _ in range(200)]
    urls = [u for u in seeds + fuzz if not u.startswith("//")]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["h"] for r in df.select("url", host_expr(F.col("url")).alias("h")).collect()}
    for u in urls:
        assert got[u] == _host_of(u), repr(u)

    # with_domain_prior: LEFT join — unknown hosts carry NULL
    docs = spark.createDataFrame(
        [(1, "https://hub.example/p"), (2, "https://unknown.example/q")],
        "doc_id long, source string",
    )
    ranks = spark.createDataFrame([("hub.example", 7)], "host string, rank_fp long")
    out = {r["doc_id"]: r["domain_rank_fp"] for r in with_domain_prior(docs, ranks).collect()}
    assert out == {1: 7, 2: None}


def naive_hits(edges, n_iter=10, scale=10**9):
    from collections import defaultdict

    nodes = {s for s, _ in edges} | {d for _, d in edges}
    a = {n: scale for n in nodes}
    h = {n: scale for n in nodes}

    def norm(raw):
        q = (max(max(raw.values(), default=0), 1) + scale - 1) // scale
        return {n: raw.get(n, 0) // q for n in nodes}

    for _ in range(n_iter):
        araw = defaultdict(int)
        for s, d in edges:
            araw[d] += h[s]
        a = norm(araw)
        hraw = defaultdict(int)
        for s, d in edges:
            hraw[s] += a[d]
        h = norm(hraw)
    return {n: (a[n], h[n]) for n in nodes}


@pytest.mark.slow
def test_hits_matches_naive_mirror_exactly(spark):
    """Bit-exact vs the mirror on the messy graph (cycles, dangling,
    multi-edge, source-only node) at two iteration counts."""
    import random

    from pulsar_replay_spark.operators.graph import hits

    rng = random.Random(99)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(120)]
    edges += [(1, 2), (1, 2), (30, 31), (40, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for n_iter in (3, 10):
        got = {
            r["node"]: (r["auth_fp"], r["hub_fp"])
            for r in hits(df, n_iter=n_iter).collect()
        }
        assert got == naive_hits(edges, n_iter=n_iter), n_iter


@pytest.mark.slow
def test_hits_separates_roles(spark):
    """A directory page linking many authorities is the top HUB (but no
    authority); the most-endorsed page is the top AUTHORITY (but no hub)."""
    from pulsar_replay_spark.operators.graph import hits

    # node 0 = directory -> {1,2,3}; 1,2 also endorse 3
    edges = [(0, 1), (0, 2), (0, 3), (1, 3), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r for r in hits(df, n_iter=10).collect()}
    assert got[0]["hub_fp"] == max(r["hub_fp"] for r in got.values())
    assert got[3]["auth_fp"] == max(r["auth_fp"] for r in got.values())
    assert got[0]["auth_fp"] == 0   # nothing points at the directory
    assert got[3]["hub_fp"] == 0    # the authority links out to nothing


def naive_personalized_pagerank(edges, seeds, n_iter=10, damping_pct=85, scale=SCALE):
    from collections import defaultdict

    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    seeds = set(seeds) & nodes
    base_full = ((100 - damping_pct) * scale) // 100
    pr = {n: (scale if n in seeds else 0) for n in nodes}
    for _ in range(n_iter):
        insum = defaultdict(int)
        for s, d in edges:
            insum[d] += pr[s] // outdeg[s]
        pr = {
            n: (base_full if n in seeds else 0) + (damping_pct * insum.get(n, 0)) // 100
            for n in nodes
        }
    return pr


def test_personalized_pagerank_matches_mirror_and_demotes_far_nodes(spark):
    """TrustRank semantics, bit-exact vs the mirror: mass flows only from
    the seed set, so a spam clique disconnected from the seeds holds rank
    0 even though plain PageRank would score it; nodes closer to the seeds
    out-rank farther ones."""
    from pulsar_replay_spark.operators.graph import pagerank, personalized_pagerank

    # trusted chain 0->1->2; spam clique 10<->11 linking only to itself
    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 10), (3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    # n_iter=20: the 3-cycle's transient swaps 0/1 at low counts — converge
    # past it before asserting monotone decay (mirror equality holds at any n)
    got = {
        r["node"]: r["rank_fp"]
        for r in personalized_pagerank(df, seeds, n_iter=20).collect()
    }
    assert got == naive_personalized_pagerank(edges, [0], n_iter=20)
    # the spam clique gets nothing (3 is a source-only node with rank 0)
    assert got[10] == 0 and got[11] == 0 and got[3] == 0
    # trust decays with distance from the seed
    assert got[0] > got[1] > got[2] > 0
    # ...while plain pagerank happily scores the clique
    plain = {r["node"]: r["rank_fp"] for r in pagerank(df, n_iter=10).collect()}
    assert plain[10] > 0 and plain[11] > 0


def test_personalized_pagerank_tiny_scale_keeps_seed_identity(spark):
    """Regression: when (100-damping)·scale floors the teleport base to 0,
    seedness must still be carried explicitly — seeds start with full mass
    and the result stays bit-exact vs the mirror (a base>0 proxy would
    zero every rank)."""
    from pulsar_replay_spark.operators.graph import personalized_pagerank

    edges = [(0, 1), (1, 2), (2, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["rank_fp"]
        for r in personalized_pagerank(
            df, seeds, n_iter=3, damping_pct=99, scale=50
        ).collect()
    }
    assert got == naive_personalized_pagerank(
        edges, [0], n_iter=3, damping_pct=99, scale=50
    )
    assert any(v > 0 for v in got.values())


def test_personalized_pagerank_counts_nodes_and_seeds_in_one_action(spark):
    """The node count (broadcast gate) and the seed count (overflow bound)
    come from ONE aggregate over the checkpointed marked frame. Before the
    fold, a separate marked.count() ran next to the seed count: 32 jobs
    for this call, where each count is two jobs under AQE (shuffle map
    stage + result). The result stays bit-exact vs the mirror."""
    from pulsar_replay_spark.operators.graph import personalized_pagerank

    sc = spark.sparkContext
    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 10), (3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    group = "test-ppr-job-count"
    sc.setJobGroup(group, "personalized_pagerank")
    try:
        ppr = personalized_pagerank(df, seeds, n_iter=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 30
    got = {r["node"]: r["rank_fp"] for r in ppr.collect()}
    assert got == naive_personalized_pagerank(edges, [0], n_iter=4)


def test_pagerank_overflow_bound_raises_named_error(spark):
    """A scale violating n·scale·damping < 2^63 must fail with the NAMED
    bound error before any iteration runs — not an opaque ANSI BIGINT
    overflow mid-job on a skewed graph (found by a mega-hub
    rehearsal at 300k nodes × 1e12 scale)."""
    from pulsar_replay_spark.operators.graph import pagerank, personalized_pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 2000) for i in range(2000)], "src long, dst long"
    )
    bad_scale = 2**63 // (2000 * 85) + 1
    with pytest.raises(ValueError, match="overflow BIGINT"):
        pagerank(edges, n_iter=1, scale=bad_scale)
    # PPR's bound counts SEEDS, not nodes: a whitelist as big as the graph
    # trips it, but a small whitelist at the same scale is mathematically
    # safe and must RUN (the plain bound would falsely reject it)
    all_seeds = spark.createDataFrame([(i,) for i in range(2000)], "node long")
    with pytest.raises(ValueError, match="overflow BIGINT"):
        personalized_pagerank(edges, all_seeds, n_iter=1, scale=bad_scale)
    one_seed = spark.createDataFrame([(0,)], "node long")
    ppr = personalized_pagerank(edges, one_seed, n_iter=1, scale=bad_scale)
    assert ppr.count() == 2000
    # one notch under the bound runs fine
    ok = pagerank(edges, n_iter=1, scale=2**63 // (2000 * 85) - 1)
    assert ok.count() == 2000


def test_adaptive_scale_derivation():
    """r10: the sizing arithmetic as a function — largest power of 10 with
    n·scale·damping < 2^63, capped. Checked against the bound directly
    over a sweep of node counts (including the sf1-shaped ~160k case the
    pinned 1e12 correctly refuses)."""
    from pulsar_replay_spark.operators.graph import adaptive_scale

    for n in (1, 160, 2_000, 108_000, 159_990, 1_000_000, 10**9):
        s = adaptive_scale(n, 85)
        assert n * s * 85 < 2**63, (n, s)
        assert s <= 10**12
        # maximality: the next power of 10 violates the bound or the cap
        assert s == 10**12 or n * (s * 10) * 85 >= 2**63, (n, s)
    assert adaptive_scale(160, 85) == 10**12  # gate SFs: cap admitted
    assert adaptive_scale(159_990, 85) == 10**11  # sf1 trade graph
    assert adaptive_scale(10**9, 85) == 10**8  # web-graph regime
    with pytest.raises(ValueError, match="even at scale=1"):
        adaptive_scale(2**63, 85)


def test_pagerank_adaptive_runs_where_pinned_refuses(spark):
    """The r9 verdict's gap, closed: on a graph past the 1e12 bound the
    pinned call refuses by design while the adaptive call picks the
    admitted scale, runs, and yields the same ranks the explicitly-sized
    pinned call does."""
    from pulsar_replay_spark.operators.graph import (
        adaptive_scale,
        pagerank,
        pagerank_adaptive,
    )

    n = 130_000  # > (2^63-1) // (1e12 * 85) ≈ 108.5k mass carriers
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="overflow BIGINT"):
        pagerank(edges, n_iter=1, scale=10**12)
    got = pagerank_adaptive(edges, n_iter=1)
    expected_scale = adaptive_scale(n, 85)
    assert expected_scale == 10**11
    row = got.limit(1).collect()[0]
    assert row["scale"] == expected_scale
    pinned = pagerank(edges, n_iter=1, scale=expected_scale)
    assert (
        got.select("node", "rank_fp")
        .exceptAll(pinned.select("node", "rank_fp"))
        .count()
        == 0
    )
    assert got.count() == n
