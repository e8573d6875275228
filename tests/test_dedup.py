"""Dedup operator tests beyond the oracle gate: recall properties, hamming
pairing, planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import dedup
from tests.conftest import SF_SMOKE


def _with_planted_dups(spark, documents):
    """Append near-identical copies of 5 docs (1 word changed) and exact
    copies of 3 docs, with shifted doc_ids."""
    base = documents.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
        "lang", "source", "n_chars",
    )
    exact = documents.limit(3).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return documents.unionByName(base).unionByName(exact)


def test_exact_dedup_finds_planted(spark, documents):
    docs = _with_planted_dups(spark, documents)
    groups = dedup.exact_dup_groups(docs)
    # the 3 exact copies must each form a group with their original
    assert groups.filter(F.col("n_docs") >= 2).count() >= 3
    keep = {r["keep_doc_id"] for r in groups.collect()}
    assert all(k < 1_000_000 for k in keep)  # min-id kept = original


def test_minhash_finds_planted_near_dups(spark, documents):
    docs = _with_planted_dups(spark, documents)
    pairs = dedup.minhash_candidate_pairs(docs).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # appended-word docs share almost all shingles with their original:
    # at least 4 of 5 planted near-dups should collide in some band
    planted = {(i, i + 1_000_000) for i in range(5)}
    assert len(planted & found) >= 4
    # exact copies always collide
    exact = {(i, i + 2_000_000) for i in range(3)}
    assert exact <= found


def test_jaccard_scores_planted_high(spark, documents):
    docs = _with_planted_dups(spark, documents)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    for i in range(3):
        assert got.get((i, i + 2_000_000)) == 1.0  # exact copy → jaccard 1


def test_simhash_exact_copies_identical(spark, documents):
    docs = _with_planted_dups(spark, documents)
    sig = dedup.simhash(docs)
    a = sig.alias("a")
    b = sig.alias("b")
    same = (
        a.join(b, (F.col("a.doc_id") + 2_000_000 == F.col("b.doc_id")))
        .filter(F.col("a.simhash") != F.col("b.simhash"))
    )
    assert same.count() == 0


def test_simhash_hamming_pairs(spark, documents):
    """Hamming-distance pairing via bit_count(xor) — the near-dup variant of
    the exact-signature clustering."""
    docs = _with_planted_dups(spark, documents)
    sig = dedup.simhash(docs)
    a = sig.alias("a")
    b = sig.alias("b")
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))),
        )
        .filter(F.col("hamming") <= 2)
    )
    found = {(r["a.doc_id"] if "a.doc_id" in r else r[0], r[1]) for r in
             pairs.select(F.col("a.doc_id"), F.col("b.doc_id")).collect()}
    # near-dup planted docs differ by one appended word → tiny hamming distance
    assert len({(i, i + 1_000_000) for i in range(5)} & found) >= 3


def test_connected_components_matches_union_find(spark, documents):
    """Label propagation must equal a driver-side union-find on the same
    candidate pairs (the pairs set is small at test SF; the DF algorithm is
    the one that scales)."""
    pairs = dedup.minhash_candidate_pairs(documents)
    edges = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert edges, "fixture must contain planted near-dups"

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {v: find(v) for v in parent}
    # canonicalize: min member per root
    roots = {}
    for v, r in expected.items():
        roots.setdefault(find(r), []).append(v)
    exp_clusters = {min(ms): sorted(ms) for ms in roots.values()}

    def clusters_of(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["cluster_id"], []).append(r["doc_id"])
        return {k: sorted(v) for k, v in got.items()}

    # distributed label propagation (forced past the small-graph gate) and
    # the size-gated driver union-find must both equal the reference result
    dist = dedup.connected_components(pairs, small_graph_edges=0)
    hybrid = dedup.connected_components(pairs)
    assert clusters_of(dist) == exp_clusters
    assert clusters_of(hybrid) == exp_clusters
    assert [f.dataType for f in dist.schema.fields] == [
        f.dataType for f in hybrid.schema.fields
    ]


def test_connected_components_log_rounds_on_deep_chain(spark):
    """Pointer jumping must collapse a DEEP chain in O(log diameter) rounds:
    a 200-vertex path converges inside max_iter=12 (log2(200) ~ 8 + slack)
    where plain min-label propagation needs ~200 rounds. Forced past the
    small-graph gate so the distributed loop is the path under test."""
    edges = [(i, i + 1) for i in range(199)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = dedup.connected_components(pairs, max_iter=12, small_graph_edges=0)
    rows = out.collect()
    assert len(rows) == 200
    assert all(r["cluster_id"] == 0 for r in rows)


def test_near_dup_clusters_end_to_end(spark, documents):
    out = dedup.near_dup_clusters(documents).collect()
    assert all(r["n_docs"] >= 2 and r["keep_doc_id"] == r["cluster_id"] for r in out)
    assert len(out) > 0


def test_ngram_df_capping_keeps_planted_dups(spark, documents):
    """The scale knob (drop shingles with document frequency > cap) must not
    lose genuinely near-identical pairs: every exact pair at a high threshold
    survives a generous cap, and the capped index is strictly smaller."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(documents, 0.8).collect()
    }
    assert exact, "fixture must contain high-similarity planted pairs"
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(documents, 0.8, max_shingle_df=20).collect()
    }
    assert exact <= capped | exact  # no silent type surprises
    recall = len(exact & capped) / len(exact)
    assert recall == 1.0, f"capping lost planted dups: recall={recall}"


def test_chunk_dedup_drops_planted_boilerplate(spark):
    """Two docs share an identical 10-token header; chunk-level dedup must
    keep it in the earlier doc only, while unique chunks all survive."""
    from pulsar_replay_spark.operators.dedup import chunk_dedup_marks

    header = " ".join(f"h{i}" for i in range(10))
    body_a = " ".join(f"a{i}" for i in range(10))
    body_b = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, f"{header} {body_a}"), (2, f"{header} {body_b}")],
        "doc_id long, text string",
    )
    marks = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk"], r["keep"])
        for r in chunk_dedup_marks(docs, chunk_tokens=10).collect()
    }
    assert marks[(1, 0)] == (header, True)
    assert marks[(2, 0)] == (header, False)  # later copy dropped
    assert marks[(1, 1)] == (body_a, True)
    assert marks[(2, 1)] == (body_b, True)


def test_chunk_dedup_hash_keyed_broadcast_shape(spark, documents):
    """First-occurrence choice must shuffle the md5 hash + position ONLY,
    never the chunk text: exactly one hash exchange (the _h groupBy, with
    map-side partial aggregation so hot boilerplate chunks combine before
    the shuffle), and the join-back of duplicate winners must be broadcast
    — no sort-merge join, no window over the raw chunk strings."""
    from pulsar_replay_spark.operators.dedup import chunk_dedup_marks

    plan = (
        chunk_dedup_marks(documents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "partial_min" in plan or plan.count("HashAggregate") >= 2, plan[:2000]


def test_scrub_repeated_chunks_reassembles_in_order(spark):
    """Reassembly keeps surviving chunks in original order; the shared
    header survives only in the earlier doc."""
    from pulsar_replay_spark.operators.dedup import scrub_repeated_chunks

    header = " ".join(f"h{i}" for i in range(10))
    body_a = " ".join(f"a{i}" for i in range(10))
    body_b = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, f"{header} {body_a}"), (2, f"{header} {body_b}")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["cleaned_text"] for r in scrub_repeated_chunks(docs).collect()}
    assert out[1] == f"{header} {body_a}"
    assert out[2] == body_b


def test_capped_jaccard_recall_on_planted(spark, documents):
    """The df-capped default path must keep every planted near-dup pair the
    exact path finds (caps drop only boilerplate shingles, which true
    near-dups don't depend on), and never report a HIGHER jaccard (sizes are
    pre-cap, intersections can only shrink)."""
    from pulsar_replay_spark.operators.dedup import ngram_jaccard_pairs

    docs = _with_planted_dups(spark, documents)
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, 0.5).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, 0.5, max_shingle_df=20).collect()
    }
    planted = {(i, i + 1_000_000) for i in range(5)}
    assert planted & set(exact) <= set(capped)
    assert all(capped[p] <= exact[p] for p in set(capped) & set(exact))


def test_incremental_minhash_equals_full_recompute(spark, documents):
    """Splitting the corpus into an initial load + an increment and probing
    the increment against the persisted bucket index must find EXACTLY the
    full-recompute pairs that touch the increment — and a second increment
    over the updated index must complete the full pair set."""
    half1 = documents.filter(F.col("doc_id") % 2 == 0)
    half2 = documents.filter(F.col("doc_id") % 2 == 1)

    full = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_candidate_pairs(documents).collect()
    }
    h2_ids = {r.doc_id for r in half2.select("doc_id").collect()}
    expected_touching_h2 = {
        p for p in full if p[0] in h2_ids or p[1] in h2_ids
    }

    base_idx = dedup.minhash_band_buckets(half1).localCheckpoint(eager=True)
    inc_pairs, new_buckets = dedup.incremental_minhash_pairs(half2, base_idx)
    got = {(r.doc_a, r.doc_b) for r in inc_pairs.collect()}
    assert got == expected_touching_h2

    # base index ∪ the increment's buckets closes to the full index, and
    # base-internal pairs from half1 close the full pair set
    h1_pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_candidate_pairs(half1).collect()
    }
    assert h1_pairs | got == full
    assert (
        base_idx.unionAll(new_buckets).count()
        == dedup.minhash_band_buckets(documents).count()
    )


def test_simhash_near_pairs_matches_oracle_and_bands_are_lossless(spark, documents):
    """The Manku banded hamming<=k pair operator: (1) exact DuckDB-twin
    equality (banding + verify reproduced in SQL), (2) the pigeonhole is
    LOSSLESS — banding finds exactly the pairs a brute-force hamming scan
    finds (recall 1.0 by construction, not approximation)."""
    import duckdb

    from pulsar_replay_spark import queries_llm as ql
    from tests.conftest import SF_SMOKE
    from tools.parity import compare

    got = dedup.simhash_near_pairs(documents, max_hamming=3)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    problems = compare(got.toPandas(), con.execute(ql.SIMHASH_PAIRS_ORACLE).df())
    assert not problems, problems

    sig = dedup.simhash(documents)
    a, b = sig.alias("a"), sig.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, brute.collect()))


def test_incremental_simhash_equals_full_recompute(spark, documents):
    """Split the corpus into 'already ingested' and 'new batch': the
    incremental probe (old docs never re-hashed) must find exactly the
    hamming<=3 pairs of the full recompute that touch the new batch, and
    appending new_sigs to the store must make the next increment see them."""
    old = documents.filter(F.col("doc_id") % 3 != 0)
    new = documents.filter(F.col("doc_id") % 3 == 0)

    store = dedup.simhash(old).localCheckpoint(eager=True)
    pairs, new_sigs = dedup.incremental_simhash_pairs(new, store)

    full = dedup.simhash_near_pairs(documents, max_hamming=3)
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    expect = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in full.collect()
        if r["doc_a"] in new_ids or r["doc_b"] in new_ids
    }
    assert {tuple(r) for r in pairs.collect()} == expect

    # store closure: old ∪ new_sigs == signatures of the whole corpus
    updated = store.unionByName(new_sigs)
    assert sorted(map(tuple, updated.collect())) == sorted(
        map(tuple, dedup.simhash(documents).collect())
    )


def test_compact_simhash_store_preserves_probe_and_expires(spark, documents):
    """Store lifecycle (r6): after duplicate-appending the store (simulating
    an unchanged re-ingest), compaction must restore the exact row set, the
    incremental probe against the compacted store must equal the probe
    against the original, and expiry must remove exactly the pairs touching
    expired docs."""
    old = documents.filter(F.col("doc_id") % 3 != 0)
    new = documents.filter(F.col("doc_id") % 3 == 0)
    store = dedup.simhash(old).localCheckpoint(eager=True)

    # unchanged re-ingest: exact duplicate rows accumulate
    grown = store.unionAll(store.limit(40)).localCheckpoint(eager=True)
    compacted = dedup.compact_simhash_store(grown).localCheckpoint(eager=True)
    assert sorted(map(tuple, compacted.collect())) == sorted(
        map(tuple, store.collect())
    )

    base_pairs = {
        tuple(r) for r in dedup.incremental_simhash_pairs(new, store)[0].collect()
    }
    comp_pairs = {
        tuple(r)
        for r in dedup.incremental_simhash_pairs(new, compacted)[0].collect()
    }
    assert comp_pairs == base_pairs

    # expiry: retain only half the old docs; pairs touching expired docs
    # vanish, every other pair survives unchanged
    retain = old.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    retained_ids = {r["doc_id"] for r in retain.collect()}
    expired = dedup.compact_simhash_store(grown, retain_docs=retain)
    exp_pairs = {
        tuple(r)
        for r in dedup.incremental_simhash_pairs(new, expired)[0].collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert exp_pairs == {
        (a, b, h)
        for (a, b, h) in base_pairs
        if (a in new_ids or a in retained_ids)
        and (b in new_ids or b in retained_ids)
    }


def test_simhash_wide_signature_scale_path(spark, documents):
    """The corpus-scale width knob (bits=60, the Manku 64-bit posture with
    token_hash60's 60 usable bits): banding must stay LOSSLESS vs a brute-
    force hamming scan, identical texts must still collide at hamming 0,
    and block selectivity must collapse the candidate space relative to
    the 16-bit contract width (4-bit block values are near-unselective:
    sf0.1 measured 2.8M candidate pairs from 5k docs)."""
    docs = documents.limit(300).localCheckpoint(eager=True)

    wide = dedup.simhash_near_pairs(docs, max_hamming=3, bits=60)
    sig = dedup.simhash(docs, bits=60)
    a, b = sig.alias("a"), sig.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .filter("hamming <= 3")
    )
    assert sorted(map(tuple, wide.collect())) == sorted(map(tuple, brute.collect()))

    # identical clone → identical 60-bit signature (hamming 0)
    clone = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 9_000_000)
    both = dedup.simhash(docs.unionByName(clone), bits=60)
    x, y = both.alias("x"), both.alias("y")
    assert (
        x.join(y, F.col("x.doc_id") + 9_000_000 == F.col("y.doc_id"))
        .filter(F.col("x.simhash") != F.col("y.simhash"))
        .count()
        == 0
    )

    # selectivity: 15-bit block values shrink candidate buckets vs 4-bit
    def n_candidates(bits):
        idx = dedup._simhash_blocks(
            dedup.simhash(docs, bits), max_hamming=3, bits=bits
        )
        i, j = idx.alias("i"), idx.alias("j")
        return (
            i.join(
                j,
                (F.col("i.blk") == F.col("j.blk"))
                & (F.col("i.val") == F.col("j.val"))
                & (F.col("i.doc_id") < F.col("j.doc_id")),
            )
            .count()
        )

    assert n_candidates(60) < n_candidates(16) / 10

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bits"):
        dedup.simhash(docs, bits=64).collect()


def test_simhash_banding_rejects_zero_width_blocks(spark):
    """bits < max_hamming+1 makes ``width = bits // (max_hamming+1)`` zero:
    every block value masks to 0 and the banded self-join silently
    degenerates to the O(n²) all-pairs scan banding exists to prevent
    (results would still be right via the hamming post-filter — only the
    cost explodes). The guard must raise instead, on both the batch and
    incremental paths (r6 review finding)."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="zero-width banding blocks"):
        dedup.simhash_near_pairs(docs, max_hamming=4, bits=4)
    store = dedup.simhash(docs, bits=4).localCheckpoint(eager=True)
    with _pytest.raises(ValueError, match="zero-width banding blocks"):
        dedup.incremental_simhash_pairs(docs, store, max_hamming=4, bits=4)


def test_dedup_corpus_score_keeps_best_member_per_cluster(spark, documents):
    """The keeper-policy knob: score= keeps each cluster's highest-scoring
    member (ties -> lowest doc_id); the default keeps the CC label (lowest
    doc_id). Both checked against a python union of the same label table."""
    import collections

    docs = _with_planted_dups(spark, documents)
    cc = dedup.connected_components(dedup.minhash_candidate_pairs(docs)).collect()
    clusters = collections.defaultdict(list)
    for r in cc:
        clusters[r["cluster_id"]].append(r["doc_id"])
    assert any(len(m) >= 2 for m in clusters.values()), "fixture must cluster"

    score = (F.col("doc_id") % 7).cast("double")
    kept = {r["doc_id"] for r in dedup.dedup_corpus(docs, score=score).select("doc_id").collect()}
    kept_default = {r["doc_id"] for r in dedup.dedup_corpus(docs).select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    clustered = {d for m in clusters.values() for d in m}

    for members in clusters.values():
        best = max(members, key=lambda d: (d % 7, -d))
        assert {d for d in members if d in kept} == {best}
        assert {d for d in members if d in kept_default} == {min(members)}
    # unclustered docs survive under either policy
    assert all_ids - clustered <= kept
    assert all_ids - clustered <= kept_default


def test_lsh_plan_picks_sane_banding():
    """Planner invariants: budget respected, s50 lands near the target
    threshold, recall-weighting pushes the curve left (more permissive
    bands), and a higher threshold moves s50 right."""
    plan = dedup.lsh_plan(0.5, 128)
    assert plan["bands"] * plan["rows_per_band"] == plan["n_hashes_used"] <= 128
    assert abs(plan["s50"] - 0.5) < 0.15
    assert plan["fp_area"] >= 0.0 and plan["fn_area"] >= 0.0

    recall_heavy = dedup.lsh_plan(0.5, 128, fp_weight=0.1, fn_weight=0.9)
    assert recall_heavy["s50"] <= plan["s50"]

    assert dedup.lsh_plan(0.9, 128)["s50"] > plan["s50"]

    # the engine's own default geometry (8 hashes, 4x2, s50 = 0.5) is what
    # the planner recommends for thresholds just below that s50
    d = dedup.lsh_plan(0.4, 8)
    assert (d["bands"], d["rows_per_band"]) == (4, 2)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.lsh_plan(1.5, 8)
    with _pytest.raises(ValueError):
        dedup.lsh_plan(0.5, 0)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_connected_components_random_graphs_match_union_find(spark, seed):
    """The jump-accelerated distributed loop on seeded RANDOM topologies
    (self-loops, duplicate/reversed edges, singletons-in-edges, several
    components) must equal driver union-find — the fixture graph covers one
    topology; these cover the label-propagation edge cases."""
    import random

    rng = random.Random(seed)
    n = 30
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(40)]
    edges += [(5, 5), (7, 7)]  # self-loops
    edges += [(b, a) for a, b in edges[:5]]  # reversed duplicates

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for v in parent:
        expected.setdefault(find(v), set()).add(v)
    exp_clusters = {frozenset(m) for m in expected.values()}

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )
    out = dedup.connected_components(pairs, small_graph_edges=0)
    got = {}
    for r in out.collect():
        got.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    assert {frozenset(m) for m in got.values()} == exp_clusters
    # labels are each component's min member
    assert all(cid == min(m) for cid, m in got.items())


def test_dedup_corpus_reuses_precomputed_clusters(spark, documents):
    """clusters= must yield exactly the recompute result — the hook exists
    so a pipeline pays the CC job once across dedup_corpus and
    curation.leakage_free_split."""
    docs = _with_planted_dups(spark, documents)
    cc = dedup.connected_components(
        dedup.minhash_candidate_pairs(docs)
    ).localCheckpoint(eager=True)
    direct = {r["doc_id"] for r in dedup.dedup_corpus(docs).select("doc_id").collect()}
    reused = {
        r["doc_id"]
        for r in dedup.dedup_corpus(docs, clusters=cc).select("doc_id").collect()
    }
    assert direct == reused


def test_minhash_banding_geometry_follows_lsh_plan(spark, documents):
    """The planner's geometry actually drives the operator: the default 4x2
    is lsh_plan's own pick near its s50; a precision-leaning 2x4 geometry
    yields a SUBSET of candidates (every band match needs 4 identical rows,
    not 2) while exact clones — identical signatures — always collide at
    every geometry; over-budget geometries raise."""
    docs = _with_planted_dups(spark, documents)
    default_pairs = {
        (r["doc_a"], r["doc_b"]) for r in dedup.minhash_candidate_pairs(docs).collect()
    }
    precise_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_candidate_pairs(docs, bands=2, rows_per_band=4).collect()
    }
    assert precise_pairs <= default_pairs
    exact = {(i, i + 2_000_000) for i in range(3)}
    assert exact <= precise_pairs  # clones collide at any geometry

    plan = dedup.lsh_plan(0.4, dedup.N_MINHASHES)
    assert (plan["bands"], plan["rows_per_band"]) == (4, 2)  # default = plan pick

    with pytest.raises(ValueError, match="exceeds"):
        dedup.minhash_band_buckets(docs, bands=5, rows_per_band=2)
    with pytest.raises(ValueError):
        dedup.minhash_band_buckets(docs, bands=0, rows_per_band=2)


def test_cluster_label_deltas_emit_only_changed_rows(spark):
    """Delta semantics: unchanged docs never re-emit; merged clusters
    relabel every member to the min-of-merged-reps; fresh docs get
    first-label rows (root of their rep, or themselves)."""
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5)], "doc_id long, cluster_id long"
    )
    # intra-cluster pair: no deltas at all
    same = dedup.cluster_label_deltas(
        labels, spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    )
    assert same.count() == 0
    # fresh doc 7 joins cluster 5 (5 stays the min: only 7 changes)
    d1 = dedup.cluster_label_deltas(
        labels, spark.createDataFrame([(5, 7)], "doc_a long, doc_b long")
    )
    assert {(r.doc_id, r.cluster_id) for r in d1.collect()} == {(7, 5)}
    # fresh doc 0 merges INTO cluster 1 and becomes the new min:
    # every member of cluster 1 relabels, 5 stays silent
    d2 = dedup.cluster_label_deltas(
        labels, spark.createDataFrame([(0, 2)], "doc_a long, doc_b long")
    )
    assert {(r.doc_id, r.cluster_id) for r in d2.collect()} == {
        (0, 0),
        (1, 0),
        (2, 0),
    }


@pytest.mark.slow
def test_merge_cluster_labels_equals_full_cc_across_batches(spark, documents):
    """The incremental≡full discipline for CLUSTER LABELS (r6 gap #5):
    maintaining the label table with merge_cluster_labels over incremental
    pair batches must equal a from-scratch connected_components over all
    pairs so far AFTER EVERY BATCH, and the summary must equal
    near_dup_clusters — in any batch order."""
    batches = [documents.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    def run(order):
        labels = spark.createDataFrame([], "doc_id long, cluster_id long")
        idx = spark.createDataFrame([], "doc_id long, band int, band_key string")
        seen = None
        for i in order:
            b = batches[i]
            pairs, nb = dedup.incremental_minhash_pairs(b, idx)
            labels = dedup.merge_cluster_labels(labels, pairs).localCheckpoint(
                eager=True
            )
            idx = idx.unionAll(nb).localCheckpoint(eager=True)
            seen = b if seen is None else seen.unionByName(b)
            full = dedup.connected_components(dedup.minhash_candidate_pairs(seen))
            assert sorted(
                (r.doc_id, r.cluster_id) for r in labels.collect()
            ) == sorted((r.doc_id, r.cluster_id) for r in full.collect()), (
                order,
                i,
            )
        # summary served from maintained labels == the end-to-end operator
        assert sorted(map(tuple, dedup.cluster_summary(labels).collect())) == sorted(
            map(tuple, dedup.near_dup_clusters(seen).collect())
        )
        return sorted((r.doc_id, r.cluster_id) for r in labels.collect())

    assert run([0, 1, 2]) == run([2, 0, 1])


def test_dedup_corpus_serves_from_maintained_labels(spark, documents):
    """The maintained label table (merge_cluster_labels) plugs into
    dedup_corpus(clusters=) and yields the identical deduped corpus — the
    continuously-curating serve path never re-pays CC."""
    labels = spark.createDataFrame([], "doc_id long, cluster_id long")
    idx = spark.createDataFrame([], "doc_id long, band int, band_key string")
    for i in range(2):
        b = documents.filter(F.col("doc_id") % 2 == i)
        pairs, nb = dedup.incremental_minhash_pairs(b, idx)
        labels = dedup.merge_cluster_labels(labels, pairs).localCheckpoint(eager=True)
        idx = idx.unionAll(nb).localCheckpoint(eager=True)
    served = {r.doc_id for r in dedup.dedup_corpus(documents, clusters=labels).select("doc_id").collect()}
    scratch = {r.doc_id for r in dedup.dedup_corpus(documents).select("doc_id").collect()}
    assert served == scratch and served


def test_simhash_multi_matches_python_oracle_and_lossless_banding(spark, documents):
    """r8 wide text SimHash: (1) the salted multi-word signature equals an
    independent python md5 re-derivation word for word; (2) the multi-word
    banded pair operator is LOSSLESS — it finds exactly the pairs a
    brute-force array-XOR hamming scan finds; (3) planted near-dup docs
    pair under the wide radius; (4) no cartesian in the plan."""
    import hashlib

    bits, k = 120, 8
    docs = documents.limit(60)

    def py_sig(text: str) -> list[int]:
        toks = text.split(" ")
        words = []
        for w_idx, lo in enumerate(range(0, bits, 60)):
            wb = min(60, bits - lo)
            sums = [0] * wb
            for t in toks:
                h = int(hashlib.md5(f"{t}\x1f{w_idx}".encode()).hexdigest()[:15], 16)
                for j in range(wb):
                    sums[j] += 1 if (h >> j) & 1 else -1
            word = 0
            for j in range(wb):
                if sums[j] > 0:
                    word |= 1 << j
            words.append(word)
        return words

    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    got_sigs = {
        r["doc_id"]: list(r["sig"])
        for r in dedup.simhash_multi(docs, bits).collect()
    }
    for d, text in rows.items():
        assert got_sigs[d] == py_sig(text), d

    pairs_df = dedup.simhash_near_pairs_multi(docs, max_hamming=k, bits=bits)
    plan = pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = sorted(map(tuple, pairs_df.collect()))

    def ham(a: list[int], b: list[int]) -> int:
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    ids = sorted(rows)
    want = sorted(
        (ids[x], ids[y], ham(got_sigs[ids[x]], got_sigs[ids[y]]))
        for x in range(len(ids))
        for y in range(x + 1, len(ids))
        if ham(got_sigs[ids[x]], got_sigs[ids[y]]) <= k
    )
    assert got == want

    # planted: a doc and a one-token-appended near-copy pair up wide. A
    # single added token flips ~bits·P(|token-sum| small) sign bits, so
    # scan (deterministically — md5 is fixed) for a suffix within radius
    # instead of assuming every suffix lands there.
    body = " ".join(f"word{i}" for i in range(400))
    suffix = next(
        s for s in (f"tail{j}" for j in range(50))
        if ham(py_sig(body), py_sig(body + " " + s)) <= k
    )
    far = " ".join(f"other{i}" for i in range(400))
    assert ham(py_sig(body), py_sig(far)) > k  # distinct docs stay apart
    base = spark.createDataFrame(
        [(1, body), (2, body + " " + suffix), (3, far)],
        "doc_id long, text string",
    )
    planted = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_near_pairs_multi(base, max_hamming=k, bits=bits).collect()
    }
    assert (1, 2) in planted and not any(3 in p for p in planted)

    with pytest.raises(ValueError, match="fits one long"):
        dedup.simhash_multi(docs, bits=60)


# ---------------------------------------------------------------------------
# r9: span-level decontamination — scrub the quote, keep the page.
# ---------------------------------------------------------------------------


def test_span_decon_scrub_removes_exactly_the_shared_spans(spark):
    from pulsar_replay_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            # eval sentence embedded mid-doc: only it leaves
            (1, "intro words here which organelle is the powerhouse of the cell closing remark"),
            # clean doc with a double space: passes through BYTE-exact
            (2, "totally clean document with  double space"),
            # nothing but (a prefix of) the eval sentence: fully scrubbed
            (3, "which organelle is the powerhouse"),
            # below shingle width: cannot be contaminated
            (4, "ab"),
            # two disjoint contaminated spans in one doc
            (5, "which organelle is the start middle words then powerhouse of the cell end"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(900, "which organelle is the powerhouse of the cell")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        for r in dedup.span_decon_scrub(docs, bench).collect()
    }
    assert got[1] == ("intro words here closing remark", 13, 5)
    assert got[2] == ("totally clean document with  double space", 7, 7)
    assert got[3] == ("", 5, 0)
    assert got[4] == ("ab", 1, 1)
    # doc 5: "which organelle is the" (idx 0-3) and "powerhouse of the
    # cell" (idx 8-11) leave; middle survives
    assert got[5] == ("start middle words then end", 13, 5)
    # every input doc appears
    assert set(got) == {1, 2, 3, 4, 5}


def test_span_decon_scrub_plan_broadcasts_bench_side(spark):
    from pulsar_replay_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"doc number {i} with some shared words") for i in range(20)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(900, "with some shared")], "doc_id long, text string"
    )
    plan = (
        dedup.span_decon_scrub(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# r10: any-length exact-substring dedup (Lee et al. 2107.06499 semantics)
# ---------------------------------------------------------------------------


def _dup_span_fixture(spark):
    """Planted VARIABLE-LENGTH repeats — 11, 25 and 63 tokens — at
    different alignments, plus a straddling repeat chunk_dedup_marks'
    fixed 10-token windows cannot see."""
    from pyspark.sql import Row

    src = [f"a{i}" for i in range(100)]
    rows = [
        (1, " ".join(src)),  # source: first occurrence of everything
        # 25-token repeat of a20..a44 at offset 10
        (2, " ".join([f"x{i}" for i in range(10)] + src[20:45] + [f"y{i}" for i in range(10)])),
        # 11-token repeat of a50..a60 at offset 3 (k=10: boundary-exact,
        # only 2 duplicated 10-grams cover it)
        (3, " ".join([f"b{i}" for i in range(3)] + src[50:61] + [f"c{i}" for i in range(5)])),
        # 63-token repeat of a5..a67 — leading position
        (4, " ".join(src[5:68] + [f"d{i}" for i in range(4)])),
        # repeat straddling doc 1's 10-token chunk grid: a15..a29 starts
        # mid-window in BOTH docs — invisible to fixed windows
        (5, " ".join([f"e{i}" for i in range(7)] + src[15:30])),
        (6, "short clean doc"),
        (7, "clean text with  double space preserved"),  # byte-exact pass
    ]
    return spark.createDataFrame([Row(doc_id=d, text=t) for d, t in rows])


def _md5_gram_key(gram):
    """A gram's identity as the md5 of its space-joined text (tokens hold
    no spaces, so the join is injective for a fixed k)."""
    import hashlib

    return hashlib.md5(" ".join(gram).encode("utf-8")).hexdigest()


# The persisted 'rolling2' gram-hash contract, restated as constants so
# the scalar spec below imports no engine code.
_ROLLING2_PRIMES = (2147483647, 2147483629, 2147483587, 2147483563)
_ROLLING2_BASES = (1000003, 999983, 1000033, 1000037)
_ROLLING2_RADIXES = (131, 137, 139, 149)


def _rolling2_gram_key(gram):
    """Scalar spec of the engine's 'rolling2' gh: per channel c a token's
    value is sum((ord(ch_j) + 1) * R_c**j) mod p_c, a gram's hash is
    sum(v_c(tok_j) * B_c**(k-1-j)) mod p_c, and gh is the four channels
    as big-endian 8-hex-digit words."""
    words = []
    for p, b, r in zip(_ROLLING2_PRIMES, _ROLLING2_BASES, _ROLLING2_RADIXES):
        h = 0
        for tok in gram:
            v = sum((ord(ch) + 1) * pow(r, j, p) for j, ch in enumerate(tok)) % p
            h = (h * b + v) % p
        words.append(f"{h:08x}")
    return "".join(words)


# Both gram identities the reference can group occurrences by.
_GRAM_KEYS = pytest.mark.parametrize(
    "gram_key", [_md5_gram_key, _rolling2_gram_key], ids=["md5", "rolling"]
)


def _dup_span_reference(rows, k, keep="first", casefold=False, gram_key=tuple):
    """Brute-force python mirror of the exact-substring family (imports no
    engine code): enumerate EVERY k-gram of every doc, and for each gram
    occurring more than once cover [pos, pos+k-1] at all its occurrences
    but the first (min doc_id, pos) under keep='first', at all of them
    under keep='none'. ``casefold`` compares lowercased tokens; the scrub
    removes the original tokens. ``gram_key`` maps a gram's token list to
    the identity occurrences are grouped by (the tokens themselves by
    default). ``rows`` is [(doc_id, text)]. Returns the engine's three
    shapes:
    - scrub {doc_id: (cleaned_text, n_tokens, n_kept_tokens)}, every doc
      (span-free docs keep their text byte-exact);
    - marks {doc_id: ([(start, end)], n_dup_tokens)}, docs with a span,
      maximal runs of covered positions;
    - stats (n_docs, n_tokens, n_dup_tokens, n_docs_with_dups)."""
    from collections import defaultdict

    toks = {d: (text or "").split(" ") for d, text in rows}
    occ = defaultdict(list)
    for d, t in toks.items():
        key = [tok.lower() for tok in t] if casefold else t
        for p in range(len(t) - k + 1):
            occ[gram_key(key[p : p + k])].append((d, p))
    skip = 1 if keep == "first" else 0
    covered = defaultdict(set)
    for positions in occ.values():
        if len(positions) > 1:
            for d, p in sorted(positions)[skip:]:
                covered[d].update(range(p, p + k))
    scrub, marks = {}, {}
    for d, text in rows:
        t, cov = toks[d], covered[d]
        kept = [tok for i, tok in enumerate(t) if i not in cov]
        scrub[d] = (" ".join(kept) if cov else text or "", len(t), len(kept))
        if cov:
            runs = []
            for i in sorted(cov):
                if runs and i == runs[-1][1] + 1:
                    runs[-1][1] = i
                else:
                    runs.append([i, i])
            marks[d] = ([tuple(r) for r in runs], len(cov))
    stats = (
        len(rows),
        sum(len(t) for t in toks.values()),
        sum(len(c) for c in covered.values()),
        len(marks),
    )
    return scrub, marks, stats


def _dup_span_engine(docs, k, keep="first", casefold=False):
    """The engine's scrub, marks and stats in ``_dup_span_reference``'s
    shapes (stats adds dup_token_ratio last)."""
    scrub = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        for r in dedup.dup_span_scrub(docs, k, keep, casefold).collect()
    }
    marks = {
        r.doc_id: ([(s["start"], s["end"]) for s in r.spans], r.n_dup_tokens)
        for r in dedup.dup_span_marks(docs, k, keep, casefold).collect()
    }
    s = dedup.dup_span_stats(docs, k, keep, casefold).collect()[0]
    stats = (
        s.n_docs, s.n_tokens, s.n_dup_tokens, s.n_docs_with_dups,
        s.dup_token_ratio,
    )
    return scrub, marks, stats


def test_dup_span_marks_exact_boundaries(spark):
    from pulsar_replay_spark.operators import dedup

    docs = _dup_span_fixture(spark)
    got = {
        r.doc_id: ([(s["start"], s["end"]) for s in r.spans], r.n_dup_tokens)
        for r in dedup.dup_span_marks(docs, min_tokens=10).collect()
    }
    # keep='first': doc 1 holds the first occurrence of every planted span
    assert 1 not in got and 6 not in got and 7 not in got
    assert got[2] == ([(10, 34)], 25)  # exact 25-token boundaries
    assert got[3] == ([(3, 13)], 11)  # exact 11-token boundaries
    assert got[4] == ([(0, 62)], 63)  # exact 63-token boundaries
    assert got[5] == ([(7, 21)], 15)  # the straddling repeat, full extent

    # keep='none' also marks the source doc: a5..a67 ∪ a15..a29 ⊂ a5..a67,
    # plus a20..a44 and a50..a60 — merged maximal intervals in doc 1
    none = {
        r.doc_id: [(s["start"], s["end"]) for s in r.spans]
        for r in dedup.dup_span_marks(docs, min_tokens=10, keep="none").collect()
    }
    assert none[1] == [(5, 67)]  # 5..67 swallows 15..29, 20..44 and 50..60
    assert none[2] == [(10, 34)] and none[4] == [(0, 62)]

    with pytest.raises(ValueError, match="keep"):
        dedup.dup_span_marks(docs, 10, keep="bogus")
    # k < 1 has no k-grams to speak of: refused at call time, not as
    # inverted spans (0) or a worker IndexError (-1)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="min_tokens"):
            dedup.dup_span_marks(docs, bad)


def test_dup_span_scrub_matches_python_mirror(spark):
    """Brute-force python reference: enumerate ALL k-grams, find duplicated
    ones, scrub non-first occurrences — the engine must agree token for
    token on the planted fixture (and every doc must appear)."""
    docs = _dup_span_fixture(spark)
    want, _, _ = _dup_span_reference([tuple(r) for r in docs.collect()], 10)
    got = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        for r in dedup.dup_span_scrub(docs, min_tokens=10).collect()
    }
    assert got == want
    assert got[7][0] == "clean text with  double space preserved"  # byte-exact


def test_dup_span_vs_chunk_dedup_straddling_repeat(spark):
    """The capability gap the operator closes: a repeat that sits at
    different 10-token-window offsets in its two copies is INVISIBLE to
    chunk_dedup_marks but found exactly by dup_span_marks."""
    from pulsar_replay_spark.operators import dedup

    src = [f"a{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(src)),
            # same 12 tokens a10..a21, but at offset 7 — no 10-token chunk
            # of doc 2 equals any chunk of doc 1
            (2, " ".join([f"z{i}" for i in range(7)] + src[10:22] + ["tail"])),
        ],
        "doc_id long, text string",
    )
    chunk = dedup.chunk_dedup_marks(docs, chunk_tokens=10)
    assert chunk.filter(~F.col("keep")).count() == 0  # fixed windows: blind
    spans = {
        r.doc_id: [(s["start"], s["end"]) for s in r.spans]
        for r in dedup.dup_span_marks(docs, min_tokens=10).collect()
    }
    assert spans == {2: [(7, 18)]}  # exact 12-token boundaries


def test_dup_span_plan_no_cartesian_no_python(spark):
    """No cartesian product and no row-at-a-time Python in the scrub plan
    (the k-gram kernel is one Arrow MapInPandas, already materialized
    before this plan — see test_dup_span_kernel_runs_once_per_call)."""
    docs = _dup_span_fixture(spark)
    plan = (
        dedup.dup_span_scrub(docs, min_tokens=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_dup_span_casefold_matches_case_variant_repeats(spark):
    """casefold=True (the Lee et al. normalize-before-suffix-sort recipe):
    a Title-Case copy of an admitted passage dedups against it, and the
    scrub removes the ORIGINAL-case tokens (positions are unchanged by
    per-token lowering). casefold=False stays byte-strict."""
    from pulsar_replay_spark.operators import dedup

    lower = " ".join(f"word{i}" for i in range(12))
    title = " ".join(f"Word{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"intro {lower}"),
            (2, f"{title} outro{0} outro{1}"),
        ],
        "doc_id long, text string",
    )
    strict = dedup.dup_span_marks(docs, min_tokens=10)
    assert strict.count() == 0  # byte-strict: case difference = no repeat
    folded = {
        r.doc_id: (
            [(s["start"], s["end"]) for s in r.spans],
            r.n_dup_tokens,
        )
        for r in dedup.dup_span_marks(docs, min_tokens=10, casefold=True).collect()
    }
    assert folded == {2: ([(0, 11)], 12)}  # doc 1 (earlier) keeps its copy
    scrub = {
        r.doc_id: r.cleaned_text
        for r in dedup.dup_span_scrub(docs, 10, casefold=True).collect()
    }
    assert scrub[1] == f"intro {lower}"
    assert scrub[2] == "outro0 outro1"  # original-case tokens removed


def test_dup_span_deterministic_under_repartitioning(spark):
    """The scrub does not depend on how the corpus is partitioned into
    the kernel's Arrow batches."""
    docs = _dup_span_fixture(spark)
    a = sorted(
        tuple(r) for r in dedup.dup_span_scrub(docs, min_tokens=10).collect()
    )
    b = sorted(
        tuple(r)
        for r in dedup.dup_span_scrub(docs.repartition(13), min_tokens=10).collect()
    )
    assert a == b


@_GRAM_KEYS
def test_dup_span_randomized_brute_force_equivalence(spark, gram_key):
    """Seeded randomized gate for the coverage lemma: small random corpora
    with planted random-length repeats at random alignments — the engine's
    scrub must equal the brute-force reference's enumeration of ALL
    duplicated k-grams, for every seed, whether the reference groups
    grams by md5 of their text or by the scalar 'rolling2' spec. Under
    the rolling spec the engine's gh VALUES (a persisted store's
    contract) must also equal the spec at every position."""
    import random

    k = 5
    for seed in (11, 23, 47):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)]  # small vocab: natural repeats
        rows = []
        for d in range(12):
            n = rng.randint(2, 40)
            rows.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
        # plant explicit repeats: slices of doc 0 into random docs/offsets
        base = rows[0][1].split()
        if len(base) >= k + 2:
            for d in (4, 7):
                L = rng.randint(k, min(len(base), k + 9))
                s = rng.randint(0, len(base) - L)
                tgt = rows[d][1].split()
                at = rng.randint(0, len(tgt))
                rows[d] = (d, " ".join(tgt[:at] + base[s : s + L] + tgt[at:]))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        want, _, _ = _dup_span_reference(rows, k, gram_key=gram_key)
        got = {
            r.doc_id: (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
            for r in dedup.dup_span_scrub(docs, min_tokens=k).collect()
        }
        assert got == want, f"seed {seed}"
        if gram_key is _rolling2_gram_key:
            toks = dict(rows)
            for r in dedup._positioned_kgram_hashes(docs, k).collect():
                gram = toks[r.doc_id].split(" ")[r.pos : r.pos + k]
                assert r.gh == gram_key(gram), f"seed {seed} {r.doc_id}@{r.pos}"


def test_dup_span_rolling_bit_identical_planted(spark):
    """The rolling k-gram kernel's spans, scrubs and stats are
    BIT-IDENTICAL to the brute-force reference on the planted fixture AND
    the contract corpus (documents + the 11/25/63-token clones
    q:`dup_span_scrub` registers), across both keep legs and the casefold
    knob. The reference compares gram TEXT; only a hash collision could
    make the engine differ, and 4x31-bit channels make that
    2^-124-improbable."""
    from pulsar_replay_spark import queries_llm

    fixture = _dup_span_fixture(spark)
    contract = queries_llm._planted_clone_docs(spark, SF_SMOKE)
    for name, docs in (("fixture", fixture), ("contract", contract)):
        rows = [(r.doc_id, r.text) for r in docs.collect()]
        for keep in ("first", "none"):
            for casefold in (False, True):
                scrub, marks, stats = _dup_span_reference(rows, 10, keep, casefold)
                g_scrub, g_marks, g_stats = _dup_span_engine(
                    docs, 10, keep, casefold
                )
                where = (name, keep, casefold)
                assert g_scrub == scrub, where
                assert g_marks == marks, where
                assert g_stats[:4] == stats, where
                assert abs(g_stats[4] - stats[2] / stats[1]) < 1e-6, where
        assert marks, name  # the corpus actually carries repeats


def test_dup_span_kernel_runs_once_per_call(spark):
    """The Arrow k-gram kernel runs ONCE per call: every consumer of the
    gram relation — the one-shot duplicate agg and join probe; the
    incremental seen-join, first-occurrence agg and Bloom build — reads
    the materialized (doc_id, pos, gh) blocks, so no executed plan the
    caller receives holds a MapInPandas subtree (re-running the kernel
    would send the corpus across the JVM↔Arrow boundary per consumer)."""
    docs = _dup_span_fixture(spark)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    one_shot = plan(dedup.dup_span_scrub(docs, min_tokens=10))
    assert "MapInPandas" not in one_shot
    assert "ExistingRDD" in one_shot  # reads the checkpointed grams
    idx = spark.createDataFrame([], "gh string, doc_id long, pos int")
    for bloom_fpp in (None, 0.01):
        scrubbed, new_grams = dedup.incremental_dup_span_scrub(
            docs, idx, min_tokens=10, bloom_fpp=bloom_fpp
        )
        for out in (scrubbed, new_grams):
            assert "MapInPandas" not in plan(out), bloom_fpp


def test_dup_span_stats_counts_exactly(spark):
    """The corpus-duplication headline: keep='none' counts every token
    inside a duplicated >=k span (hand-checked on the planted fixture);
    keep='first' counts only what a scrub removes; the card knob exposes
    it."""
    from pulsar_replay_spark import pipeline
    from pulsar_replay_spark.operators import dedup

    docs = _dup_span_fixture(spark)
    s = dedup.dup_span_stats(docs, min_tokens=10).collect()[0]
    # doc1: span 5-67 = 63 covered tokens (keep='none' marks the firsts);
    # docs 2/3/4/5 carry 25/11/63/15 dup tokens; docs 6/7 none
    assert s.n_docs == 7 and s.n_docs_with_dups == 5
    assert s.n_dup_tokens == 63 + 25 + 11 + 63 + 15
    total = sum(len(r.text.split(" ")) for r in docs.collect())
    assert s.n_tokens == total
    assert abs(s.dup_token_ratio - s.n_dup_tokens / total) < 1e-6
    first = dedup.dup_span_stats(docs, min_tokens=10, keep="first").collect()[0]
    assert first.n_dup_tokens == 25 + 11 + 63 + 15  # doc 1 keeps its copy
    assert first.n_docs_with_dups == 4

    card = pipeline.data_card(
        docs.select(
            "doc_id", "text", F.lit("en").alias("lang"),
            F.lit("web").alias("source"), F.length("text").alias("n_chars"),
        ),
        dup_span_tokens=10,
    )
    assert card["dup_span_stats"].collect()[0].n_dup_tokens == s.n_dup_tokens


def test_incremental_dup_span_equals_one_shot(spark):
    """doc_id-ordered batches through incremental_dup_span_scrub reproduce
    the one-shot dup_span_scrub over their union EXACTLY, and the index
    grows by unseen first-occurrence grams only."""
    from pulsar_replay_spark.operators import dedup

    docs = _dup_span_fixture(spark)
    one_shot = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        for r in dedup.dup_span_scrub(docs, min_tokens=10).collect()
    }
    # three doc_id-ordered batches: {1,2}, {3,4,5}, {6,7}
    got = {}
    idx = spark.createDataFrame([], "gh string, doc_id long, pos int")
    n_grams = []
    for lo, hi in ((1, 2), (3, 5), (6, 7)):
        batch = docs.filter(F.col("doc_id").between(lo, hi))
        scrubbed, new_grams = dedup.incremental_dup_span_scrub(
            batch, idx, min_tokens=10
        )
        for r in scrubbed.collect():
            got[r.doc_id] = (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        idx = idx.unionByName(new_grams).localCheckpoint(eager=True)
        n_grams.append(new_grams.count())
    assert got == one_shot
    # the index holds one row per DISTINCT gram of the whole corpus: later
    # copies of doc 1's passages added nothing
    total = idx.count()
    assert total == idx.select("gh").distinct().count()
    assert n_grams[1] < 200  # batch 2 (docs 3-5) is mostly repeats of doc 1


@_GRAM_KEYS
def test_incremental_dup_span_bloom_casefold_equals_one_shot(spark, gram_key):
    """r11: the Bloom-prefiltered index probe (bloom_fpp) and the casefold
    knob on the incremental path reproduce the one-shot scrub EXACTLY —
    Bloom has no false negatives, and its false positives are index grams
    the exact equi-join discards, so the prefilter is output-invariant by
    construction; casefold plumbs through so a casefolded one-shot has a
    byte-equal streaming twin. The index growth (new_grams) is also
    pinned identical with and without the prefilter, and the one-shot
    itself equals the brute-force reference under either gram key."""
    from pulsar_replay_spark.operators import dedup

    lower = " ".join(f"word{i}" for i in range(14))
    title = " ".join(f"Word{i}" for i in range(14))
    rows = [
        (1, f"intro {lower} outro0"),
        (2, " ".join(f"b{i}" for i in range(20))),
        (3, f"{title} tail0 tail1"),  # case-variant copy of doc 1's passage
        (4, " ".join(f"d{i}" for i in range(12))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    one_shot = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        for r in dedup.dup_span_scrub(docs, min_tokens=10, casefold=True).collect()
    }
    assert one_shot[3][0] == "tail0 tail1"  # the knob is load-bearing
    want, _, _ = _dup_span_reference(rows, 10, casefold=True, gram_key=gram_key)
    assert one_shot == want

    got = {}
    idx = spark.createDataFrame([], "gh string, doc_id long, pos int")
    for lo, hi in ((1, 2), (3, 4)):
        batch = docs.filter(F.col("doc_id").between(lo, hi))
        scrubbed, new_grams = dedup.incremental_dup_span_scrub(
            batch, idx, min_tokens=10, casefold=True, bloom_fpp=0.01
        )
        _, new_grams_nobloom = dedup.incremental_dup_span_scrub(
            batch, idx, min_tokens=10, casefold=True
        )
        assert sorted(map(tuple, new_grams.collect())) == sorted(
            map(tuple, new_grams_nobloom.collect())
        )
        for r in scrubbed.collect():
            got[r.doc_id] = (r.cleaned_text, r.n_tokens, r.n_kept_tokens)
        idx = idx.unionByName(new_grams).localCheckpoint(eager=True)
    assert got == one_shot
