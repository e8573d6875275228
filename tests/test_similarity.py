"""Similarity-search tests: brute-force correctness vs numpy, LSH recall,
and bit equality of the Arrow kernels to the numpy reference in
``tests/ann_reference.py`` (the ``*_equals_reference`` gates: the
reference reproduces the engine's fold order and ``F.round``)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import similarity
from tests import ann_reference as ref


@pytest.fixture(scope="module")
def emb_np(embeddings):
    rows = embeddings.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, mat


def _vecs(df, id_col="vec_id", vec_col="embedding"):
    return ref.vectors(df.select(id_col, vec_col).collect())


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _ivf_reference(corpus, queries, cents, k, n_probe, corpus_cells=None):
    """Reference IVF top-k rows: corpus vectors in their nearest cell (or in
    the given ``corpus_cells`` rows), each query probing its ``n_probe``
    nearest cells."""
    vecs, q_vecs = _vecs(corpus), _vecs(queries)
    cv = _vecs(cents, "cell_id", "centroid")
    if corpus_cells is None:
        pairs = [(v, cs[0]) for v, cs in ref.nearest_cells(vecs, cv).items()]
    else:
        pairs = [tuple(r) for r in corpus_cells.select("vec_id", "cell_id").collect()]
    probes = [(q, c) for q, cs in ref.nearest_cells(q_vecs, cv, n_probe).items() for c in cs]
    return ref.topk_rows(q_vecs, vecs, ref.cell_candidates(pairs, probes), k)


def _lsh_reference(corpus, queries, k, n_tables=4, bits=2, multiprobe=0):
    """Reference LSH top-k rows: candidates share a bucket with the query in
    any table (plus its one-bit-flip buckets under multiprobe)."""
    vecs = _vecs(corpus)
    q_ids = [r["vec_id"] for r in queries.select("vec_id").collect()]
    buckets = ref.lsh_table_buckets(vecs, n_tables, bits)
    cands = ref.lsh_candidates(buckets, q_ids, bits, multiprobe)
    return ref.topk_rows(vecs, vecs, cands, k)


def _numpy_topk(ids, mat, q_idx, k=5):
    q = mat[q_idx]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    sims[q_idx] = -np.inf
    order = np.argsort(np.round(-sims, 6), kind="stable")
    return [int(ids[i]) for i in order[:k]]


def test_brute_force_matches_numpy(spark, embeddings, emb_np):
    ids, mat = emb_np
    queries = embeddings.filter(F.col("vec_id") % 100 == 0)
    got = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["rk"], r["neighbor_id"]))
    for q_id, lst in by_q.items():
        expect = _numpy_topk(ids, mat, int(np.where(ids == q_id)[0][0]))
        assert [n for _, n in sorted(lst)] == expect


def test_lsh_recall_vs_brute_force(spark, embeddings):
    """ANN path must keep reasonable recall on bucketed candidates. With
    8 hyperplanes on random vectors recall is limited by bucket splits —
    assert it finds ≥20% of true top-5 across queries (and that the plan
    never falls back to a cross join)."""
    queries = embeddings.filter(F.col("vec_id") % 50 == 0)
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    approx = similarity.lsh_topk(embeddings, queries, k=5).collect()
    exact_set = {(r["q_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["q_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2, f"recall {recall}"


def test_lsh_buckets_are_stable(spark, embeddings):
    a = similarity.lsh_buckets(embeddings).collect()
    b = similarity.lsh_buckets(embeddings).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    buckets = {r["bucket"] for r in a}
    assert all(0 <= x < 256 for x in buckets)
    assert len(buckets) > 10  # signatures actually spread


def test_ivf_recall_vs_brute_force(spark, embeddings):
    """IVF with nprobe=4/16 cells must beat blind chance comfortably and its
    candidate join must stay an equi-join on cell_id (no cross join)."""
    queries = embeddings.filter(F.col("vec_id") % 50 == 0)
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    approx_df = similarity.ivf_topk(embeddings, queries, k=5)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    approx = approx_df.collect()
    exact_set = {(r["q_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["q_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # nprobe/cells = 1/4 of the corpus scanned → random baseline ~0.25
    assert recall >= 0.3, f"recall {recall}"


def test_ivf_deterministic(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") % 100 == 0)
    a = similarity.ivf_topk(embeddings, queries, k=3).collect()
    b = similarity.ivf_topk(embeddings, queries, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_lsh_near_dup_recall_vs_exact(spark, embeddings):
    """The bucketed near-dup path must recover a usable fraction of the exact
    high-similarity pairs while generating candidates from collisions only."""
    from pulsar_replay_spark.queries_functions import NEAR_DUP_THRESHOLD

    from pulsar_replay_spark.functions.vectors import dot, norm

    a = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
                          norm(F.col("embedding")).alias("na"))
    b = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
                          norm(F.col("embedding")).alias("nb"))
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("s", dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("s") >= NEAR_DUP_THRESHOLD)
        .collect()
    }
    got = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup_pairs_lsh(
            embeddings, threshold=NEAR_DUP_THRESHOLD
        ).collect()
    }
    assert got <= exact  # no false positives (exact rerank filter)
    if exact:
        recall = len(got & exact) / len(exact)
        assert recall >= 0.3, f"recall {recall}"


def test_kmeans_refine_improves_cohesion(spark, embeddings):
    """Lloyd's iterations must tighten cells: mean cosine of vectors to their
    assigned centroid strictly improves over the first-k seed pick, and a
    second iteration never undoes the first (monotone on the fixtures)."""
    seed = similarity.ivf_centroids(embeddings)
    one = similarity.kmeans_refine(embeddings, n_iter=1)
    two = similarity.kmeans_refine(embeddings, n_iter=2)
    c_seed = similarity.assignment_cohesion(embeddings, seed).first()
    c_one = similarity.assignment_cohesion(embeddings, one).first()
    c_two = similarity.assignment_cohesion(embeddings, two).first()
    assert c_seed["n_vecs"] == c_one["n_vecs"] == c_two["n_vecs"]
    assert c_one["avg_cos"] > c_seed["avg_cos"]
    assert c_two["avg_cos"] >= c_one["avg_cos"]


def test_kmeans_refine_deterministic_and_bounded(spark, embeddings):
    a = similarity.kmeans_refine(embeddings, n_iter=2).collect()
    b = similarity.kmeans_refine(embeddings, n_iter=2).collect()
    assert sorted(r["cell_id"] for r in a) == sorted(r["cell_id"] for r in b)
    assert {tuple(r["centroid"]) for r in a} == {tuple(r["centroid"]) for r in b}
    assert 0 < len(a) <= similarity.N_CELLS
    assert all(len(r["centroid"]) == similarity.DIM for r in a)


def test_ivf_with_refined_centroids_keeps_recall(spark, embeddings):
    """The refined-centroid IVF path must hold the recall bar of the seeded
    path (same nprobe/cells budget) — refinement is a quality knob, never a
    correctness regression."""
    queries = embeddings.filter(F.col("vec_id") % 50 == 0)
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    cents = similarity.kmeans_refine(embeddings, n_iter=2)
    approx_df = similarity.ivf_topk(embeddings, queries, k=5, centroids=cents)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    approx = approx_df.collect()
    exact_set = {(r["q_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["q_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"recall {recall}"


def test_pq_encode_compresses_and_reconstructs(spark, embeddings):
    """Every vector gets PQ_M 4-bit codes and a positive reconstruction
    norm; codebooks hold PQ_M × PQ_K centroids of the right width."""
    books = similarity.pq_codebooks(embeddings)
    rows = books.collect()
    assert len(rows) == similarity.PQ_M * similarity.PQ_K
    assert all(len(r["centroid"]) == similarity.DIM // similarity.PQ_M for r in rows)
    codes = similarity.pq_encode(embeddings, books)
    got = codes.collect()
    assert len(got) == embeddings.count()
    for r in got:
        assert len(r["codes"]) == similarity.PQ_M
        assert all(0 <= c < similarity.PQ_K for c in r["codes"])
        assert r["approx_norm"] > 0


def test_ivf_pq_recall_vs_brute_force(spark, embeddings):
    """The compressed pipeline (IVF probe → ADC over codes → exact rerank)
    must hold a usable recall floor and keep every join equi (no cartesian
    product anywhere in the plan). Uses the prebuilt-index serving shape."""
    queries = embeddings.filter(F.col("vec_id") % 50 == 0)
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    idx = similarity.pq_index(embeddings)
    approx_df = similarity.ivf_pq_topk(embeddings, queries, k=5, index=idx)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    approx = approx_df.collect()
    exact_set = {(r["q_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["q_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # nprobe/cells = 1/4 of the corpus probed, ADC shortlists within it
    assert recall >= 0.25, f"recall {recall}"


def test_ivf_pq_deterministic(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") % 100 == 0)
    a = similarity.ivf_pq_topk(embeddings, queries, k=3).collect()
    b = similarity.ivf_pq_topk(embeddings, queries, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _semdedup_numpy(ids, mat, n_cells, threshold):
    """Literal mirror of operators/similarity.semantic_dedup: seed centroids
    = lowest n_cells vec_ids, nearest-cell assignment on RAW cosine
    (cell_id tie-break), then the per-cell triangular scan in keep-priority
    order (centroid_sim asc, vec_id asc): v drops iff ANY earlier u has
    round-6 cos(u, v) >= threshold."""
    ordv = np.argsort(ids)
    cent_pos = ordv[:n_cells]
    cent_ids = ids[cent_pos]
    C = mat[cent_pos]
    nm = np.linalg.norm(mat, axis=1)
    # assignment argmax on RAW cosine (nearest_cells semantics); the carried
    # sim is the winner's round-6 value
    cs = (mat @ C.T) / (nm[:, None] * np.linalg.norm(C, axis=1)[None, :])
    cell_ix = cs.argmax(axis=1)  # first max = lowest cell_id (cent_ids asc)
    cell = cent_ids[cell_ix]
    csim = np.round(cs[np.arange(len(ids)), cell_ix], 6)
    keep = {}
    for c in np.unique(cell):
        members = sorted(
            np.where(cell == c)[0], key=lambda i: (csim[i], ids[i])
        )
        for pos, v in enumerate(members):
            dropped = any(
                round(float(mat[u] @ mat[v] / (nm[u] * nm[v])), 6) >= threshold
                for u in members[:pos]
            )
            keep[int(ids[v])] = not dropped
    return keep


def test_semantic_dedup_matches_numpy(spark, embeddings, emb_np):
    ids, mat = emb_np
    got = similarity.semantic_dedup(embeddings, threshold=0.4).collect()
    expect = _semdedup_numpy(ids, mat, similarity.N_CELLS, 0.4)
    assert len(got) == len(ids)
    for r in got:
        assert r["keep"] == expect[r["vec_id"]], r
    # the rule actually fires at this tau — otherwise the test is vacuous
    assert any(not r["keep"] for r in got)


def test_nearest_cells_equals_reference(spark, embeddings):
    """The Arrow assignment's sequential-over-dims numpy fold must pick the
    reference's nearest cell (raw cosine, lowest cell_id on ties) for every
    vector — the gate that lets the fast path carry the oracle-checked
    semantics. Probed at two cell counts."""
    vecs = _vecs(embeddings)
    for n_cells in (4, 64):
        cents = similarity.ivf_centroids(embeddings, n_cells).localCheckpoint(
            eager=True
        )
        got = {
            r["vec_id"]: r["cell_id"]
            for r in similarity.nearest_cells(embeddings, cents).collect()
        }
        want = ref.nearest_cells(vecs, _vecs(cents, "cell_id", "centroid"))
        assert got == {v: cs[0] for v, cs in want.items()}


def test_semdedup_cells_linear_rule():
    from pulsar_replay_spark.operators.similarity import semdedup_cells

    assert semdedup_cells(1_000) == 64          # floor
    assert semdedup_cells(256 * 1024) == 1024   # N/target, pow2
    # linear: 10x corpus -> 10x cells (up to pow2 rounding), cell size flat
    a, b = semdedup_cells(10**6), semdedup_cells(10**7)
    assert 8 <= b / a <= 16


def test_semantic_dedup_plan_and_stats(spark, embeddings):
    v = similarity.semantic_dedup(embeddings, threshold=0.4)
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    stats = similarity.semantic_dedup_stats(v).collect()
    assert sum(r["members"] for r in stats) == embeddings.count()
    assert sum(r["kept"] for r in stats) == v.filter("keep").count()


def test_semantic_dedup_threshold_monotone(spark, embeddings):
    lo = similarity.semantic_dedup(embeddings, threshold=0.3).filter("keep").count()
    hi = similarity.semantic_dedup(embeddings, threshold=0.9).filter("keep").count()
    assert lo <= hi


def test_benched_ann_candidate_fraction_and_recall(spark, embeddings):
    """Gate on the served ANN configuration, corpus-scaled IVF: the
    ivf_params (n_cells, n_probe) must keep the MEASURED candidate-scan
    fraction under 10% of the corpus while holding the recall floor — the r2
    verdict's fix for the 4-bucket LSH headline that scanned ~68%."""
    n = embeddings.count()
    n_cells, n_probe = similarity.ivf_params(n)
    assert n_probe / n_cells <= 0.10  # nominal bound by construction
    cents = similarity.kmeans_refine(embeddings, n_cells, n_iter=2)
    queries = embeddings.filter(F.col("vec_id") % 50 == 0)

    frac = similarity.candidate_fraction(embeddings, queries, cents, n_probe)
    assert frac < 0.10, f"measured candidate fraction {frac:.3f} >= 10%"

    approx_df = similarity.ivf_topk(
        embeddings, queries, k=5, n_cells=n_cells, n_probe=n_probe, centroids=cents
    )
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    exact_set = {(r["q_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["q_id"], r["neighbor_id"]) for r in approx_df.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"recall {recall} below floor at frac {frac:.3f}"


def test_ivf_params_scaling_rule():
    """Pure-unit pin of the corpus-scaled tuning rule: power-of-two sqrt-N
    cells (floor 64), nominal candidate fraction never above target at any
    magnitude, and the production target_frac knob honored."""
    for n in (1, 100, 500, 2_000, 1_000_000, 1_000_000_000):
        cells, probe = similarity.ivf_params(n)
        assert cells >= 64 and (cells & (cells - 1)) == 0, (n, cells)
        assert probe >= 2
        assert probe / cells <= 1 / 16 + 1e-12, (n, cells, probe)
    assert similarity.ivf_params(1_000_000_000)[0] == 2**15
    cells, probe = similarity.ivf_params(1_000_000, target_frac=0.01)
    assert probe / cells <= 0.01 + 1e-12


def test_nearest_cells_arrow_plan_is_shuffle_free(spark, embeddings):
    """The Arrow assignment is a pure mapInPandas projection — the centroid
    matrix rides the closure, so the plan must contain NO Exchange and no
    join: the O(N·cells·dim) build term reads the corpus exactly once."""
    cents = similarity.ivf_centroids(embeddings, 16).localCheckpoint(eager=True)
    plan = (
        similarity.nearest_cells(embeddings, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_lsh_signatures_equals_reference(spark, embeddings):
    """The Arrow signature path's sequential-dim fold must reproduce the
    reference projections' strict proj > 0 sign bits for every vector."""
    got = {r["vec_id"]: r["sig"] for r in similarity.lsh_signatures(embeddings).collect()}
    assert got == ref.lsh_signatures(_vecs(embeddings))


def test_nearest_cells_batch_fold_skips_zero_row_batches(spark):
    """Regression pin for the r5 empty-Arrow-batch guard: the batch fold
    behind nearest_cells must skip zero-row frames (np.stack
    raises on an empty sequence) and still assign every real row — exercised
    at the unit level because Spark plans in this environment never emit the
    zero-row batches Arrow permits."""
    import numpy as np
    import pandas as pd

    from pulsar_replay_spark.operators.similarity import _nearest_cells_batches

    C = np.array([[1.0, 0.0], [0.0, 1.0]])
    cell_ids = np.array([0, 1], dtype="int64")
    c_norm = np.sqrt((C * C).sum(axis=1))
    full = pd.DataFrame(
        {"vec_id": [7, 8], "embedding": [[2.0, 0.1], [0.1, 3.0]]}
    )
    empty = full.iloc[0:0]

    out = list(
        _nearest_cells_batches(
            [empty, full, empty], cell_ids=cell_ids, C=C, c_norm=c_norm, dim=2
        )
    )
    assert len(out) == 1  # both zero-row frames skipped, no exception
    got = dict(zip(out[0]["vec_id"], out[0]["cell_id"]))
    assert got == {7: 0, 8: 1}


def test_semantic_dedup_blocked_scan_equals_unblocked_under_skew(spark):
    """The block-decomposed within-cell scan (the giant-cell skew lever)
    must produce BIT-identical verdicts to the unblocked scan on a planted
    dominant cell holding ~50% of all vectors, including with block_rows
    small enough to force many cross-block bipartite tasks."""
    import random

    from pulsar_replay_spark.operators import similarity

    rnd = random.Random(7)
    dim = 16
    rows = []
    # dominant direction: ~half the corpus tightly packed in one cell
    base = [rnd.uniform(-1, 1) for _ in range(dim)]
    for i in range(200):
        rows.append((i, [b + rnd.uniform(-0.05, 0.05) for b in base]))
    for i in range(200, 400):
        rows.append((i, [rnd.uniform(-1, 1) for _ in range(dim)]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).localCheckpoint(eager=True)
    # explicit centroids: one at the dominant direction, 7 random — so the
    # packed half of the corpus provably lands in ONE cell
    cents = spark.createDataFrame(
        [(0, base)]
        + [(c, [rnd.uniform(-1, 1) for _ in range(dim)]) for c in range(1, 8)],
        "cell_id long, centroid array<double>",
    ).localCheckpoint(eager=True)

    plain = similarity.semantic_dedup(emb, threshold=0.9, centroids=cents)
    blocked = similarity.semantic_dedup(
        emb, threshold=0.9, centroids=cents, block_rows=32
    )
    p = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, blocked.collect()))
    assert b == p

    # the skew is real: one cell holds ~half the corpus, and the blocked
    # run actually exercised multi-block cells (200 rows / 32 -> 7 blocks)
    top_cell = max(
        r["n"]
        for r in plain.groupBy("cell_id").agg(F.count("*").alias("n")).collect()
    )
    assert top_cell >= 200
    # verdicts are non-trivial on both sides (planted near-dups dropped)
    assert plain.filter("NOT keep").count() > 0


def test_bitext_mine_recovers_planted_translations(spark):
    """Margin mining (Artetxe-Schwenk ratio margin) must recover a planted
    A->B translation mapping exactly: 25 'source' vectors, each with one
    noised 'translation' in B among 50 random distractors; mutual-best
    margin mining returns exactly the planted pairs, and the margins match
    a pure-python mirror of the same formula over the same round-6 sims."""
    import math
    import random

    rnd = random.Random(21)
    dim, k = 12, 4
    a_rows, b_rows = [], []
    for i in range(25):
        v = [rnd.uniform(-1, 1) for _ in range(dim)]
        a_rows.append((i, v))
        b_rows.append((1000 + i, [x + rnd.uniform(-0.02, 0.02) for x in v]))
    for j in range(50):
        b_rows.append((2000 + j, [rnd.uniform(-1, 1) for _ in range(dim)]))
    emb_a = spark.createDataFrame(a_rows, "vec_id long, embedding array<double>")
    emb_b = spark.createDataFrame(b_rows, "vec_id long, embedding array<double>")

    got = similarity.bitext_mine(emb_a, emb_b, k=k, margin_threshold=1.0)
    pairs = {(r["a_id"], r["b_id"]) for r in got.collect()}
    assert pairs == {(i, 1000 + i) for i in range(25)}

    # python mirror: same sequential-fold cosine, same round-6, same margin
    def cos6(u, v):
        d = n1 = n2 = 0.0
        for x, y in zip(u, v):
            d += x * y
            n1 += x * x
            n2 += y * y
        return round(d / (math.sqrt(n1) * math.sqrt(n2)), 6)

    A, B = dict(a_rows), dict(b_rows)
    fwd = {
        ai: sorted(((cos6(av, bv), -bi) for bi, bv in B.items()), reverse=True)[:k]
        for ai, av in A.items()
    }
    bwd = {
        bi: sorted(((cos6(av, bv), -ai) for ai, av in A.items()), reverse=True)[:k]
        for bi, bv in B.items()
    }
    # mirror the operator's order-free int-scaled average exactly
    avg_a = {
        ai: sum(int(round(s * 1e6)) for s, _ in nn) / (k * 1e6)
        for ai, nn in fwd.items()
    }
    avg_b = {
        bi: sum(int(round(s * 1e6)) for s, _ in nn) / (k * 1e6)
        for bi, nn in bwd.items()
    }
    for r in got.collect():
        ai, bi = r["a_id"], r["b_id"]
        raw = cos6(A[ai], B[bi]) / ((avg_a[ai] + avg_b[bi]) / 2.0)
        m = math.floor(raw * 10000 + 0.5) / 10000.0  # the operator's half-up
        assert r["margin"] == m, (ai, bi)
        assert r["margin"] >= 1.0

    # determinism under repartition
    again = similarity.bitext_mine(
        emb_a.repartition(7), emb_b.repartition(5), k=k, margin_threshold=1.0
    )
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, got.collect()))


def test_bitext_mine_candidates_path_matches_exact(spark):
    """The corpus×corpus scale path — ``candidates=(a_id, b_id)`` pairs,
    sims re-computed exactly on the subset — must reproduce the exact
    sweep BIT-FOR-BIT when the candidate set covers all pairs: the only
    divergence the contract permits is recall from a sparser candidate
    set, never values. (r6 review finding: the old fwd/bwd passthrough
    contract could not hold this — ivf_topk's round-3 sims and q!=n
    filter broke the margin arithmetic.)"""
    import random

    rnd = random.Random(33)
    dim, k = 8, 3
    emb_a = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    emb_b = spark.createDataFrame(
        [(100 + j, [rnd.uniform(-1, 1) for _ in range(dim)]) for j in range(30)],
        "vec_id long, embedding array<double>",
    )
    exact = similarity.bitext_mine(emb_a, emb_b, k=k, margin_threshold=0.0)
    all_pairs = emb_a.select(F.col("vec_id").alias("a_id")).crossJoin(
        emb_b.select(F.col("vec_id").alias("b_id"))
    )
    via_cands = similarity.bitext_mine(
        emb_a, emb_b, k=k, margin_threshold=0.0, candidates=all_pairs
    )
    assert sorted(map(tuple, via_cands.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_bitext_candidates_ivf_recovers_planted_translations(spark):
    """End-to-end scale path: IVF candidate generation (disjoint id
    spaces) + exact re-scoring recovers a planted translation mapping —
    and every (pair, sim, margin) it emits carries the same values the
    exact path assigns (subset semantics, re-scored not passed through)."""
    import random

    rnd = random.Random(7)
    dim, k = 12, 4
    a_rows, b_rows = [], []
    for i in range(25):
        v = [rnd.uniform(-1, 1) for _ in range(dim)]
        a_rows.append((i, v))
        b_rows.append((1000 + i, [x + rnd.uniform(-0.02, 0.02) for x in v]))
    for j in range(40):
        b_rows.append((2000 + j, [rnd.uniform(-1, 1) for _ in range(dim)]))
    emb_a = spark.createDataFrame(a_rows, "vec_id long, embedding array<double>")
    emb_b = spark.createDataFrame(b_rows, "vec_id long, embedding array<double>")

    cands = similarity.bitext_candidates_ivf(
        emb_a, emb_b, k=k, n_cells=4, n_probe=4
    )
    got = similarity.bitext_mine(
        emb_a, emb_b, k=k, margin_threshold=1.0, candidates=cands
    )
    pairs = {(r["a_id"], r["b_id"]) for r in got.collect()}
    assert pairs == {(i, 1000 + i) for i in range(25)}


def test_bitext_candidates_ivf_rejects_shared_prebuilt_index(spark, embeddings):
    """The two sweep directions index DIFFERENT corpora; forwarding one
    prebuilt centroids/cells frame to both would silently assign one
    direction against the wrong quantizer — must raise, not mis-assign."""
    import pytest as _pytest

    a = embeddings.filter(F.col("vec_id") % 2 == 0)
    b = embeddings.filter(F.col("vec_id") % 2 == 1)
    cents = similarity.ivf_centroids(a, n_cells=4)
    with _pytest.raises(ValueError, match="both sweep directions"):
        similarity.bitext_candidates_ivf(a, b, k=2, centroids=cents)


def test_ivf_topk_equals_reference(spark, embeddings):
    """The cogrouped Arrow pair-scoring must reproduce the reference IVF
    top-k EXACTLY — ids, ranks, and rounded sims — at two geometries over
    shared prebuilt centroids."""
    queries = embeddings.limit(7).localCheckpoint(eager=True)
    for n_cells, n_probe in ((4, 2), (16, 4)):
        cents = similarity.ivf_centroids(embeddings, n_cells).localCheckpoint(
            eager=True
        )
        got = _rows(
            similarity.ivf_topk(
                embeddings, queries, k=5, n_probe=n_probe, centroids=cents
            )
        )
        assert got == _ivf_reference(embeddings, queries, cents, 5, n_probe)
        assert len(got) > 0


def test_cell_pair_sims_unit_kernel():
    """Unit probes of the cogroup kernel: empty sides yield typed empty
    frames; self-pairs are excluded; chunking never changes values."""
    import numpy as np
    import pandas as pd

    from pulsar_replay_spark.operators.similarity import _cell_pair_sims

    empty = pd.DataFrame({"n_id": [], "n_emb": []})
    qs = pd.DataFrame({"q_id": [1], "q_emb": [np.ones(4, dtype="float32")]})
    out = _cell_pair_sims(empty, qs)
    assert len(out) == 0 and list(out.columns) == ["q_id", "n_id", "raw_sim"]
    assert _cell_pair_sims(qs.rename(columns={"q_id": "n_id", "q_emb": "n_emb"}), pd.DataFrame({"q_id": [], "q_emb": []})).empty

    rng = np.random.default_rng(7)
    cand = pd.DataFrame(
        {"n_id": np.arange(9), "n_emb": [rng.standard_normal(4).astype("float32") for _ in range(9)]}
    )
    q = pd.DataFrame(
        {"q_id": np.array([3, 50]), "q_emb": [rng.standard_normal(4).astype("float32") for _ in range(2)]}
    )
    full = _cell_pair_sims(cand, q).sort_values(["q_id", "n_id"]).reset_index(drop=True)
    chunked = (
        _cell_pair_sims(cand, q, chunk=2).sort_values(["q_id", "n_id"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(full, chunked)
    # q_id 3 collides with candidate 3 -> excluded
    assert not ((full["q_id"] == 3) & (full["n_id"] == 3)).any()
    assert len(full) == 9 * 2 - 1


def test_cell_pair_sims_k_cut_is_lossless_superset():
    """The per-(query, cell) pre-cut must keep every row that could enter
    the rounded global top-k: planted ties WITHIN 2e-6 of the k-th best
    survive the cut; rows clearly below are dropped; queries with < k rows
    keep everything."""
    import numpy as np
    import pandas as pd

    from pulsar_replay_spark.operators.similarity import _cell_pair_sims

    # orthogonal-ish construction: candidate i has cos ~ sims[i] to the query
    base = np.zeros(4, dtype="float64")
    base[0] = 1.0
    sims_wanted = [0.9, 0.9 - 5e-7, 0.9 - 9e-7, 0.5, 0.4, 0.1]

    def vec(c):
        v = np.zeros(4)
        v[0] = c
        v[1] = np.sqrt(1 - c * c)
        return v.astype("float64")

    cand = pd.DataFrame(
        {"n_id": np.arange(len(sims_wanted)), "n_emb": [vec(c) for c in sims_wanted]}
    )
    q = pd.DataFrame({"q_id": np.array([100]), "q_emb": [base]})
    out = _cell_pair_sims(cand, q, k=2)
    kept = set(out["n_id"])
    # k=2 -> kth best ~0.9-5e-7; the 0.9-9e-7 row is within 2e-6 -> kept
    assert {0, 1, 2} <= kept
    assert 5 not in kept and 4 not in kept  # clearly below the band
    # fewer rows than k: keep all
    out_all = _cell_pair_sims(cand.head(1), q, k=5)
    assert set(out_all["n_id"]) == {0}
    # values are untouched by the cut
    full = _cell_pair_sims(cand, q)
    merged = out.merge(full, on=["q_id", "n_id"], suffixes=("_cut", "_full"))
    assert (merged["raw_sim_cut"] == merged["raw_sim_full"]).all()


def test_cell_pair_sims_streaming_k_cut_equals_one_shot():
    """The per-chunk running k-cut (the hot-cell memory fix: survivors +
    one |Q|x chunk slab, never the full pair frame) must return EXACTLY the
    one-shot cut's frame — same rows, same raw values, same order — under
    tiny chunks, planted 2e-6-band ties, cross-chunk duplicate n_ids, and a
    query with fewer finite rows than k."""
    import numpy as np
    import pandas as pd

    from pulsar_replay_spark.operators.similarity import _cell_pair_sims

    def vec(c):
        v = np.zeros(4)
        v[0], v[1] = c, np.sqrt(1 - c * c)
        return v

    sims_wanted = [0.9, 0.9 - 5e-7, 0.9 - 9e-7, 0.5, 0.45, 0.4, 0.2, 0.1]
    # duplicate n_id 0 lands in a LATE chunk (dedup must still keep one copy)
    n_ids = list(range(len(sims_wanted))) + [0]
    embs = [vec(c) for c in sims_wanted] + [vec(sims_wanted[0])]
    cand = pd.DataFrame({"n_id": np.array(n_ids, dtype="int64"), "n_emb": embs})
    q = pd.DataFrame(
        {"q_id": np.array([100, 7]), "q_emb": [vec(1.0), vec(0.95)]}
    )
    for k in (1, 2, 3, 50):
        one_shot = _cell_pair_sims(cand, q, chunk=10_000, k=k).reset_index(drop=True)
        for chunk in (1, 2, 3):
            streamed = _cell_pair_sims(cand, q, chunk=chunk, k=k).reset_index(drop=True)
            pd.testing.assert_frame_equal(one_shot, streamed)


def test_ivf_topk_duplicate_index_rows_cannot_inflate_the_cut(spark):
    """Duplicated rows in a user-supplied corpus_cells frame (e.g. unioned
    index snapshots) must not occupy k-cut slots: the kernel dedups
    (q_id, n_id) BEFORE the kth statistic, staying exactly equal to the
    reference top-k (whose candidate sets collapse duplicates)."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter("vec_id in (0, 1, 2)")
    cents = similarity.ivf_centroids(emb, n_cells=2).localCheckpoint(eager=True)
    cells = similarity.ivf_assign(emb, cents, n_probe=1).localCheckpoint(eager=True)
    dup_cells = cells.unionByName(cells)  # planted duplicate index rows

    for corpus_cells in (cells, dup_cells):
        got = _rows(
            similarity.ivf_topk(
                emb, queries, k=3, n_probe=2, centroids=cents,
                corpus_cells=corpus_cells,
            )
        )
        want = _ivf_reference(emb, queries, cents, 3, 2, corpus_cells=corpus_cells)
        assert got == want and len(got) > 0


def test_ivf_topk_zero_norm_vector_raises_named_error(spark):
    """Cosine is undefined for zero-norm vectors; under ANSI a HOF cosine
    raises DIVIDE_BY_ZERO, so the Arrow kernel must fail the same inputs
    LOUDLY (named error), never silently emit or drop NaN pairs."""
    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(3)
    rows = [(int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(10)]
    rows.append((99, [0.0] * 8))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter("vec_id in (0, 1)")
    cents = similarity.ivf_centroids(emb.filter("vec_id < 99"), n_cells=2)
    with _pytest.raises(Exception, match="zero-norm"):
        similarity.ivf_topk(emb, queries, k=3, centroids=cents).collect()


def test_bitext_candidates_ivf_half_pinned_geometry_stays_bounded(spark, embeddings):
    """Pinning only n_cells must NOT re-open the full-scan cliff: the
    derived n_probe comes from the PINNED cell count (1/16 fraction, floor
    2), never from ivf_params' corpus-sized cell count."""
    a = embeddings.filter(F.col("vec_id") % 2 == 0)
    b = embeddings.filter(F.col("vec_id") % 2 == 1)
    out = similarity.bitext_candidates_ivf(a, b, k=2, n_cells=64)
    assert out.count() > 0  # runs, and with the bounded probe geometry


def test_cross_topk_equals_reference(spark, embeddings):
    """The closure-shipped query matrix + per-chunk ε-band pre-cut must
    reproduce the reference all-pairs top-k EXACTLY (ids, round-6 sims,
    ranks; no self-pair exclusion across the two corpora) — including at a
    tiny chunk size that forces many per-chunk cuts."""
    from pulsar_replay_spark.operators.similarity import _cross_topk

    a = embeddings.filter(F.col("vec_id") % 2 == 0)
    b = embeddings.filter(F.col("vec_id") % 2 == 1)
    a_vecs, b_vecs = _vecs(a), _vecs(b)
    want = ref.topk(a_vecs, b_vecs, {q: b_vecs.keys() for q in a_vecs}, 4, exclude_self=False)
    assert len(want) > 0
    for chunk in (1024, 7):  # 7 << |b| forces many per-chunk cuts end-to-end
        assert _rows(_cross_topk(b, a, 4, chunk=chunk)) == want


def test_cross_sims_batches_chunking_is_lossless():
    """Unit probe: a chunk size smaller than k and planted near-ties at the
    k-th boundary must not change the final top-k input set's values."""
    import numpy as np
    import pandas as pd

    from pulsar_replay_spark.operators.similarity import _cross_sims_batches

    rng = np.random.default_rng(11)
    Q = rng.standard_normal((3, 6))
    q_acc = np.zeros(3)
    for d in range(6):
        q_acc += Q[:, d] * Q[:, d]
    kw = dict(q_ids=np.arange(3, dtype="int64"), Q=Q, q_norm=np.sqrt(q_acc), dim=6, k=2)
    pdf = pd.DataFrame(
        {
            "n_id": np.arange(50, dtype="int64"),
            "embedding": [rng.standard_normal(6).astype("float32") for _ in range(50)],
        }
    )

    def run(chunk):
        frames = list(_cross_sims_batches(iter([pdf]), chunk=chunk, **kw))
        df = pd.concat(frames, ignore_index=True)
        # global top-2 by raw per query — what the JVM window would rank
        df = df.sort_values(["q_id", "raw_sim", "n_id"], ascending=[True, False, True])
        return df.groupby("q_id").head(2).reset_index(drop=True)

    pd.testing.assert_frame_equal(run(1024), run(3))
    # empty corpus batch and empty query set both yield nothing
    assert list(_cross_sims_batches(iter([pdf.head(0)]), **kw)) == []
    kw0 = dict(kw, q_ids=np.array([], dtype="int64"))
    assert list(_cross_sims_batches(iter([pdf]), **kw0)) == []


def test_lsh_topk_equals_reference(spark, embeddings):
    """The cogrouped (table, bucket) Arrow scoring — including the
    score-then-dedup reordering for multi-table collisions and the
    per-group k-cut — must equal the reference LSH top-k exactly."""
    queries = embeddings.filter(F.col("vec_id") % 37 == 0)  # deterministic set
    want = _lsh_reference(embeddings, queries, 5)
    assert len(want) > 0
    for n_shards in (16, 3):  # sharded cogroup must not change results
        got = _rows(similarity.lsh_topk(embeddings, queries, k=5, n_shards=n_shards))
        assert got == want


def test_lsh_params_scaling_rule():
    """Pure-unit pin of the corpus-scaled LSH geometry (the ivf_params
    analog, closing the r6 'fixed 4-bucket tables' weak-plan finding):
    nominal union candidate fraction L/2^b under target at every magnitude,
    per-table bucket population N/2^b bounded (the Arrow group-slab term
    that must grow with N), and per-table bucket width within a long."""
    prev_b = 0
    for n in (1, 500, 2_000, 1_000_000, 100_000_000, 1_000_000_000):
        length, b = similarity.lsh_params(n)
        assert length / 2**b <= 1 / 16 + 1e-12, (n, length, b)
        assert n / 2**b <= 4096, (n, length, b)
        assert 1 <= b <= 62 and 4 <= length <= 16
        assert b >= prev_b  # monotone: deeper bits as the corpus grows
        prev_b = b
    assert similarity.lsh_params(1_000_000_000) == (16, 18)
    # production knob honored
    length, b = similarity.lsh_params(1_000_000, target_frac=0.01)
    assert length / 2**b <= 0.01 + 1e-12


def test_lsh_table_buckets_default_geometry_equals_lsh_tables(spark, embeddings):
    """At the contract (4 tables × 2 bits) geometry the generalized
    per-table packer must be bit-for-bit the fixed shiftright slicing of the
    shared signature (same md5 plane pool, same global plane indices) — the
    oracle-pinned ann_lsh_topk row depends on it; and the packer must equal
    the reference buckets at a non-default geometry too."""
    new = _rows(similarity.lsh_table_buckets(embeddings, 4, 2))
    old = _rows(similarity.lsh_tables(embeddings))
    assert new == old and len(new) > 0
    got = _rows(similarity.lsh_table_buckets(embeddings, 3, 5))
    want = sorted(
        (v, t, b)
        for v, bs in ref.lsh_table_buckets(_vecs(embeddings), 3, 5).items()
        for t, b in enumerate(bs)
    )
    assert got == want and len(got) > 0


def test_lsh_scaled_geometry_fraction_and_near_dup_recall(spark, embeddings):
    """Gate on the corpus-scaled LSH serving geometry (the
    test_benched_ann_candidate_fraction_and_recall discipline): MEASURED
    candidate fraction under 10% of the corpus, while planted near-dup
    clones (cos ≈ 1, LSH's production retrieval contract — generic top-k
    serves through the data-adaptive IVF family) recover their source at
    ≥ 80%; and the plan never degrades to a cross join."""
    n = embeddings.count()
    length, b = similarity.lsh_params(n)
    assert length / 2**b <= 0.10
    frac = similarity.lsh_candidate_fraction(
        embeddings, embeddings.filter(F.col("vec_id") % 50 == 0), length, b
    )
    assert frac < 0.10, f"measured candidate fraction {frac:.3f} >= 10%"

    clones = embeddings.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(1.01) + F.lit(0.001)
        ).alias("embedding"),
    )
    corpus = embeddings.select("vec_id", "embedding").unionByName(clones)
    approx_df = similarity.lsh_topk(
        corpus, clones, k=3, n_tables=length, bits_per_table=b
    )
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    hits = {
        r["q_id"]
        for r in approx_df.collect()
        if r["q_id"] - 1_000_000 == r["neighbor_id"]
    }
    n_clones = clones.count()
    recall = len(hits) / n_clones
    assert recall >= 0.8, f"planted-clone recall {recall:.2f} below floor"


def test_lsh_topk_at_multi_partition_scale_equals_reference(spark):
    """Regression gate for the cogroup key-dtype misalignment (r7): the
    exploded query-side shard was INT while the candidate side's pmod was
    LONG; cogroup hash-partitions each side's own key columns, and
    Murmur3(int 14) != Murmur3(long 14), so the two sides of the same group
    landed on different partitions and the pairs silently vanished. AQE
    coalesced the sf0.001/sf0.01 shuffles to ONE partition where alignment
    is trivial — so this gate runs at sf0.1 (2000 vectors, real multi-
    partition shuffles) at BOTH geometries and across shard counts, each
    against the reference top-k."""
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 200 == 0)
    got = _rows(similarity.lsh_topk(emb, queries, k=5))
    assert got == _lsh_reference(emb, queries, 5) and len(got) > 0
    length, b = similarity.lsh_params(emb.count())
    want = _lsh_reference(emb, queries, 5, length, b)
    for n_shards in (None, 1):
        got = _rows(
            similarity.lsh_topk(
                emb, queries, k=5, n_tables=length, bits_per_table=b, n_shards=n_shards
            )
        )
        assert got == want and len(got) > 0


@pytest.mark.slow
def test_lsh_multiprobe_expands_candidates_losslessly(spark, embeddings):
    """Radius-1 multiprobe strictly grows the candidate set, so every rank's
    sim is monotonically >= the single-probe one (a superset can only
    improve top-k), measured candidate fraction stays under the
    multiprobe-aware lsh_params bound, the rows equal the reference
    multiprobe top-k, and radius > 1 is rejected."""
    n = embeddings.count()
    length, b = similarity.lsh_params(n, multiprobe=1)
    assert length * (b + 1) / 2**b <= 1 / 16 + 1e-12
    frac = similarity.lsh_candidate_fraction(
        embeddings, embeddings.filter(F.col("vec_id") % 50 == 0), length, b,
        multiprobe=1,
    )
    assert frac < 0.10, frac

    queries = embeddings.filter(F.col("vec_id") % 50 == 0)
    base = {
        (r["q_id"], r["rk"]): r["sim"]
        for r in similarity.lsh_topk(
            embeddings, queries, k=3, n_tables=length, bits_per_table=b
        ).collect()
    }
    probed_df = similarity.lsh_topk(
        embeddings, queries, k=3, n_tables=length, bits_per_table=b, multiprobe=1
    )
    probed = {(r["q_id"], r["rk"]): r["sim"] for r in probed_df.collect()}
    assert len(probed) >= len(base)
    for key, sim in base.items():
        assert key in probed and probed[key] >= sim, key
    want = _lsh_reference(embeddings, queries, 3, length, b, multiprobe=1)
    assert _rows(probed_df) == want

    with pytest.raises(ValueError, match="multiprobe"):
        similarity.lsh_topk(embeddings, queries, multiprobe=2)


def test_ivf_topk_at_multi_partition_scale_equals_reference(spark):
    """Insurance against the cogroup key-dtype class at sf0.1 for the IVF
    family too: its cell_id keys come from the same ivf_assign on both
    sides (consistent by construction), but this is the gate that would
    catch any future drift — the sf0.001 gates are structurally blind to
    partition misalignment (AQE coalesces them to one partition)."""
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 200 == 0)
    n_cells, n_probe = similarity.ivf_params(emb.count())
    cents = similarity.kmeans_refine(emb, n_cells, n_iter=1).localCheckpoint(
        eager=True
    )
    got = _rows(
        similarity.ivf_topk(
            emb, queries, k=5, n_cells=n_cells, n_probe=n_probe, centroids=cents
        )
    )
    assert got == _ivf_reference(emb, queries, cents, 5, n_probe) and len(got) > 0


def test_incremental_semantic_dedup_equals_full_recompute(spark, embeddings):
    """The incremental≡full discipline for the embedding family: applying
    the delta frame (new verdicts + flipped old rows) to the old verdict
    table must equal a from-scratch semantic_dedup over the whole corpus
    with the same frozen centroids — across two successive ingest batches,
    with keep-monotonicity (no drop→keep flips) asserted."""
    cents = similarity.kmeans_refine(embeddings, 16, n_iter=1).localCheckpoint(
        eager=True
    )
    b0 = embeddings.filter(F.col("vec_id") % 3 == 0)
    b1 = embeddings.filter(F.col("vec_id") % 3 == 1)
    b2 = embeddings.filter(F.col("vec_id") % 3 == 2)

    def as_map(df):
        return {
            r["vec_id"]: (r["cell_id"], r["centroid_sim"], r["keep"])
            for r in df.collect()
        }

    verdicts = similarity.semantic_dedup(b0, centroids=cents).localCheckpoint(
        eager=True
    )
    corpus = b0
    for batch in (b1, b2):
        deltas = similarity.incremental_semantic_dedup(
            batch, corpus, verdicts, cents
        ).localCheckpoint(eager=True)
        # monotone: an old id appearing in the deltas can only be a keep→drop
        old = as_map(verdicts)
        for vid, (_, _, keep) in as_map(deltas).items():
            if vid in old:
                assert old[vid][2] and not keep, vid
        verdicts = (
            verdicts.join(deltas.select("vec_id"), "vec_id", "left_anti")
            .unionByName(deltas)
            .localCheckpoint(eager=True)
        )
        corpus = corpus.unionByName(batch)
        full = similarity.semantic_dedup(corpus, centroids=cents)
        assert as_map(verdicts) == as_map(full)
    assert verdicts.count() == embeddings.count()

    with pytest.raises(ValueError, match="FROZEN centroids"):
        similarity.incremental_semantic_dedup(b1, b0, verdicts, None)


def test_lsh_rejects_non_contract_dim(spark):
    """The hyperplane pool (and its DuckDB oracle twin) is pinned to 64-dim
    embeddings; any other width previously DEGENERATED silently (a wider
    vector hashed only its first 64 dims, a narrower one failed with an
    opaque broadcast error). Both signature producers raise a named error
    at call time, so every LSH operator does."""
    from pulsar_replay_spark.operators import similarity

    def frame(dim):
        return spark.createDataFrame(
            [(i, [0.1] * dim) for i in range(4)], "vec_id long, embedding array<float>"
        )

    bad = frame(128)
    with pytest.raises(ValueError, match="pinned to 64-dim"):
        similarity.lsh_table_buckets(bad)
    with pytest.raises(ValueError, match="pinned to 64-dim"):
        similarity.lsh_topk(bad, bad.limit(1))
    for dim in (128, 32):
        with pytest.raises(ValueError, match=f"dim={dim}"):
            similarity.lsh_buckets(frame(dim))


def test_scaled_lsh_topk_runs_one_dim_check_job(spark, embeddings):
    """Building a scaled lsh_topk runs exactly two Spark jobs: one dim-check
    first() inside lsh_table_buckets and the bucket-table localCheckpoint.
    The check used to run in lsh_topk as well (three jobs)."""
    sc = spark.sparkContext
    n = embeddings.count()
    length, b = similarity.lsh_params(n)
    queries = embeddings.filter(F.col("vec_id") % 50 == 0)
    group = "test-scaled-lsh-dim-check"
    sc.setJobGroup(group, "lsh_topk construction")
    try:
        out = similarity.lsh_topk(embeddings, queries, k=3, n_tables=length, bits_per_table=b)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    assert out.count() > 0


def test_nearest_cells_rejects_zero_norm(spark, embeddings):
    """Zero-norm vectors/centroids previously produced silent wrong
    assignments (NaN sims -> stale argmax init); both raise named now."""
    from pulsar_replay_spark.operators import similarity

    cents = similarity.ivf_centroids(embeddings.limit(64))
    zero_vec = spark.createDataFrame(
        [(999_999, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="zero-norm embedding"):
        similarity.nearest_cells(zero_vec, cents).collect()
    zero_cent = spark.createDataFrame(
        [(0, [0.0] * 64)], "cell_id int, centroid array<float>"
    )
    with pytest.raises(ValueError, match="zero-norm centroid"):
        similarity.nearest_cells(embeddings.limit(4), zero_cent).collect()


def test_pq_index_shares_a_half_supplied_quantizer(spark, embeddings):
    """Passing only centroids derives the cells from THEM (never a silent
    rebuild from the unrefined seed); cells without centroids raise."""
    from pulsar_replay_spark.operators import similarity

    emb = embeddings.limit(200)
    cents = similarity.kmeans_refine(emb, 16, n_iter=1)
    idx = similarity.pq_index(emb, centroids=cents)
    assert idx["cents"] is cents
    want = {
        (r["vec_id"], r["cell_id"])
        for r in similarity.ivf_assign(emb, cents, n_probe=1).collect()
    }
    got = {(r["vec_id"], r["cell_id"]) for r in idx["cells"].collect()}
    assert got == want
    with pytest.raises(ValueError, match="without centroids"):
        similarity.pq_index(emb, corpus_cells=idx["cells"])
