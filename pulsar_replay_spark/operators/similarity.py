"""Similarity search over an embedding column (``array<float>``).

Two paths, per the standard scale playbook:

- ``brute_force_topk`` — exact cosine top-k: query-set × corpus join. Correct
  baseline; O(|Q|·N) — fine when |Q| is small or N fits a broadcast, the
  recall oracle for everything else.
- ``lsh_buckets`` / ``lsh_topk`` — random-hyperplane LSH: each vector gets a
  B-bit signature (sign of ⟨v, h_p⟩ for deterministic md5-derived hyperplanes
  h_p ∈ {−1,+1}^dim); candidates are same-bucket vectors only. The bucket join
  is an equi-join on the signature — shuffle on a small key, no cross join;
  at 100 TB this is the only tractable shape. Recall vs brute force is pinned
  in tests/test_similarity.py.

Hyperplanes are md5-derived constants, so the DuckDB oracle reproduces
signatures exactly. The scoring, signature and cell-assignment kernels run
in numpy over Arrow batches, folding every dot product sequentially over
dims (the IEEE-754 add order of the JVM ``aggregate`` fold and DuckDB's
loop). Their outputs are pinned for bit equality to the numpy reference in
``tests/ann_reference.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

N_PLANES = 8
DIM = 64


def _hyperplane_matrix(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[float]]:
    """Hyperplane components as driver-side constants: component j of plane p
    is +1 when the first md5 hex nibble of ``"p-j"`` is 0–7, else −1 — the
    exact formula the DuckDB oracle evaluates in SQL (queries_llm:
    ``_lsh_sig_expr``), precomputed here because it depends only on (p, j),
    never on data. Evaluating md5 per vector-component would cost
    N·dim·planes hash calls for a constant 8×64 matrix."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{p}-{j}".encode()).hexdigest()[0], 16) < 8
            else -1.0
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


_H = _hyperplane_matrix()


def _require_lsh_dim(df: DataFrame, what: str) -> None:
    """The hyperplane pool (and its DuckDB oracle twin) is pinned to
    ``DIM``-dim embeddings. Any other width DEGENERATES instead of
    erroring — the projection fold hashes only the first ``DIM`` dims of a
    wider vector, and a narrower one throws an opaque broadcast error. The
    two signature producers (``lsh_signatures``, ``lsh_table_buckets``) each
    pay one bounded first() for a named failure instead, so every LSH
    operator checks exactly once. (Checks the first row; a ragged corpus
    still fails inside the kernels.)"""
    row = df.select(F.size(F.col("embedding")).alias("d")).first()
    if row is not None and row["d"] != DIM:
        raise ValueError(
            f"LSH hyperplanes are pinned to {DIM}-dim embeddings (the "
            f"oracle-shared plane pool); {what} has dim={row['d']} — use the "
            "dim-agnostic IVF/brute-force paths, or regenerate the pool"
        )


def lsh_signatures(embeddings: DataFrame) -> DataFrame:
    """(vec_id, sig): the B-bit signature for every vector, bit p =
    [⟨v, h_p⟩ > 0].

    The ``nearest_cells`` discipline: the constant planes matrix rides the
    mapInPandas closure; numpy folds each projection SEQUENTIALLY over dims
    (the IEEE order of the DuckDB oracle's fold, so the strict ``proj > 0``
    bit decisions are exact — pinned to the numpy reference in tests) while
    vectorizing the N·planes axis. Raises ValueError at call time unless
    the embeddings are ``DIM``-dim."""
    _require_lsh_dim(embeddings, "embeddings")
    import numpy as np
    import pandas as pd

    H = np.array(_H)  # planes × dim, ±1 constants

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
            acc = np.zeros((len(V), H.shape[0]))
            for j in range(H.shape[1]):
                acc += V[:, j : j + 1] * H[None, :, j]
            sig = (
                np.where(acc > 0, 1, 0) * (1 << np.arange(H.shape[0]))[None, :]
            ).sum(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "sig": sig.astype("int64")}
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, sig long"
    )


def lsh_buckets(embeddings: DataFrame) -> DataFrame:
    return lsh_signatures(embeddings).withColumnRenamed("sig", "bucket")


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact cosine top-k for each query vector against the whole corpus.

    `queries` is expected to be small → broadcast; ordering is on
    round(cos, 6) with vec_id tiebreak so results are engine-stable.
    """
    from pulsar_replay_spark.functions.vectors import dot, norm

    # Precompute per-vector norms BEFORE the pair join: norm is O(dim) work
    # that would otherwise run once per (query, candidate) pair instead of
    # once per vector — |Q|× wasted at scale.
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        norm(F.col("embedding")).alias("q_norm"),
    )
    cand = embeddings.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        norm(F.col("embedding")).alias("n_norm"),
    )
    sims = cand.join(F.broadcast(q), F.col("q_id") != F.col("n_id")).withColumn(
        "sim6",
        F.round(dot(F.col("q_emb"), F.col("n_emb")) / (F.col("q_norm") * F.col("n_norm")), 6),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim6"), "n_id")
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", F.col("n_id").alias("neighbor_id"), F.round("sim6", 3).alias("sim"), "rk")
    )


def _fold_norms(M, dim):
    """sqrt of the sequential-dim self-dot fold — THE norm numerics every
    Arrow kernel in this module shares (identical IEEE-754 add order to the
    JVM HOF ``norm`` and DuckDB's loop; property-gated in
    tests/test_kernel_properties.py)."""
    import numpy as np

    acc = np.zeros(len(M))
    for d in range(dim):
        acc += M[:, d] * M[:, d]
    return np.sqrt(acc)


def _fold_dots(Q, N, dim):
    """|Q|×|N| dot matrix via the sequential-dim fold — the shared dot
    numerics (same discipline as ``_fold_norms``)."""
    import numpy as np

    acc = np.zeros((len(Q), len(N)))
    for d in range(dim):
        acc += Q[:, d : d + 1] * N[None, :, d]
    return acc


def _zero_norm_error(what: str, ident: int, key: str = "vec_id") -> ValueError:
    """The named error every cosine path here raises for a zero-norm vector
    — cosine is undefined there, and a JVM HOF cosine would fail with a
    bare DIVIDE_BY_ZERO under ANSI instead."""
    fix = (
        "refine or filter degenerate centroids upstream"
        if key == "cell_id"
        else "filter degenerate vectors upstream"
    )
    return ValueError(
        f"zero-norm {what} ({key}={ident}): cosine is undefined — {fix}"
    )


def _require_nonzero_norms(norms, ids, what: str, key: str = "vec_id") -> None:
    """Raise ``_zero_norm_error`` for the first zero in ``norms``."""
    import numpy as np

    z = np.flatnonzero(norms == 0.0)
    if len(z):
        raise _zero_norm_error(what, int(ids[z[0]]), key)


def _cross_sims_batches(batches, *, q_ids, Q, q_norm, dim, k, chunk=1024):
    """Arrow-batch kernel behind ``_cross_topk``: the query matrix ships in
    the closure (the broadcast-sized side), each corpus batch folds sims
    sequentially over dims (the ``nearest_cells`` discipline) in
    corpus-chunks that bound the |Q|×chunk matrix, and each chunk is
    pre-cut to the lossless 2e-6 ε-band around every query's in-chunk k-th
    best raw sim (see ``_cell_pair_sims``) so ~k rows per (query, chunk)
    reach the global top-k window. Module-level for unit-testability."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if len(pdf) == 0 or len(q_ids) == 0:
            continue
        N = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
        n_ids = pdf["n_id"].to_numpy(dtype="int64")
        n_norm = _fold_norms(N, dim)
        _require_nonzero_norms(n_norm, n_ids, "corpus embedding")
        for lo in range(0, len(N), chunk):
            Nc, nn = N[lo : lo + chunk], n_norm[lo : lo + chunk]
            sims = _fold_dots(Q, Nc, dim) / (q_norm[:, None] * nn[None, :])
            if len(Nc) > k:
                kth = np.partition(sims, len(Nc) - k, axis=1)[:, len(Nc) - k]
                keep2d = sims > (kth[:, None] - 2e-6)
            else:
                keep2d = np.ones_like(sims, dtype=bool)
            qi, ni = np.nonzero(keep2d)
            yield pd.DataFrame(
                {
                    "q_id": q_ids[qi],
                    "n_id": n_ids[lo + ni],
                    "raw_sim": sims[qi, ni],
                }
            )


def _cross_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    chunk: int = 1024,
) -> DataFrame:
    """Exact cosine top-k of ``queries`` against a DISJOINT corpus — the
    ``brute_force_topk`` shape without the self-pair exclusion (the two id
    spaces are different corpora and may collide numerically) and with the
    full round-6 sim kept for downstream margin arithmetic.

    The query side — broadcast-sized by this path's contract — collects
    into a mapInPandas closure and the corpus folds against it in numpy;
    raw doubles are rounded JVM-side by ``F.round``. ``chunk`` bounds the
    |Q|×chunk sim slab per corpus chunk (exposed for the equality gate to
    force many per-chunk cuts)."""
    import functools

    import numpy as np

    rows = queries.select("vec_id", "embedding").collect()
    if not rows:
        spark = corpus.sparkSession
        return spark.createDataFrame([], "q_id long, n_id long, sim6 double, rk int")
    q_ids = np.array([r["vec_id"] for r in rows], dtype="int64")
    Q = np.stack([np.asarray(r["embedding"], dtype="float64") for r in rows])
    dim = Q.shape[1]
    q_norm = _fold_norms(Q, dim)
    _require_nonzero_norms(q_norm, q_ids, "query embedding")
    run = functools.partial(
        _cross_sims_batches, q_ids=q_ids, Q=Q, q_norm=q_norm, dim=dim, k=k, chunk=chunk
    )
    sims = (
        corpus.select(F.col("vec_id").alias("n_id"), "embedding")
        .mapInPandas(run, schema="q_id long, n_id long, raw_sim double")
        .withColumn("sim6", F.round(F.col("raw_sim"), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim6"), "n_id")
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "sim6", "rk")
    )


def bitext_mine(
    emb_a: DataFrame,
    emb_b: DataFrame,
    k: int = 4,
    margin_threshold: float = 1.05,
    mutual: bool = True,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Margin-based parallel-corpus mining (Artetxe & Schwenk 2019,
    arXiv:1811.01136 — the LASER/CCMatrix recipe): score each cross-lingual
    candidate pair by RATIO margin

        margin(x, y) = cos(x, y) / ((avgₖ(x) + avgₖ(y)) / 2)

    where avgₖ(v) is the mean cosine of v's k nearest neighbours in the
    OTHER corpus — normalizing by neighbourhood density kills the hubness
    failure of raw-cosine mining. Returns (a_id, b_id, sim, margin) for
    pairs above ``margin_threshold``; with ``mutual=True`` (the published
    high-precision setting) a pair must be BOTH sides' best margin.

    Deterministic: every cut is (margin desc, id asc); cos is symmetric
    under the sequential fold (per-dim products commute, same add order),
    so forward and backward sims agree bit-for-bit and the union dedup is
    exact.

    Scale shape: two k-NN sweeps (forward A→B, backward B→A), two
    id-keyed avg aggs, id-keyed joins, two windows over ≤(|A|+|B|)·k rows
    — no new join patterns beyond the ANN tier. The default exact sweep
    broadcasts the query side (right for one small-language side or a
    probe batch); at corpus×corpus scale pass a ``candidates`` frame
    (columns a_id, b_id) from any generator — e.g.
    ``bitext_candidates_ivf`` — and the pair sims are RE-COMPUTED exactly
    on that subset (id-keyed joins, ≤|candidates| pairs), so every number
    the margin touches comes from the same round-6 expression as the
    exact path; only recall is approximate, inherited from the
    generator's gate.

    NOTE: construction is EAGER — the k-NN sweeps (or the candidate
    re-scoring) materialize via localCheckpoint when this function is
    CALLED, not at the first action, because the scored pairs fan out to
    four consumers (lazy re-execution measured 1.6–3.7× slower at the 20k
    rehearsal). Build the frame only when you intend to consume it."""
    from pulsar_replay_spark.functions.vectors import dot, norm

    if candidates is None:
        # each sweep feeds BOTH the neighbourhood average and the candidate
        # union below — materialize so the broadcast-join sweep runs once
        # per direction, not once per consumer (the outputs are k·|queries|
        # rows, tiny; values are deterministic so this is purely physical).
        # EAGER is deliberate, and makes bitext_mine run jobs at
        # CONSTRUCTION time: a lazy checkpoint measured ~1.6× slower at the
        # 20k rehearsal (concurrent consumer stages recompute partitions
        # before materialization completes)
        fwd = _cross_topk(emb_b, emb_a, k).localCheckpoint(eager=True)
        bwd = _cross_topk(emb_a, emb_b, k).localCheckpoint(eager=True)
    else:
        ea = emb_a.select(
            F.col("vec_id").alias("a_id"),
            F.col("embedding").alias("a_emb"),
            norm(F.col("embedding")).alias("a_norm"),
        )
        eb = emb_b.select(
            F.col("vec_id").alias("b_id"),
            F.col("embedding").alias("b_emb"),
            norm(F.col("embedding")).alias("b_norm"),
        )
        pair_sims = (
            candidates.select("a_id", "b_id")
            .distinct()
            .join(ea, "a_id")
            .join(eb, "b_id")
            .select(
                "a_id",
                "b_id",
                F.round(
                    dot(F.col("a_emb"), F.col("b_emb"))
                    / (F.col("a_norm") * F.col("b_norm")),
                    6,
                ).alias("sim6"),
            )
        )
        # pair_sims fans out to fwd/bwd windows, both averages, and the
        # candidate union — without truncation every consumer re-executes
        # the ENTIRE candidates-generator DAG (for bitext_candidates_ivf:
        # two IVF sweeps including centroid training; measured 93× wall
        # blowup at the 20k-vector rehearsal). ≤|candidates| rows — tiny;
        # eager on purpose (lazy measured 1.6× slower — see the exact branch)
        pair_sims = pair_sims.localCheckpoint(eager=True)
        wfa = Window.partitionBy("a_id").orderBy(F.desc("sim6"), "b_id")
        wfb = Window.partitionBy("b_id").orderBy(F.desc("sim6"), "a_id")
        fwd = (
            pair_sims.withColumn("rk", F.row_number().over(wfa))
            .filter(F.col("rk") <= k)
            .select(F.col("a_id").alias("q_id"), F.col("b_id").alias("n_id"), "sim6")
        )
        bwd = (
            pair_sims.withColumn("rk", F.row_number().over(wfb))
            .filter(F.col("rk") <= k)
            .select(F.col("b_id").alias("q_id"), F.col("a_id").alias("n_id"), "sim6")
        )
    # Order-free neighbourhood average: the round-6 sims scale exactly to
    # ints, int sums commute, and the final double division runs on
    # identical operands in any engine/partitioning — so the margin (and
    # its round-4) is deterministic and DuckDB-reproducible, where a
    # float AVG would be summation-order sensitive in the last ulp.
    scaled_avg = (
        F.sum(F.round(F.col("sim6") * 1e6).cast("long"))
        / (F.count("*") * F.lit(1e6))
    )
    avg_a = fwd.groupBy(F.col("q_id").alias("a_id")).agg(scaled_avg.alias("avg_a"))
    avg_b = bwd.groupBy(F.col("q_id").alias("b_id")).agg(scaled_avg.alias("avg_b"))
    cands = (
        fwd.select(
            F.col("q_id").alias("a_id"), F.col("n_id").alias("b_id"), "sim6"
        )
        .unionByName(
            bwd.select(
                F.col("n_id").alias("a_id"), F.col("q_id").alias("b_id"), "sim6"
            )
        )
        .distinct()  # exact: symmetric cos gives identical sim6 both ways
    )
    # arithmetic half-up (floor(x·10⁴ + 0.5)/10⁴): identical IEEE op
    # sequence in Spark and DuckDB, where round() HALF_UP vs C rounding
    # can split at representation boundaries (the q2 lesson)
    raw_margin = F.col("sim6") / ((F.col("avg_a") + F.col("avg_b")) / F.lit(2.0))
    scored = (
        cands.join(avg_a, "a_id")
        .join(avg_b, "b_id")
        .withColumn("margin", F.floor(raw_margin * 10000 + F.lit(0.5)) / 10000.0)
    )
    wa = Window.partitionBy("a_id").orderBy(F.desc("margin"), "b_id")
    best = scored.withColumn("rka", F.row_number().over(wa))
    if mutual:
        wb = Window.partitionBy("b_id").orderBy(F.desc("margin"), "a_id")
        best = best.withColumn("rkb", F.row_number().over(wb)).filter(
            "rka = 1 AND rkb = 1"
        )
    else:
        best = best.filter("rka = 1")
    return (
        best.filter(F.col("margin") >= margin_threshold)
        .select(
            "a_id",
            "b_id",
            (F.floor(F.col("sim6") * 1000 + F.lit(0.5)) / 1000.0).alias("sim"),
            "margin",
        )
    )


def bitext_candidates_ivf(
    emb_a: DataFrame, emb_b: DataFrame, k: int = 4, **ivf_kwargs
) -> DataFrame:
    """(a_id, b_id) candidate pairs for ``bitext_mine`` from two IVF
    sweeps (A queries B's index and vice versa) — the corpus×corpus scale
    generator; ``bitext_mine`` re-scores the pairs exactly. CAVEAT: the two
    id spaces must be DISJOINT here — ``ivf_topk`` excludes q_id == n_id
    pairs, so numerically colliding ids would silently drop candidates
    (offset one side's ids first); the exact path has no such constraint."""
    shared = {"centroids", "corpus_cells", "query_cells"} & set(ivf_kwargs)
    if shared:
        # the two sweeps index DIFFERENT corpora (B's index for A→B, A's for
        # B→A); one prebuilt frame forwarded to both would silently assign
        # one direction against the wrong quantizer
        raise ValueError(
            f"prebuilt index frames {sorted(shared)} cannot be shared across "
            "both sweep directions — call ivf_topk per direction instead"
        )
    # derive each sweep's geometry from ITS indexed corpus unless the caller
    # pinned it: ivf_topk's fixed 16-cell default is a ~25% corpus scan per
    # query — exactly the fixed-tiny-constants cliff ivf_params exists to
    # prevent (measured 4x candidate fan-out on the 20k-vector rehearsal).
    # A half-pinned geometry derives the OTHER knob from the pinned one, not
    # from ivf_params' cell count — n_probe from a corpus-sized cell count
    # against a caller-pinned small n_cells would probe every cell (a 100%
    # scan), the exact cliff again.
    fwd_kwargs = dict(ivf_kwargs)
    bwd_kwargs = dict(ivf_kwargs)
    if "n_cells" not in ivf_kwargs:
        nc_b, np_b = ivf_params(emb_b.count())
        nc_a, np_a = ivf_params(emb_a.count())
        fwd_kwargs["n_cells"] = nc_b
        fwd_kwargs.setdefault("n_probe", np_b)
        bwd_kwargs["n_cells"] = nc_a
        bwd_kwargs.setdefault("n_probe", np_a)
    elif "n_probe" not in ivf_kwargs:
        bounded_probe = max(2, ivf_kwargs["n_cells"] // 16)  # ivf_params' 1/16
        fwd_kwargs["n_probe"] = bounded_probe
        bwd_kwargs["n_probe"] = bounded_probe
    f = ivf_topk(emb_b, emb_a, k=k, **fwd_kwargs).select(
        F.col("q_id").alias("a_id"), F.col("neighbor_id").alias("b_id")
    )
    b = ivf_topk(emb_a, emb_b, k=k, **bwd_kwargs).select(
        F.col("neighbor_id").alias("a_id"), F.col("q_id").alias("b_id")
    )
    return f.unionByName(b).distinct()


N_TABLES = 4
BITS_PER_TABLE = 2  # planes per table drawn from the shared N_PLANES pool


def lsh_tables(embeddings: DataFrame) -> DataFrame:
    """Multi-table LSH: L independent tables of b bits each; a pair is a
    candidate if it collides in ANY table. Single-table signatures over
    random high-dim vectors shatter the corpus into singleton buckets
    (measured recall 0 on the fixtures); multiple coarser tables trade a
    bounded candidate-scan fraction for recall — the standard production
    tuning knob (L up, b up as corpus density grows)."""
    sig = lsh_signatures(embeddings)
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                F.shiftright(F.col("sig"), t * BITS_PER_TABLE)
                .bitwiseAND(F.lit(2**BITS_PER_TABLE - 1))
                .alias("bucket"),
            )
            for t in range(N_TABLES)
        ]
    )
    return sig.select("vec_id", F.explode(tables).alias("tb")).select(
        "vec_id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
    )


def lsh_params(
    n: int,
    target_frac: float = 1 / 16,
    max_bucket_rows: int = 4096,
    multiprobe: int = 0,
) -> tuple[int, int]:
    """Corpus-scaled LSH geometry: (n_tables, bits_per_table) for an
    N-vector corpus — the ``ivf_params`` analog for the hyperplane family.

    The r2 lesson, same as IVF's: the fixed (4 tables × 2 bits) contract
    geometry has 4 buckets per table and degrades to a ~68% candidate scan
    as N grows. Two bounds drive ``bits_per_table``:

    - *fraction*: the nominal union candidate fraction L/2^b must stay
      under ``target_frac`` (each balanced table contributes ~N/2^b
      candidates per query);
    - *bucket size*: per-table population N/2^b must fit a cogroup worker
      (``max_bucket_rows``) — this is the term that grows with N and keeps
      the Arrow group slab bounded at any scale.

    ``n_tables`` is the recall knob: it rises with b (deeper bits cut
    per-table collision probability ~p^b, extra tables restore the union
    recall 1−(1−p^b)^L), capped at 16 so candidate cost stays bounded.
    The two are mutually dependent (L feeds the fraction bound), so a short
    fixed-point loop settles them. Per-table buckets are packed
    independently (never into one shared long), so L·b may exceed 63 bits —
    N=1e9 needs b=18 and this returns (16, 18). Measured fraction + recall
    floor are pinned in tests/test_similarity.py (the
    ``test_benched_ann_candidate_fraction_and_recall`` discipline)."""
    import math

    length, b = N_TABLES, 2
    for _ in range(8):
        # multiprobe=1 fans each query out to b+1 buckets per table, so the
        # nominal union candidate fraction is L·(b+1)/2^b — the bound the
        # geometry must absorb when the caller plans to multiprobe
        probes = (b + 1) if multiprobe else 1
        b_frac = math.ceil(math.log2(max(2.0, length * probes / target_frac)))
        b_size = math.ceil(math.log2(max(2.0, n / max_bucket_rows)))
        nb = max(2, b_frac, b_size)
        nl = min(16, max(N_TABLES, nb))
        if (nb, nl) == (b, length):
            break
        b, length = nb, nl
    return length, b


def lsh_table_buckets(
    embeddings: DataFrame,
    n_tables: int = N_TABLES,
    bits_per_table: int = BITS_PER_TABLE,
) -> DataFrame:
    """(vec_id, table, bucket) at an ARBITRARY (L, b) geometry — the
    corpus-scaled generalization of ``lsh_tables``.

    Table t's bucket packs the sign bits of planes p = t·b + i (i < b),
    drawn from the same md5-derived pool ``_hyperplane_matrix`` defines —
    at the default (4, 2) geometry this is bit-for-bit ``lsh_tables``
    (equality pinned in tests). Buckets are packed PER TABLE rather than
    sliced from one shared long, so L·b is not capped at 63 bits; only
    b ≤ 62 is required.

    One corpus pass: numpy folds all L·b projections sequentially over dims
    (the ``lsh_signatures`` bit-exactness recipe) and emits the exploded
    (vec_id, table, bucket) rows directly. Raises ValueError at call time
    unless the embeddings are ``DIM``-dim."""
    if bits_per_table < 1 or bits_per_table > 62:
        raise ValueError(f"bits_per_table must be in [1, 62], got {bits_per_table}")
    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")
    _require_lsh_dim(embeddings, "embeddings")
    n_planes = n_tables * bits_per_table

    import numpy as np
    import pandas as pd

    H = np.array(_hyperplane_matrix(n_planes))  # (L·b) × dim, ±1 constants
    L, b = n_tables, bits_per_table

    def run(batches):
        weights = (1 << np.arange(b)).astype("int64")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
            acc = np.zeros((len(V), H.shape[0]))
            for j in range(H.shape[1]):
                acc += V[:, j : j + 1] * H[None, :, j]
            bits = np.where(acc > 0, 1, 0).astype("int64").reshape(len(V), L, b)
            buckets = (bits * weights[None, None, :]).sum(axis=2)  # N × L
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, L),
                    "table": np.tile(np.arange(L, dtype="int64"), len(V)),
                    "bucket": buckets.ravel(),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, table long, bucket long"
    )


def _expand_probe_buckets(df: DataFrame, bits: int) -> DataFrame:
    """Radius-1 multiprobe fan-out: each row explodes to its own bucket plus
    the ``bits`` single-bit-flip neighbors (long-typed XOR — the cogroup key
    dtype must match the candidate side exactly, see lsh_topk's shard note).
    Shared by ``lsh_topk`` and ``lsh_candidate_fraction`` so the measured
    fraction always describes the probe sequence the serving path runs."""
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(bits)
        ],
    )
    return df.withColumn("bucket", F.explode(probes))


def lsh_candidate_fraction(
    embeddings: DataFrame,
    queries: DataFrame,
    n_tables: int = N_TABLES,
    bits_per_table: int = BITS_PER_TABLE,
    multiprobe: int = 0,
) -> float:
    """Measured fraction of the corpus an average query's multi-table probe
    actually scans (distinct same-bucket candidates / corpus, averaged over
    queries) — the LSH twin of ``candidate_fraction``, checking the nominal
    L/2^b (or multiprobe L·(b+1)/2^b) bound against real (skewed) bucket
    populations. Diagnostic — collects two counts."""
    t = lsh_table_buckets(embeddings, n_tables, bits_per_table).localCheckpoint(
        eager=True
    )
    q = queries.select("vec_id").join(t, "vec_id").toDF("q_id", "table", "bucket")
    if multiprobe:
        q = _expand_probe_buckets(q, bits_per_table)
    pairs = (
        t.join(q, ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    n = embeddings.count()
    nq = queries.count()
    return pairs.count() / (nq * max(1, n - 1))


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_shards: int | None = None,
    n_tables: int | None = None,
    bits_per_table: int | None = None,
    multiprobe: int = 0,
) -> DataFrame:
    """ANN top-k: rank only candidates colliding with the query in some LSH
    table (the scale path — the table join shuffles (table, bucket) keys,
    never the full cross product).

    In-bucket pair scoring reuses the IVF cogroup kernel
    (``_cell_pair_sims``) — same sequential-fold numerics and lossless
    per-group ε-band k-cut; the multi-table collision dedup runs AFTER
    scoring (duplicate pairs carry identical sims, so the surviving copy is
    value-identical). The cogroup key is (table, bucket, shard):
    with only tables×2^bits bucket keys, an unsharded cogroup would cap
    parallelism at that key count AND np.stack a ~corpus/2^bits-row group
    per Python worker — candidates sub-shard by pmod(n_id, n_shards) and
    queries replicate into every shard, so each (q, n) pair still meets
    exactly once (in n's shard) while group size and parallelism scale with
    ``n_shards`` (size ≈ |corpus|·tables/(keys·n_shards) — raise it until
    groups fit a worker).

    ``multiprobe=1`` (Lv et al., VLDB '07 shape, radius-1 sequence): each
    QUERY additionally probes the b buckets at hamming distance 1 from its
    own in every table — only the query side fans out (corpus rows index
    once), so candidate volume rises by ≤ (b+1)× of the single-probe
    fraction while recall gains what b extra tables would buy without
    re-signaturing or extra index size. The standard lever when the
    corpus-scaled geometry's deep bits cut recall too far; size the
    geometry with ``lsh_params(n, multiprobe=1)`` so the fraction bound
    absorbs the fan-out (measured at 20k: recall 0.28 → 0.37 at ~5%
    scanned).

    Column contract: ``queries`` must be CORPUS MEMBERS — candidates come
    from the corpus bucket table joined on vec_id, so an out-of-corpus
    query vector has no signature and silently yields zero rows. For
    fresh/out-of-corpus query vectors use ``ivf_topk``/``ivf_pq_topk``
    (they signature the query side directly)."""
    if (n_tables is None) != (bits_per_table is None):
        raise ValueError("pass n_tables and bits_per_table together (lsh_params)")
    if multiprobe not in (0, 1):
        raise ValueError(f"multiprobe radius must be 0 or 1, got {multiprobe}")
    if n_shards is None:
        # fixed (4×2) geometry has only 64 bucket keys → shards supply the
        # missing parallelism; a corpus-scaled geometry already bounds the
        # per-table bucket population (lsh_params' max_bucket_rows), where
        # extra shards are pure per-group Python overhead (measured 3× at
        # 20k vectors: 2.4 s → 7.0 s). n_shards stays the residual-skew
        # lever for a pathological hot bucket.
        n_shards = 16 if n_tables is None else 1
    # Materialize the bucket table once: it feeds BOTH join sides, and the
    # signature computation (8 hyperplane projections per vector) is the
    # expensive subtree — unpersisted it would run twice. localCheckpoint
    # truncates lineage so nothing upstream stays cached (measured 2× on the
    # 20k-vector stress). Default geometry keeps the oracle-pinned fixed
    # (4×2) contract tables; a corpus-scaled (n_tables, bits_per_table)
    # from ``lsh_params`` is the serving path (bounded candidate fraction).
    # Both producers run the DIM check (one first() job).
    t = (
        lsh_tables(embeddings)
        if n_tables is None
        else lsh_table_buckets(embeddings, n_tables, bits_per_table)
    ).localCheckpoint(eager=True)
    b_eff = BITS_PER_TABLE if bits_per_table is None else bits_per_table
    cand = embeddings.join(t, "vec_id").select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        "table",
        "bucket",
        F.pmod(F.col("vec_id"), F.lit(n_shards)).alias("shard"),
    )
    # toDF re-aliases the attribute ids: both cogroup sides descend from
    # the same checkpointed bucket table, and same-exprId group keys trip
    # the ambiguous-self-join check.
    # The sequence bounds cast to LONG so the exploded shard matches the
    # candidate side's pmod(long) EXACTLY: cogroup aligns each side's
    # groups by hash-partitioning its own key columns, and Murmur3 of an
    # INT 14 differs from Murmur3 of a LONG 14 — mismatched key dtypes
    # silently routed the two sides of the same (table, bucket, shard)
    # group to different partitions and dropped the pairs. Invisible at
    # sf0.001/sf0.01 (AQE coalesced the tiny shuffles to one partition,
    # where alignment is trivial) — caught at sf0.1 by the multi-SF
    # equality gate this bug added.
    q = queries.join(t.toDF("vec_id", "table", "bucket"), "vec_id")
    if multiprobe:
        q = _expand_probe_buckets(q, b_eff)
    q = q.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        "table",
        "bucket",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_shards - 1).cast("long"))
        ).alias("shard"),
    )
    sims = (
        cand.groupBy("table", "bucket", "shard")
        .cogroup(q.groupBy("table", "bucket", "shard"))
        .applyInPandas(
            lambda left, right: _cell_pair_sims(left, right, k=k),
            schema="q_id long, n_id long, raw_sim double",
        )
        .dropDuplicates(["q_id", "n_id"])  # collapse multi-table collisions
        .withColumn("sim6", F.round(F.col("raw_sim"), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim6"), "n_id")
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", F.col("n_id").alias("neighbor_id"), F.round("sim6", 3).alias("sim"), "rk")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: partition the corpus into Voronoi cells around
# centroids; a query ranks only vectors in its nprobe nearest cells.
# ---------------------------------------------------------------------------

N_CELLS = 16
N_PROBE = 4


def ivf_params(n: int, target_frac: float = 1 / 16) -> tuple[int, int]:
    """Corpus-scaled IVF tuning: (n_cells, n_probe) for an N-vector corpus.

    ``n_cells`` follows the standard √N rule (rounded up to a power of two,
    floor 64 so small fixtures still exercise fine cells), and ``n_probe`` is
    set so the *nominal* candidate fraction n_probe/n_cells ≤ target_frac.
    The round-2 lesson this encodes: fixed tiny constants (4-bucket LSH
    tables) silently degrade to a ~68% corpus scan as N grows; deriving the
    partition count from N keeps the scanned fraction bounded at every scale
    (N=2k → 64 cells/4 probes ≈ 6%; N=1e9 → 2^15 cells, same ratio, and
    target_frac is the production knob to push the fraction down further).
    Measured fraction and the recall floor are pinned in
    tests/test_similarity.py::test_benched_ann_candidate_fraction_and_recall.
    """
    import math

    n_cells = max(64, 2 ** math.ceil(math.log2(max(2.0, math.sqrt(n)))))
    n_probe = max(2, int(n_cells * target_frac))
    return n_cells, n_probe


def candidate_fraction(
    embeddings: DataFrame, queries: DataFrame, centroids: DataFrame, n_probe: int
) -> float:
    """Measured fraction of the corpus a query's IVF probe actually scans
    (cell populations are skewed, so the nominal n_probe/n_cells bound is
    checked against reality). Diagnostic — collects only per-cell counts."""
    sizes = {
        r.cell_id: r.c
        for r in ivf_assign(embeddings, centroids, n_probe=1)
        .groupBy("cell_id")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    n = sum(sizes.values())
    per_q: dict = {}
    for r in ivf_assign(queries, centroids, n_probe=n_probe).collect():
        per_q[r.vec_id] = per_q.get(r.vec_id, 0) + sizes.get(r.cell_id, 0)
    return sum(per_q.values()) / (len(per_q) * n)


def ivf_centroids(embeddings: DataFrame, n_cells: int = N_CELLS) -> DataFrame:
    """Deterministic centroid pick: the n_cells lowest vec_ids (fixture ids
    are a random permutation of the space, so this is a uniform sample that
    both engines and every rerun agree on). Production path: seed MLlib
    k-means|| with these and iterate — the cell-assignment plan below is
    unchanged."""
    return (
        embeddings.orderBy("vec_id")
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
        )
    )


def ivf_assign(embeddings: DataFrame, centroids: DataFrame, n_probe: int = 1) -> DataFrame:
    """(vec_id, cell_id) for each vector's ``n_probe`` nearest centroids by
    RAW cosine (cell_id tie-break). ``n_probe == 1`` — the corpus/build side,
    the O(N·cells·dim) term of every IVF/PQ/k-means build — routes through
    the Arrow-vectorized ``nearest_cells`` (pinned bit-for-bit to the numpy
    reference in tests). The multi-probe query side keeps the broadcast join +
    window form: |Q| is small, and the shuffle carries only
    (vec_id, cell_id, sim) — Catalyst prunes the vectors out before the
    exchange."""
    from pulsar_replay_spark.functions.vectors import dot, norm

    if n_probe == 1:
        return nearest_cells(embeddings, centroids)
    pairs = embeddings.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("v_norm")
    ).join(
        F.broadcast(
            centroids.select(
                "cell_id", "centroid", norm(F.col("centroid")).alias("c_norm")
            )
        )
    )
    sim = dot(F.col("embedding"), F.col("centroid")) / (F.col("v_norm") * F.col("c_norm"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cell_id")
    return (
        pairs.withColumn("sim", sim)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n_probe)
        .select("vec_id", "cell_id")
    )


def _probe_cells(Q, q_norm, C, c_norm, cell_ids, n_probe: int) -> list:
    """``ivf_assign`` on the driver, for the resident serve: per query row
    of ``Q``, the cell ids of its ``n_probe`` highest raw cosines to the
    centroids ``C`` — the shared folds in the same dot / (v_norm · c_norm)
    order, ties to the lower cell_id (``nearest_cells``'s ascending strict
    ``>`` scan picks the same cell at ``n_probe == 1``)."""
    import numpy as np

    sims = _fold_dots(Q, C, Q.shape[1]) / (q_norm[:, None] * c_norm)
    return [cell_ids[np.lexsort((cell_ids, -s))[:n_probe]] for s in sims]


def kmeans_refine(
    embeddings: DataFrame, n_cells: int = N_CELLS, n_iter: int = 2
) -> DataFrame:
    """Lloyd's refinement of the deterministic seed centroids: assign every
    vector to its nearest centroid, recompute each centroid as the
    per-dimension mean of its members, repeat. Better centroids → tighter
    Voronoi cells → fewer out-of-cell true neighbors, the knob that lifts
    IVF recall without raising nprobe.

    Scale shape per iteration: ``ivf_assign`` (broadcast centroids, shuffle
    on vec_id) + per-dim mean via posexplode — the reduce keyspace is
    (cell, dim) = n_cells·dim rows, constant in corpus size, same pattern
    as ``label_centroid_cohesion``. One ``localCheckpoint`` per iteration
    cuts lineage so N iterations never replan the whole history (the
    connected-components discipline). Cells that lose every member drop out
    (standard Lloyd's on fixed seeds — callers see ≤ n_cells centroids).
    """
    cents = ivf_centroids(embeddings, n_cells)
    for _ in range(n_iter):
        assign = ivf_assign(embeddings, cents, n_probe=1)
        pos = (
            embeddings.join(assign, "vec_id")
            .select("cell_id", F.posexplode("embedding").alias("i", "xf"))
            .select("cell_id", "i", F.col("xf").cast("double").alias("x"))
        )
        per_dim = pos.groupBy("cell_id", "i").agg(F.avg("x").alias("c"))
        cents = per_dim.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
            ).alias("centroid")
        ).localCheckpoint(eager=True)
    return cents


def assignment_cohesion(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Mean cosine of every vector to its assigned (nearest) centroid — the
    objective Lloyd's iterations improve; one row: (n_vecs, avg_cos)."""
    from pulsar_replay_spark.functions.vectors import dot, norm

    best = (
        embeddings.select(
            "vec_id", "embedding", norm(F.col("embedding")).alias("v_norm")
        )
        .join(
            F.broadcast(
                centroids.select(
                    "cell_id", "centroid", norm(F.col("centroid")).alias("c_norm")
                )
            )
        )
        .withColumn(
            "sim",
            dot(F.col("embedding"), F.col("centroid"))
            / (F.col("v_norm") * F.col("c_norm")),
        )
        .groupBy("vec_id")
        .agg(F.max("sim").alias("best_sim"))
    )
    return best.agg(
        F.count("*").alias("n_vecs"), F.round(F.avg("best_sim"), 6).alias("avg_cos")
    )


def _cell_pair_sims(cand_pdf, q_pdf, chunk: int = 4096, k: int | None = None):
    """Per-cell raw cosine of every (query, candidate) pair — the cogrouped
    Arrow kernel behind ``ivf_topk`` and ``lsh_topk``. Module-level (not a
    closure) so the numerics and the empty-side guard are unit-testable
    without a Spark job.

    Bit-exactness discipline (the ``nearest_cells`` recipe): norms and dots
    fold SEQUENTIALLY over dims (``acc += X[:, d] * Y[:, d]``) — the same
    IEEE-754 add order as the JVM HOF ``dot`` — and the raw double is
    emitted UNROUNDED; the caller applies ``F.round`` JVM-side, so every
    rounded value is pinned bit-for-bit to the numpy reference in tests.
    Candidates are scanned in chunks to bound the |Q|×chunk sim matrix
    under a hot (skewed) cell.

    ``k``: provably LOSSLESS per-(query, cell) pre-cut (the semantic_dedup
    safe-superset trick): only rows with raw > (cell's k-th best raw for the
    query) − 2e-6 can influence the global ``F.round(·, 6)``-then-rank
    top-k — round-6 equality implies |a−b| < 1e-6, a row round-6 strictly
    below its OWN cell's k-th best already has k in-cell rows strictly
    above it globally, and the extra 1e-6 of slack absorbs any FP boundary
    effect in the threshold subtraction (the cut key is a COMPUTED double,
    unlike semantic_dedup's exact user constant). Shrinks the global top-k window's input
    from (probes × cell_size) to ~(probes × k) rows per query; the final
    rank/tie-break still happens JVM-side on the rounded values.

    The cut is applied PER CHUNK against the running per-query k-th-best
    statistic, not once at the end — so a hot/skewed cell holds at most
    (survivors-so-far + one |Q|×chunk slab) in memory, never the full
    |Q|×|cell| pair frame. Lossless by the same argument: the running k-th
    best only rises toward the cell-global one, so every interim cut keeps
    a superset of the final cut's survivors, and the LAST round's cut (kth
    computed over all retained rows, whose top-k per query are never cut)
    IS the exact cell-global cut."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "q_id": pd.Series([], dtype="int64"),
            "n_id": pd.Series([], dtype="int64"),
            "raw_sim": pd.Series([], dtype="float64"),
        }
    )
    if len(cand_pdf) == 0 or len(q_pdf) == 0:
        return empty
    N = np.stack([np.asarray(v, dtype="float64") for v in cand_pdf["n_emb"]])
    Q = np.stack([np.asarray(v, dtype="float64") for v in q_pdf["q_emb"]])
    dim = N.shape[1]
    n_norm = _fold_norms(N, dim)
    q_norm = _fold_norms(Q, dim)
    q_ids = q_pdf["q_id"].to_numpy(dtype="int64")
    n_ids = cand_pdf["n_id"].to_numpy(dtype="int64")
    # zero-norm vectors make cosine undefined; every HOF cosine path in
    # this module raises DIVIDE_BY_ZERO under ANSI — fail the same way, but
    # with a named, actionable error
    for side, nrm, ids in (("candidate", n_norm, n_ids), ("query", q_norm, q_ids)):
        _require_nonzero_norms(nrm, ids, f"{side} embedding")
    def kcut(df):
        """The lossless ε-band cut vs the per-query k-th best of ``df``."""
        # dedup BEFORE the cut: duplicate rows in user-supplied cells frames
        # (e.g. unioned index snapshots) would otherwise occupy several of
        # the k per-query slots and inflate kth past a genuine winner — the
        # exact top-k dedups before ranking and this cut must stay lossless
        df = df.drop_duplicates(["q_id", "n_id"])
        # NaN sims (zero-norm vectors: 0/0) sort FIRST under the JVM's
        # F.desc, so they are top-k candidates — never cut them, and keep
        # them out of the kth statistic (pandas sorts them last).
        # Stable sort so cumcount positions are deterministic; the kth value
        # itself is order-free (a pure per-query statistic)
        df = df.sort_values(
            ["q_id", "raw_sim"], ascending=[True, False], kind="mergesort"
        )
        nan_rows = df["raw_sim"].isna().to_numpy()
        pos = df.groupby("q_id").cumcount()
        kth = df[(pos == k - 1) & ~nan_rows].set_index("q_id")["raw_sim"]
        thr = df["q_id"].map(kth)  # NaN → query has < k finite rows: keep all
        return df[
            nan_rows
            | thr.isna().to_numpy()
            | (df["raw_sim"].to_numpy() > thr.to_numpy() - 2e-6)
        ]

    acc = None  # k-mode: running survivors; k=None: list of chunk frames
    out = []
    for lo in range(0, len(N), chunk):
        Nc, nn = N[lo : lo + chunk], n_norm[lo : lo + chunk]
        sims = _fold_dots(Q, Nc, dim) / (q_norm[:, None] * nn[None, :])
        qq = np.repeat(q_ids, len(Nc))
        nc = np.tile(n_ids[lo : lo + chunk], len(Q))
        keep = qq != nc
        cf = pd.DataFrame({"q_id": qq[keep], "n_id": nc[keep], "raw_sim": sims.ravel()[keep]})
        if k is None:
            out.append(cf)
        else:
            acc = cf if acc is None else pd.concat([acc, cf], ignore_index=True)
            acc = kcut(acc)
    if k is not None:
        return empty if acc is None else acc.reset_index(drop=True)
    if not out:
        return empty
    return pd.concat(out, ignore_index=True).reset_index(drop=True)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    centroids: DataFrame | None = None,
    corpus_cells: DataFrame | None = None,
    query_cells: DataFrame | None = None,
    corpus_assigned: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k via IVF: corpus vectors live in their 1 nearest cell; each
    query probes its ``n_probe`` nearest cells. Candidate generation is an
    equi-join on cell_id — shuffle on a 16-value key here, a ~2^14-value key
    at 100 TB — never a cross join. Same output contract as
    ``brute_force_topk`` (the recall oracle). Pass prebuilt ``centroids`` /
    ``corpus_cells`` (the build-once index) so serving only assigns the
    query batch; pass ``query_cells`` too when cell assignment happens in a
    DIFFERENT space than the rerank (e.g. ``pca.pca_ivf_topk`` assigns in
    the reduced space but reranks with the original vectors here).

    In-cell pair scoring runs as a cogrouped ``applyInPandas`` over
    cell_id — each cell's vectors cross Arrow ONCE (never per pair), numpy
    folds the sims sequentially over dims (the ``nearest_cells``
    discipline), and only (q_id, n_id, raw_sim) reaches the top-k window,
    so the sort never shuffles embeddings. Measured 19 s → ~4 s on the
    10k×10k sweep against the former HOF broadcast-join formulation."""
    cents = centroids if centroids is not None else ivf_centroids(embeddings, n_cells)
    # ``cells``: optional precomputed (vec_id, cell_id) assignment of EXACTLY
    # this embeddings frame under ``cents`` — assignment is a pure function
    # of (vector, centroids), so callers that already hold it (the
    # incremental path: old verdicts carry it, the new batch was assigned to
    # find the affected cells) skip the O(N·cells·dim) recompute.
    # ``corpus_assigned`` (r12, guide §2.4): one frame already carrying
    # (vec_id, embedding, cell_id) — the vector store's serve read has
    # exactly this shape, and splitting it into embeddings + corpus_cells
    # only for this function to re-join them on vec_id both re-executed the
    # pruned store read twice and paid a corpus-side self-join per serve.
    # Row-identical to the join (vec_id is unique per frame by contract).
    if corpus_assigned is None:
        if corpus_cells is None:
            corpus_cells = ivf_assign(embeddings, cents, n_probe=1)
        corpus_assigned = embeddings.join(corpus_cells, "vec_id")
    if query_cells is None:
        query_cells = ivf_assign(queries, cents, n_probe=n_probe)

    cand = corpus_assigned.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        "cell_id",
    )
    q = queries.join(query_cells, "vec_id").select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        "cell_id",
    )
    raw = (
        cand.groupBy("cell_id")
        .cogroup(q.groupBy("cell_id"))
        .applyInPandas(
            # exactly two params: a third (even defaulted, like the
            # kernel's chunk knob) makes Spark pass (key, left, right)
            lambda left, right: _cell_pair_sims(left, right, k=k),
            schema="q_id long, n_id long, raw_sim double",
        )
    )
    sims = raw.dropDuplicates(["q_id", "n_id"]).withColumn(
        "sim6", F.round(F.col("raw_sim"), 6)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim6"), "n_id")
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", F.col("n_id").alias("neighbor_id"), F.round("sim6", 3).alias("sim"), "rk")
    )


def _topk_of_pair_sims(raw, k: int) -> list:
    """``ivf_topk``'s tail on a pandas (q_id, n_id, raw_sim) frame, for the
    resident serve: the (q_id, n_id) dedup, ``F.round`` to 6 digits, the
    (sim6 DESC, n_id) rank and the 3-digit display sim, as
    (q_id, neighbor_id, sim, rk) tuples."""
    from pulsar_replay_spark.operators.resident import round_half_up

    raw = raw.drop_duplicates(["q_id", "n_id"])
    raw = raw.assign(sim6=[round_half_up(x, 6) for x in raw["raw_sim"]])
    raw = raw.sort_values(
        ["q_id", "sim6", "n_id"], ascending=[True, False, True], kind="mergesort"
    )
    raw["rk"] = raw.groupby("q_id").cumcount() + 1
    top = raw[raw["rk"] <= k]
    return [
        (int(q), int(n), round_half_up(s, 3), int(rk))
        for q, n, s, rk in zip(top["q_id"], top["n_id"], top["sim6"], top["rk"])
    ]


# ---------------------------------------------------------------------------
# Product quantization (PQ): compress each vector into M sub-space centroid
# codes, score candidates against the CODES (asymmetric distance / ADC), and
# only touch full vectors for the final exact rerank. The reason PQ exists at
# 100 TB: the corpus's float vectors are too big to scan, the code table is
# 32× smaller (64×f32 → 8 nibbles) and the per-candidate score is 8 lookups.
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (DIM/PQ_M dims each)
PQ_K = 16  # centroids per subspace → 4-bit codes


def _subvectors(embeddings: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, m, sub): each vector split into PQ_M contiguous sub-vectors —
    coordinate blocks are orthogonal, so ||approx||² = Σ_m ||centroid_m||²
    (the identity ADC norms rely on)."""
    sub_len = DIM // PQ_M
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.transform(
                    F.slice("embedding", m * sub_len + 1, sub_len),
                    lambda x: x.cast("double"),
                ).alias("sub"),
            )
            for m in range(PQ_M)
        ]
    )
    return embeddings.select(
        F.col(id_col), F.explode(subs).alias("s")
    ).select(id_col, F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))


def pq_codebooks(embeddings: DataFrame, n_iter: int = 1) -> DataFrame:
    """Per-subspace codebooks (m, cell, centroid): deterministic seed — the
    PQ_K lowest vec_ids' sub-vectors — refined by Lloyd rounds with
    (m, cell, dim) reduce keys (all PQ_M subspaces train in the SAME jobs;
    the keyspace is PQ_M·PQ_K·sub_len rows, constant in corpus size)."""
    subs = _subvectors(embeddings)
    seed_ids = embeddings.orderBy("vec_id").limit(PQ_K).select(
        F.col("vec_id"), F.row_number().over(
            Window.orderBy("vec_id")
        ).alias("cell")
    )
    books = (
        _subvectors(embeddings.join(seed_ids.select("vec_id"), "vec_id"))
        .join(F.broadcast(seed_ids), "vec_id")
        .select("m", (F.col("cell") - 1).alias("cell"), F.col("sub").alias("centroid"))
    ).localCheckpoint(eager=True)
    for _ in range(n_iter):
        assigned = _pq_assign(subs, books)
        pos = assigned.select(
            "m", "cell", F.posexplode("sub").alias("i", "x")
        )
        per_dim = pos.groupBy("m", "cell", "i").agg(F.avg("x").alias("c"))
        books = per_dim.groupBy("m", "cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
            ).alias("centroid")
        ).localCheckpoint(eager=True)
    return books


def _pq_assign(subs: DataFrame, books: DataFrame) -> DataFrame:
    """Nearest centroid per (id, m) by euclidean distance.

    Arrow path (the ``nearest_cells`` discipline): the PQ_M·PQ_K codebook —
    bounded by construction — collects once and ships in the mapInPandas
    closure; per batch, numpy folds (a−b)² SEQUENTIALLY over sub-dims
    (bit-identical IEEE order to the old zip_with/aggregate formulation)
    while vectorizing the rows×K axis. Ties break to the lowest cell
    (codebooks scanned in ascending cell order, first-min argmin), matching
    the old min(struct(d2, cell)) pick. No join, no shuffle — the
    O(N·M·K·sublen) build term rides the scan."""
    import numpy as np
    import pandas as pd

    rows = books.select("m", "cell", "centroid").collect()
    by_m: dict[int, list] = {}
    for r in rows:
        by_m.setdefault(int(r["m"]), []).append(
            (int(r["cell"]), np.asarray(r["centroid"], dtype="float64"))
        )
    cb = {}
    for m, lst in by_m.items():
        lst.sort(key=lambda t: t[0])
        cb[m] = (
            np.array([c for c, _ in lst], dtype="int64"),
            np.stack([v for _, v in lst]),
        )
    id_col = subs.columns[0]

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ms = pdf["m"].to_numpy()
            vecs = [np.asarray(v, dtype="float64") for v in pdf["sub"]]
            out_cells = np.empty(len(pdf), dtype="int64")
            for m in np.unique(ms):
                ix = np.nonzero(ms == m)[0]
                X = np.stack([vecs[i] for i in ix])
                cells, C = cb[int(m)]
                acc = np.zeros((len(ix), len(cells)))
                for d in range(X.shape[1]):
                    diff = X[:, d : d + 1] - C[None, :, d]
                    acc += diff * diff
                out_cells[ix] = cells[np.argmin(acc, axis=1)]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "m": pdf["m"],
                    "cell": out_cells,
                    "sub": pdf["sub"],
                }
            )

    return subs.mapInPandas(
        run, schema=f"{id_col} long, m int, cell int, sub array<double>"
    )


def pq_encode(embeddings: DataFrame, books: DataFrame) -> DataFrame:
    """(vec_id, codes array<int>[PQ_M], approx_norm): the 32×-compressed
    corpus representation ADC scans instead of the vectors. approx_norm =
    sqrt(Σ_m ||centroid_{code_m}||²) — exact for the reconstruction because
    subspaces are orthogonal blocks."""
    cn = books.select(
        "m",
        "cell",
        F.aggregate(
            "centroid", F.lit(0.0), lambda acc, x: acc + x * x
        ).alias("cn2"),
    )
    assigned = _pq_assign(_subvectors(embeddings), books).join(
        F.broadcast(cn), ["m", "cell"]
    )
    return assigned.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "cell"))), lambda s: s["cell"]
        ).alias("codes"),
        F.sqrt(F.sum("cn2")).alias("approx_norm"),
    )


def pq_index(
    embeddings: DataFrame,
    n_iter: int = 1,
    centroids: DataFrame | None = None,
    corpus_cells: DataFrame | None = None,
) -> dict:
    """Build-once serving index: PQ codebooks, per-vector codes, IVF
    centroids and cell assignments — every piece ``localCheckpoint``-ed so
    the (expensive) build runs exactly once no matter how many query
    batches are served against it. At 100 TB this is a write-once parquet
    artifact; the checkpoint is the in-session analogue. The codes table
    is the only N-row piece, and it is the 32×-compressed one.

    Pass prebuilt ``centroids``/``corpus_cells`` (e.g. the corpus-scaled
    Lloyd-refined IVF index the plain-IVF serving path already built) to
    share ONE coarse quantizer across both serving paths — then this build
    only trains codebooks and encodes codes."""
    books = pq_codebooks(embeddings, n_iter)
    codes = pq_encode(embeddings, books).localCheckpoint(eager=True)
    if corpus_cells is not None and centroids is None:
        raise ValueError(
            "corpus_cells without centroids: the cells are meaningless "
            "without the quantizer that produced them — pass both"
        )
    if centroids is not None:
        # cells are a pure function of (vectors, centroids): derive them
        # when only the quantizer was shared, NEVER silently rebuild both
        # from the unrefined seed (that forks the two serving paths onto
        # different quantizers while claiming to share one)
        cents = centroids
        cells = (
            corpus_cells
            if corpus_cells is not None
            else ivf_assign(embeddings, cents, n_probe=1).localCheckpoint(eager=True)
        )
    else:
        cents = ivf_centroids(embeddings).localCheckpoint(eager=True)
        cells = ivf_assign(embeddings, cents, n_probe=1).localCheckpoint(eager=True)
    return {"books": books, "codes": codes, "cents": cents, "cells": cells}


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = N_PROBE,
    rerank: int = 50,
    index: dict | None = None,
    rerank_source=None,
    query_cells: DataFrame | None = None,
) -> DataFrame:
    """The full compressed-serving pipeline: IVF candidate generation
    (equi-join on cell_id) → ADC scoring against PQ codes — per candidate,
    PQ_M lookups into the query's broadcast LUT, full vectors untouched —
    → exact rerank of the top ``rerank`` per query → top-k. Same output
    contract as ``brute_force_topk`` (the recall oracle; recall floor is
    pinned in tests). Pass a prebuilt ``pq_index`` to amortize the build
    across query batches (the serving shape); without one the index is
    built inline.

    ``rerank_source`` (r12, the persisted-store hook): a callable given
    the materialized ≤ rerank·|Q| shortlist frame (q_id, vec_id) that
    returns the (vec_id, embedding) frame to rerank against —
    ``vecstore.ivf_pq_topk_from_index`` uses it to restrict the
    cell-pruned vectors read to finalists (r13: broadcast left-semi on
    the checkpointed shortlist). Output-identical by construction: the
    rerank join keys on vec_id either way.

    Scale: the scored relation is (vec_id, 8 nibbles), 32× smaller than the
    vectors; every join is equi (cell_id; (q_id, m, cell)); the only full-
    vector access is the ≤ rerank·|Q| row exact pass at the end."""
    from pulsar_replay_spark.functions.vectors import dot, norm

    idx = index if index is not None else pq_index(embeddings)
    books, codes = idx["books"], idx["codes"]
    cents, corpus_cells = idx["cents"], idx["cells"]
    if query_cells is None:
        # callers that already assigned the batch (the store serve collects
        # the assignment to derive its partition prune) pass it through so
        # the arrow assignment kernel doesn't run a second time per serve
        query_cells = ivf_assign(queries, cents, n_probe=n_probe)

    # Query LUT: partial dot of each query sub-vector with every centroid —
    # |Q|·PQ_M·PQ_K rows, assembled per query into ONE (m, cell)-ordered
    # flat array (index = m·PQ_K + cell) and broadcast.
    lut = (
        _subvectors(queries.join(query_cells.select("vec_id").distinct(), "vec_id"))
        .withColumnRenamed("vec_id", "q_id")
        .join(F.broadcast(books), "m")
        .select(
            "q_id",
            "m",
            "cell",
            F.aggregate(
                F.zip_with("sub", "centroid", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("pdot"),
        )
    )
    # r13 (ADVICE): build the dense (m·PQ_K+cell)-indexed array GAP-
    # TOLERANTLY — Lloyd refinement can drop a cell that receives no
    # assignments, and a dropped cell would shift every later slot of a
    # sorted-collect array (silent score corruption). Aggregate into a map
    # keyed by the slot index, then lay out the dense array by slot; empty
    # slots get 0.0 (codes never reference a dropped cell, so the fill
    # value is unreachable). try_element_at makes NULL-on-miss explicit,
    # whatever the ANSI setting. Per-query work only (|Q| rows); the hot
    # per-candidate fold below is unchanged.
    lut_arr = (
        lut.groupBy("q_id")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("m") * PQ_K + F.col("cell")).alias("key"),
                        F.col("pdot").alias("value"),
                    )
                )
            ).alias("_lutmap")
        )
        .select(
            "q_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M * PQ_K - 1)),
                lambda i: F.coalesce(F.try_element_at("_lutmap", i), F.lit(0.0)),
            ).alias("pdots"),
        )
    )
    q_norms = queries.select(
        F.col("vec_id").alias("q_id"), norm(F.col("embedding")).alias("q_norm")
    )

    # IVF candidates → their codes → ADC score from PQ_M LUT lookups.
    # r12 (guide §2.4): the lookups are a MAP-SIDE fold over the code array
    # against the query's broadcast 128-float LUT array — the previous
    # posexplode (8 rows per candidate) + broadcast join + groupBy re-agg
    # shuffled an 8× intermediate just to sum 8 doubles. The fold sums in
    # the same ascending-m order the partial hash agg did (posexplode emits
    # m 0..7 in row order and the broadcast join streams), so adot is
    # bit-identical; one Exchange removed from the ADC stage.
    cand = (
        corpus_cells.join(query_cells.withColumnRenamed("vec_id", "q_id"), "cell_id")
        .select("q_id", "vec_id")
        .filter(F.col("q_id") != F.col("vec_id"))
        .dropDuplicates(["q_id", "vec_id"])
    )
    adot = F.aggregate(
        F.transform(
            F.col("codes"),
            lambda c, i: F.element_at(
                F.col("pdots"), (i * PQ_K + c + F.lit(1)).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut_arr), "q_id")
        .select("q_id", "vec_id", adot.alias("adot"), "approx_norm")
        .join(F.broadcast(q_norms), "q_id")
        .withColumn("asim", F.col("adot") / (F.col("q_norm") * F.col("approx_norm")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("asim"), "vec_id")
    short = (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= rerank)
        .select("q_id", "vec_id")
    )
    if rerank_source is not None:
        short = short.localCheckpoint(eager=True)
        embeddings = rerank_source(short)

    # Exact rerank of the shortlist only.
    full = short.join(
        embeddings.select(
            "vec_id",
            F.col("embedding").alias("n_emb"),
            norm(F.col("embedding")).alias("n_norm"),
        ),
        "vec_id",
    ).join(
        F.broadcast(
            queries.select(
                F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_emb"),
                norm(F.col("embedding")).alias("q_norm2"),
            )
        ),
        "q_id",
    )
    sims = full.withColumn(
        "sim6",
        F.round(
            dot(F.col("q_emb"), F.col("n_emb")) / (F.col("q_norm2") * F.col("n_norm")),
            6,
        ),
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("sim6"), "vec_id")
    return (
        sims.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("sim6", 3).alias("sim"),
            "rk",
        )
    )


def embedding_near_dup_pairs_lsh(
    embeddings: DataFrame, threshold: float = 0.45
) -> DataFrame:
    """Scale path for embedding near-dup detection: candidate pairs from LSH
    bucket collisions only (equi-join on (table, bucket) — never the |N|²
    pair space of the exact formulation), then exact cosine filter. Returns
    (vec_a, vec_b, sim) like the exact query; recall vs the exact pairs is
    pinned in tests."""
    from pulsar_replay_spark.functions.vectors import dot, norm

    t = lsh_tables(embeddings).localCheckpoint(eager=True)
    side = embeddings.join(t, "vec_id").select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm"), "table", "bucket"
    )
    a = side.alias("a")
    b = side.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("sim6"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return pairs.filter(F.col("sim6") >= threshold).select(
        "vec_a", "vec_b", F.round("sim6", 3).alias("sim")
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup at corpus scale.
# Cluster the embedding space (k-means), compare vectors ONLY within their
# cluster, and drop any vector near-identical (cos >= tau) to a cell-mate
# with higher keep priority. The cluster partition turns the |N|^2 pair space
# into a sum of per-cell squares with bounded cell size — the published scale
# recipe for embedding-level dedup of pretraining corpora.
# ---------------------------------------------------------------------------


def nearest_cells(embeddings: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell_id): each vector's nearest centroid by RAW cosine,
    exact float ties broken by lowest cell_id.

    Centroids collect to the driver — bounded by n_cells (the same
    already-broadcast-sized relation every IVF path holds in memory) — and
    ship to executors inside a mapInPandas closure. Per Arrow batch, numpy
    folds the dot SEQUENTIALLY over dims (``acc += V[:,d]*C[:,d]``) — the
    IEEE-754 add order of the DuckDB ``list_inner_product`` loop, and of
    the numpy reference the assignment is pinned to bit-for-bit in
    tests/ann_reference.py — while vectorizing over the N·cells pair axis:
    SIMD instead of ~100ns/element interpreted HOF, a measured
    order-of-magnitude win that GROWS with n_cells (the assignment is the
    O(N·cells·dim) term every IVF/k-means/SemDeDup build pays). Cells are
    scanned in ascending-cell_id chunks with a strict ``>`` running argmax,
    so chunking never changes the tie-break; chunk size bounds memory at
    batch_rows × 4096 doubles however many cells exist."""
    import functools

    import numpy as np

    rows = cents.select("cell_id", "centroid").orderBy("cell_id").collect()
    cell_ids = np.array([r["cell_id"] for r in rows], dtype="int64")
    C = np.stack([np.asarray(r["centroid"], dtype="float64") for r in rows])
    dim = C.shape[1]
    # centroid norms: same sequential fold as norm() (sqrt of fold-dot)
    c_norm = _fold_norms(C, dim)
    # a zero-norm CENTROID would NaN an entire chunk's sims and make the
    # running argmax skip it for every vector — fail loudly on the driver
    # (a HOF cosine raises DIVIDE_BY_ZERO under ANSI; same failure, named)
    _require_nonzero_norms(c_norm, cell_ids, "centroid", key="cell_id")

    run = functools.partial(
        _nearest_cells_batches, cell_ids=cell_ids, C=C, c_norm=c_norm, dim=dim
    )
    return embeddings.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, cell_id long"
    )


def _nearest_cells_batches(batches, *, cell_ids, C, c_norm, dim, chunk=4096):
    """Arrow-batch fold behind ``nearest_cells`` — module-level
    (not a closure) so the zero-row-batch guard and the sequential-fold
    numerics are unit-testable without a Spark job."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if len(pdf) == 0:  # Arrow may emit zero-row batches; np.stack raises
            continue
        V = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
        v_norm = _fold_norms(V, dim)
        # zero-norm vectors NaN every sim: the strict > running argmax then
        # leaves best_cell at its 0 init — a possibly-nonexistent cell the
        # downstream cell join would silently drop. Raise named instead
        # (the convention of every cosine kernel in this module).
        _require_nonzero_norms(v_norm, pdf["vec_id"].to_numpy(), "embedding")
        best_sim = np.full(len(V), -np.inf)
        best_cell = np.zeros(len(V), dtype="int64")
        for lo in range(0, len(cell_ids), chunk):
            Cc, cn = C[lo : lo + chunk], c_norm[lo : lo + chunk]
            sims = _fold_dots(V, Cc, dim) / (v_norm[:, None] * cn[None, :])
            arg = np.argmax(sims, axis=1)  # first max = lowest cell_id
            chunk_best = sims[np.arange(len(V)), arg]
            upd = chunk_best > best_sim  # strict: earlier chunk keeps ties
            best_sim[upd] = chunk_best[upd]
            best_cell[upd] = cell_ids[lo + arg[upd]]
        yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell_id": best_cell})


def semdedup_cells(n: int, target_cell: int = 256) -> int:
    """Cell count for ``semantic_dedup`` at corpus size ``n``: hold the
    expected CELL SIZE ~constant, i.e. cells grow LINEARLY with N.

    This is deliberately NOT ``ivf_params``'s √N rule — that rule bounds the
    *scanned fraction* for serving, but SemDeDup's verdict join is Σ cell²
    pairs, so √N cells make per-cell size grow √N and total pair work grow
    N^1.5 (measured 22× at a 10× rehearsal before this helper existed;
    linear-cell re-measure in SCALE.md). Power-of-two, floor 64; the paper
    runs ~100k clusters on LAION — same posture."""
    import math

    return max(64, 2 ** math.ceil(math.log2(max(1.0, n / target_cell))))


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.6,
    n_cells: int = N_CELLS,
    centroids: DataFrame | None = None,
    block_rows: int | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Per-vector keep/drop verdict: (vec_id, cell_id, centroid_sim, keep).

    Keep rule (deterministic, order-free): within a cell, vector v is dropped
    iff some cell-mate u with higher keep priority has cos(u, v) >= threshold.
    Keep priority follows the paper: LOWER similarity-to-centroid ranks first
    (keeps each cluster's outliers, drops redundant near-centroid mass);
    vec_id breaks ties. "Exists a higher-priority near-duplicate" is the
    triangular-matrix scan of the reference implementation expressed as a
    semi-join; every candidate pair comes from an equi-join on cell_id —
    never an all-pairs cross (cross-join plan gate in tests).

    Scale: centroid assignment broadcasts n_cells rows; the verdict join
    shuffles on cell_id only, and the largest cell bounds the worst
    partition. At 100 TB, pass ``n_cells=semdedup_cells(N)`` — cells must
    grow LINEARLY with the corpus to hold cell size (and so Σ cell² pair
    work) constant per vector; the √N ``ivf_params`` rule is wrong here
    (measured N^1.5 blowup, see ``semdedup_cells``). Default ``centroids`` is the
    deterministic seed pick (oracle-reproducible); pass ``kmeans_refine``
    output for production-quality cells — the verdict plan is unchanged.

    ``block_rows``: skew lever for a DOMINANT cell (one cell holding a
    large corpus fraction — degenerate embeddings, template spam). Plain
    ``operators/skew`` salting can't split this scan (u and v in different
    salt shards would never compare, changing verdicts), so the triangular
    pair space is BLOCK-decomposed instead: each cell's members split into
    contiguous priority-rank blocks of ``block_rows`` rows, and every
    ordered block pair (i ≤ j) becomes its own applyInPandas task —
    same-block tasks run the triangular scan, cross-block tasks a bipartite
    scan. Every ordered pair lands in exactly one task and the numpy fold
    keeps the same sequential-dim op sequence, so verdicts are BIT-identical
    to the unblocked scan (equality-gated in tests); the giant cell's
    O(m²·dim) straggler becomes B(B+1)/2 tasks of (m/B)² spread across
    executors, at the cost of replicating the cell's rows B×. Cells with
    ≤ block_rows members stay single-task. None (default): unblocked scan.

    Regime honesty: the lever targets cells up to ~10⁶-10⁷ rows — where an
    O(m²·dim) pair space is still affordable but serializes one task. The
    per-cell row_number window does sort each cell in a single task, but
    that O(m log m) is always dwarfed by the O(m²·dim) scan it feeds, so it
    is never the binding constraint. A cell so large that B² tasks of
    (m/B)² work are infeasible (a 50%-dominant cell at true corpus scale)
    has an intrinsically infeasible pair space — the fix there is upstream:
    exact dedup first, and cell granularity via ``semdedup_cells`` (cells
    ∝ N), not scan decomposition.
    """
    from pulsar_replay_spark.functions.vectors import dot, norm

    cents = centroids if centroids is not None else ivf_centroids(embeddings, n_cells)
    # ``cells``: optional precomputed (vec_id, cell_id) assignment of EXACTLY
    # this embeddings frame under ``cents`` — assignment is a pure function
    # of (vector, centroids), so callers that already hold it (the
    # incremental path: old verdicts carry it, the new batch was assigned to
    # find the affected cells) skip the O(N·cells·dim) recompute.
    # Assignment: Arrow-vectorized nearest-centroid (raw-cosine argmax,
    # cell_id tie-break — see nearest_cells). The rounded centroid_sim the
    # verdict priority and the output carry is then recomputed JVM-side for
    # the N winner pairs only (HOF dot + F.round — bit-exact with the
    # oracle), so the hot O(N·cells·dim) term runs in numpy while every
    # float that crosses the driver comes from the oracle-exact expression.
    csim = dot(F.col("embedding"), F.col("centroid")) / (
        F.col("v_norm") * F.col("c_norm")
    )
    member = (
        embeddings.select(
            "vec_id", "embedding", norm(F.col("embedding")).alias("v_norm")
        )
        .join(
            cells.select("vec_id", "cell_id")
            if cells is not None
            else nearest_cells(embeddings, cents),
            "vec_id",
        )
        .join(
            F.broadcast(
                cents.select(
                    "cell_id", "centroid", norm(F.col("centroid")).alias("c_norm")
                )
            ),
            "cell_id",
        )
        .select(
            "vec_id",
            "cell_id",
            F.round(csim, 6).alias("centroid_sim"),
            "embedding",
            "v_norm",
        )
        # feeds both sides of the self-join: cut lineage so the assignment
        # subtree executes once, not once per side
        .localCheckpoint(eager=True)
    )
    # Within-cell pair scan — the Σ cell²·dim term — Arrow-vectorized with
    # an EXACT two-phase filter: per cell, numpy computes every ordered
    # (higher-priority u, candidate v) pair's RAW cosine (sequential-dim
    # fold, bit-identical to the JVM HOF / DuckDB loop) and emits only pairs
    # with raw >= threshold - 1e-6 — a safe superset, since round-6(x) >=
    # tau implies x > tau - 5e-7. The JVM then applies the oracle-exact
    # F.round(sim, 6) >= tau to the emitted doubles, so every value that
    # decides a verdict comes from the oracle-checked expression. Priority
    # ((rounded centroid_sim asc, vec_id asc)) orders on JVM-rounded values
    # carried into the batch — no Python rounding anywhere.
    import numpy as np
    import pandas as pd

    margin = threshold - 1e-6

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["centroid_sim", "vec_id"]).reset_index(drop=True)
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"vec_id": [], "pair_sim": []}).astype(
                {"vec_id": "int64", "pair_sim": "float64"}
            )
        V = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
        dim = V.shape[1]
        nrm = pdf["v_norm"].to_numpy(dtype="float64")
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        out_v, out_s = [], []
        BLOCK = 1024  # bounds the sims slab at BLOCK×m doubles in a huge cell
        for lo in range(0, m, BLOCK):
            hi = min(lo + BLOCK, m)
            acc = np.zeros((hi - lo, m))
            for d in range(dim):
                acc += V[lo:hi, d : d + 1] * V[None, :, d]
            sims = acc / (nrm[lo:hi, None] * nrm[None, :])
            # u (row, priority index lo+i) must precede v (col j): j > lo+i
            for i in range(hi - lo):
                row = sims[i, lo + i + 1 :]
                hit = np.nonzero(row >= margin)[0]
                out_v.append(ids[lo + i + 1 :][hit])
                out_s.append(row[hit])
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_v) if out_v else np.array([], "int64"),
                "pair_sim": np.concatenate(out_s) if out_s else np.array([], "float64"),
            }
        )

    def scan_blocked(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": [], "pair_sim": []}).astype(
            {"vec_id": "int64", "pair_sim": "float64"}
        )
        bi, bj = int(pdf["_bi"].iat[0]), int(pdf["_bj"].iat[0])
        if bi == bj:  # diagonal task: the triangular scan on this block
            return scan(pdf[pdf["_blk"] == bi])
        u = pdf[pdf["_blk"] == bi].sort_values(["centroid_sim", "vec_id"])
        v = pdf[pdf["_blk"] == bj].sort_values(["centroid_sim", "vec_id"])
        if len(u) == 0 or len(v) == 0:
            return empty
        # bipartite: every u (block i) precedes every v (block j>i) in the
        # cell's total priority order, so all u×v pairs are ordered pairs.
        # Same sequential-dim fold as `scan` — identical floats per pair.
        Vu = np.stack([np.asarray(x, dtype="float64") for x in u["embedding"]])
        Vv = np.stack([np.asarray(x, dtype="float64") for x in v["embedding"]])
        dim = Vu.shape[1]
        nu = u["v_norm"].to_numpy(dtype="float64")
        nv = v["v_norm"].to_numpy(dtype="float64")
        idv = v["vec_id"].to_numpy(dtype="int64")
        out_v, out_s = [], []
        BLOCK = 1024
        for lo in range(0, len(Vu), BLOCK):
            hi = min(lo + BLOCK, len(Vu))
            acc = np.zeros((hi - lo, len(Vv)))
            for d in range(dim):
                acc += Vu[lo:hi, d : d + 1] * Vv[None, :, d]
            sims = acc / (nu[lo:hi, None] * nv[None, :])
            for i in range(hi - lo):
                hit = np.nonzero(sims[i] >= margin)[0]
                out_v.append(idv[hit])
                out_s.append(sims[i][hit])
        if not out_v:
            return empty
        return pd.DataFrame(
            {"vec_id": np.concatenate(out_v), "pair_sim": np.concatenate(out_s)}
        )

    if block_rows is None:
        scanned = member.groupBy("cell_id").applyInPandas(
            scan, schema="vec_id long, pair_sim double"
        )
    else:
        from pyspark.sql.window import Window

        w = Window.partitionBy("cell_id").orderBy("centroid_sim", "vec_id")
        sizes = member.groupBy("cell_id").agg(F.count("*").alias("_m"))
        # contiguous priority-rank blocks; each row replicates into its
        # cell's B tasks (min(blk,t), max(blk,t)) — every ordered block
        # pair (i <= j) gets block i's and block j's rows exactly once
        ranked = (
            member.withColumn("_rk", F.row_number().over(w) - 1)
            .join(F.broadcast(sizes), "cell_id")
            .withColumn(
                "_nb", F.ceil(F.col("_m") / F.lit(block_rows)).cast("int")
            )
            .withColumn(
                "_blk", F.floor(F.col("_rk") / F.lit(block_rows)).cast("int")
            )
        )
        tasks = ranked.select(
            "cell_id",
            "vec_id",
            "centroid_sim",
            "embedding",
            "v_norm",
            "_blk",
            F.explode(F.sequence(F.lit(0), F.col("_nb") - 1)).alias("_t"),
        ).select(
            "cell_id",
            "vec_id",
            "centroid_sim",
            "embedding",
            "v_norm",
            "_blk",
            F.least("_blk", "_t").alias("_bi"),
            F.greatest("_blk", "_t").alias("_bj"),
        )
        scanned = tasks.groupBy("cell_id", "_bi", "_bj").applyInPandas(
            scan_blocked, schema="vec_id long, pair_sim double"
        )

    dropped = (
        scanned.filter(F.round(F.col("pair_sim"), 6) >= threshold)
        .select("vec_id")
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return member.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cell_id",
        "centroid_sim",
        F.col("dropped").isNull().alias("keep"),
    )


def semantic_dedup_stats(verdicts: DataFrame) -> DataFrame:
    """Per-cell funnel over ``semantic_dedup`` output: members, kept, drop
    rate — the monitoring face of the operator (one n_cells-row aggregate)."""
    return verdicts.groupBy("cell_id").agg(
        F.count("*").alias("members"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("kept"),
        F.round(1.0 - F.sum(F.col("keep").cast("int")) / F.count("*"), 4).alias(
            "drop_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Retrieval post-processing: MMR diversified rerank + hard-negative mining.
# Both consume the (q_id, neighbor_id, sim, rk) contract every top-k path in
# this module emits, so they compose with brute force, LSH, IVF, and IVF-PQ
# serving identically.
# ---------------------------------------------------------------------------

MMR_SCHEMA = (
    "q_id long, neighbor_id long, relevance double, mmr_score double, mmr_rank int"
)


def mmr_rerank(
    embeddings: DataFrame,
    topk: DataFrame,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR '98)
    of a retrieved candidate pool: greedily pick the candidate maximizing

        lam * relevance(q, c)  -  (1 - lam) * max_{s in selected} cos(c, s)

    so the final k trade relevance against redundancy — the standard fix for
    near-duplicate-saturated neighbor lists feeding RAG context windows or
    contrastive batch construction.

    Relevance comes from the retrieval scores already on ``topk`` (its
    ``sim`` column) — query vectors are not needed, only the candidate
    vectors for the pairwise-redundancy term.

    Spark shape: the greedy loop is inherently sequential *within* one query
    but embarrassingly parallel *across* queries, and the per-query problem
    is tiny (the candidate pool, |pool| x dim floats). So: one equi-join
    pulls candidate vectors onto the pool rows (shuffle bounded by
    |Q|*pool rows, never the corpus), then one Arrow batch per query via
    applyInPandas runs the O(pool^2 * k) greedy selection in numpy. No
    cross join anywhere; corpus vectors are touched only for pool members.

    Determinism: candidates sort by neighbor_id before selection, scores
    round to 6 decimals, ties break on neighbor_id asc — repartition- and
    retry-stable (same discipline as every other md5/round-gated operator).

    The candidate-vector join is INNER on purpose (r9 audit): a pool row
    whose vector no longer exists in ``embeddings`` (stale pool after a
    deletion) has no redundancy term and cannot be reranked — it drops
    from the pool rather than riding on a fabricated similarity. Re-run
    retrieval after deletions for a coherent pool.
    """
    import pandas as pd

    cand = topk.select("q_id", "neighbor_id", F.col("sim").alias("relevance")).join(
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb")
        ),
        "neighbor_id",
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        emb = np.stack(pdf["n_emb"].to_numpy()).astype("float64")
        nrm = np.linalg.norm(emb, axis=1)
        nrm[nrm == 0] = 1.0
        unit = emb / nrm[:, None]
        pair = unit @ unit.T  # pool x pool cosine
        rel = pdf["relevance"].to_numpy().astype("float64")
        ids = pdf["neighbor_id"].to_numpy()

        selected: list[int] = []
        scores: list[float] = []
        remaining = list(range(len(pdf)))
        for _ in range(min(k, len(pdf))):
            if selected:
                redundancy = pair[np.ix_(remaining, selected)].max(axis=1)
            else:
                redundancy = np.zeros(len(remaining))
            mmr = np.round(lam * rel[remaining] - (1.0 - lam) * redundancy, 6)
            # argmax with neighbor_id-asc tie-break: remaining is id-sorted,
            # and np.argmax returns the first maximal position.
            best = remaining[int(np.argmax(mmr))]
            scores.append(float(mmr[remaining.index(best)]))
            selected.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            {
                "q_id": pdf["q_id"].iloc[0],
                "neighbor_id": ids[selected],
                "relevance": rel[selected],
                "mmr_score": scores,
                "mmr_rank": np.arange(1, len(selected) + 1, dtype="int32"),
            }
        )

    return cand.groupBy("q_id").applyInPandas(_mmr, schema=MMR_SCHEMA)


def hard_negatives(
    topk: DataFrame,
    k: int = 5,
    dup_threshold: float = 0.9,
    dup_pairs: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: from each
    anchor's neighbor list keep the CLOSEST candidates that are *not*
    near-duplicates of the anchor — similar enough to be informative
    negatives, dissimilar enough to not be false negatives.

    Two exclusion rules compose:
    - score rule: drop candidates with sim >= dup_threshold (the anchor's
      own near-dup band);
    - pair rule (optional): anti-join against a (vec_a, vec_b) near-dup
      pair frame (e.g. ``embedding_near_dup_pairs_lsh`` output), both
      orientations — catches dups flagged by a different signal (MinHash,
      SemDeDup) than raw cosine.

    Pure composition of JVM ops: one filter, at most two broadcast-able
    anti-joins on (q_id, neighbor_id), one per-anchor window renumber —
    shuffles only the |Q|*pool candidate relation, never the corpus.
    """
    neg = topk.filter(F.col("sim") < dup_threshold)
    if dup_pairs is not None:
        for a, b in (("vec_a", "vec_b"), ("vec_b", "vec_a")):
            neg = neg.join(
                dup_pairs.select(
                    F.col(a).alias("q_id"), F.col(b).alias("neighbor_id")
                ),
                ["q_id", "neighbor_id"],
                "left_anti",
            )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select("q_id", "neighbor_id", "sim", "neg_rank")
    )


def dim_ablation_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    dims: list[int] = (8, 16, 32, 64),
    k: int = 5,
) -> DataFrame:
    """(dim, recall_at_k): how much retrieval quality survives truncating
    the embedding to its first ``dim`` components — the measurement behind
    Matryoshka-style dimension reduction decisions (store/scan fewer floats
    if the recall holds; compare against ``pca.pca_ivf_topk``'s learned
    reduction). Ground truth is full-dim exact top-k; each ablation reruns
    the same exact top-k on ``F.slice``d vectors, so the report isolates the
    representation, not the index. |dims| small scans — an offline
    evaluation job, not a serving path."""
    truth = brute_force_topk(embeddings, queries, k=k).select(
        "q_id", "neighbor_id"
    ).localCheckpoint(eager=True)
    n_truth = truth.count()
    rows = []
    for d in dims:
        cut = F.slice(F.col("embedding"), 1, d).alias("embedding")
        got = brute_force_topk(
            embeddings.select("vec_id", cut), queries.select("vec_id", cut), k=k
        ).select("q_id", "neighbor_id")
        hits = got.join(truth, ["q_id", "neighbor_id"], "left_semi").count()
        rows.append((d, round(hits / n_truth, 4) if n_truth else 0.0))
    return embeddings.sparkSession.createDataFrame(
        rows, "dim int, recall_at_k double"
    )


def incremental_semantic_dedup(
    new_embeddings: DataFrame,
    old_embeddings: DataFrame,
    old_verdicts: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.6,
    block_rows: int | None = None,
) -> DataFrame:
    """Incremental SemDeDup — the ``incremental_minhash_pairs`` discipline
    for the embedding family: when a batch of new vectors arrives, only the
    AFFECTED CELLS re-scan.

    Why this is exact: a vector's verdict depends only on its cell-mates
    (the keep rule is cell-local), and with FROZEN centroids assignment is
    a pure function of (vector, centroids) — so recomputing
    ``semantic_dedup`` over (old members of the new batch's cells ∪ the new
    batch) reproduces the full-corpus verdicts for those cells EXACTLY,
    while every other cell's verdicts are untouched by construction
    (equality pinned in tests). ``centroids`` is required (the build-once
    IVF-index discipline): re-seeding centroids moves every cell boundary
    and is a full rebuild, never an increment.

    Keep-monotonicity: adding corpus members only adds potential droppers,
    so old verdicts can flip keep→drop but NEVER drop→keep — the returned
    DELTA frame (vec_id, cell_id, centroid_sim, keep) carries the new
    batch's verdicts plus exactly the flipped old rows. Apply it as
    latest-wins (anti-join ∪, or a batch_id-partitioned store read the
    ``read_cluster_labels`` way).

    Scale: old members are fetched by id for the affected cells only
    (store the embedding table partitioned/bucketed by cell_id and this
    probe is partition-pruned); per-ingest cost is Σ affected-cell² — batch-
    bound, never corpus-bound."""
    if centroids is None:
        raise ValueError(
            "incremental_semantic_dedup requires the FROZEN centroids the "
            "old verdicts were built with (re-seeding is a full rebuild)"
        )
    # assign the batch ONCE: the affected-cell set, the subset's cell table,
    # and semantic_dedup's member join all reuse it (previously the
    # O(|new|·cells·dim) Arrow job ran twice per ingest)
    new_cells = nearest_cells(new_embeddings, centroids).localCheckpoint(eager=True)
    affected = new_cells.select("cell_id").distinct()
    new_ids = new_embeddings.select("vec_id").distinct()
    # a RE-INGESTED vec_id (at-least-once redelivery, or an update) must not
    # appear twice in the subset — latest wins: the old copy is excluded and
    # the fresh verdict rides the delta. (An update that MOVES cells is a
    # remove+add; the add side is handled here, the remove side is deletion
    # semantics — semantic_state_expire.)
    old_member_rows = (
        old_verdicts.join(affected, "cell_id", "semi")
        .select("vec_id", "cell_id")
        .join(new_ids, "vec_id", "left_anti")
    )
    subset = (
        old_embeddings.join(old_member_rows.select("vec_id"), "vec_id", "semi")
        .select("vec_id", "embedding")
        .unionByName(new_embeddings.select("vec_id", "embedding"))
    )
    # old verdicts already carry the frozen-centroid assignment; the new
    # batch was just assigned — no member needs a recompute
    subset_cells = old_member_rows.unionByName(new_cells.select("vec_id", "cell_id"))
    verdicts = semantic_dedup(
        subset,
        threshold=threshold,
        centroids=centroids,
        block_rows=block_rows,
        cells=subset_cells,
    ).localCheckpoint(eager=True)
    new_rows = verdicts.join(
        new_embeddings.select("vec_id"), "vec_id", "semi"
    )
    flipped = (
        verdicts.alias("n")
        .join(old_verdicts.alias("o"), "vec_id")
        .filter(F.col("o.keep") & ~F.col("n.keep"))
        .select("vec_id", F.col("n.cell_id").alias("cell_id"),
                F.col("n.centroid_sim").alias("centroid_sim"),
                F.col("n.keep").alias("keep"))
    )
    return new_rows.unionByName(flipped)


# ---------------------------------------------------------------------------
# Embedding-distribution drift (r8): the vector twin of the scalar PSI
# monitor (operators/quality.psi_drift). The bin axis is the IVF cell — a
# FROZEN coarse quantizer plays the role frozen score bins play for scalars,
# so "did the embedding distribution shift" (encoder swapped, a new source's
# vectors landing, a crawl moving topics) becomes PSI over per-cell
# occupancy. Cell counts are additive like the window histograms, so the
# same shape streams: persist per-batch (cell, n) rows, fold at read.
# Reference analog: none — north-star extension (ops tier).
# ---------------------------------------------------------------------------


def embedding_cell_histogram(
    embeddings: DataFrame, centroids: DataFrame
) -> DataFrame:
    """(bin, n): occupancy of each IVF cell under the FROZEN ``centroids``
    quantizer — ``quality.score_histogram`` for vectors. One assignment pass
    (the Arrow ``nearest_cells`` kernel) + one |cells|-key agg; empty cells
    are absent rows (the PSI join treats absence as the signal, exactly as
    the scalar monitor does)."""
    return (
        ivf_assign(embeddings, centroids, n_probe=1)
        .select(F.col("cell_id").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )


def embedding_drift(
    ref_embeddings: DataFrame,
    cur_embeddings: DataFrame,
    centroids: DataFrame,
    eps: float = 1e-6,
) -> DataFrame:
    """One-row (psi, n_ref, n_cur): PSI between two embedding snapshots'
    cell-occupancy distributions under ONE frozen quantizer. Both sides MUST
    assign against the same ``centroids`` frame — comparing histograms from
    two different quantizers compares axes, not distributions (the same
    contract as comparing score histograms built with different bins).
    Same thresholds as the scalar monitor (<0.1 stable, >0.25 shifted)."""
    from pulsar_replay_spark.operators import quality

    return quality.psi_drift(
        embedding_cell_histogram(ref_embeddings, centroids),
        embedding_cell_histogram(cur_embeddings, centroids),
        eps=eps,
    )


def embedding_drift_contributions(
    ref_embeddings: DataFrame,
    cur_embeddings: DataFrame,
    centroids: DataFrame,
    eps: float = 1e-6,
) -> DataFrame:
    """(bin, n_ref, n_cur, p_ref, p_cur, psi_term): the per-cell breakdown —
    WHICH region of embedding space gained/lost mass (join ``bin`` back to
    ``centroids.cell_id`` for the representative vector of each moving
    cell)."""
    from pulsar_replay_spark.operators import quality

    return quality.psi_contributions(
        embedding_cell_histogram(ref_embeddings, centroids),
        embedding_cell_histogram(cur_embeddings, centroids),
        eps=eps,
    )
