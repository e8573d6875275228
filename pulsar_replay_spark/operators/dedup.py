"""Deduplication operators for the LLM-data-pipeline surface.

Exact (hash groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard — each
designed scale-first:

- exact dedup is one shuffle on a 128-bit content hash (map-side partial agg);
- MinHash: one explode over shingles → per-doc signature agg (one shuffle on
  doc_id) → band-key self-join. Band keys use r=2 rows/band so bucket sizes
  stay small; the self-join shuffles only (band_key) pairs, never full text;
- SimHash clusters by exact 16-bit signature — a cheap groupBy; the
  hamming-radius variant is in tests (bounded self-join per signature bucket);
- n-gram Jaccard uses an inverted shingle index (explode + equi-join on the
  shingle) rather than a cross join — at 100 TB the shingle join is the only
  strategy that avoids O(n²) pairs; frequency-capping hot shingles (not needed
  at test SF) is the standard skew guard.

Every hash that reaches an output is md5-derived so the DuckDB oracle
reproduces results exactly (Spark's xxhash64/hash have no DuckDB
equivalent). The exact-substring k-gram hash is internal: it only decides
which grams are equal, and the oracle groups the gram text itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_replay_spark.functions.text import shingles, token_hash60, tokens

N_MINHASHES = 8  # 4 bands × r=2
N_BANDS = 4
SIMHASH_BITS = 16


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical documents (hash-groupBy dedup)."""
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def doc_shingles(docs: DataFrame) -> DataFrame:
    """doc_id + exploded distinct 3-word shingles."""
    return docs.select(
        "doc_id", F.explode(F.array_distinct(shingles(F.col("text")))).alias("shingle")
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Per-doc MinHash signature: ONE md5 per shingle, sliced into 8
    independent 16-bit hash functions (hex chars 4i..4i+3) — the standard
    one-hash-many-slices trick; hashing is the dominant CPU of the whole
    dedup family, and 8 separate salted digests cost 8× this for the same
    collision statistics. Hex-string min == lexicographic min — identical
    in DuckDB (``substr(md5(shingle), 1+4*i, 4)``).

    r12 note: a shuffle-free map-side formulation (array_min over the
    distinct-shingle md5 array, zero exchanges) was measured SLOWER (6.6 s
    vs 4.2 s over sf0.1) — higher-order functions evaluate interpreted,
    while this explode + partial-min aggregation runs whole-stage codegen
    and its shuffle carries only (doc_id, 8×4 hex chars) after map-side
    combine. Keep the codegen shape."""
    sh = doc_shingles(docs)
    h = F.md5("shingle")
    aggs = [
        F.min(F.substring(h, 1 + 4 * i, 4)).alias(f"m{i}")
        for i in range(N_MINHASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_band_buckets(
    docs: DataFrame, bands: int = N_BANDS, rows_per_band: int = 2
) -> DataFrame:
    """LSH banding: band key = concat of ``rows_per_band`` signature rows.

    One ``posexplode`` over an array of band keys — the signature subtree is
    computed ONCE (a per-band union would recompute the explode+md5+groupBy
    pipeline per band).

    The (bands, rows_per_band) geometry is ``lsh_plan``'s output knob — the
    default 4×2 is what the planner recommends for thresholds just under
    its s50 = 0.5 (gated in tests); a corpus targeting a different Jaccard
    threshold passes the planner's pick: more rows/band → higher precision
    (fewer candidate pairs to verify), more bands → higher recall. Bounded
    by the 8 16-bit slices one md5 yields (``bands·rows ≤ 8``)."""
    if bands * rows_per_band > N_MINHASHES:
        raise ValueError(
            f"bands*rows_per_band = {bands * rows_per_band} exceeds the "
            f"{N_MINHASHES} hash slices one md5 yields — lower the geometry "
            "(lsh_plan respects the budget)"
        )
    if bands < 1 or rows_per_band < 1:
        raise ValueError("bands and rows_per_band must be >= 1")
    sig = minhash_signatures(docs)
    band_keys = F.array(
        *[
            F.concat(
                *[F.col(f"m{rows_per_band * b + r}") for r in range(rows_per_band)]
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        "doc_id", F.posexplode(band_keys).alias("band", "band_key")
    )


def lsh_plan(
    threshold: float,
    n_hashes: int = N_MINHASHES,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> dict:
    """Banding planner: choose (bands, rows_per_band) for a target Jaccard
    threshold — the knob a 100 TB run tunes BEFORE paying for signatures.

    The collision probability of a pair with true Jaccard s under (b, r)
    banding is the S-curve P(s) = 1 − (1 − s^r)^b (Leskovec/Rajaraman/Ullman,
    MMDS ch. 3; same objective as datasketch's optimal_param). This picks the
    (b, r) with b·r ≤ n_hashes minimizing the weighted area of the two error
    regions: false positives ∫₀ᵗ P(s) ds (pairs below threshold that still
    collide → wasted verify work) and false negatives ∫ₜ¹ (1 − P(s)) ds
    (true near-dups the bands miss → recall loss). Driver-side pure math —
    O(n_hashes²) candidates × a fixed 512-point midpoint quadrature.

    Returns {bands, rows_per_band, n_hashes_used, fp_area, fn_area,
    s50} where s50 = (1/b)^(1/r) is the similarity at which collision
    probability crosses ~50% — the planner's "effective threshold"."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")

    def _area(prob, lo, hi, points=512):
        if hi <= lo:
            return 0.0
        step = (hi - lo) / points
        return sum(prob(lo + (i + 0.5) * step) for i in range(points)) * step

    best = None
    for b in range(1, n_hashes + 1):
        for r in range(1, n_hashes // b + 1):
            fp = _area(lambda s: 1.0 - (1.0 - s**r) ** b, 0.0, threshold)
            fn = _area(lambda s: (1.0 - s**r) ** b, threshold, 1.0)
            err = fp_weight * fp + fn_weight * fn
            if best is None or err < best[0]:
                best = (err, b, r, fp, fn)
    _, b, r, fp, fn = best
    return {
        "bands": b,
        "rows_per_band": r,
        "n_hashes_used": b * r,
        "fp_area": fp,
        "fn_area": fn,
        "s50": (1.0 / b) ** (1.0 / r),
    }


def minhash_candidate_pairs(
    docs: DataFrame, bands: int = N_BANDS, rows_per_band: int = 2
) -> DataFrame:
    """Near-duplicate candidate pairs: docs sharing any LSH band bucket —
    (bands, rows_per_band) is ``lsh_plan``'s geometry knob, default 4×2.

    The bucket DataFrame is persisted before the self-join so the shingle →
    signature pipeline runs once, not once per join side. At 100 TB the same
    plan holds: the persisted buckets relation is (doc_id, band, band_key) —
    tiny relative to the corpus — and the join shuffles only that."""
    buckets = minhash_band_buckets(docs, bands, rows_per_band).persist()
    buckets.count()  # materialize so both join sides reuse the cache
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Truncate lineage and RELEASE the bucket cache: pairs is tiny (dups
    # only); without this, composed pipelines (cluster → anti-join → re-dedup)
    # accumulate every intermediate cache for the session's lifetime.
    pairs = pairs.localCheckpoint(eager=True)
    buckets.unpersist()
    return pairs


def incremental_minhash_pairs(
    new_docs: DataFrame,
    existing_buckets: DataFrame,
    bands: int = N_BANDS,
    rows_per_band: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection: probe a NEW batch against the
    persisted LSH bucket index of the already-ingested corpus, without ever
    re-signaturing old documents — the only dedup shape that works when
    ingest is a daily increment into a 100 TB corpus.

    ``existing_buckets`` is the (doc_id, band, band_key) index (what
    ``minhash_band_buckets`` emits — the engine's persistable dedup state;
    store it partitioned by band_key prefix and this probe is an equi-join
    that touches only colliding partitions). Signatures are per-doc
    deterministic expressions, so incremental and full-recompute agree
    EXACTLY: pairs(old∪new) restricted to pairs touching the new batch ==
    new-internal pairs ∪ cross probes (the equivalence is pinned in tests).

    Returns (pairs, new_buckets): candidate pairs (doc_a < doc_b) that
    involve at least one new document, and the new batch's OWN bucket rows —
    the caller appends them to its index store (a batch caller unions; the
    streaming sink writes them as one idempotent batch-id partition —
    rewriting the whole grown index per increment would be O(corpus) per
    batch). Dedup policy — e.g. dropping dup newcomers before indexing —
    is the caller's, exactly like the batch pipeline.

    (bands, rows_per_band) MUST match the geometry the store was built
    with — band numbers and keys are geometry-specific, and a mismatched
    probe would silently miss collisions. The store is append-only under
    ONE geometry; regenerating under a new ``lsh_plan`` pick is a full
    re-index (signatures re-slice for free, the corpus is re-read once)."""
    # One materialization feeds the self-join, the cross probe AND the
    # returned index — localCheckpoint (not persist/unpersist) because the
    # caller keeps consuming ``updated`` after this function returns.
    nb = minhash_band_buckets(new_docs, bands, rows_per_band).localCheckpoint(
        eager=True
    )
    a, b = nb.alias("a"), nb.alias("b")
    new_new = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    e = existing_buckets.alias("e")
    n = nb.alias("n")
    cross = (
        n.join(
            e,
            (F.col("n.band") == F.col("e.band"))
            & (F.col("n.band_key") == F.col("e.band_key")),
        )
        .select(
            F.least(F.col("n.doc_id"), F.col("e.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("e.doc_id")).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    pairs = new_new.unionAll(cross).distinct().localCheckpoint(eager=True)
    return pairs, nb


def simhash_expr(
    text,
    bits: int = SIMHASH_BITS,
    salt: str | None = None,
    hashes: "F.Column | None" = None,
) -> "F.Column":
    """``bits``-wide SimHash as a single shuffle-free expression: bit j of the
    signature is the sign of Σ_tokens (2·bit_j(h(token)) − 1).

    One ``aggregate`` pass over the token-hash array carries all 16 signed
    sums as an array accumulator (``zip_with`` against the constant 2^j
    weight array — Spark does no CSE inside higher-order-function lambdas,
    so per-bit aggregates would re-md5 every token 16×). A per-doc
    signature needs no explode/groupBy — the aggregation formulation costs
    a full corpus shuffle for the same arithmetic and forces every consumer
    (``doc_profile``'s one-scan featurization) into a doc_id join.

    ``salt`` (the multi-word family's lever) switches the per-token bit
    source to ``token_hash60(token + salt)`` — an independent hash function
    over the same token multiset; the arithmetic is shared so the wide
    family can never drift from this contract-pinned expression.

    ``hashes``: a precomputed ``transform(tokens(text), token_hash60)``
    column (r12, the bound-array discipline): callers that already carry
    the token-hash array for other per-doc features (doc_profile's
    fingerprint) pass it here so the md5 pass runs once per row, not once
    per consumer — Catalyst does no CSE across separate interpreted HOF
    subtrees. Mutually exclusive with ``salt``; value-identical by
    construction (it is literally the same expression, bound)."""
    if hashes is not None:
        if salt is not None:
            raise ValueError("simhash_expr: pass salt or hashes, not both")
        hs = hashes
    elif salt is None:
        hs = F.transform(tokens(text), lambda t: token_hash60(t))
    else:
        s = F.lit(salt)
        hs = F.transform(tokens(text), lambda t: token_hash60(F.concat(t, s)))
    if not 1 <= bits <= 60:  # token_hash60 supplies 60 usable bits
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    weights = F.array(*[F.lit(2**j).cast("long") for j in range(bits)])
    sums = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            weights,
            lambda a, w: a
            + F.when(h.bitwiseAND(w) != 0, F.lit(1).cast("long")).otherwise(
                F.lit(-1).cast("long")
            ),
        ),
    )
    return F.aggregate(
        F.zip_with(
            sums,
            weights,
            lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash) via ``simhash_expr`` — a pure map projection.

    ``bits`` (default the 16-bit contract width) is the SELECTIVITY knob:
    block values in the banded pair join carry bits/(k+1) bits, so at
    corpus scale pass ``bits=60`` (the full token_hash60 width — the Manku
    64-bit posture) for 15-bit blocks instead of 4-bit ones. Width changes
    hamming GRANULARITY too: an edit flips ~width-proportionally many bits,
    so recalibrate ``max_hamming`` when widening."""
    return docs.select(
        "doc_id", simhash_expr(F.col("text"), bits).alias("simhash")
    )


def simhash_multi(docs: DataFrame, bits: int = 120) -> DataFrame:
    """(doc_id, sig array<long>): SimHash wider than token_hash60's 60
    bits — word w draws its per-token bit source from an INDEPENDENTLY
    salted 60-bit token hash (md5 of token + \\x1f + w, the engine's hash
    discipline), so the words are independent hash functions over the same
    token multiset, exactly the Charikar construction at any width. Packed
    for ``banded_hamming_pairs_multi`` (``SIG_WORD_BITS``-bit words; the
    last word may be partial). Use when the 60-bit ceiling's bits/(k+1)
    block keys get too coarse for the corpus — the text twin of the
    perceptual families' wide grids. Widening changes hamming GRANULARITY
    too: recalibrate ``max_hamming`` (an edit flips ~proportionally many
    bits)."""
    if bits <= SIG_WORD_BITS:
        raise ValueError(
            f"bits={bits} fits one long — use simhash(docs, bits={bits})"
        )
    words = [
        _simhash_word_expr(
            F.col("text"), min(SIG_WORD_BITS, bits - lo), lo // SIG_WORD_BITS
        )
        for lo in range(0, bits, SIG_WORD_BITS)
    ]
    return docs.select("doc_id", F.array(*words).alias("sig"))


def _simhash_word_expr(text, bits: int, word_idx: int):
    """One 60-bit-or-less SimHash word from the word_idx-salted token hash
    (word 0 is NOT the unsalted ``simhash_expr``; the wide signature is its
    own hash family)."""
    return simhash_expr(text, bits, salt=f"\x1f{word_idx}")


def simhash_near_pairs_multi(
    docs: DataFrame, max_hamming: int = 8, bits: int = 120
) -> DataFrame:
    """(doc_a, doc_b, hamming): near-dup pairs under the wide SimHash —
    ``simhash_near_pairs`` beyond the 60-bit ceiling, on the shared
    multi-word banded join. Default radius 8 ≈ the 60-bit family's k=4
    scaled to double width (hamming grows ~linearly with bits)."""
    sigs = simhash_multi(docs, bits).localCheckpoint(eager=True)
    return banded_hamming_pairs_multi(sigs, max_hamming, bits)


def simhash_dup_clusters(docs: DataFrame) -> DataFrame:
    """Documents sharing an identical SimHash signature (hamming-0 clusters;
    hamming≤k pairing is ``simhash_near_pairs``)."""
    return (
        simhash(docs)
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 3, bits: int = SIMHASH_BITS
) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within ``max_hamming`` signature bits —
    the Manku et al. (WWW '07) web-dedup shape, the SimHash analog of
    MinHash banding.

    Pigeonhole banding: the signature splits into ``max_hamming + 1``
    blocks; any pair within hamming k differs in ≤ k blocks, so it agrees
    EXACTLY on at least one — candidate generation is an equi-join on
    (block_idx, block_value), verified post-join with one XOR+bit_count.
    Nothing all-pairs ever runs, and the shuffle carries (doc_id, sig,
    block key) only. At corpus scale the knob is signature WIDTH: wider
    signatures (SIMHASH_BITS) make block values more selective, shrinking
    buckets — same role the band count plays for MinHash."""
    sigs = simhash(docs, bits).localCheckpoint(eager=True)  # tiny: (doc_id, long)
    return banded_hamming_pairs(sigs, max_hamming, bits)


def banded_hamming_pairs(
    sigs: DataFrame, max_hamming: int, bits: int
) -> DataFrame:
    """(doc_a, doc_b, hamming) within ``max_hamming`` over ANY
    (doc_id, simhash) signature frame — the pigeonhole equi-join behind
    ``simhash_near_pairs``, factored out so other bit-signature families
    (e.g. the perceptual dHash in operators/multimodal.py) reuse the exact
    candidate/verify shape instead of growing their own all-pairs join."""
    idx = _simhash_blocks(sigs, max_hamming, bits)
    a, b = idx.alias("a"), idx.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _simhash_blocks(
    sigs: DataFrame, max_hamming: int, bits: int = SIMHASH_BITS
) -> DataFrame:
    """(doc_id, simhash, blk, val): the pigeonhole block index of a
    (doc_id, simhash) frame — shared by the batch and incremental paths."""
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    if width == 0:  # zero-bit blocks collide everything: silent O(n²) join
        raise ValueError(
            f"bits={bits} gives zero-width banding blocks for "
            f"max_hamming={max_hamming} (need bits >= max_hamming + 1); "
            "widen the signature or lower the radius"
        )
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                F.shiftrightunsigned("simhash", b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
            for b in range(n_blocks)
        ]
    )
    return sigs.select("doc_id", "simhash", F.explode(blocks).alias("b")).select(
        "doc_id", "simhash", F.col("b.blk").alias("blk"), F.col("b.val").alias("val")
    )


def incremental_simhash_pairs(
    new_docs: DataFrame,
    existing_sigs: DataFrame,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> tuple[DataFrame, DataFrame]:
    """Incremental banded-SimHash near-dup probe — the ``incremental_minhash_pairs``
    shape for the hamming family: signature the NEW batch only, block-join
    it against the persisted (doc_id, simhash) store, verify with
    XOR+bit_count. Old documents are never re-hashed; signatures are
    deterministic expressions, so incremental == full recompute restricted
    to pairs touching the new batch (pinned in tests).

    Returns (pairs, new_sigs): hamming≤k pairs involving ≥1 new doc, and
    the new batch's (doc_id, simhash) rows for the caller to append to its
    store — the store is one long per doc (the most compact dedup state in
    the engine; blocks re-derive from it as pure bit ops at probe time)."""
    new_sigs = simhash(new_docs, bits).localCheckpoint(eager=True)
    return (
        incremental_hamming_pairs(new_sigs, existing_sigs, max_hamming, bits),
        new_sigs,
    )


def incremental_hamming_pairs(
    new_sigs: DataFrame,
    existing_sigs: DataFrame,
    max_hamming: int,
    bits: int,
) -> DataFrame:
    """The signature-agnostic half of ``incremental_simhash_pairs``: probe a
    NEW (doc_id, simhash) batch against the persisted store with the banded
    block join + XOR verify, so every bit-signature store gets the same
    incremental discipline."""
    nb = _simhash_blocks(new_sigs, max_hamming, bits)
    eb = _simhash_blocks(existing_sigs, max_hamming, bits)
    ham = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig"))).cast("int")

    a, b = nb.alias("a"), nb.alias("b")
    new_new = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("a_sig"),
            F.col("b.simhash").alias("b_sig"),
        )
    )
    n, e = nb.alias("n"), eb.alias("e")
    cross = (
        n.join(
            e,
            (F.col("n.blk") == F.col("e.blk")) & (F.col("n.val") == F.col("e.val")),
        )
        .filter(F.col("n.doc_id") != F.col("e.doc_id"))
        .select(
            F.least(F.col("n.doc_id"), F.col("e.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("e.doc_id")).alias("doc_b"),
            F.col("n.simhash").alias("a_sig"),
            F.col("e.simhash").alias("b_sig"),
        )
    )
    return (
        new_new.unionAll(cross)
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# Multi-word signatures: the mitigation the 56-bit dHash selectivity ceiling
# documents — one long holds ≤63 usable bits, so wider signatures (dHash
# grid > 8) pack little-endian into SIG_WORD_BITS-bit words of an
# array<long>. The banded pigeonhole join is unchanged in
# SHAPE (blocks over the concatenated bit string, equi-join on (blk, val),
# exact XOR-popcount verify); only block extraction (may span a word
# boundary) and the hamming fold (zip_with + aggregate, pure JVM
# expressions) generalize.
# ---------------------------------------------------------------------------

SIG_WORD_BITS = 60


def pack_sig_words(sig: int, bits: int) -> list[int]:
    """One arbitrary-width python int → little-endian SIG_WORD_BITS-bit
    words (the kernel-side packing contract for array<long> signatures)."""
    n_words = (bits + SIG_WORD_BITS - 1) // SIG_WORD_BITS
    mask = (1 << SIG_WORD_BITS) - 1
    return [(sig >> (SIG_WORD_BITS * i)) & mask for i in range(n_words)]


def _multi_word_blocks(
    sigs: DataFrame, max_hamming: int, bits: int
) -> DataFrame:
    """(doc_id, sig, blk, val): the pigeonhole block index of a
    (doc_id, sig array<long>) frame — ``_simhash_blocks`` for multi-word
    signatures. A block's bit range may straddle one word boundary; the
    extraction is two shifts and an OR, all JVM-side."""
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    if width == 0:
        raise ValueError(
            f"bits={bits} gives zero-width banding blocks for "
            f"max_hamming={max_hamming} (need bits >= max_hamming + 1); "
            "widen the signature or lower the radius"
        )
    if width > SIG_WORD_BITS:
        raise ValueError(
            f"block width {width} exceeds {SIG_WORD_BITS} bits and cannot "
            "host an equi-join key in one long; raise max_hamming (more, "
            "narrower blocks) or shorten the signature"
        )
    entries = []
    for b in range(n_blocks):
        lo = b * width
        w0, off = divmod(lo, SIG_WORD_BITS)
        take = min(SIG_WORD_BITS - off, width)
        part0 = F.shiftrightunsigned(
            F.element_at(F.col("sig"), w0 + 1), off
        ).bitwiseAND(F.lit((1 << take) - 1))
        if take < width:
            rest = width - take
            part1 = F.element_at(F.col("sig"), w0 + 2).bitwiseAND(
                F.lit((1 << rest) - 1)
            )
            val = part0.bitwiseOR(F.shiftleft(part1, take))
        else:
            val = part0
        entries.append(F.struct(F.lit(b).alias("blk"), val.alias("val")))
    return sigs.select("doc_id", "sig", F.explode(F.array(*entries)).alias("b")).select(
        "doc_id", "sig", F.col("b.blk").alias("blk"), F.col("b.val").alias("val")
    )


def _multi_hamming(a, b):
    """Hamming distance of two array<long> signature columns — zip_with XOR
    + popcount fold, whole-stage-codegen-friendly (no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("int")


def banded_hamming_pairs_multi(
    sigs: DataFrame, max_hamming: int, bits: int
) -> DataFrame:
    """(doc_a, doc_b, hamming) within ``max_hamming`` over a (doc_id,
    sig array<long>) frame — ``banded_hamming_pairs`` for signatures wider
    than one long. Same completeness argument (pigeonhole over
    max_hamming+1 blocks), same equi-join shape, exact verify."""
    idx = _multi_word_blocks(sigs, max_hamming, bits)
    a, b = idx.alias("a"), idx.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            _multi_hamming(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def incremental_hamming_pairs_multi(
    new_sigs: DataFrame,
    existing_sigs: DataFrame,
    max_hamming: int,
    bits: int,
) -> DataFrame:
    """``incremental_hamming_pairs`` for array<long> signatures: block-probe
    the NEW batch against the persisted store, exact multi-word verify.
    Returns (doc_a, doc_b, hamming) pairs touching ≥1 new doc."""
    nb = _multi_word_blocks(new_sigs, max_hamming, bits)
    eb = _multi_word_blocks(existing_sigs, max_hamming, bits)
    ham = _multi_hamming(F.col("a_sig"), F.col("b_sig"))

    a, b = nb.alias("a"), nb.alias("b")
    new_new = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.sig").alias("a_sig"),
        F.col("b.sig").alias("b_sig"),
    )
    n, e = nb.alias("n"), eb.alias("e")
    cross = (
        n.join(
            e,
            (F.col("n.blk") == F.col("e.blk")) & (F.col("n.val") == F.col("e.val")),
        )
        .filter(F.col("n.doc_id") != F.col("e.doc_id"))
        .select(
            F.least(F.col("n.doc_id"), F.col("e.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("e.doc_id")).alias("doc_b"),
            F.col("n.sig").alias("a_sig"),
            F.col("e.sig").alias("b_sig"),
        )
    )
    return (
        new_new.unionAll(cross)
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
        .localCheckpoint(eager=True)
    )


def compact_simhash_store(
    store: DataFrame, retain_docs: DataFrame | None = None
) -> DataFrame:
    """Lifecycle op for the (doc_id, simhash) store ``incremental_simhash_pairs``
    grows: DISTINCT rows (a re-ingested unchanged document contributes an
    exact duplicate — signatures are deterministic expressions) plus an
    optional EXPIRY semi-join against ``retain_docs`` so deleted/aged-out
    corpus members stop colliding with future batches. Probing against the
    compacted store equals probing the original restricted to retained docs
    (pinned in tests). A document re-ingested with EDITED text is an
    upsert, not a duplicate — route those through the CDC store
    (``streaming.pipelines.cdc_apply_sink``), then rebuild its signature;
    this op never guesses a winner between two different signatures for
    one doc_id. Callers writing the result back to parquet must target a
    DIFFERENT directory than the store was read from (reads are lazy; an
    in-place overwrite clobbers the files mid-read — see
    ``dedup_index_compact``'s guard)."""
    out = store.select("doc_id", "simhash").distinct()
    if retain_docs is not None:
        out = out.join(retain_docs.select("doc_id").distinct(), "doc_id", "semi")
    return out


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, max_shingle_df: int | None = None
) -> DataFrame:
    """Pairwise Jaccard over distinct 3-shingle sets via an inverted index:
    explode → self-equi-join on shingle → |A∩B| per pair → |A∪B| by size
    lookup. Returns pairs with jaccard ≥ threshold.

    ``max_shingle_df`` is the scale knob: shingles appearing in more than
    that many documents are dropped from the *pair-generation index* — a
    shingle with document frequency f contributes f·(f-1)/2 join rows, so a
    handful of boilerplate phrases dominate the join at corpus scale. The
    per-doc sizes (the |A∪B| denominator) are computed from the PRE-cap
    shingle sets, so capping can only lose intersection counts on ubiquitous
    shingles (estimate biased downward, never upward); recall on planted
    near-dups is pinned in tests. Default None = exact (the oracle-checked
    path)."""
    sh = doc_shingles(docs)
    if max_shingle_df is None:
        # exact self-join path: both join sides consume the same subtree —
        # cache it once
        sh = sh.persist()
        sh.count()
    # Per-doc set sizes (the |A∪B| denominator, always PRE-cap) need no
    # explode+groupBy: the count is the distinct-shingle array length, a
    # map-side projection — one exchange fewer than aggregating the
    # inverted index, and immune to the cap by construction.
    sizes = docs.select(
        "doc_id", F.size(F.array_distinct(shingles(F.col("text")))).alias("n_sh")
    )
    if max_shingle_df is not None:
        # Capped path ≠ capped self-join: ONE shuffle groups each shingle's
        # (≤ cap) doc ids, then pairs explode from the sorted id list via a
        # bounded HOF — ≤ cap·(cap−1)/2 rows per shingle, no second shuffle
        # of the index and no join at all. This is also why the cap is the
        # 100 TB default: the posting list per shingle is bounded, so both
        # memory and fan-out are O(cap²) however hot the shingle is.
        #
        # The shuffle key is a 16-hex-char md5 slice, not the shingle string:
        # shingle text is unbounded (and long in real corpora) while the
        # slice is a fixed 16 bytes — the same keyed-shuffle trick as
        # chunk-level dedup below. DuckDB mirrors substr(md5(shingle),1,16)
        # exactly, so the oracle stays value-identical.
        ids = (
            sh.groupBy(F.substring(F.md5("shingle"), 1, 16).alias("hkey"))
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .filter(F.size("ids").between(2, max_shingle_df))
        )
        pair_structs = F.flatten(
            F.transform(
                "ids",
                lambda x, i: F.transform(
                    F.slice("ids", i + F.lit(2), F.size("ids")),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
        inter = (
            ids.select(F.explode(pair_structs).alias("p"))
            .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "n_inter", "jaccard"
    )


SMALL_GRAPH_EDGES = 1_000_000


def connected_components(
    pairs: DataFrame, max_iter: int = 20, small_graph_edges: int = SMALL_GRAPH_EDGES
) -> DataFrame:
    """Transitive closure of candidate pairs → (doc_id, cluster_id) where
    cluster_id = min doc_id reachable. This is what turns pairwise near-dup
    hits into dedup *groups* (keep one doc per cluster).

    Min-label propagation WITH pointer jumping (Shiloach-Vishkin style
    shortcutting) from round 3 on: each round every vertex takes the min of
    its own label and its neighbors' labels, and — once the first two
    jump-free rounds haven't converged — chases one hop through the label
    table (label(v) ← label(label(v))) inside the SAME lazily-chained
    round, so label-chain length halves per round and convergence takes
    O(log diameter) rounds instead of O(diameter) — at 100 TB a chain-shaped
    10⁶-doc cluster costs ~20 rounds, not 10⁶, while the overwhelmingly
    common shallow cluster (diameter ≤ 3) never pays the jump self-join at
    all (it was a measured ~15% overhead at the 20× stress). The jump self-join reuses the
    round's shuffle (ReusedExchange; both sides are the identical propagate
    subplan), and one action per round checks convergence. Labels only ever
    take values of same-component vertex ids and are monotonically
    non-increasing, so the propagate fixpoint is exactly label = component
    min — the same answer as the union-find finish (equality-gated in
    tests). Labels are eagerly localCheckpointed per round: the jump embeds
    the propagate subplan twice, so carried lineage would grow the logical
    plan 2^rounds — truncation keeps analysis cost constant.

    Hybrid finish: the dedup *edge* relation (LSH collisions above
    threshold) is orders of magnitude smaller than the corpus; when the
    materialized edge count — already an action this operator pays — is
    ≤ ``small_graph_edges`` (~16 MB of longs), the closure runs as a
    driver-side union-find instead of diameter× cluster rounds that would
    be pure shuffle overhead on a near-empty frame. Same size-gated
    strategy switch as Spark's broadcast threshold, and the same shape real
    hybrid-CC systems use (finish locally once the frontier is small); the
    distributed loop remains the path for graphs past the gate, and both
    paths are equality-tested. ``small_graph_edges=0`` forces distributed.

    The reference has no graph ops (SURVEY §2.3); this is the engine's
    iterative-algorithm seam (same pattern serves PageRank-style scoring).
    """
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    sym = sym.distinct().persist()
    n_edges = sym.count()  # materialize once: the upstream pair pipeline
    # (minhash etc.) must never re-run inside the loop

    if n_edges <= small_graph_edges:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # one collect — the gate bounds it to ≤ small_graph_edges rows
        # (~16 MB of longs); toLocalIterator would pay one job per partition
        for r in sym.collect():
            ra, rb = find(r.src), find(r.dst)
            if ra != rb:  # union by min so labels match the distributed path
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(v, find(v)) for v in parent]
        dt = sym.schema["src"].dataType.simpleString()  # match distributed-path types
        sym.unpersist()
        spark = pairs.sparkSession
        return spark.createDataFrame(rows, f"doc_id {dt}, cluster_id {dt}")

    labels = (
        sym.select(F.col("src").alias("v")).distinct().withColumn("label", F.col("v"))
    ).persist()
    labels.count()

    for it in range(max_iter):
        msgs = (
            sym.join(labels, sym.src == labels.v)
            .groupBy(F.col("dst").alias("v2"))
            .agg(F.min("label").alias("cand"))
        )
        # propagate: min over self + neighbor labels; the pre-round label is
        # carried as `old` so ONE action checks both steps' convergence
        prop = labels.join(msgs, labels.v == msgs.v2, "left").select(
            "v",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce(F.col("cand"), F.col("label"))).alias(
                "mid"
            ),
        )
        # Deferred jumping: near-dup cluster graphs are overwhelmingly
        # shallow (single-digit diameter), and for them the jump self-join
        # is pure overhead (measured ~15% at the 20× stress) — so the first
        # two rounds propagate only, and jumping engages from round 3,
        # preserving O(log d) convergence exactly where depth exists.
        if it < 2:
            new_labels = prop.select(
                "v",
                F.col("mid").alias("label"),
                (F.col("mid") < F.col("old")).alias("_changed"),
            ).localCheckpoint(eager=True)
        else:
            # pointer jump: label(v) ← min(label(v), label(label(v))). Every
            # mid value IS a vertex in `prop` (labels only hold member ids),
            # but the join stays left+coalesce so a malformed edge list
            # can't drop rows. localCheckpoint, not persist: the self-join
            # embeds the propagate subplan TWICE, so carried lineage would
            # grow the LOGICAL plan 2^rounds (persist caches data, not the
            # plan) — eager truncation keeps analysis cost constant.
            hop = prop.select(F.col("v").alias("pv"), F.col("mid").alias("plabel"))
            new_labels = (
                prop.join(hop, prop.mid == hop.pv, "left")
                .select(
                    "v",
                    F.least(
                        F.col("mid"), F.coalesce(F.col("plabel"), F.col("mid"))
                    ).alias("label"),
                    (
                        F.least(
                            F.col("mid"), F.coalesce(F.col("plabel"), F.col("mid"))
                        )
                        < F.col("old")
                    ).alias("_changed"),
                )
            ).localCheckpoint(eager=True)
        changed = new_labels.filter("_changed").count()
        if it == 0:
            labels.unpersist()  # release the initial persist()ed seed frame
        # Prior rounds' localCheckpoint blocks are NOT released by
        # DataFrame.unpersist (they live on the internal RDD, outside the
        # cache manager); dropping the driver reference here lets the
        # ContextCleaner reclaim them, so live copies stay bounded at
        # ~2 rounds + cleaner latency instead of max_iter.
        labels = new_labels.drop("_changed")
        if changed == 0:
            break

    out = labels.select(
        F.col("v").alias("doc_id"), F.col("label").alias("cluster_id")
    ).localCheckpoint(eager=True)
    sym.unpersist()
    return out


def near_dup_clusters(docs: DataFrame) -> DataFrame:
    """MinHash candidate pairs → connected components → cluster summary
    (the end-to-end near-dedup operator: one row per multi-doc cluster)."""
    cc = connected_components(minhash_candidate_pairs(docs))
    return (
        cc.groupBy("cluster_id")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def cluster_label_deltas(labels: DataFrame, new_pairs: DataFrame) -> DataFrame:
    """Incremental CC maintenance: the label rows that CHANGE when
    ``new_pairs`` (doc_a, doc_b) arrive against an existing (doc_id,
    cluster_id) label table — changed members of merged clusters plus
    first-label rows for unseen docs. O(affected components), never a
    full-corpus CC per ingest.

    The trick: labels are already each component's min doc_id, so merging
    happens on the REPRESENTATIVE graph — every new edge maps its
    endpoints to their current cluster id (own id if unseen), edges whose
    endpoints share a rep are already intra-cluster and drop out, and
    ``connected_components`` runs on the remaining rep-edges only (one
    vertex per AFFECTED cluster — a graph orders of magnitude smaller than
    the corpus label table). min-of-merged-reps == min-of-merged-components,
    so applying the rep relabel reproduces the from-scratch CC exactly
    (equality pinned in tests across multi-batch chains and batch-order
    permutations).

    Deltas (not the rewritten table) are the streaming unit of state: the
    label store appends one batch_id partition per ingest and readers
    resolve latest-wins (the ``cdc_apply`` discipline) — rewriting the
    full corpus-sized label table per increment would be O(corpus)."""
    lab = labels.select("doc_id", "cluster_id")
    ends = (
        new_pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(new_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    rep = ends.join(lab, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("rep")
    )
    ra = rep.toDF("doc_a", "rep_a")
    rb = rep.toDF("doc_b", "rep_b")
    cedges = (
        new_pairs.join(ra, "doc_a")
        .join(rb, "doc_b")
        .filter(F.col("rep_a") != F.col("rep_b"))
        .select(F.col("rep_a").alias("doc_a"), F.col("rep_b").alias("doc_b"))
        .distinct()
    )
    # one vertex per affected cluster: tiny relative to the corpus, and the
    # ≤1M-edge union-find finish inside connected_components usually takes it
    cc = connected_components(cedges).toDF("old_rep", "root").localCheckpoint(
        eager=True
    )
    changed = (
        lab.join(cc, lab["cluster_id"] == cc["old_rep"])
        .filter(F.col("root") != F.col("cluster_id"))
        .select("doc_id", F.col("root").alias("cluster_id"))
    )
    # unseen endpoints: rep == own id; their component root when the rep
    # graph touched them, else themselves (pair fell inside one existing
    # cluster is impossible for a fresh doc — its rep is unique — but a
    # fresh doc can be absent from cc only when new_pairs was empty)
    fresh = (
        rep.join(lab, "doc_id", "left_anti")
        .join(cc, rep["rep"] == cc["old_rep"], "left")
        .select(
            "doc_id", F.coalesce("root", F.col("doc_id")).alias("cluster_id")
        )
    )
    return changed.unionByName(fresh)


def merge_cluster_labels(labels: DataFrame, new_pairs: DataFrame) -> DataFrame:
    """Apply ``cluster_label_deltas`` to the label table: the incremental
    equivalent of ``connected_components(all pairs so far)`` — the batch
    API over the delta engine (streaming callers append the deltas
    instead; see streaming.pipelines.incremental_labels_sink)."""
    deltas = cluster_label_deltas(labels, new_pairs).localCheckpoint(eager=True)
    return (
        labels.select("doc_id", "cluster_id")
        .join(deltas.select("doc_id"), "doc_id", "left_anti")
        .unionByName(deltas)
    )


def cluster_summary(labels: DataFrame) -> DataFrame:
    """(cluster_id, n_docs, keep_doc_id) for multi-doc clusters — the
    ``near_dup_clusters`` output shape from a maintained label table, so
    incremental callers serve the same summary without re-running CC."""
    return (
        labels.groupBy("cluster_id")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_corpus(
    docs: DataFrame,
    score: "F.Column | None" = None,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """The end-product dedup operator: the corpus with near-duplicate cluster
    members removed (plus every unclustered doc kept untouched).

    Keeper policy per cluster:

    - default (``score=None``): lowest doc_id — the CC label itself, so the
      loser set falls straight out of the label table with no extra join;
    - ``score=<Column over docs>``: the highest-scoring member survives
      (ties broken by lowest doc_id) — the production nuance where a
      near-dup cluster should keep its best-quality copy, not its oldest.
      e.g. ``dedup_corpus(docs, score=curation.default_quality_score(F.col("text")))``.

    Plan shape at 100 TB is identical either way: the cluster-label relation
    is duplicates-only (tiny), so it broadcasts against the corpus scan; the
    score path adds one window over CLUSTER MEMBERS only (never the corpus);
    the final filter is one broadcast left-anti join.

    ``clusters=``: reuse a precomputed (doc_id, cluster_id) label table —
    the CC transitive closure is the expensive multi-round job, and a
    pipeline that also runs ``curation.leakage_free_split`` should pay it
    once and pass the same table to both."""
    cc = (
        clusters
        if clusters is not None
        else connected_components(minhash_candidate_pairs(docs))
    )
    if score is None:
        losers = cc.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    else:
        from pyspark.sql.window import Window

        members = docs.select("doc_id", score.alias("_score")).join(
            F.broadcast(cc), "doc_id"
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("_score").desc(), F.col("doc_id")
        )
        losers = (
            members.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") > 1)
            .select("doc_id")
        )
    return docs.join(F.broadcast(losers), "doc_id", "left_anti")


def benchmark_overlap(
    corpus: DataFrame, benchmark: DataFrame, min_overlap: int = 8
) -> DataFrame:
    """Decontamination: per corpus doc, how many of its distinct 3-word
    shingles also occur anywhere in a benchmark/eval set (the standard
    train-test contamination check run before LLM training).

    Plan shape for 100 TB: the benchmark side (eval suites) is tiny and
    static, so its distinct-shingle set is BROADCAST — the corpus side is
    never shuffled for the probe; the only shuffle is the per-doc count
    aggregation on doc_id, and the left join back to the corpus doc list
    reuses that key. Every doc is returned (n_overlap=0 when clean) so the
    output is a total contamination report, not just the flagged subset.

    Returns (doc_id, n_overlap, contaminated)."""
    bench_sh = doc_shingles(benchmark).select("shingle").distinct()
    counts = (
        doc_shingles(corpus)
        .join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))  # doc_shingles is pre-distinct
    )
    return (
        corpus.select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


def chunk_dedup_marks(docs: DataFrame, chunk_tokens: int = 10) -> DataFrame:
    """Exact-substring (chunk-level) dedup, the sub-document granularity the
    doc-level family above can't reach: segment each text into consecutive
    ``chunk_tokens``-token windows, keep only the globally FIRST occurrence
    of each window (RefinedWeb/C4-style boilerplate removal — repeated
    headers/footers vanish from every copy but one).

    One row per (doc_id, chunk_idx) with ``chunk`` and ``keep``. First
    occurrence = min (doc_id, chunk_idx) position — ordered on the two
    columns directly (an arithmetic encoding would break past the
    multiplier; 1M-token documents exist in real corpora).

    Scale shape (the 100 TB path): the first-occurrence decision shuffles
    ``md5(chunk)`` + position ONLY — never the chunk text — through a
    groupBy with map-side partial aggregation, so an ultra-hot boilerplate
    chunk combines to one row per map task instead of serializing every
    occurrence onto a single window reducer. The winners relation
    (duplicated hashes only — boilerplate is a tiny fraction of distinct
    chunks) broadcasts back; non-duplicated chunks never join at all.
    """
    chunks = _doc_chunks(docs, chunk_tokens)
    h = F.md5("chunk")
    # min(struct) orders lexicographically on (doc_id, chunk_idx) — the
    # global first occurrence — with map-side combine on the hash key.
    firsts = (
        chunks.groupBy(h.alias("_h"))
        .agg(
            F.count("*").alias("_n"),
            F.min(F.struct("doc_id", "chunk_idx")).alias("_first"),
        )
        .filter(F.col("_n") > 1)
        .select("_h", "_first")
    )
    joined = chunks.join(F.broadcast(firsts), h == F.col("_h"), "left")
    return joined.select(
        "doc_id",
        "chunk_idx",
        "chunk",
        (
            F.col("_first").isNull()
            | (
                (F.col("_first.doc_id") == F.col("doc_id"))
                & (F.col("_first.chunk_idx") == F.col("chunk_idx"))
            )
        ).alias("keep"),
    )


def _doc_chunks(docs: DataFrame, chunk_tokens: int) -> DataFrame:
    """(doc_id, chunk_idx, chunk): consecutive ``chunk_tokens``-token
    windows of each document."""
    # coalesce NULL text to "" — the scrub contract promises every input
    # doc appears (a NULL split explodes to zero rows)
    toks = docs.select(
        "doc_id", F.split(F.coalesce("text", F.lit("")), " ").alias("t")
    )
    n_chunks = F.ceil(F.size("t") / F.lit(chunk_tokens)).cast("int")
    return toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice("t", i * chunk_tokens + 1, chunk_tokens), " "
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )


def scrub_repeated_chunks(docs: DataFrame, chunk_tokens: int = 10) -> DataFrame:
    """End product of chunk-level dedup: each document's text with every
    non-first-occurrence window removed (order of surviving chunks
    preserved), plus the per-doc counts (total vs surviving windows).
    Every input document appears — a fully-scrubbed doc keeps an empty
    cleaned_text, which the corpus writer needs to see to drop it.
    Shuffle profile = chunk_dedup_marks + one doc_id aggregation; the
    collect_list is per-document (bounded by doc length), never
    per-key-global, so it holds at 100 TB."""
    marks = chunk_dedup_marks(docs, chunk_tokens)
    return _reassemble(marks, "chunk_idx", "chunk", " ", "n_chunks", "n_kept_chunks")


def _reassemble(
    marks: DataFrame,
    idx_col: str,
    val_col: str,
    sep: str,
    total_alias: str,
    kept_alias: str,
) -> DataFrame:
    """Shared scrub end-product aggregation: per-doc in-order join of the
    kept segments plus total/kept counts (collect_list is per-document —
    bounded by doc length, never key-global). Dropped segments become NULL
    structs, which collect_list excludes."""
    kept_struct = F.when(F.col("keep"), F.struct(idx_col, val_col))
    return marks.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s[val_col]
            ),
            sep,
        ).alias("cleaned_text"),
        F.count("*").alias(total_alias),
        F.sum(F.col("keep").cast("bigint")).alias(kept_alias),
    )


def line_dedup_marks(docs: DataFrame, max_doc_freq: int = 5) -> DataFrame:
    """CCNet-style line/paragraph-frequency dedup marks: one row per
    (doc_id, line_idx, line, keep) where ``keep`` is false for lines
    appearing in ``max_doc_freq``-or-more DISTINCT documents. The
    complement of ``chunk_dedup_marks``' keep-first policy: a window that
    repeats belongs to exactly one document, but a line that repeats across
    many documents (nav chrome, cookie banners, share footers) belongs to
    NONE — every copy drops.

    Scale shape: the frequency decision shuffles ``md5(line)`` + doc_id
    only (distinct then count, both with map-side combine); the
    over-threshold relation — boilerplate, a tiny fraction of distinct
    lines — broadcasts back, so unique lines never join at all."""
    # floor 2: at max_doc_freq=1 EVERY line appears in >= 1 doc, so the
    # operator degenerates to deleting the whole corpus — never meaningful
    if max_doc_freq < 2:
        raise ValueError(f"max_doc_freq must be >= 2, got {max_doc_freq}")
    # coalesce NULL text to "" so every input doc appears in the marks (a
    # NULL-text doc otherwise explodes to zero rows and silently vanishes
    # from the scrub output, breaking the every-doc-appears contract)
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.coalesce("text", F.lit("")), "\n")).alias(
            "line_idx", "line"
        ),
    )
    h = F.md5("line")
    common = (
        lines.select(h.alias("_h"), "doc_id")
        .distinct()
        .groupBy("_h")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= max_doc_freq)
        .select("_h")
    )
    joined = lines.join(F.broadcast(common), h == F.col("_h"), "left")
    return joined.select(
        "doc_id", "line_idx", "line", F.col("_h").isNull().alias("keep")
    )


def scrub_boilerplate_lines(docs: DataFrame, max_doc_freq: int = 5) -> DataFrame:
    """End product of line-frequency dedup: each document's text with every
    over-threshold line removed (surviving line order preserved), plus the
    per-doc counts. Every input document appears — a fully-scrubbed doc
    keeps an empty cleaned_text (the corpus writer drops it). Shuffle
    profile = ``line_dedup_marks`` + one per-document aggregation
    (collect_list bounded by doc length, never key-global)."""
    marks = line_dedup_marks(docs, max_doc_freq)
    return _reassemble(marks, "line_idx", "line", "\n", "n_lines", "n_kept_lines")


def span_decon_marks(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """(doc_id, starts): for each CONTAMINATED doc, the sorted distinct
    0-based token indices where a 3-word shingle shared with ``benchmark``
    begins. Docs with no shared shingle produce no row.

    Scale shape: the benchmark shingle set broadcasts (eval suites are
    tiny and static — the ``benchmark_overlap`` posture); the corpus side
    contributes positioned shingles map-side and only HIT positions reach
    the per-doc aggregate, so the shuffle is bounded by contamination, not
    corpus size."""
    bench_sh = doc_shingles(benchmark).select("shingle").distinct()
    positioned = docs.select(
        "doc_id",
        F.posexplode(shingles(F.col("text"))).alias("pos", "shingle"),
    )
    return (
        positioned.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("starts"))
    )


def span_decon_scrub(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Span-level decontamination: remove only the CONTAMINATED token
    spans (every token covered by a 3-word shingle that also occurs in
    ``benchmark``) and keep the rest of the document — the modern
    alternative to ``benchmark_overlap``'s drop-the-whole-doc policy: an
    encyclopedia page quoting one eval question loses the quote, not the
    page.

    Returns (doc_id, cleaned_text, n_tokens, n_kept_tokens) — EVERY input
    doc appears; uncontaminated docs pass their text through BYTE-EXACT
    (no split/rejoin round-trip), fully-covered docs keep an empty
    cleaned_text (the corpus writer drops them, the
    ``scrub_boilerplate_lines`` contract).

    Plan shape: ``span_decon_marks``' hit aggregation plus ONE left join
    of the corpus against the contaminated-docs-sized starts relation;
    reconstruction is a per-row higher-order filter (O(tokens · hits) per
    doc, whole-stage codegen, no token explode and no per-token shuffle)."""
    marks = span_decon_marks(docs, benchmark)
    toks = F.split(F.col("text"), " ")

    def kept_tokens(t: "F.Column") -> "F.Column":
        return F.filter(
            t,
            lambda tok, i: ~F.exists(
                F.col("starts"), lambda s: (i >= s) & (i <= s + F.lit(2))
            ),
        )

    joined = docs.select("doc_id", "text").join(marks, "doc_id", "left")
    clean = F.col("starts").isNull()
    kept = F.transform(F.array(toks), kept_tokens)[0]
    return joined.select(
        "doc_id",
        F.when(clean, F.col("text"))
        .otherwise(F.array_join(kept, " "))
        .alias("cleaned_text"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.when(clean, F.size(toks))
        .otherwise(F.size(kept))
        .cast("bigint")
        .alias("n_kept_tokens"),
    )


# ---------------------------------------------------------------------------
# Any-length exact-substring dedup (r10): the Lee et al. "Deduplicating
# Training Data Makes Language Models Better" (arXiv:2107.06499) family —
# find every duplicated token span of length ≥ min_tokens with EXACT
# boundaries, at any alignment, and scrub all-but-one occurrence. This is
# the granularity `chunk_dedup_marks` cannot reach: its fixed non-
# overlapping windows miss any repeat that straddles a window boundary or
# sits at a different offset in each copy.
#
# The paper's tool is a single-node suffix array: sort all corpus suffixes,
# then adjacent suffixes sharing a ≥k-token prefix reveal the duplicated
# spans. That sort is the wrong primitive on a cluster (shuffling suffixes
# moves O(corpus²) bytes). The Spark-native equivalent rests on a coverage
# lemma: a token lies inside SOME duplicated span of length ≥ k  ⇔  it is
# covered by a duplicated k-gram. (⇐ a duplicated k-gram IS such a span;
# ⇒ any length-L ≥ k duplicated span covers each of its tokens with at
# least one of its k-windows, and every window of a repeat is itself a
# repeat.) So ONE positioned-k-gram shuffle — each row (hash(k-gram),
# doc_id, pos), 16-byte key, linear in corpus tokens — computes exactly
# the duplicated-span coverage the suffix array would, and merging the
# covered [pos, pos+k-1] intervals per doc recovers the maximal spans with
# exact boundaries. Sub-k fragments BETWEEN merged spans survive, matching
# the paper's semantics (repeats shorter than the threshold are kept).
# ---------------------------------------------------------------------------


def _positioned_kgram_hashes(
    docs: DataFrame, k: int, casefold: bool = False
) -> DataFrame:
    """(doc_id, pos, gh): a hash of every k-token window at 0-based token
    position ``pos``. Docs shorter than k tokens emit nothing (they cannot
    contain a ≥k-token repeat). The hash — never the gram text — is what
    shuffles. ``casefold`` hashes LOWERCASED tokens (the Lee et al. recipe
    normalizes before building the suffix array) — per-token lowering
    preserves token count, so positions still index the ORIGINAL tokens
    and the scrub removes the original-case text.

    The kernel is an Arrow-batched polynomial rolling hash over per-token
    codepoint-polynomial values (``_rolling_kgram_batch``, where the math
    and its property gates live): O(1) per position after an O(tokens)
    pass, the Lee et al. suffix-array cost model re-expressed for Spark.
    4 independent 31-bit prime channels ≈ 124 hash bits (≥96 keeps 10^12
    grams birthday-safe; 64 bits would not). gh VALUES are part of a
    persisted gram store's contract (``KGRAM_KERNEL_TAG``).

    The result comes back MATERIALIZED (one eager ``localCheckpoint``):
    the kernel's MapInPandas runs exactly once per call, and every
    consumer downstream reads the (doc_id, pos, gh) blocks — hash + two
    ints per token, no text — instead of sending the corpus across the
    JVM↔Arrow boundary once per consumer. ``k`` < 1 raises ``ValueError``
    here, at call time."""
    if k < 1:
        raise ValueError(f"min_tokens must be >= 1, got {k}")
    doc_id_type = docs.schema["doc_id"].dataType.simpleString()

    def kernel(batches):
        for pdf in batches:
            out = _rolling_kgram_batch(pdf, k, casefold)
            if len(out):
                yield out

    return (
        docs.select("doc_id", "text")
        .mapInPandas(kernel, schema=f"doc_id {doc_id_type}, pos int, gh string")
        .localCheckpoint(eager=True)
    )


# Rolling-hash channel constants: 4 distinct primes just under 2^31,
# fixed gram bases B, and fixed token-codepoint radixes R. Values,
# products, and cumulative sums all stay inside int64: per-channel
# values < 2^31, products < 2^62, and a flat batch cumsum of n tokens
# tops out at n·2^31 (n < 2^32 per Arrow batch — far beyond any real
# batch). Channel c's per-token value is the polynomial of the token's
# UCS4 codepoints in R_c mod p_c (a bijective representation — distinct
# tokens collide per channel with probability ~width/2^31, jointly
# across the 4 independent (p, R) channels ~2^-124-ish, the standard
# multi-channel Rabin–Karp argument).
_ROLL_PRIMES = (2147483647, 2147483629, 2147483587, 2147483563)
_ROLL_BASES = (1000003, 999983, 1000033, 1000037)
_ROLL_RADIXES = (131, 137, 139, 149)

# Versioned kernel tag for persisted gram stores: hash VALUES are part of
# a store's on-disk contract, so a kernel fix that changes them must bump
# the tag — 'rolling2' is the r12 length-aware NUL fix. A store whose
# _meta names any other kernel refuses a resume with a named error
# instead of silently never matching the resident index.
KGRAM_KERNEL_TAG = "rolling2"


def _rolling_kgram_batch(pdf, k: int, casefold: bool = False):
    """One Arrow batch of the positioned k-gram kernel — module-level so
    the math is unit/property-testable without Spark (the
    ``_cell_pair_sims`` discipline): (doc_id, pos, gh) pandas frame for
    every k-token window of every doc in ``pdf`` (doc_id, text).

    H_c(i) = Σ_j v_c[i+j]·B_c^{k-1-j} mod p_c per 31-bit channel, packed
    big-endian into one 32-hex-char gh. Fully vectorized O(tokens) via
    the inverse-power prefix form
    H_c(i) = B_c^{i+k-1} · (S_c[i+k] − S_c[i]) mod p_c with
    S_c = cumsum(v_c[m]·B_c^{−m}); the flat batch cumsum never crosses a
    doc boundary inside one window difference, so docs don't interact.
    Per-token values: factorize the batch's tokens (vocab-bounded work),
    view the UNIQUE tokens as a fixed-width UCS4 codepoint matrix
    (zero-copy, no per-token Python), and take each channel's value as a
    polynomial in R_c over the codepoints mod p_c — a bijective
    representation hashed entirely in numpy, no md5 loop (the md5-per-
    unique-token variant measured 4x slower on unique-heavy corpora).
    Power tables cost an O(maxlen) python loop per call — trivial next
    to the vectorized work, and keeping them local keeps this function
    pure."""
    import binascii

    import numpy as np
    import pandas as pd

    n_ch = len(_ROLL_PRIMES)
    binvs = tuple(pow(b, p - 2, p) for b, p in zip(_ROLL_BASES, _ROLL_PRIMES))

    def pow_table(mult: int, p: int, upto: int) -> "np.ndarray":
        ext = np.empty(upto + 1, dtype=np.int64)
        cur = 1
        for m in range(upto + 1):
            ext[m] = cur
            cur = (cur * mult) % p
        return ext

    def token_values(uniques) -> "np.ndarray":
        # Fixed-width UCS4 view: (U, W) codepoint matrix, zero-copy.
        # Codepoints < 2^21 << p, so no pre-reduction; per-channel
        # value = Σ cp[j]·R^j mod p via one int64 matvec (terms
        # < 2^52; mod-chunk when W could overflow the int64 sum).
        uarr = np.asarray(uniques, dtype="U")
        w = max(1, uarr.dtype.itemsize // 4)
        cp = (
            uarr.view(np.uint32).reshape(len(uarr), w).astype(np.int64)
            if uarr.dtype.itemsize
            else np.zeros((len(uarr), 1), dtype=np.int64)
        )
        # Length-aware +1 offset (kernel tag 'rolling2'): the fixed-width
        # view zero-pads, and codepoint 0 (NUL — routine in real web-crawl
        # text) is indistinguishable from padding, so '' ≡ '\x00' and
        # 'a' ≡ 'a\x00' hashed identically on ALL channels (r11 bug, found
        # by the hypothesis gate). Shifting every REAL codepoint to cp+1
        # (true lengths from the python strs — the U-dtype view itself
        # cannot represent trailing NULs) keeps padding at 0 and restores
        # the bijection: values are the (cp+1) sequence, 0-padded, from
        # which the token (including its length) is recoverable. cp+1 ≤
        # 0x110000 < 2^21, so the overflow bounds above are unchanged.
        lens_u = np.fromiter(
            (len(t) for t in uniques), dtype=np.int64, count=len(uniques)
        )
        cp += np.arange(cp.shape[1], dtype=np.int64)[None, :] < lens_u[:, None]
        out = np.empty((len(uniques), n_ch), dtype=np.int64)
        for c in range(n_ch):
            p, r = _ROLL_PRIMES[c], _ROLL_RADIXES[c]
            pw = pow_table(r, p, w - 1)
            if w <= 1024:  # Σ < 2^52 · 2^10 < 2^63: one matvec
                out[:, c] = (cp @ pw) % p
            else:  # pathological token width: chunked modular sums
                acc = np.zeros(len(uniques), dtype=np.int64)
                for j0 in range(0, w, 1024):
                    acc = (
                        acc + (cp[:, j0 : j0 + 1024] @ pw[j0 : j0 + 1024]) % p
                    ) % p
                out[:, c] = acc
        return out

    texts = pdf["text"].fillna("")
    if casefold:
        texts = texts.str.lower()
    tok_lists = [t.split(" ") for t in texts]
    lens = np.fromiter(
        (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
    )
    keep = lens >= k
    if not keep.any():
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].iloc[:0],
                "pos": pd.Series([], dtype="int32"),
                "gh": pd.Series([], dtype="object"),
            }
        )
    tok_lists = [t for t, kp in zip(tok_lists, keep) if kp]
    doc_ids = pdf["doc_id"].to_numpy()[keep]
    lens = lens[keep]
    flat = np.asarray([tok for lst in tok_lists for tok in lst], dtype=object)
    # pd.factorize hashes object strings as C strings — truncated at the
    # FIRST NUL — so '' ≡ '\x00' and 'a' ≡ 'a\x00' get ONE code before
    # any hashing happens (the other half of the r11 NUL bug). One
    # vectorized scan detects NUL-bearing batches and routes them to
    # np.unique's python-comparison sort (correct for any codepoints);
    # the common NUL-free path keeps the O(n) hash factorize.
    if texts.str.contains("\x00", regex=False).any():
        uniques, codes = np.unique(flat, return_inverse=True)
    else:
        codes, uniques = pd.factorize(flat)
    table = token_values(uniques)

    starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
    total = int(lens.sum())
    pos_flat = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
    maxn = int(lens.max())

    g = lens - k + 1  # grams per doc (all lens >= k here)
    pos_out = np.arange(int(g.sum()), dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(g)))[:-1], g
    )
    gram_flat = np.repeat(starts, g) + pos_out  # flat left edge

    H = np.empty((int(g.sum()), n_ch), dtype=np.int64)
    for c in range(n_ch):
        p = _ROLL_PRIMES[c]
        u = (table[codes, c] * pow_table(binvs[c], p, maxn)[pos_flat]) % p
        csum = np.concatenate(([0], np.cumsum(u)))
        w = (csum[gram_flat + k] - csum[gram_flat]) % p
        H[:, c] = (w * pow_table(_ROLL_BASES[c], p, maxn)[pos_out + k - 1]) % p

    hexbuf = binascii.hexlify(np.ascontiguousarray(H.astype(">u4")).tobytes())
    ghs = np.frombuffer(hexbuf, dtype="S32").astype("U32")
    return pd.DataFrame(
        {
            "doc_id": np.repeat(doc_ids, g),
            "pos": pos_out.astype(np.int32),
            "gh": ghs,
        }
    )


def dup_span_marks(
    docs: DataFrame,
    min_tokens: int = 20,
    keep: str = "first",
    casefold: bool = False,
) -> DataFrame:
    """(doc_id, spans: array<struct<start,end>>, n_dup_tokens): each doc's
    MAXIMAL duplicated-span intervals (0-based token indices, inclusive) of
    length ≥ ``min_tokens`` — only docs with ≥1 such span appear (the
    ``span_decon_marks`` convention; the scrub does the left join).

    ``keep='first'``: the globally first occurrence of each duplicated
    k-gram — min (doc_id, pos) — is NOT marked, so a repeated passage keeps
    its earliest copy (greedy per-gram: if an inner k-gram also occurred
    even earlier elsewhere, that inner window is marked here too — the
    earlier text already carries it). ``keep='none'``: every occurrence is
    marked — the stricter remove-all policy for boilerplate nobody wants.

    Plan shape (the 100 TB path): one map-side-combined groupBy on the
    16-byte k-gram hash finds duplicated grams + their first occurrence;
    one equi-join (AQE broadcasts when the duplicated-gram relation is
    small — in natural corpora ≥20-token verbatim repeats are a thin tail)
    marks occurrences; one per-doc aggregation collects sorted start
    positions (bounded by doc length, never key-global); interval merging
    is a per-row higher-order aggregate. No suffix text ever shuffles.

    Single materialization: the gram relation feeds BOTH the duplicate
    agg and the join probe side, and ``_positioned_kgram_hashes`` returns
    it already checkpointed, so the Arrow kernel runs once per call and
    both consumers read the (doc_id, pos, gh) blocks. Recomputing instead
    would send the whole corpus across the JVM↔Arrow boundary twice per
    marks pass; a count-over-window(gh) formulation would compute grams
    once but serialize every occurrence of a hot boilerplate gram onto
    one window reducer — exactly the skew the map-side-combined agg
    absorbs (the `chunk_dedup_marks` argument). Keep ≥96 hash bits —
    10^12 grams birthday-collide a 64-bit space, and a collision falsely
    marks a span as duplicated."""
    if keep not in ("first", "none"):
        raise ValueError(f"dup_span_marks: keep must be 'first'|'none', got {keep!r}")
    k = int(min_tokens)
    grams = _positioned_kgram_hashes(docs, k, casefold)
    dup = (
        grams.groupBy("gh")
        .agg(
            F.count("*").alias("_n"),
            F.min(F.struct("doc_id", "pos")).alias("_first"),
        )
        .filter(F.col("_n") > 1)
        .select("gh", "_first")
    )
    marked = grams.join(dup, "gh")
    if keep == "first":
        marked = marked.filter(
            ~(
                (F.col("_first.doc_id") == F.col("doc_id"))
                & (F.col("_first.pos") == F.col("pos"))
            )
        )
    return _spans_from_marked(marked, k)


def _spans_from_marked(marked: DataFrame, k: int) -> DataFrame:
    """(doc_id, spans, n_dup_tokens) from marked k-gram occurrences
    (doc_id, pos): collect each doc's sorted starts (bounded by doc
    length), merge the [s, s+k-1] covered ranges into maximal intervals
    (adjacent or overlapping fold), sum the covered token counts."""
    starts = marked.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("pos")).alias("_starts")
    )
    empty = F.array().cast("array<struct<start:int,end:int>>")
    last = lambda acc: F.element_at(acc, -1)  # noqa: E731

    def step(acc, s):
        ext = F.struct(
            last(acc)["start"].alias("start"),
            F.greatest(last(acc)["end"], s + F.lit(k - 1)).cast("int").alias("end"),
        )
        new = F.struct(
            s.cast("int").alias("start"), (s + F.lit(k - 1)).cast("int").alias("end")
        )
        return F.when(
            (F.size(acc) > 0) & (s <= last(acc)["end"] + 1),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(ext)),
        ).otherwise(F.concat(acc, F.array(new)))

    spans = F.aggregate(F.col("_starts"), empty, step)
    return starts.select(
        "doc_id",
        spans.alias("spans"),
        F.aggregate(
            spans,
            F.lit(0).cast("bigint"),
            lambda a, sp: a + sp["end"] - sp["start"] + 1,
        ).alias("n_dup_tokens"),
    )


def dup_span_scrub(
    docs: DataFrame,
    min_tokens: int = 20,
    keep: str = "first",
    casefold: bool = False,
) -> DataFrame:
    """End product of any-length exact-substring dedup: every doc's text
    with its marked duplicate spans removed — (doc_id, cleaned_text,
    n_tokens, n_kept_tokens). EVERY input doc appears; docs without
    duplicated spans pass their text through BYTE-EXACT (no split/rejoin
    round-trip); a fully-duplicated doc keeps an empty cleaned_text (the
    corpus writer drops it — the established scrub contract).

    Reconstruction is the ``span_decon_scrub`` higher-order filter
    against the MERGED maximal intervals: O(tokens · spans) per row in
    whole-stage codegen, no token explode, no per-token shuffle."""
    return _scrub_against_spans(
        docs, dup_span_marks(docs, min_tokens, keep, casefold)
    )


def _scrub_against_spans(docs: DataFrame, marks: DataFrame) -> DataFrame:
    """(doc_id, cleaned_text, n_tokens, n_kept_tokens): remove each doc's
    marked spans; EVERY input doc appears, span-free docs pass byte-exact."""
    toks = F.split(F.coalesce("text", F.lit("")), " ")

    def kept_tokens(t: "F.Column") -> "F.Column":
        return F.filter(
            t,
            lambda tok, i: ~F.exists(
                F.col("spans"),
                lambda sp: (i >= sp["start"]) & (i <= sp["end"]),
            ),
        )

    joined = docs.select("doc_id", "text").join(
        marks.select("doc_id", "spans"), "doc_id", "left"
    )
    clean = F.col("spans").isNull()
    kept = F.transform(F.array(toks), kept_tokens)[0]
    return joined.select(
        "doc_id",
        F.when(clean, F.coalesce("text", F.lit("")))
        .otherwise(F.array_join(kept, " "))
        .alias("cleaned_text"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.when(clean, F.size(toks))
        .otherwise(F.size(kept))
        .cast("bigint")
        .alias("n_kept_tokens"),
    )


def dup_span_stats(
    docs: DataFrame,
    min_tokens: int = 20,
    keep: str = "none",
    casefold: bool = False,
) -> DataFrame:
    """1-row corpus duplication diagnostics — the Lee et al. paper's
    headline measurement ("how much of this corpus is duplicated text?")
    as a data-card statistic: (n_docs, n_tokens, n_dup_tokens,
    dup_token_ratio, n_docs_with_dups). Default ``keep='none'`` counts
    EVERY occurrence of duplicated content (the "X% of tokens sit inside
    a repeat" reading); ``keep='first'`` counts only what a scrub would
    remove. Cost = one ``dup_span_marks`` pass + one global agg."""
    marks = dup_span_marks(docs, min_tokens, keep, casefold)
    toks = F.split(F.coalesce("text", F.lit("")), " ")
    per_doc = docs.select(
        "doc_id", F.size(toks).cast("bigint").alias("n_toks")
    ).join(marks.select("doc_id", "n_dup_tokens"), "doc_id", "left")
    return per_doc.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.coalesce(F.sum("n_dup_tokens"), F.lit(0))
        .cast("bigint")
        .alias("n_dup_tokens"),
        F.round(
            F.coalesce(F.sum("n_dup_tokens"), F.lit(0))
            / F.greatest(F.sum("n_toks"), F.lit(1)),
            6,
        ).alias("dup_token_ratio"),
        F.count("n_dup_tokens").cast("bigint").alias("n_docs_with_dups"),
    )


def incremental_dup_span_scrub(
    docs: DataFrame,
    gram_index: DataFrame,
    min_tokens: int = 20,
    casefold: bool = False,
    bloom_fpp: "float | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """The streaming-growth twin of ``dup_span_scrub`` (the
    ``incremental_minhash_pairs`` pattern): scrub ``docs`` against BOTH the
    persisted gram index (every k-gram the pipeline has already admitted —
    any occurrence here is by definition not the first) and within-batch
    duplication (keep-first), and return what the index should grow by.

    Returns (scrubbed, new_grams):
    - scrubbed — ``dup_span_scrub``'s exact shape over ``docs``;
    - new_grams — (gh, doc_id, pos): the batch's FIRST occurrence of each
      gram the index has not seen (the only rows worth persisting — later
      occurrences scrub forever against the first).

    Processing doc_id-ordered batches through this equals the one-shot
    ``dup_span_scrub`` over their union EXACTLY (pinned in tests): the
    global first occurrence is the first batch's first occurrence.

    ``casefold`` must match the index's BUILD-TIME setting, and the index
    must hold this kernel's hashes — they only compare equal under the
    same normalization and the same kernel (``dup_span_ingest_sink``
    records both in the store's ``_meta`` and refuses a mismatched
    resume). The batch's grams are materialized once
    (``_positioned_kgram_hashes``), so the seen-join, the first-occurrence
    agg, the Bloom build and both returned frames read them without
    re-running the kernel.

    Scale posture: the probe is one equi-join of the batch's grams against
    the index on the 16-byte hash — batch-sized build side, so AQE
    broadcasts it against an index of any size. ``bloom_fpp`` (r11, the
    100 TB requirement SCALE.md named): build a Bloom filter over the
    BATCH's grams (batch-sized — one zero-shuffle pass + a broadcast
    bitmap) and prefilter the INDEX scan with it, so only index grams
    that might occur in the batch (true hits + an fpp sliver) reach the
    distinct+join — the join's index-side input tracks the BATCH size,
    not the index size. Exactness is by construction: Bloom has NO false
    negatives (every real hit survives), and false positives only add
    index grams the exact equi-join then fails to match — the scrub is
    IDENTICAL with or without the prefilter (pinned in tests)."""
    k = int(min_tokens)
    grams = _positioned_kgram_hashes(docs, k, casefold)
    index_gh = gram_index.select("gh")
    if bloom_fpp is not None:
        from pulsar_replay_spark.operators.bloom import (
            bloom_build,
            bloom_might_contain,
            bloom_params,
        )

        batch_gh = grams.select("gh").distinct().localCheckpoint(eager=True)
        n_bits, n_hashes = bloom_params(max(1, batch_gh.count()), bloom_fpp)
        # gh is itself a uniform 128-bit hex hash, so the
        # filter uses the vectorized hex128 kind — no per-key md5 anywhere
        bitmap = bloom_build(batch_gh, "gh", n_bits, n_hashes, key_kind="hex128")
        index_gh = bloom_might_contain(
            index_gh, "gh", bitmap, n_hashes, key_kind="hex128"
        ).filter(F.col("might_contain")).select("gh")
    seen = index_gh.distinct()
    flagged = grams.join(
        seen.withColumn("_seen", F.lit(True)), "gh", "left"
    )
    firsts = (
        grams.groupBy("gh")
        .agg(
            F.count("*").alias("_n"),
            F.min(F.struct("doc_id", "pos")).alias("_first"),
        )
    )
    with_first = flagged.join(firsts, "gh")
    is_batch_first = (F.col("_first.doc_id") == F.col("doc_id")) & (
        F.col("_first.pos") == F.col("pos")
    )
    marked = with_first.filter(
        F.col("_seen").isNotNull()  # index hit: every occurrence scrubs
        | ((F.col("_n") > 1) & ~is_batch_first)  # batch dup, not first
    )
    scrubbed = _scrub_against_spans(docs, _spans_from_marked(marked, k))
    new_grams = with_first.filter(
        F.col("_seen").isNull() & is_batch_first
    ).select("gh", "doc_id", "pos")
    return scrubbed, new_grams
