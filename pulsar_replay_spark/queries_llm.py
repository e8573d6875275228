"""LLM-data-pipeline queries (dedup / similarity / text analysis / multimodal)
over the `documents` and `embeddings` fixtures, each with its DuckDB oracle.

Shared cross-engine contracts:
- token hash  = ('0x' || substr(md5(tok),1,15))::BIGINT  ==  conv(substr(md5,1,15),16,10)
- minhash     = lexicographic MIN over md5 hex strings
- cosine      = double-cast sequential dot/norms, compared at round(·, 6)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_replay_spark.functions.text import (
    STOPWORDS,
    bigrams,
    stopword_count,
    token_count,
    token_hash60,
    tokens,
    top_token_count,
    unique_token_count,
)
from pulsar_replay_spark.operators import dedup, multimodal, similarity
from pulsar_replay_spark.registry import register

STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# Shared oracle CTE: distinct 3-word shingles per doc (1-based list indexing;
# mirrors functions.text.shingles / operators.dedup.doc_shingles exactly).
SHINGLES_SQL = r"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE [] END)) AS shingle
  FROM toks
)
"""


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# Exact dedup.
# ---------------------------------------------------------------------------
# The registered query plants deterministic duplicates (every doc_id % 100
# re-added under doc_id+1e6) so the driver row always exercises real group
# formation — the fixtures carry no natural byte-dups at small SF, and a
# 0-rows == 0-rows green is vacuous (r2 verdict). The operator itself is
# unchanged; natural-corpus behavior stays covered by dedup_corpus_stats.
@register(
    "exact_dup_groups",
    """
WITH planted AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 100 = 0
)
SELECT md5(text) AS content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM planted GROUP BY 1 HAVING COUNT(*) > 1
""",
)
def q_exact_dup_groups(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 100 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1_000_000)
        )
    )
    return dedup.exact_dup_groups(planted)


# Not registered: corpus-level dup counts are covered by exact_dup_groups
# (per-group rows) and dedup_corpus_stats (end-product stats).
def q_content_hash_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_dupes"),
    )


# ---------------------------------------------------------------------------
# Text analysis: the per-document feature family in ONE scan — quality
# ratios, BPE-ish token counts, rolling-hash fingerprint, Gopher repetition
# signals, and the SimHash signature. At 100 TB this is exactly how you run
# per-doc featurization: every per-row metric in a single map pass (no
# shuffle), plus the one aggregation SimHash needs (explode → per-doc bit
# sums, one shuffle on doc_id) joined back on the primary key.
# ---------------------------------------------------------------------------
FP_MOD_Q = 9007199254740881  # largest prime < 2^53 (mirrors doc_fingerprint)


def _doc_profile_sql() -> str:
    bit_sums = ", ".join(
        f"SUM((h >> {j} & 1) * 2 - 1) AS s{j}" for j in range(dedup.SIMHASH_BITS)
    )
    sim = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(dedup.SIMHASH_BITS)
    )
    return rf"""
WITH t AS (
  SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks, n_chars
  FROM documents
),
b AS (
  SELECT *,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END AS bgs,
         list_transform(toks, tok -> CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)) AS hs
  FROM t
),
per_row AS (
  SELECT doc_id, lang, source,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_unique,
         ROUND(len(list_filter(toks, x -> x IN ({STOP_SQL}))) / len(toks), 4) AS stopword_ratio,
         ROUND(len(list_distinct(toks)) / len(toks), 4) AS ttr,
         CAST(n_chars AS BIGINT) AS n_chars,
         len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
         list_reduce(hs, (acc, x) -> (acc % {FP_MOD_Q} * 131 + x % {FP_MOD_Q}) % {FP_MOD_Q}) AS fingerprint,
         ROUND(1 - len(list_distinct(toks)) / len(toks), 4) AS dup_token_ratio,
         CASE WHEN len(bgs) > 0
              THEN ROUND(1 - len(list_distinct(bgs)) / len(bgs), 4) END AS dup_bigram_ratio,
         ROUND(list_max(list_transform(list_distinct(toks),
                                       x -> len(list_filter(toks, y -> y = x))))
               / len(toks), 4) AS top_token_ratio
  FROM b
),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
hashed AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok
),
bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id),
sims AS (SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM bits)
SELECT per_row.*, sims.simhash FROM per_row JOIN sims USING (doc_id)
"""


@register("doc_profile", _doc_profile_sql())
def q_doc_profile(spark, sf_dir):
    # r12 optimization (guide §1.2 per-task work): bind the token array,
    # its distinct form, the token-hash array, and the bigram array ONCE as
    # child-projection columns. Catalyst performs no CSE across separate
    # interpreted higher-order-function subtrees, so the previous
    # formulation re-split `text` (and re-distinct'd / re-hashed the
    # tokens) once per consuming feature — ~8 splits per row. Multiply-
    # referenced non-cheap aliases block CollapseProject, so the sharing
    # survives optimization. Still ONE scan, zero exchanges (plan-gated);
    # measured 3.16 s → 2.27 s (−28%) at sf0.1, output bit-equal.
    docs = _docs(spark, sf_dir)
    text = F.col("text")
    base = docs.select(
        "doc_id", "lang", "source", "n_chars", "text",
        tokens(text).alias("_t"),
    ).select(
        "*",
        F.array_distinct("_t").alias("_dt"),
        F.transform("_t", lambda tk: token_hash60(tk)).alias("_hs"),
    )
    t, dt, hs = F.col("_t"), F.col("_dt"), F.col("_hs")
    n_tok = F.size(t)
    bg = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i + 1), F.element_at(t, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = base.select("*", bg.alias("_bg"))
    bgc = F.col("_bg")
    n_bg = F.size(bgc)
    fp = F.aggregate(
        F.slice(hs, 2, F.size(hs) - 1),
        F.element_at(hs, 1),
        lambda acc, x: (acc % FP_MOD_Q * 131 + x % FP_MOD_Q) % FP_MOD_Q,
    )
    top = F.array_max(
        F.transform(dt, lambda x: F.size(F.filter(t, lambda y: y == x)))
    )
    return base.select(
        "doc_id",
        "lang",
        "source",
        n_tok.alias("n_tokens"),
        F.size(dt).alias("n_unique"),
        F.round(F.size(F.filter(t, lambda x: x.isin(STOPWORDS))) / n_tok, 4).alias(
            "stopword_ratio"
        ),
        F.round(F.size(dt) / n_tok, 4).alias("ttr"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0)).alias("n_bpe_tokens"),
        fp.alias("fingerprint"),
        F.round(1 - F.size(dt) / n_tok, 4).alias("dup_token_ratio"),
        F.when(n_bg > 0, F.round(1 - F.size(F.array_distinct(bgc)) / n_bg, 4)).alias(
            "dup_bigram_ratio"
        ),
        F.round(top / n_tok, 4).alias("top_token_ratio"),
        # simhash as a map-side expression over the BOUND hash array: the
        # whole profile is ONE scan with zero exchanges (plan-gated) — no
        # doc_id join for the signature, no second md5 pass
        dedup.simhash_expr(text, hashes=hs).alias("simhash"),
    )


def q_text_quality(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    text = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        token_count(text).alias("n_tokens"),
        unique_token_count(text).alias("n_unique"),
        F.round(stopword_count(text) / token_count(text), 4).alias("stopword_ratio"),
        F.round(unique_token_count(text) / token_count(text), 4).alias("ttr"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic (stopword-density n-gram-free variant) + accuracy
# against the labeled lang column.
# ---------------------------------------------------------------------------
@register(
    "lang_id_accuracy",
    f"""
WITH t AS (
  SELECT lang,
         CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN ({STOP_SQL})))
                   / len(string_split(text, ' ')) > 0.02
              THEN 'en' ELSE 'unk' END AS pred
  FROM documents
)
SELECT lang, pred, COUNT(*) AS n FROM t GROUP BY lang, pred
""",
)
def q_lang_id_accuracy(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    text = F.col("text")
    pred = F.when(
        stopword_count(text) / token_count(text) > 0.02, F.lit("en")
    ).otherwise(F.lit("unk"))
    return docs.select("lang", pred.alias("pred")).groupBy("lang", "pred").agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# Per-source (provenance) profile in one contract query: token/char stats,
# mean character entropy (the repetitive/degenerate-text proxy), and the
# composed C4/Gopher keep/drop funnel — three aggs over the same tiny
# `source` keyspace, joined on the group key.
# ---------------------------------------------------------------------------
def _source_profile_sql() -> str:
    return rf"""
WITH stats AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         ROUND(AVG(n_chars), 2) AS avg_chars
  FROM documents GROUP BY source
),
chars AS (
  SELECT doc_id, source, unnest(string_split(text, '')) AS ch FROM documents
),
freq AS (
  SELECT doc_id, source, ch, COUNT(*) AS n,
         SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS tot
  FROM chars GROUP BY doc_id, source, ch
),
ent AS (
  SELECT doc_id, source, -SUM((n / tot) * LOG2(n / tot)) AS h
  FROM freq GROUP BY doc_id, source
),
entropy AS (
  SELECT source, ROUND(AVG(h), 3) AS avg_entropy FROM ent GROUP BY source
),
{_REP_SIG_SQL.strip()},
fsig AS (
  SELECT source,
         len(toks) AS n_tokens,
         ROUND(len(list_filter(toks, x -> x IN ({STOP_SQL}))) / len(toks), 4) AS stop_r,
         ROUND(1 - len(list_distinct(toks)) / len(toks), 4) AS dup_tok,
         CASE WHEN len(bgs) > 0
              THEN ROUND(1 - len(list_distinct(bgs)) / len(bgs), 4)
              ELSE 0 END AS dup_bg,
         ROUND(list_max(list_transform(list_distinct(toks),
                                       x -> len(list_filter(toks, y -> y = x))))
               / len(toks), 4) AS top_r
  FROM b
),
funnel AS (
  SELECT source,
         CAST(COUNT(*) FILTER (WHERE n_tokens >= 20 AND stop_r > 0.02
                                 AND dup_tok <= 0.6 AND dup_bg <= 0.05
                                 AND top_r <= 0.15) AS BIGINT) AS n_keep,
         ROUND(COUNT(*) FILTER (WHERE n_tokens >= 20 AND stop_r > 0.02
                                  AND dup_tok <= 0.6 AND dup_bg <= 0.05
                                  AND top_r <= 0.15) / COUNT(*), 4) AS keep_rate
  FROM fsig GROUP BY source
)
SELECT stats.source, stats.n_docs, stats.total_tokens, stats.avg_chars,
       entropy.avg_entropy, funnel.n_keep, funnel.keep_rate
FROM stats JOIN entropy USING (source) JOIN funnel USING (source)
"""


@register("source_profile", None)  # oracle attached below (needs _REP_SIG_SQL)
def q_source_profile(spark, sf_dir):
    stats = q_token_stats_by_source(spark, sf_dir)
    entropy = q_char_entropy_by_source(spark, sf_dir).select("source", "avg_entropy")
    funnel = q_quality_funnel(spark, sf_dir).select("source", "n_keep", "keep_rate")
    return stats.join(entropy, "source").join(funnel, "source")


def q_token_stats_by_source(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# Document fingerprint: polynomial rolling hash over 60-bit token hashes.
# ---------------------------------------------------------------------------
FP_MOD = 9007199254740881  # largest prime < 2^53; keeps acc*131 within int64


# Not registered: doc_profile carries the fingerprint column per doc.
def q_doc_fingerprint(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    from pulsar_replay_spark.functions.text import token_hash60

    hs = F.transform(tokens(F.col("text")), lambda t: token_hash60(t))
    # list_reduce seeds with the first element; mirror with aggregate(slice).
    fp = F.aggregate(
        F.slice(hs, 2, F.size(hs) - 1),
        F.element_at(hs, 1),
        lambda acc, x: (acc % FP_MOD * 131 + x % FP_MOD) % FP_MOD,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# MinHash-LSH near-duplicate candidate pairs.
# ---------------------------------------------------------------------------
def _minhash_pairs_sql(bands: int = 4, rows_per_band: int = 2) -> str:
    """DuckDB twin of ``minhash_candidate_pairs`` at any (bands, rows)
    geometry — one builder generates the contract oracle (4×2) AND the
    planner-geometry extras twins, so the knob is cross-engine-gated the
    same way the simhash width is."""
    sig_cols = ", ".join(
        f"MIN(substr(md5(shingle), {1 + 4 * i}, 4)) AS m{i}"
        for i in range(bands * rows_per_band)
    )
    band_rows = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS band_key FROM sig".format(
            b=b,
            key=" || ".join(f"m{rows_per_band * b + r}" for r in range(rows_per_band)),
        )
        for b in range(bands)
    )
    return (
        "WITH "
        + SHINGLES_SQL
        + f"""
, sig AS (
  SELECT doc_id, {sig_cols}
  FROM sh GROUP BY doc_id
),
buckets AS (
  {band_rows}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM buckets a
JOIN buckets b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""
    )


MINHASH_24_ORACLE = _minhash_pairs_sql(bands=2, rows_per_band=4)


# The precision-leaning planner geometry's own oracle (the x_simhash_16
# discipline): pytest + parity extras, not a contract slot — geometry is a
# parameter of one operator, not a new operator.
def q_minhash_pairs_24(spark, sf_dir):
    return dedup.minhash_candidate_pairs(_docs(spark, sf_dir), bands=2, rows_per_band=4)


@register("minhash_pairs", _minhash_pairs_sql())
def q_minhash_pairs(spark, sf_dir):
    return dedup.minhash_candidate_pairs(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# n-gram (3-shingle) Jaccard similarity pairs via inverted index.
# ---------------------------------------------------------------------------
JACCARD_THRESHOLD = 0.5


# Exact (uncapped) variant: not registered — the capped query below is the
# contract/serving path; exact stays as the ground-truth twin, recall-pinned
# against capped in tests/test_dedup.py.
def q_ngram_jaccard_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), JACCARD_THRESHOLD)


# The 100 TB default: hot shingles (document frequency > MAX_SHINGLE_DF) are
# dropped from the pair-generation index — a shingle in f docs contributes
# f·(f-1)/2 join rows, the measured scale-killer of the exact path (SCALE.md).
# Sizes stay pre-cap, so the estimate only ever biases DOWN; recall vs the
# exact path is 1.0 at sf0.01 (pinned in tests/test_dedup.py). The capped
# semantics are themselves deterministic, so this variant has its own exact
# oracle — the uncapped query above stays as the ground-truth twin.
MAX_SHINGLE_DF = 20


@register(
    "ngram_jaccard_pairs_capped",
    "WITH "
    + SHINGLES_SQL
    + f"""
, sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
-- the engine shuffles a fixed-width md5 slice instead of shingle text;
-- mirror the identical key so the comparison stays exact
hsh AS (SELECT doc_id, substr(md5(shingle), 1, 16) AS hkey FROM sh),
dfc AS (SELECT hkey FROM hsh GROUP BY hkey HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
idx AS (SELECT hsh.doc_id, hsh.hkey FROM hsh JOIN dfc USING (hkey)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM idx a JOIN idx b ON a.hkey = b.hkey AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter,
       ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= {JACCARD_THRESHOLD}
""",
)
def q_ngram_jaccard_pairs_capped(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), JACCARD_THRESHOLD, max_shingle_df=MAX_SHINGLE_DF
    )


# ---------------------------------------------------------------------------
# SimHash signatures (row-level; hamming clustering in tests/test_dedup.py).
# ---------------------------------------------------------------------------
def _simhash_sql(bits: int = dedup.SIMHASH_BITS) -> str:
    bit_sums = ", ".join(
        f"SUM((h >> {j} & 1) * 2 - 1) AS s{j}" for j in range(bits)
    )
    sim = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hashed AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok
),
bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM bits
"""


# Not registered: doc_profile carries the simhash column for the contract;
# hamming clustering stays pinned in tests/test_dedup.py.
def q_simhash_signatures(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir))


def _simhash_pairs_sql(max_hamming: int = 3, bits: int = dedup.SIMHASH_BITS) -> str:
    """Banded hamming≤k oracle: same block pigeonhole as the engine."""
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    mask = (1 << width) - 1
    return f"""
WITH sims AS ({_simhash_sql(bits)}),
idx AS (
  SELECT doc_id, simhash, CAST(b.blk AS INT) AS blk,
         (simhash >> (CAST(b.blk AS INT) * {width})) & {mask} AS val
  FROM sims, UNNEST(range({n_blocks})) AS b(blk)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM idx a JOIN idx b
  ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


SIMHASH_PAIRS_ORACLE = _simhash_pairs_sql()

# Both widths carry the same oracle gate: at bits=60 (15-bit banding
# blocks) DuckDB reproduces the signatures and the banded pair set exactly
# (2^59 bit sums stay BIGINT).
SIMHASH_PAIRS_WIDE_ORACLE = _simhash_pairs_sql(bits=60)


# The 16-bit default width stays oracle-gated in pytest + parity --extras
# (x_simhash_16); it is the hamming-GRANULARITY compat width, not the
# serving recommendation.
def q_simhash_near_pairs_16(spark, sf_dir):
    return dedup.simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


# r6 rotation: the Manku banded hamming<=3 pair operator joined the contract
# (q10's triply-covered dim-join slot ceded) — hamming-band near-dedup is a
# capability the driver gate should see directly. The contract row runs the
# CORPUS-SCALE width (bits=60 → 15-bit banding blocks): benching the 16-bit
# compat width showed the documented selectivity cliff, not the serving
# path (4-bit blocks ≈ n²/16-per-block candidate fan-out — 4.6 s vs ~1 s at
# sf0.1), and the driver gate should see the plan a 100 TB run would use.
@register("simhash_near_pairs", SIMHASH_PAIRS_WIDE_ORACLE)
def q_simhash_near_pairs(spark, sf_dir):
    return dedup.simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3, bits=60)


# ---------------------------------------------------------------------------
# Similarity search: exact brute-force cosine top-k (baseline path).
# ---------------------------------------------------------------------------
COSINE_SQL = """
q AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
      FROM embeddings WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS n_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS n_emb
      FROM embeddings),
sims AS (
  SELECT q_id, n_id,
         ROUND(list_inner_product(q_emb, n_emb)
               / (sqrt(list_inner_product(q_emb, q_emb)) * sqrt(list_inner_product(n_emb, n_emb))),
               6) AS sim6
  FROM q JOIN c ON q_id <> n_id
)
"""


EMBEDDING_TOPK_ORACLE = (
    "WITH "
    + COSINE_SQL
    + """
, ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim6 DESC, n_id) AS rk FROM sims
)
SELECT q_id, n_id AS neighbor_id, ROUND(sim6, 3) AS sim, rk FROM ranked WHERE rk <= 5
"""
)


# r13: embedding_topk is RE-REGISTERED. The r12 rotation (swap for
# semantic_decon_served) read as a dropped contract query to the driver;
# both rows are declared from r13 on (51 slots). The oracle also stays in
# parity extras (x_embedding_topk) and tests/test_similarity.py.
@register("embedding_topk", EMBEDDING_TOPK_ORACLE)
def q_embedding_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return similarity.brute_force_topk(emb, queries, k=5)


# ---------------------------------------------------------------------------
# Dense decontamination served from the MAINTAINED vector store (r12
# rotation — the dense twin of bm25_topk_served): the query builds an IVF
# store in a scratch dir with a PLANTED contaminated doc (-77 = an exact
# copy of eval 7's embedding) that exists ONLY in the store-build input,
# then flags every stored vector within min_sim of ANY eval — entirely
# from the store (exact posture, n_probe=None). The oracle recomputes
# cosine from the raw embeddings table and synthesizes the same planted
# row, so a hash match proves the store round-trip: build → persist →
# latest-wins read → threshold flag → strongest-accuser tie-break.
# Threshold semantics (NOT top-k): sim6 >= 0.30 at 6 decimals, strongest
# (sim DESC, eval_id) accusation per doc; display sim at 3 decimals (the
# embedding_near_dup_pairs cross-engine rounding posture).
# ---------------------------------------------------------------------------
SEMANTIC_DECON_SERVED_ORACLE = """
WITH evals AS (
  SELECT vec_id AS eval_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
  FROM embeddings WHERE vec_id % 100 = 7
),
corpus AS (
  SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT -77 AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id = 7
),
hits AS (
  SELECT c.doc_id, e.eval_id,
         ROUND(list_inner_product(c.v, e.q)
               / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(e.q, e.q))), 6) AS sim6
  FROM corpus c, evals e
),
flagged AS (SELECT * FROM hits WHERE sim6 >= 0.30),
ranked AS (
  SELECT doc_id, eval_id, sim6,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sim6 DESC, eval_id) AS rk
  FROM flagged
)
SELECT doc_id, eval_id, ROUND(sim6, 3) AS sim FROM ranked WHERE rk = 1
"""


@register("semantic_decon_served", SEMANTIC_DECON_SERVED_ORACLE)
def q_semantic_decon_served(spark, sf_dir):
    import shutil
    import tempfile

    from pulsar_replay_spark.operators import vecstore

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    evals = emb.filter(F.col("vec_id") % 100 == 7)
    planted = emb.filter(F.col("vec_id") == 7).select(
        F.lit(-77).cast("long").alias("vec_id"), "embedding"
    )
    # scratch store: materialize the served result, then remove (the
    # bm25_topk_served discipline — this runs under gate+parity+bench)
    store = tempfile.mkdtemp(prefix="ivf_store_decon_")
    try:
        vecstore.ivf_index_build(emb.unionByName(planted), store)
        return (
            vecstore.semantic_decontaminate_from_index(
                spark, store, evals, min_sim=0.30, n_probe=None
            )
            .select("doc_id", "eval_id", F.round("sim", 3).alias("sim"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)


# ---------------------------------------------------------------------------
# Bitext mining (Artetxe & Schwenk margin scoring): the embeddings fixture
# split into two pseudo-corpora (vec_id parity) stands in for two languages.
# Pytest + parity --extras (x_bitext); not a contract slot (contract full).
# ---------------------------------------------------------------------------
BITEXT_ORACLE = """
WITH a AS (SELECT vec_id AS a_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings WHERE vec_id % 2 = 0),
b AS (SELECT vec_id AS b_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id % 2 = 1),
sims AS (
  SELECT a_id, b_id,
         ROUND(list_inner_product(a.e, b.e)
               / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))),
               6) AS sim6
  FROM a, b
),
fwd AS (SELECT a_id, b_id, sim6 FROM (
          SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim6 DESC, b_id) AS rk
          FROM sims) WHERE rk <= 4),
bwd AS (SELECT a_id, b_id, sim6 FROM (
          SELECT *, row_number() OVER (PARTITION BY b_id ORDER BY sim6 DESC, a_id) AS rk
          FROM sims) WHERE rk <= 4),
-- order-free int-scaled neighbourhood average (same trick as the engine)
avg_a AS (SELECT a_id, SUM(CAST(ROUND(sim6 * 1000000) AS BIGINT)) / (COUNT(*) * 1000000.0) AS avg_a
          FROM fwd GROUP BY a_id),
avg_b AS (SELECT b_id, SUM(CAST(ROUND(sim6 * 1000000) AS BIGINT)) / (COUNT(*) * 1000000.0) AS avg_b
          FROM bwd GROUP BY b_id),
cands AS (SELECT DISTINCT a_id, b_id, sim6
          FROM (SELECT * FROM fwd UNION ALL SELECT * FROM bwd)),
scored AS (
  SELECT c.a_id, c.b_id, c.sim6,
         FLOOR(c.sim6 / ((avg_a + avg_b) / 2) * 10000 + 0.5) / 10000.0 AS margin
  FROM cands c JOIN avg_a USING (a_id) JOIN avg_b USING (b_id)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS rka,
            row_number() OVER (PARTITION BY b_id ORDER BY margin DESC, a_id) AS rkb
  FROM scored
)
SELECT a_id, b_id, FLOOR(sim6 * 1000 + 0.5) / 1000.0 AS sim, margin
FROM ranked WHERE rka = 1 AND rkb = 1 AND margin >= 1.0
"""


def q_bitext_mine(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return similarity.bitext_mine(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=4,
        margin_threshold=1.0,
    )


# ---------------------------------------------------------------------------
# Similarity search: random-hyperplane LSH bucket assignment (the scale
# path; ANN recall vs brute force is pinned in tests/test_similarity.py).
# ---------------------------------------------------------------------------
# Not registered: ann_lsh_topk drives the same signature pipeline end-to-end
# with a full oracle; the histogram stays as a diagnostic (tests/test_similarity.py).
def q_lsh_bucket_histogram(spark, sf_dir):
    b = similarity.lsh_buckets(_emb(spark, sf_dir))
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_vecs"), F.min("vec_id").alias("min_vec_id")
    )


def _lsh_sig_expr() -> str:
    planes = []
    for p in range(similarity.N_PLANES):
        hp = (
            f"list_transform(range(0, {similarity.DIM}), "
            f"j -> CASE WHEN substr(md5('{p}-' || CAST(j AS VARCHAR)), 1, 1) "
            f"IN ('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END)"
        )
        planes.append(
            f"(CASE WHEN list_inner_product(vd, {hp}) > 0 THEN {2**p} ELSE 0 END)"
        )
    return " + ".join(planes)


# The benched similarity serving path: multi-table LSH candidate generation
# (equi-join on (table, bucket) — no nested-loop anywhere in the plan, gated
# in tests/test_plans.py) + exact cosine rerank of candidates only. The
# brute-force `embedding_topk` above stays as the recall oracle; this query's
# own DuckDB twin reproduces signatures, table buckets, candidate set, and
# rerank exactly.
_ANN_LSH_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
),
sig AS (SELECT vec_id, vd, CAST({{sig}} AS BIGINT) AS sig FROM e),
tb AS (
  SELECT vec_id, t.i AS tbl, (sig >> (CAST(t.i AS INT) * {similarity.BITS_PER_TABLE}))
         & {2 ** similarity.BITS_PER_TABLE - 1} AS bucket
  FROM sig CROSS JOIN range(0, {similarity.N_TABLES}) t(i)
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
  FROM tb q JOIN tb c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id
),
sims AS (
  SELECT cand.q_id, cand.n_id,
         ROUND(list_inner_product(qe.vd, ne.vd)
               / (sqrt(list_inner_product(qe.vd, qe.vd)) * sqrt(list_inner_product(ne.vd, ne.vd))),
               6) AS sim6
  FROM cand JOIN sig qe ON qe.vec_id = cand.q_id JOIN sig ne ON ne.vec_id = cand.n_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim6 DESC, n_id) AS rk FROM sims
)
SELECT q_id, n_id AS neighbor_id, ROUND(sim6, 3) AS sim, rk FROM ranked WHERE rk <= 5
"""


@register("ann_lsh_topk", _ANN_LSH_SQL.format(sig=_lsh_sig_expr()))
def q_ann_lsh_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return similarity.lsh_topk(emb, queries, k=5)


# ---------------------------------------------------------------------------
# Multimodal: typed metadata over opaque binary payloads (frame sampling and
# the dHash thumbnails are the mapInPandas paths in operators/multimodal.py,
# tested in tests/test_multimodal.py and tests/test_perceptual_dedup.py).
# ---------------------------------------------------------------------------
@register(
    "multimodal_meta",
    """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       octet_length(encode(text)) AS byte_len,
       sha256(text) AS sha256
FROM documents
""",
)
def q_multimodal_meta(spark, sf_dir):
    return multimodal.as_media(_docs(spark, sf_dir)).select(
        "doc_id", "media_type", "byte_len", "sha256"
    )


# The fake frames are deterministic byte slices of the UTF-8 payload
# (operators/multimodal.py:frame_sample), so the 1→N Arrow fan-out is fully
# value-checkable: the oracle re-derives each frame as a hex-string slice
# (DuckDB has no BLOB substring — hex doubles offsets/lengths instead).
@register(
    "video_frame_sample",
    """
WITH v AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         greatest(octet_length(encode(text)), 1) AS dur_ms
  FROM documents WHERE doc_id % 3 = 2
),
f AS (
  SELECT doc_id, CAST(t.i AS INT) AS frame_idx,
         CAST((t.i * dur_ms) // 4 AS BIGINT) AS offset_ms, hx
  FROM v CROSS JOIN range(0, 4) t(i)
)
SELECT doc_id, frame_idx, offset_ms,
       substring(hx, CAST(offset_ms * 2 + 1 AS BIGINT), 32) AS frame_hex,
       CAST(length(substring(hx, CAST(offset_ms * 2 + 1 AS BIGINT), 32)) // 2 AS INT)
         AS frame_len
FROM f
""",
)
def q_video_frame_sample(spark, sf_dir):
    media = multimodal.as_media(_docs(spark, sf_dir))
    frames = multimodal.frame_sample(media, n_frames=4)
    return frames.select(
        "doc_id",
        "frame_idx",
        "offset_ms",
        F.hex("frame_bytes").alias("frame_hex"),
        F.octet_length("frame_bytes").alias("frame_len"),
    )


# ---------------------------------------------------------------------------
# Perceptual image near-dedup under the driver gate (rotated IN in r8,
# replacing q18_large_volume_orders — the semi-join family stays covered by
# q4/q22, the dim-join shape by q3): the documents' image tier plus planted
# first-char-nudged clones runs the REAL engine path — locality-preserving
# 8×8 thumbnails (frame_thumbs' nearest-sample fake), 56-bit dHash
# (_dhash_bytes), and the shared pigeonhole banded-hamming join
# (dedup.banded_hamming_pairs). The oracle re-derives every stage in SQL:
# byte sampling via hex slicing, the 56 row-adjacent comparison bits, the
# 5×11-bit pigeonhole blocks, the block equi-join, and the XOR popcount
# verify — the ngram_jaccard hashed-key discipline applied to bit
# signatures. Planted clones differ in pixel 0 only (hamming ≤ 3), so the
# result is load-bearing (≥ the 17 planted pairs, never 0=0).
# ---------------------------------------------------------------------------
_IMG_CLONE_OFFSET = 1_000_000

_IMAGE_NEAR_DUP_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + {_IMG_CLONE_OFFSET} AS doc_id, 'x' || substr(text, 2) AS text
  FROM documents WHERE doc_id % 30 = 0
),
b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM corpus
),
px AS (
  SELECT doc_id, CAST(t.i AS INT) AS p,
         ('0x' || substr(hx, CAST(((t.i * n) // 64) * 2 + 1 AS BIGINT), 2))::BIGINT AS v
  FROM b CROSS JOIN range(0, 64) t(i)
),
sig AS (
  SELECT l.doc_id,
         CAST(COALESCE(SUM(CASE WHEN l.v < r.v
              THEN (CAST(1 AS BIGINT) << CAST((l.p // 8) * 7 + (l.p % 8) AS INT))
              ELSE 0 END), 0) AS BIGINT) AS simhash
  FROM px l JOIN px r ON r.doc_id = l.doc_id AND r.p = l.p + 1
  WHERE l.p % 8 < 7
  GROUP BY l.doc_id
),
blocks AS (
  SELECT doc_id, simhash, CAST(t.i AS INT) AS blk,
         (simhash >> CAST(t.i * 11 AS INT)) & 2047 AS val
  FROM sig CROSS JOIN range(0, 5) t(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sa, sb)) <= 4
"""


@register("image_near_dup_pairs", _IMAGE_NEAR_DUP_SQL)
def q_image_near_dup_pairs(spark, sf_dir):
    base = _docs(spark, sf_dir).filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "text"
    )
    clones = base.filter(F.col("doc_id") % 30 == 0).select(
        (F.col("doc_id") + _IMG_CLONE_OFFSET).alias("doc_id"),
        F.concat(F.lit("x"), F.expr("substring(text, 2)")).alias("text"),
    )
    frames = base.unionByName(clones).select(
        "doc_id",
        F.lit(0).alias("frame_idx"),
        F.encode("text", "UTF-8").alias("frame_bytes"),
    )
    thumbs = multimodal.frame_thumbs(frames, width=8, height=8).select(
        "doc_id", "width", "height", "thumb"
    )
    return multimodal.image_near_dup_pairs(thumbs, max_hamming=4)


# ---------------------------------------------------------------------------
# Near-dup clusters: candidate pairs → connected components (iterative
# min-label propagation in Spark; recursive CTE in the oracle).
# ---------------------------------------------------------------------------
from pulsar_replay_spark.registry import ORACLES as _ORACLES

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_ORACLES["minhash_pairs"]}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach(v, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, rr.r FROM reach rr JOIN edges e ON e.src = rr.v
),
lab AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v)
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM lab GROUP BY cluster_id HAVING COUNT(*) > 1
"""


@register("near_dup_clusters", _CLUSTERS_ORACLE)
def q_near_dup_clusters(spark, sf_dir):
    return dedup.near_dup_clusters(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# TF-IDF top terms per source: corpus statistics for training-data curation
# (which terms characterize each source). One explode over tokens; document
# frequency and per-source term counts are two aggs over it; the scalar
# corpus size joins in as a broadcast literal-frame (never a collect).
# r10 rotation: NOT registered — its slot went to `span_scrub`; the token
# explode → tf/df aggs → broadcast stat join → windowed top-k plan family
# stays contract-covered (strictly supersetted) by `bm25_topk`. Still
# oracle-gated in pytest (test_unregistered_tfidf_matches_oracle) + parity
# --extras (x_tfidf).
# ---------------------------------------------------------------------------
TFIDF_ORACLE = r"""
WITH tok AS (
  SELECT source, doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n_term FROM tok GROUP BY source, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.source, tf.term, tf.n_term,
         ROUND(tf.n_term * LN(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, term) AS rk
  FROM scored
)
SELECT source, term, n_term, score, CAST(rk AS INT) AS rk FROM ranked WHERE rk <= 3
"""


def q_tfidf_top_terms(spark, sf_dir):
    from pyspark.sql.window import Window

    from pulsar_replay_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "source", "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("source", "term").agg(F.count("*").alias("n_term"))
    df_t = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("n_term") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("source", "term", "n_term", "score", "rk")
    )


# ---------------------------------------------------------------------------
# Stratified deterministic sampling: different rates per stratum (heavy
# classes downsampled harder), driven by a content hash so the sample is
# stable under repartitioning and engine choice.
# ---------------------------------------------------------------------------
# Not registered: sampling_counts (queries_relational) carries this as its
# stratified_events leg.
def q_stratified_sample_counts(spark, sf_dir):
    from pulsar_replay_spark.session import load_events

    ev = load_events(spark, sf_dir)
    cutoff = F.when(F.col("event_type") == "click", F.lit("0")).otherwise(F.lit("3"))
    return (
        ev.filter(F.substring(F.md5(F.col("event_id").cast("string")), 1, 1) <= cutoff)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_sampled"))
    )


# ---------------------------------------------------------------------------
# Per-label centroid cohesion: posexplode → per-dimension mean (the
# distributed way to average vectors — no array-sum aggregate exists, and a
# collect-then-numpy loop wouldn't scale) → cosine of each member to its
# centroid → per-label average. The per-dim agg shuffles (label, dim) keys:
# 64·|labels| rows, constant in corpus size.
# ---------------------------------------------------------------------------
@register(
    "label_centroid_cohesion",
    """
WITH pos AS (
  SELECT label, vec_id, i, embedding[i]::DOUBLE AS x
  FROM embeddings, range(1, 65) r(i)
),
cent AS (SELECT label, i, AVG(x) AS c FROM pos GROUP BY label, i),
dots AS (
  SELECT p.label, p.vec_id,
         SUM(p.x * c.c) AS dp, SQRT(SUM(p.x * p.x)) AS nv, SQRT(SUM(c.c * c.c)) AS nc
  FROM pos p JOIN cent c ON p.label = c.label AND p.i = c.i
  GROUP BY p.label, p.vec_id
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(AVG(dp / (nv * nc)), 3) AS avg_cos_to_centroid
FROM dots GROUP BY label
""",
)
def q_label_centroid_cohesion(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pos = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("label", "vec_id", "i", F.col("xf").cast("double").alias("x"))
    cent = pos.groupBy("label", "i").agg(F.avg("x").alias("c"))
    dots = (
        pos.join(F.broadcast(cent), ["label", "i"])
        .groupBy("label", "vec_id")
        .agg(
            F.sum(F.col("x") * F.col("c")).alias("dp"),
            F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nv"),
            F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"),
        )
    )
    return dots.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg(F.col("dp") / (F.col("nv") * F.col("nc"))), 3).alias(
            "avg_cos_to_centroid"
        ),
    )


# ---------------------------------------------------------------------------
# Character-entropy quality proxy: low-entropy docs are repetitive/degenerate
# (boilerplate, padding) — a cheap first-pass quality filter before any model
# scoring. explode-to-chars inflates rows ×len but reduces immediately to
# (doc, char) counts; entropy itself is two aggs.
# ---------------------------------------------------------------------------
# Not registered: source_profile carries avg_entropy per source for the
# contract; the per-doc entropy operator stays pinned in tests/test_quality.py.
def q_char_entropy_by_source(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    chars = docs.select(
        "doc_id", "source", F.explode(F.split("text", "")).alias("ch")
    )
    freq = chars.groupBy("doc_id", "source", "ch").agg(F.count("*").alias("n"))
    freq = freq.withColumn(
        "tot", F.sum("n").over(Window.partitionBy("doc_id"))
    )
    p = F.col("n") / F.col("tot")
    ent = freq.groupBy("doc_id", "source").agg(
        (-F.sum(p * F.log2(p))).alias("h")
    )
    return ent.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.round(F.avg("h"), 3).alias("avg_entropy")
    )


@register(
    "dedup_corpus_stats",
    f"""
WITH RECURSIVE pairs AS ({_ORACLES["minhash_pairs"]}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach(v, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, rr.r FROM reach rr JOIN edges e ON e.src = rr.v
),
lab AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
losers AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_total,
       CAST((SELECT COUNT(*) FROM losers) AS BIGINT) AS n_removed,
       CAST((SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM losers) AS BIGINT) AS n_survivors
""",
)
def q_dedup_corpus_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    survivors = dedup.dedup_corpus(docs)
    return (
        docs.agg(F.count("*").alias("n_total"))
        .join(survivors.agg(F.count("*").alias("n_survivors")))
        .select(
            "n_total",
            (F.col("n_total") - F.col("n_survivors")).alias("n_removed"),
            "n_survivors",
        )
    )


# ---------------------------------------------------------------------------
# IVF ANN top-k, oracle-checked end-to-end (centroid pick → cell assignment →
# nprobe candidate generation → exact rerank) — the full inverted-file path
# reproduced in SQL with the same double-cast arithmetic as COSINE_SQL.
# ---------------------------------------------------------------------------
_IVF_COS = (
    "ROUND(list_inner_product({a}, {b}) / "
    "(sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b}))), 6)"
)

# Raw (un-rounded) cosine: assignment argmax ordering mirrors ivf_assign /
# nearest_cells, which rank on the raw fold (the r4 Arrow assignment path).
_RAW_COS = (
    "list_inner_product({a}, {b}) / "
    "(sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b})))"
)

_IVF_SQL = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
cents AS (SELECT vec_id AS cell_id, emb AS cent FROM e ORDER BY vec_id LIMIT 16),
ca AS (
  SELECT vec_id, cell_id FROM (
    SELECT v.vec_id, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {_RAW_COS.format(a="v.emb", b="c.cent")} DESC, c.cell_id) AS rn
    FROM e v CROSS JOIN cents c) WHERE rn <= 1
),
qa AS (
  SELECT vec_id, cell_id FROM (
    SELECT v.vec_id, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {_RAW_COS.format(a="v.emb", b="c.cent")} DESC, c.cell_id) AS rn
    FROM e v CROSS JOIN cents c WHERE v.vec_id % 100 = 0) WHERE rn <= 4
),
cand AS (
  SELECT DISTINCT qa.vec_id AS q_id, ca.vec_id AS n_id
  FROM qa JOIN ca USING (cell_id) WHERE qa.vec_id <> ca.vec_id
),
sims AS (
  SELECT cand.q_id, cand.n_id,
         {_IVF_COS.format(a="qe.emb", b="ne.emb")} AS sim6
  FROM cand JOIN e qe ON qe.vec_id = cand.q_id JOIN e ne ON ne.vec_id = cand.n_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim6 DESC, n_id) AS rk
  FROM sims
)
SELECT q_id, n_id AS neighbor_id, ROUND(sim6, 3) AS sim, rk FROM ranked WHERE rk <= 5
"""


@register("ann_ivf_topk", _IVF_SQL)
def q_ann_ivf_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return similarity.ivf_topk(emb, queries, k=5)


# ---------------------------------------------------------------------------
# SemDeDup (semantic dedup) keep/drop verdicts, oracle-checked end-to-end:
# seed-centroid assignment → within-cell pair scan → centroid-outlier keep
# priority — the full operator reproduced in SQL with the same rounded
# double-cast cosine as the IVF oracle. Promoted to a contract row in r3
# (was pytest-only; its numpy-mirror test showed it is exactly oracle-able).
# ---------------------------------------------------------------------------
_SEMDEDUP_TAU = 0.6

_SEMDEDUP_SQL = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
cents AS (SELECT vec_id AS cell_id, emb AS cent FROM e ORDER BY vec_id LIMIT 16),
member AS (
  -- assignment argmax runs on the RAW cosine (cell_id tie-break), mirroring
  -- nearest_cells; the carried/output sim is the winner's ROUND(...,6)
  SELECT vec_id, cell_id, ROUND(csim, 6) AS centroid_sim FROM (
    SELECT v.vec_id, c.cell_id,
           {_RAW_COS.format(a="v.emb", b="c.cent")} AS csim,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {_RAW_COS.format(a="v.emb", b="c.cent")} DESC, c.cell_id) AS rn
    FROM e v CROSS JOIN cents c) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM member a
  JOIN member b ON a.cell_id = b.cell_id
   AND (a.centroid_sim < b.centroid_sim
        OR (a.centroid_sim = b.centroid_sim AND a.vec_id < b.vec_id))
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE {_IVF_COS.format(a="ea.emb", b="eb.emb")} >= {_SEMDEDUP_TAU}
)
SELECT m.vec_id, m.cell_id, m.centroid_sim, (d.vec_id IS NULL) AS keep
FROM member m LEFT JOIN dropped d ON d.vec_id = m.vec_id
"""


@register("semantic_dedup", _SEMDEDUP_SQL)
def q_semantic_dedup(spark, sf_dir):
    return similarity.semantic_dedup(_emb(spark, sf_dir), threshold=_SEMDEDUP_TAU)


# ---------------------------------------------------------------------------
# Gopher-style repetition quality signals + composed quality-filter funnel +
# benchmark decontamination (train/eval shingle overlap).
# ---------------------------------------------------------------------------
_REP_SIG_SQL = """
t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
b AS (SELECT doc_id, source, toks,
        CASE WHEN len(toks) >= 2
             THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS bgs
      FROM t)
"""


# Not registered: doc_profile carries the three repetition ratios per doc.
def q_doc_repetition(spark, sf_dir):
    from pulsar_replay_spark.operators.quality import repetition_signals

    return repetition_signals(_docs(spark, sf_dir))


# Not registered: source_profile carries n_keep/keep_rate per source.
def q_quality_funnel(spark, sf_dir):
    """Composed C4/Gopher-style keep/drop funnel per source: language proxy
    (stopword density), length bound, and the three repetition signals.
    Single map pass + one tiny agg on `source` — the whole filter chain is
    shuffle-free until the final per-source rollup."""
    docs = _docs(spark, sf_dir)
    text = F.col("text")
    t = tokens(text)
    bg = bigrams(text)
    n_tok = F.size(t)
    n_bg = F.size(bg)
    sig = docs.select(
        "source",
        n_tok.alias("n_tokens"),
        F.round(stopword_count(text) / token_count(text), 4).alias("stop_r"),
        F.round(1 - F.size(F.array_distinct(t)) / n_tok, 4).alias("dup_tok"),
        F.when(n_bg > 0, F.round(1 - F.size(F.array_distinct(bg)) / n_bg, 4))
        .otherwise(F.lit(0.0))
        .alias("dup_bg"),
        F.round(top_token_count(text) / n_tok, 4).alias("top_r"),
    )
    keep = (
        (F.col("n_tokens") >= 20)
        & (F.col("stop_r") > 0.02)
        & (F.col("dup_tok") <= 0.6)
        & (F.col("dup_bg") <= 0.05)
        & (F.col("top_r") <= 0.15)
    )
    n_keep = F.count(F.when(keep, 1))
    return sig.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        n_keep.alias("n_keep"),
        F.round(n_keep / F.count("*"), 4).alias("keep_rate"),
    )


_DECON_SQL = """
WITH hashed AS (
  SELECT doc_id, text,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 20 = 0 AS is_bench
  FROM documents
),
csh AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE [] END)) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM hashed WHERE NOT is_bench)
),
bsh AS (
  SELECT DISTINCT unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE [] END)) AS shingle
  FROM (SELECT string_split(text, ' ') AS t FROM hashed WHERE is_bench)
),
ov AS (
  SELECT csh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM csh JOIN bsh USING (shingle) GROUP BY csh.doc_id
)
SELECT h.doc_id,
       COALESCE(ov.n_overlap, 0) AS n_overlap,
       COALESCE(ov.n_overlap, 0) >= 8 AS contaminated
FROM hashed h LEFT JOIN ov ON ov.doc_id = h.doc_id
WHERE NOT h.is_bench
"""


@register("decontaminate", _DECON_SQL)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination over a deterministic md5-hash split of the
    corpus (~5% 'benchmark'): per training doc, distinct 3-shingle overlap
    with the benchmark pool. See operators/dedup.benchmark_overlap for the
    broadcast-probe plan rationale."""
    docs = _docs(spark, sf_dir)
    is_bench = token_hash60(F.col("doc_id").cast("string")) % 20 == 0
    return dedup.benchmark_overlap(
        docs.filter(~is_bench), docs.filter(is_bench), min_overlap=8
    )


# ---------------------------------------------------------------------------
# Exact-substring (chunk-level) dedup — sub-document granularity: per-doc
# counts of 10-token windows kept vs dropped under global first-occurrence
# dedup. Oracle mirrors the segmentation with DuckDB list slicing and the
# same (doc_id, chunk_idx) position ordering.
# ---------------------------------------------------------------------------
# Not registered: scrubbed_corpus carries the per-doc n_chunks/n_kept_chunks
# counts alongside the reassembled text.
def q_chunk_dedup_stats(spark, sf_dir):
    marks = dedup.chunk_dedup_marks(_docs(spark, sf_dir), chunk_tokens=10)
    return marks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Chunk-dedup end product: the scrubbed corpus itself (surviving windows
# reassembled in order, value-hash-checked text output) plus the per-doc
# total/surviving chunk counts. Every doc appears; fully-scrubbed docs have
# an empty cleaned_text.
# r10 rotation: NOT registered — its slot went to `dup_span_scrub`, the
# any-length exact-substring generalization of the same family (fixed
# 10-token windows are a strict subset of what the positioned-k-gram path
# sees). Still oracle-gated in pytest (test_unregistered_scrubbed_corpus
# _matches_oracle) + parity --extras (x_scrubbed_corpus).
# ---------------------------------------------------------------------------
SCRUBBED_CORPUS_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
chunks AS (
  SELECT doc_id, CAST(u.gs AS INT) AS chunk_idx,
         array_to_string(t[u.gs*10+1 : u.gs*10+10], ' ') AS chunk
  FROM toks, UNNEST(range(CAST(ceil(len(t) / 10.0) AS BIGINT))) AS u(gs)
),
marked AS (
  SELECT doc_id, chunk_idx, chunk,
         ROW_NUMBER() OVER (
           PARTITION BY chunk ORDER BY doc_id, chunk_idx
         ) AS rn
  FROM chunks
)
SELECT doc_id,
       COALESCE(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE rn = 1),
                '') AS cleaned_text,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_chunks
FROM marked
GROUP BY doc_id
"""


def q_scrubbed_corpus(spark, sf_dir):
    return dedup.scrub_repeated_chunks(_docs(spark, sf_dir), chunk_tokens=10)


# ---------------------------------------------------------------------------
# Any-length exact-substring dedup (r10, Lee et al. arXiv:2107.06499): the
# scrubbed corpus under the positioned-k-gram duplicate-span finder — every
# duplicated token span of length >= 10 at ANY alignment loses all but its
# first occurrence. Rotated INTO the contract over `scrubbed_corpus` (same
# family, strictly more general). Load-bearing by construction: the query
# plants three clones of the 3 lowest doc_ids' token slices at VARIABLE
# lengths (11, 25, 63 tokens — the verdict's boundary cases; 11 exceeds
# k=10 by one, so exact boundaries matter), which MUST scrub to empty while
# their sources keep every token. The oracle re-derives grams, global
# first-occurrence ranks, covered positions, and the token-level rebuild.
# ---------------------------------------------------------------------------
DUP_SPAN_ORACLE = """
WITH low3 AS (
  SELECT doc_id, text, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 3)
),
clones AS (
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           string_split(text, ' ')[5 : 4 + CASE rn WHEN 1 THEN 11
                                               WHEN 2 THEN 25
                                               ELSE 63 END],
           ' ') AS text
  FROM low3
),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM clones
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
grams AS (
  SELECT doc_id, CAST(u.i AS INT) AS pos,
         array_to_string(t[CAST(u.i AS INT) + 1 : CAST(u.i AS INT) + 10],
                         ' ') AS g
  FROM toks, UNNEST(range(len(t) - 9)) AS u(i)
  WHERE len(t) >= 10
),
marked AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY g) AS c,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk
  FROM grams
),
scrub AS (SELECT doc_id, pos FROM marked WHERE c > 1 AND rk > 1),
covered AS (
  SELECT DISTINCT doc_id, pos + CAST(u.d AS INT) AS i
  FROM scrub, UNNEST(range(10)) AS u(d)
),
trows AS (
  SELECT doc_id, CAST(u.i AS INT) - 1 AS i, t[CAST(u.i AS INT)] AS tok
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
),
joined AS (
  SELECT tr.doc_id, tr.i, tr.tok, (c.i IS NULL) AS keep
  FROM trows tr LEFT JOIN covered c ON tr.doc_id = c.doc_id AND tr.i = c.i
)
SELECT doc_id,
       COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE keep), '')
         AS cleaned_text,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_tokens
FROM joined
GROUP BY doc_id
"""


# The remove-all policy leg (keep='none'): every occurrence of duplicated
# content leaves, the first included — the boilerplate-nobody-wants
# variant. Not registered (the registered row carries keep='first', the
# Lee et al. default); oracle-gated in pytest + parity --extras
# (x_dup_span_none). Oracle = the registered one minus the rk > 1 guard.
DUP_SPAN_NONE_ORACLE = DUP_SPAN_ORACLE.replace(
    "WHERE c > 1 AND rk > 1", "WHERE c > 1"
)


def _planted_clone_docs(spark, sf_dir):
    """The dup-span gate's planted corpus, shared by BOTH scrub legs so
    they cannot drift from each other or from the oracles' clone CTE:
    documents plus three clones of the 3 lowest doc_ids' token slices at
    the verdict's boundary lengths (11/25/63 tokens, offset 5), clone
    doc_id = source + 1e6. Mirrors DUP_SPAN_ORACLE's `clones` CTE
    literal-for-literal."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    w = Window.orderBy("doc_id")
    low3 = (
        docs.orderBy("doc_id")
        .limit(3)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_len",
            F.when(F.col("_rn") == 1, 11).when(F.col("_rn") == 2, 25).otherwise(63),
        )
    )
    clones = low3.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), F.lit(5), F.col("_len")), " "
        ).alias("text"),
    )
    return docs.unionByName(clones)


def q_dup_span_scrub_none(spark, sf_dir):
    return dedup.dup_span_scrub(
        _planted_clone_docs(spark, sf_dir), min_tokens=10, keep="none"
    )


@register("dup_span_scrub", DUP_SPAN_ORACLE)
def q_dup_span_scrub(spark, sf_dir):
    return dedup.dup_span_scrub(_planted_clone_docs(spark, sf_dir), min_tokens=10)


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-cut): each document's half-open token span in
# its shard's packed stream + the sequence ids containing its first/last
# token. Integer-only (md5 hex-prefix shard, window cumsum, exact //) so the
# oracle is hash-exact. Rotated INTO the contract in r4 (replacing
# q5_region_revenue, whose broadcast-dim-join shape q3/q10 triple-cover) to
# put the packing tier under the driver gate.
# ---------------------------------------------------------------------------
@register(
    "pack_sequences",
    """
WITH lens AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
              % 16 AS INT) AS shard,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
  FROM documents
),
spans AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
              AS BIGINT) AS end_tok
  FROM lens
)
SELECT doc_id, shard, n_tokens,
       end_tok - n_tokens AS start_tok, end_tok,
       (end_tok - n_tokens) // 512 AS first_seq,
       (end_tok - 1) // 512 AS last_seq
FROM spans
""",
)
def q_pack_sequences(spark, sf_dir):
    from pulsar_replay_spark.operators.packing import pack_token_stream

    return pack_token_stream(_docs(spark, sf_dir), seq_len=512, n_shards=16)


# source_profile's oracle is built here because it reuses _REP_SIG_SQL,
# defined above its registration point.
_ORACLES["source_profile"] = _source_profile_sql()


# ---------------------------------------------------------------------------
# CCNet-style line-frequency boilerplate scrub (r8): the complement of
# scrubbed_corpus' keep-first chunks — a line in >= max_doc_freq distinct
# docs (nav chrome, cookie banners) is removed from EVERY document. Not
# registered (the 50-slot contract carries the chunk family via
# scrubbed_corpus); oracle-gated in pytest + parity --extras (x_line_scrub).
# ---------------------------------------------------------------------------
LINE_SCRUB_ORACLE = """
WITH sp AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents),
lines AS (
  SELECT doc_id, CAST(u.i AS INT) - 1 AS line_idx, lines[u.i] AS line
  FROM sp, UNNEST(range(1, len(lines) + 1)) AS u(i)
),
common AS (
  SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3
)
SELECT l.doc_id,
       COALESCE(string_agg(l.line, chr(10) ORDER BY l.line_idx)
                FILTER (WHERE c.line IS NULL), '') AS cleaned_text,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN c.line IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept_lines
FROM lines l LEFT JOIN common c ON l.line = c.line
GROUP BY l.doc_id
"""


def q_line_scrubbed_corpus(spark, sf_dir):
    return dedup.scrub_boilerplate_lines(_docs(spark, sf_dir), max_doc_freq=3)


# ---------------------------------------------------------------------------
# BM25 lexical retrieval (r8): top-k Okapi/Lucene BM25 hits per query over
# the documents table. Registered since r9 (q17 ceded its slot — the
# COVERAGE.md rotation policy: slots go to the operators whose correctness
# is hardest to trust from unit tests alone, and sparse retrieval is a plan
# family the driver gate had never seen); also in parity --extras as
# x_bm25. Queries derive from the corpus itself (first 6 tokens of the 5
# lowest doc_ids) so the gate is self-contained and load-bearing at any
# SF. The oracle mirrors operators/retrieval.py's
# arithmetic SHAPE term for term — identical literals, identical
# association — and the micro-unit bigint sum makes the comparison exact
# across engines and partitionings.
# ---------------------------------------------------------------------------
BM25_ORACLE = """
WITH q AS (
  SELECT doc_id AS query_id,
         array_to_string(string_split(text, ' ')[1:6], ' ') AS query
  FROM documents ORDER BY doc_id LIMIT 5
),
qt AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, unnest(string_split(query, ' ')) AS term FROM q
  ) WHERE term <> ''
),
vocab AS (SELECT DISTINCT term FROM qt),
tok AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
  FROM documents
),
post AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok JOIN vocab USING (term)
  GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY term),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> '')))
              AS DOUBLE) / COUNT(*) AS avgdl
  FROM documents
),
contrib AS (
  SELECT post.doc_id, post.term,
         CAST(ROUND((LN(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * ((tf * (1.2 + 1.0))
                  / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))) * 1000000)
              AS BIGINT) AS c_u
  FROM post JOIN dfreq USING (term) CROSS JOIN stats
),
sc AS (
  SELECT query_id, doc_id, CAST(SUM(c_u) AS BIGINT) AS score_u
  FROM contrib JOIN qt USING (term)
  GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score_u,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_u DESC, doc_id) AS rk
  FROM sc
)
SELECT query_id, doc_id, ROUND(score_u / 1000000.0, 4) AS score,
       CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 10
"""


# ---------------------------------------------------------------------------
# BM25 served from the maintained postings store (r11): the driver gate's
# first STORE-LIFECYCLE row. The query BUILDS a postings store (one-shot
# batch build into a fresh directory: postings partitioned by term_bucket,
# doclen, frozen n_buckets meta) and answers ONLY from it —
# `bm25_topk_from_index` never sees the documents frame — while the oracle
# recomputes BM25 from the raw corpus. A hash match therefore proves
# store ≡ rescan end-to-end under the driver's own gate (rotation target
# named by the r10 verdict: the 50-slot contract had never seen a
# build→serve plan). Load-bearing by construction: a PLANTED doc
# (doc_id −77, text = query 1's exact text) exists only in the BUILD
# input — it must surface at rk 1 for query 1, so a serve path that
# silently fell back to rescanning `documents` (or a store build that
# dropped rows) hash-mismatches. `per_topic_count_ratio` ceded the slot
# (its groupBy+ratio shape stays covered by q:`capture_pipeline` +
# q:`top_n_topics`; oracle retained in pytest + parity x_).
# ---------------------------------------------------------------------------
BM25_SERVED_ORACLE = """
WITH planted AS (
  SELECT CAST(-77 AS BIGINT) AS doc_id,
         array_to_string(string_split(text, ' ')[1:6], ' ') AS text
  FROM documents ORDER BY doc_id LIMIT 1
),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM planted
),
q AS (
  SELECT doc_id AS query_id,
         array_to_string(string_split(text, ' ')[1:6], ' ') AS query
  FROM documents ORDER BY doc_id LIMIT 5
),
qt AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, unnest(string_split(query, ' ')) AS term FROM q
  ) WHERE term <> ''
),
vocab AS (SELECT DISTINCT term FROM qt),
tok AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
  FROM corpus
),
post AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok JOIN vocab USING (term)
  GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY term),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> '')))
              AS DOUBLE) / COUNT(*) AS avgdl
  FROM corpus
),
contrib AS (
  SELECT post.doc_id, post.term,
         CAST(ROUND((LN(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * ((tf * (1.2 + 1.0))
                  / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))) * 1000000)
              AS BIGINT) AS c_u
  FROM post JOIN dfreq USING (term) CROSS JOIN stats
),
sc AS (
  SELECT query_id, doc_id, CAST(SUM(c_u) AS BIGINT) AS score_u
  FROM contrib JOIN qt USING (term)
  GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score_u,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_u DESC, doc_id) AS rk
  FROM sc
)
SELECT query_id, doc_id, ROUND(score_u / 1000000.0, 4) AS score,
       CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 10
"""


@register("bm25_topk_served", BM25_SERVED_ORACLE)
def q_bm25_topk_served(spark, sf_dir):
    import shutil
    import tempfile

    from pulsar_replay_spark.operators import retrieval

    docs = _docs(spark, sf_dir)
    planted = (
        docs.orderBy("doc_id")
        .limit(1)
        .select(
            F.lit(-77).cast("long").alias("doc_id"),
            F.array_join(F.slice(tokens(F.col("text")), 1, 6), " ").alias(
                "text"
            ),
        )
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    # the store is a per-invocation scratch artifact: materialize the
    # served result (localCheckpoint pins the blocks independently of the
    # parquet files) and remove the directory before returning — this
    # query runs under the driver gate, parity, AND bench, so leaking a
    # postings store per invocation would fill /tmp (r11 ADVICE).
    store = tempfile.mkdtemp(prefix="bm25_store_served_")
    try:
        retrieval.postings_index_build(corpus, store)
        queries = (
            docs.orderBy("doc_id")
            .limit(5)
            .select(
                F.col("doc_id").alias("query_id"),
                F.array_join(F.slice(tokens(F.col("text")), 1, 6), " ").alias(
                    "query"
                ),
            )
        )
        return retrieval.bm25_topk_from_index(
            spark, store, queries, k=10
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store, ignore_errors=True)


@register("bm25_topk", BM25_ORACLE)
def q_bm25_topk(spark, sf_dir):
    from pulsar_replay_spark.operators import retrieval

    docs = _docs(spark, sf_dir)
    queries = (
        docs.orderBy("doc_id")
        .limit(5)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(tokens(F.col("text")), 1, 6), " ").alias("query"),
        )
    )
    return retrieval.bm25_topk(docs, queries, k=10)


# ---------------------------------------------------------------------------
# Span-level decontamination (r9): remove only the contaminated token spans
# (3-word shingles shared with the eval set) instead of dropping whole
# documents. r10 rotation: registered as `span_scrub` — span-level
# reassembly (positioned explode → covered-range agg → higher-order filter
# rebuild) is a plan shape the driver gate had never seen, and the oracle
# was promotion-ready (pytest + parity x_span_scrub green since r9). The
# eval set derives from the corpus itself (tokens 3..12 of the 3 lowest
# doc_ids — planted contamination by construction, so the gate is
# load-bearing: those docs MUST lose spans). `tfidf_top_terms` ceded the
# slot (see its rotation note above).
# ---------------------------------------------------------------------------
SPAN_SCRUB_ORACLE = """
WITH bench AS (
  SELECT ROW_NUMBER() OVER () AS bid,
         array_to_string(string_split(text, ' ')[3:12], ' ') AS text
  FROM (SELECT text FROM documents ORDER BY doc_id LIMIT 3)
),
btoks AS (
  SELECT bid, CAST(u.i AS INT) - 1 AS i,
         string_split(text, ' ')[CAST(u.i AS INT)] AS tok
  FROM bench, UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS u(i)
),
bsh AS (
  SELECT DISTINCT a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM btoks a
  JOIN btoks b ON a.bid = b.bid AND b.i = a.i + 1
  JOIN btoks c ON a.bid = c.bid AND c.i = a.i + 2
),
toks AS (
  SELECT doc_id, CAST(u.i AS INT) - 1 AS i,
         string_split(text, ' ')[CAST(u.i AS INT)] AS tok
  FROM documents, UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS u(i)
),
starts AS (
  SELECT DISTINCT t.doc_id, t.i AS s
  FROM toks t
  JOIN toks b ON t.doc_id = b.doc_id AND b.i = t.i + 1
  JOIN toks c ON t.doc_id = c.doc_id AND c.i = t.i + 2
  JOIN bsh ON t.tok || ' ' || b.tok || ' ' || c.tok = bsh.shingle
),
covered AS (
  SELECT DISTINCT doc_id, s + v.d AS i
  FROM starts, (VALUES (0), (1), (2)) AS v(d)
),
joined AS (
  SELECT t.doc_id, t.i, t.tok, (c.i IS NULL) AS keep
  FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.i = c.i
)
SELECT doc_id,
       COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE keep), '')
         AS cleaned_text,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_tokens
FROM joined
GROUP BY doc_id
"""


@register("span_scrub", SPAN_SCRUB_ORACLE)
def q_span_scrubbed_corpus(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    bench = (
        docs.orderBy("doc_id")
        .limit(3)
        .select(
            "doc_id",
            F.array_join(F.slice(tokens(F.col("text")), 3, 10), " ").alias("text"),
        )
    )
    return dedup.span_decon_scrub(docs, bench)
