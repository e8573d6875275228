"""Spark spec twins and test-only references: the one-window formulations
that state a scale-path operator's rule directly, in the shape the DuckDB
oracles use, and the reference checks kept tests compare engine paths
against.

- ``select_within_token_budget_naive``: per source, the maximal
  (score DESC, doc_id) prefix whose cumulative token count stays within
  the budget — ``curation.select_within_token_budget``'s rule.
- ``drop_bottom_quantile_exact``: keep rows whose ``percent_rank`` within
  their group is at least q — ``quality.drop_bottom_quantile``'s rule,
  exact where the engine uses a quantile sketch.
- ``lexical_decontaminate``: the full-rescan BM25 decontamination that
  ``retrieval.lexical_decontaminate_from_index`` serves from its store.
- ``split_leakage_report``: the near-duplicate pairs that cross split
  boundaries — the audit ``curation.leakage_free_split`` must pass.
- ``marker_count_py``: the Python count of the mojibake pattern that
  ``textnorm.mojibake_marker_count`` counts in Catalyst.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pulsar_replay_spark.operators.curation import _scored
from pulsar_replay_spark.operators.dedup import minhash_candidate_pairs
from pulsar_replay_spark.operators.retrieval import bm25_topk
from pulsar_replay_spark.operators.textnorm import _MARKER_RE


def select_within_token_budget_naive(
    docs: DataFrame, budget_tokens: int, score: Column | None = None
) -> DataFrame:
    """One window per source (score DESC, doc_id)."""
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("score"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        _scored(docs, score)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "source", "n_tokens", "score", "cum_tokens")
    )


def drop_bottom_quantile_exact(
    scored: DataFrame, q: float, score_col: str = "score", by: str = "source"
) -> DataFrame:
    """Keep rows whose ``percent_rank`` within their group is ≥ q. One
    window sort per group. Ties share a percent_rank, so threshold-value
    ties are kept by both paths identically."""
    w = Window.partitionBy(by).orderBy(score_col)
    return (
        scored.withColumn("_pr", F.percent_rank().over(w))
        .filter(F.col("_pr") >= q)
        .drop("_pr")
    )


def lexical_decontaminate(
    docs: DataFrame, eval_docs: DataFrame, k: int, min_score: float
) -> DataFrame:
    """Every eval document becomes a BM25 query against the full corpus;
    training docs ranking in any eval doc's top-k at or above
    ``min_score`` are flagged. (doc_id, eval_id, score): one row per
    flagged doc with its strongest accusing eval doc (min eval_id on score
    ties)."""
    queries = eval_docs.select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query")
    )
    hits = bm25_topk(docs, queries, k).filter(F.col("score") >= F.lit(min_score))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "query_id")
    return (
        hits.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") == 1)
        .select("doc_id", F.col("query_id").alias("eval_id"), "score")
    )


def split_leakage_report(docs: DataFrame, split: DataFrame) -> DataFrame:
    """(doc_a, split_a, doc_b, split_b) for every MinHash candidate pair
    whose two docs sit in different splits."""
    s = split.select("doc_id", "split")
    return (
        minhash_candidate_pairs(docs)
        .join(
            s.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")),
            "doc_a",
        )
        .join(
            s.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")),
            "doc_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "split_a", "doc_b", "split_b")
    )


def marker_count_py(s: str) -> int:
    return len(re.findall(_MARKER_RE, s))
