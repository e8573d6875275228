"""Spark spec twins of two scale-path operators: the one-window
formulations that state each operator's rule directly, in the shape the
DuckDB oracles use. Tests compare the engine's scale path against them.

- ``select_within_token_budget_naive``: per source, the maximal
  (score DESC, doc_id) prefix whose cumulative token count stays within
  the budget — ``curation.select_within_token_budget``'s rule.
- ``drop_bottom_quantile_exact``: keep rows whose ``percent_rank`` within
  their group is at least q — ``quality.drop_bottom_quantile``'s rule,
  exact where the engine uses a quantile sketch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pulsar_replay_spark.operators.curation import _scored


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
