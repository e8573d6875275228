"""Vocabulary Zipf/coverage report.

Gates: exact DuckDB-twin equality for vocab_stats (counts, rank order,
cumulative coverage) and coverage monotonicity.
"""

from __future__ import annotations

import duckdb

from pulsar_replay_spark.operators import quality

from tests.conftest import SF_SMOKE


def test_vocab_stats_matches_duckdb(spark, documents):
    got = [tuple(r) for r in quality.vocab_stats(documents, top_k=50).orderBy("rank").collect()]
    con = duckdb.connect()
    expect = con.execute(
        f"""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS word
          FROM read_parquet('{SF_SMOKE}/documents.parquet')
        ),
        counts AS (SELECT word, count(*)::BIGINT AS cnt FROM toks GROUP BY word),
        tot AS (SELECT sum(cnt)::DOUBLE AS t FROM counts),
        ranked AS (
          SELECT row_number() OVER (ORDER BY cnt DESC, word) AS rank, word, cnt
          FROM counts
        )
        SELECT rank::INT, word, cnt,
               round(sum(cnt) OVER (ORDER BY rank) / (SELECT t FROM tot), 6)
                 AS cum_share
        FROM ranked WHERE rank <= 50 ORDER BY rank
        """
    ).fetchall()
    assert got == [tuple(r) for r in expect]


def test_vocab_stats_coverage_monotone_and_bounded(spark, documents):
    rows = quality.vocab_stats(documents, top_k=30).orderBy("rank").collect()
    shares = [r["cum_share"] for r in rows]
    assert all(b > a for a, b in zip(shares, shares[1:]))
    assert 0 < shares[0] and shares[-1] <= 1.0
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
