"""Mojibake detection (operators/textnorm.py): the Catalyst marker count
equals a Python count over the same pattern, and the per-source rates the
data card reports."""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_replay_spark.operators import textnorm
from tests.spec_reference import marker_count_py

ORIG = "l'été — déjà vu"
MOJI = ORIG.encode("utf-8").decode("cp1252")
DOUBLE = MOJI.encode("utf-8").decode("latin-1")
CYR = "привет мир"
CYR_MOJI = CYR.encode("utf-8").decode("latin-1")
CLEAN = ["SÃO PAULO", "AÑOS despues", "hello world", "café au lait", ""]
DECOMPOSED = "éclair"  # e + combining acute


def test_marker_count_catalyst_equals_python(spark):
    rows = [(i, t) for i, t in enumerate(
        [ORIG, MOJI, DOUBLE, CYR_MOJI, *CLEAN, "Â nbsp", "â€™quote"]
    )]
    docs = spark.createDataFrame(rows, "i long, text string")
    got = {
        r.i: r.n
        for r in docs.select(
            "i", textnorm.mojibake_marker_count(F.col("text")).alias("n")
        ).collect()
    }
    want = {i: marker_count_py(t) for i, t in rows}
    assert got == want
    assert want[1] > 0 and want[0] == 0  # mojibake detected, clean not


def test_mojibake_report_rates(spark):
    docs = spark.createDataFrame(
        [
            (1, MOJI, "crawl"),
            (2, ORIG, "crawl"),
            (3, "clean text", "books"),
            (4, CYR_MOJI, "crawl"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r.source: (r.n_docs, r.n_mojibake, r.mojibake_ratio)
        for r in textnorm.mojibake_report(docs).collect()
    }
    assert got == {"crawl": (3, 2, 0.6667), "books": (1, 0, 0.0)}
