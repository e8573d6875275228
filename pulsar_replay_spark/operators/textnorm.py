"""Mojibake detection for crawled text.

Web crawls are full of text that was decoded with the wrong charset
somewhere upstream — UTF-8 bytes read as cp1252/latin-1 ("Ã©" where "é"
belongs, "â€™" where "'" belongs), sometimes twice. Mojibake splits
tokens, poisons dedup hashes (the clean and mangled copies of one page stop
colliding), and skews language ID. This module measures it:

- ``mojibake_marker_count``: a pure-Catalyst count (``regexp_count``) of
  the classic wrong-charset fingerprints in a text column;
- ``mojibake_report``: the per-source mojibake rate the data card reports.

The marker scan needs no Python kernel, so the card costs one aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Classic wrong-charset fingerprints: "\u00c3" + any following char (every
# UTF-8 2-byte Latin sequence read as cp1252 starts with 0xC3/0xC2 ->
# "\u00c3"/"\u00c2"), "\u00e2\u20ac" (the 0xE2 0x80 prefix of smart
# quotes/dashes), "\u00c2" + NBSP/space, and the Cyrillic/Greek lead bytes
# ("\u00d0\u00d1\u00ce\u00cf") followed by a Latin-1-supplement char.
# All-caps Portuguese "S\u00c3O" or Spanish "A\u00d1OS" count too: a
# marker is evidence of mojibake, not proof. The tests hold a Python count
# over the same pattern string as the Catalyst count's reference.
_MARKER_RE = (
    "\u00c3.|\u00e2\u20ac|\u00c2[\u00a0 ]"
    "|[\u00d0\u00d1\u00ce\u00cf][\u0080-\u00ff]"
)


def mojibake_marker_count(text) -> "F.Column":
    """Pure-Catalyst count of mojibake fingerprints in a text column."""
    return F.regexp_count(text, F.lit(_MARKER_RE))


def mojibake_report(docs: DataFrame) -> DataFrame:
    """Per-source mojibake rate for the data card — pure Catalyst (marker
    scan only, no repair): (source, n_docs, n_mojibake, mojibake_ratio)."""
    marked = docs.select(
        "source", (mojibake_marker_count(F.col("text")) > 0).alias("m")
    )
    return marked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("m").cast("long")).alias("n_mojibake"),
        F.round(F.avg(F.col("m").cast("double")), 4).alias("mojibake_ratio"),
    )
