"""Text-analysis scalar layer for the LLM-pipeline operators.

All pure built-in expressions (whole-stage codegen) — tokenization, shingling,
stopword stats, language heuristic, content hashing. Python-free hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ["a", "the"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization (matches oracle string_split semantics)."""
    return F.split(text, " ")


def split_tokens(text: str) -> list:
    """``tokens`` on a driver-side string: each single space splits, so
    runs of spaces leave empty tokens exactly as ``F.split`` does."""
    return text.split(" ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def unique_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_count(text: Column) -> Column:
    in_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return F.size(F.filter(tokens(text), lambda t: t.isin(STOPWORDS)))


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as space-joined strings; empty array when the doc has
    fewer than k tokens.

    The token array is bound as a lambda variable (``transform(array(split),
    t -> …)[0]``) because Spark performs no common-subexpression elimination
    inside higher-order-function lambdas — referencing ``split(text)`` per
    element would re-tokenize the document O(tokens) times (measured 7 s →
    0.5 s on 5 000 docs)."""
    assert k == 3, "oracle SQL is written for k=3"

    def inner(t: Column) -> Column:
        return F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - k),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(t, i + 1),
                    F.element_at(t, i + 2),
                    F.element_at(t, i + 3),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(F.split(text, " ")), inner)[0]


def bigrams(text: Column) -> Column:
    """Word 2-grams as space-joined strings; empty array below 2 tokens.
    Same bound-array idiom as ``shingles`` (no CSE inside HOF lambdas)."""

    def inner(t: Column) -> Column:
        return F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i + 1), F.element_at(t, i + 2)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(F.split(text, " ")), inner)[0]


def top_token_count(text: Column) -> Column:
    """Occurrence count of the document's most frequent token — computed
    shuffle-free with higher-order functions (O(unique·total) per doc, stays
    inside whole-stage codegen; the explode+groupBy alternative costs a
    corpus-wide shuffle keyed by doc_id for a per-doc scalar).

    r12 note: an O(n log n) array_sort + longest-equal-run fold was
    measured SLOWER at fixture doc lengths (0.42 s vs 0.34 s over the sf0.1
    corpus) — the struct accumulator the run-length fold needs allocates
    per element, while this nested filter stays primitive-typed. Keep the
    quadratic form until profile docs get long enough to flip the constant."""

    def inner(t: Column) -> Column:
        return F.array_max(
            F.transform(
                F.array_distinct(t),
                lambda x: F.size(F.filter(t, lambda y: y == x)),
            )
        )

    return F.transform(F.array(F.split(text, " ")), inner)[0]


def token_hash60(tok: Column) -> Column:
    """Deterministic 60-bit integer hash of a token: first 15 hex chars of
    md5, parsed base-16. Reproducible in DuckDB as
    ``('0x' || substr(md5(t), 1, 15))::BIGINT`` — the cross-engine contract
    the dedup/fingerprint operators rely on."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def normalize_text(text: Column) -> Column:
    """Near-exact dedup normalization: casefold, collapse whitespace runs,
    strip edges — the canonical key for catching trivially-reformatted
    duplicates that byte-hash dedup misses."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


REDACTION_RULES = [
    # (pattern, replacement) — RE2-compatible (no lookarounds) so the same
    # patterns run in Spark (Java regex) and any RE2 engine.
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    # IPv4: exactly four 0-255 octets; \b boundaries + the octet range keep
    # 3-part version strings (v1.2.3) and dotted dates (15.08.2026) intact —
    # both have only three dot-separated parts.
    (
        r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b",
        "<IP>",
    ),
    # Phone, intl form: '+' then 8-15 digits with optional single ' .-'
    # separators ('+1 415 555 2671'). The 8-digit floor keeps short math
    # terms ('+123') and years out.
    (r"\+[0-9](?:[ .-]?[0-9]){7,14}", "<PHONE>"),
    # Phone, NANP form: 3-3-4 digit groups with mandatory separators
    # ('(555) 123-4567', '555.123.4567'). ISO dates are 4-2-2 and never
    # match; bare 10-digit runs fall through to <NUM> below.
    (r"\(?[0-9]{3}\)?[ .-][0-9]{3}[ .-][0-9]{4}\b", "<PHONE>"),
    (r"[0-9]{6,}", "<NUM>"),
]


def redact_pii(text: Column) -> Column:
    """Training-data scrub: emails → <EMAIL>, URLs → <URL>, IPv4 → <IP>,
    phone numbers → <PHONE>, long digit runs → <NUM>. Order matters (URLs
    may contain IPs and digit runs; emails must win over bare domains;
    phones must win before the digit-run rule eats their groups). Pure
    regexp_replace chain — JVM-side, idempotent."""
    out = text
    for pat, repl in REDACTION_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


# ---------------------------------------------------------------------------
# Multi-language stopword-density language guess (r9). The single-language
# heuristic behind the `lang_id_accuracy` contract query stays as-is; this
# is its multi-class twin for enriching crawl records that carry no
# WARC-Identified-Content-Language header (raw-WARC `response` records —
# see sources/corpusio._warc_documents). Small, high-frequency,
# maximally-distinctive function-word sets per language; density = matching
# tokens / all tokens over the lowercased whitespace tokens; argmax wins
# when it clears `threshold`, else NULL (absence of evidence stays NULL —
# the same contract the domain-prior floor uses).
# ---------------------------------------------------------------------------

LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "is", "of", "to", "that", "it", "was", "for",
           "with", "are", "this", "have", "not"],
    "es": ["el", "los", "las", "es", "por", "con", "para", "pero", "su",
           "como", "más", "este", "esta", "muy"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu",
           "von", "auf", "für", "den", "dem"],
    "fr": ["le", "les", "des", "est", "et", "une", "pour", "dans", "pas",
           "sur", "qui", "au", "ce", "vous"],
    "it": ["il", "che", "di", "una", "per", "non", "sono", "della", "nel",
           "gli", "anche", "questo", "più"],
    "pt": ["o", "os", "as", "um", "uma", "não", "que", "para", "com", "por",
           "se", "mais", "dos", "como"],
}

LANG_GUESS_THRESHOLD = 0.02


def lang_guess(text: Column, threshold: float = LANG_GUESS_THRESHOLD) -> Column:
    """Best-guess BCP-47 primary tag (en/es/de/fr/it/pt) or NULL.

    Pure Catalyst (one scan, zero exchanges): per language, density is
    size(filter(tokens, t ∈ set)) / size(tokens) over the LOWERCASED
    tokens; the winner is the array_max of (density, lang) structs —
    struct ordering compares density first, then lang, so ties break
    deterministically toward the later language code. Below ``threshold``
    (or on empty docs) the answer is NULL, never a guess."""
    toks_all = F.filter(F.split(F.lower(text), " "), lambda t: t != "")

    def inner(t: Column) -> Column:
        n = F.size(t)
        entries = [
            F.struct(
                (
                    F.size(
                        F.filter(
                            t,
                            lambda x: F.array_contains(
                                F.array(*[F.lit(w) for w in words]), x
                            ),
                        )
                    )
                    / n
                ).alias("d"),
                F.lit(lang).alias("l"),
            )
            for lang, words in sorted(LANG_STOPWORDS.items())
        ]
        best = F.array_max(F.array(*entries))
        return F.when(
            (n > 0) & (best["d"] >= F.lit(threshold)), best["l"]
        )

    # bound-array idiom (see `shingles`): no CSE inside HOF lambdas, so the
    # token array is materialized once per row, not once per language
    return F.transform(F.array(toks_all), inner)[0]
