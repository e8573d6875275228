"""Corpus ingestion front door: JSONL and plain-text files → the
``documents`` contract (doc_id, text, lang, source, n_chars) every
dedup/quality/curation/tokenizer operator in the engine consumes.

Real pretraining pipelines start from JSONL dumps (one JSON object per
line — the Common Crawl / RedPajama / Dolma interchange shape) or raw
text files, not parquet. These readers normalize either into the
documents schema with STABLE ids, so a re-crawled file keeps its split
(``curation.hash_split``) and its dedup verdicts.

Scale posture:
- explicit schemas only — ``spark.read.json`` with inferred schema scans
  the data TWICE (once to infer); at 100 TB the inference pass alone is
  the bill. ``read_jsonl_corpus`` builds the read schema from the field
  arguments and never infers.
- ids are content hashes (md5-derived 60-bit, the engine-wide discipline:
  DuckDB-reproducible, no monotonically_increasing_id whose values depend
  on partitioning) unless the corpus carries its own id field.
- both readers are pure projections over the file scan — zero shuffles;
  JSONL corruption tolerance is explicit (``_corrupt_record`` routed to a
  quarantine column, never a job abort), matching the reference's
  tolerant-parse posture (the UTF-8-or-base64 fallback in its message
  decode — see envelope.py's citations).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# content-addressed ids ARE the engine-wide 60-bit md5 contract the
# dedup/fingerprint operators rely on (DuckDB-reproducible) — one
# implementation, not a re-coding of the same expression
from pulsar_replay_spark.functions.text import token_hash60 as _content_id

CORRUPT_COL = "_corrupt_record"


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    text_field: str = "text",
    id_field: str | None = None,
    lang_field: str | None = None,
    source_field: str | None = None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """JSONL (one JSON doc per line) → the documents contract.

    Only the named fields are in the read schema — no inference pass, and
    Spark's JSON reader prunes unprojected fields at parse time. Rows that
    fail to parse land in ``_corrupt_record`` (PERMISSIVE mode): dropped by
    default, kept as (doc_id, text=NULL, …, corrupt=<raw line>) rows when
    ``keep_corrupt=True`` so a quality gate can count them — a malformed
    line never aborts the job. ``corrupt`` also flags parseable objects
    MISSING the text field ("missing-text-field"), and the expression
    keeps the scan schema wider than the corrupt column alone, so
    corrupt-only downstream projections don't trip Spark's
    QUERY_ONLY_CORRUPT_RECORD_COLUMN analyzer restriction.

    doc_id: the corpus's own ``id_field`` when given (hashed if non-numeric
    — ids must be joinable longs engine-wide), else the 60-bit content hash
    of the text (content-addressed: exact duplicate lines get equal ids,
    which the exact-dedup tier collapses by design). lang/source default to
    NULL/the file path when the corpus lacks the fields."""
    raw = (
        spark.read.schema(_jsonl_schema(text_field, id_field, lang_field, source_field))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    return _project_documents(
        raw, text_field, id_field, lang_field, source_field, keep_corrupt
    )


def stream_jsonl_corpus(
    spark: SparkSession,
    path: str,
    text_field: str = "text",
    id_field: str | None = None,
    lang_field: str | None = None,
    source_field: str | None = None,
    keep_corrupt: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``read_jsonl_corpus``: a JSONL drop-folder as a
    STREAMING documents frame — the front half of the continuous-curation
    shape (``streaming/pipelines.curation_ingest_sink`` is the back half:
    files land → documents micro-batches → exact-dup + LSH probe + quality
    gate → idempotent accepted-store partitions). Same explicit schema, same
    corrupt-line quarantine, same content-addressed ids as the batch reader
    (gated equal in tests); ``max_files_per_trigger`` bounds micro-batch
    size for backpressure."""
    reader = (
        spark.readStream.schema(
            _jsonl_schema(text_field, id_field, lang_field, source_field)
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _project_documents(
        reader.json(path), text_field, id_field, lang_field, source_field, keep_corrupt
    )


def _jsonl_schema(text_field, id_field, lang_field, source_field) -> str:
    fields = [f"`{text_field}` STRING"]
    for f_ in (id_field, lang_field, source_field):
        if f_ is not None:
            fields.append(f"`{f_}` STRING")
    return ", ".join(fields) + f", `{CORRUPT_COL}` STRING"


def _field(name: str) -> "F.Column":
    # backtick-quote: the read schema declares these as FLAT columns, so a
    # dotted corpus key ("meta.text") must not parse as struct access
    return F.col(f"`{name}`")


def _project_documents(
    raw: DataFrame, text_field, id_field, lang_field, source_field, keep_corrupt
) -> DataFrame:
    text = _field(text_field)
    if id_field is not None:
        # try_cast, not cast: ANSI raises on non-numeric ids instead of NULL;
        # coalesce so an id-less ROW (merged dumps) falls back to the content
        # hash instead of a silent NULL doc_id
        numeric = _field(id_field).try_cast("long")
        id_col = F.coalesce(numeric, _content_id(_field(id_field)), _content_id(text))
    else:
        id_col = _content_id(text)
    lang = _field(lang_field) if lang_field else F.lit(None).cast("string")
    source = _field(source_field) if source_field else F.input_file_name()
    # quarantine = unparseable line OR parseable-but-text-less object; the
    # text reference also keeps the scan's required schema wider than the
    # corrupt column alone, so corrupt-only downstream projections don't
    # trip Spark's QUERY_ONLY_CORRUPT_RECORD_COLUMN analyzer error
    corrupt = F.coalesce(
        F.col(CORRUPT_COL),
        F.when(text.isNull(), F.lit("missing-text-field")),
    )
    # quarantine rows have no text: hash the corrupt payload MIXED with the
    # row's remaining evidence (declared fields + source file) so they stay
    # addressable downstream instead of carrying a NULL doc_id — the marker
    # alone would collide every "missing-text-field" row onto ONE id even
    # when their other fields differ. Rows with byte-identical evidence
    # still share an id: that is content addressing (identical corrupt
    # lines ARE exact duplicates), and the id stays a pure row function so
    # stream ≡ batch holds across any partitioning. Each evidence field is
    # coalesced to a sentinel BEFORE concat_ws (which silently skips NULLs):
    # two rows whose evidence differs only in which field is null must not
    # collide onto one id.
    fields = [
        F.coalesce(_field(f_), F.lit("\x00"))
        for f_ in (id_field, lang_field, source_field)
        if f_ is not None
    ]
    quarantine_id = _content_id(
        F.concat_ws("\x1f", corrupt, F.input_file_name(), *fields)
    )
    id_col = F.coalesce(id_col, quarantine_id)
    out = raw.select(
        id_col.alias("doc_id"),
        text.alias("text"),
        lang.alias("lang"),
        source.alias("source"),
        F.coalesce(F.length(text), F.lit(0)).cast("long").alias("n_chars"),
        corrupt.alias("corrupt"),
    )
    if keep_corrupt:
        return out
    return out.filter(F.col("corrupt").isNull()).drop("corrupt")


def read_text_corpus(
    spark: SparkSession, path: str, whole_files: bool = False
) -> DataFrame:
    """Plain text → the documents contract. ``whole_files=False`` (default):
    one document per LINE (the dump-of-sentences shape; blank lines
    dropped); ``whole_files=True``: one document per FILE via
    ``wholetext`` — files are then the parallelism unit, so individual
    files must fit an executor.

    doc_id is the content hash — identical lines/files collapse under the
    exact-dedup tier rather than masquerading as distinct docs."""
    raw = spark.read.text(path, wholetext=whole_files).select(
        F.col("value").alias("text"), F.input_file_name().alias("source")
    )
    if not whole_files:
        raw = raw.filter(F.length(F.trim(F.col("text"))) > 0)
    return raw.select(
        _content_id(F.col("text")).alias("doc_id"),
        "text",
        F.lit(None).cast("string").alias("lang"),
        "source",
        F.length("text").cast("long").alias("n_chars"),
    )


def write_jsonl_corpus(docs: DataFrame, path: str, n_shards: int = 16) -> None:
    """Documents → sharded JSONL (the interchange format downstream trainers
    read). One file per shard via repartition(n_shards) — a 100 TB corpus
    picks n_shards for the target file size, the write stays parallel."""
    docs.select("doc_id", "text", "lang", "source", "n_chars").repartition(
        n_shards
    ).write.mode("overwrite").json(path)


# ---------------------------------------------------------------------------
# WARC/WET front door: the dominant public pretraining interchange
# (Common Crawl). Library-free record splitter — ISO 28500 framing is a
# header block terminated by CRLFCRLF with a mandatory Content-Length, so
# no warcio dependency is needed — feeding the same documents contract.
# ---------------------------------------------------------------------------

_WARC_DEFAULT_TYPES = ("conversion", "response")


def _split_warc_records(buf: bytes) -> tuple[list[tuple[dict, bytes]], str | None]:
    """Split one WARC file's bytes into (headers, body) records by
    Content-Length framing. Returns (records, corrupt) where ``corrupt`` is
    a named reason when framing breaks — the parse stops there because a
    broken length means every later offset is untrusted (the remaining tail
    quarantines as ONE corrupt row, the jsonl discipline's file-level
    analog). Pure function: fuzzable without Spark, never raises."""
    recs: list[tuple[dict, bytes]] = []
    p, n = 0, len(buf)
    while p < n:
        while buf.startswith(b"\r\n", p) or buf.startswith(b"\n", p):
            p += 2 if buf.startswith(b"\r\n", p) else 1
        if p >= n:
            break
        if not buf.startswith(b"WARC/", p):
            return recs, f"not a WARC record header at byte {p}"
        hdr_end = buf.find(b"\r\n\r\n", p)
        if hdr_end < 0:
            return recs, f"unterminated header block at byte {p}"
        headers: dict[str, str] = {}
        lines = buf[p:hdr_end].decode("utf-8", "replace").split("\r\n")
        headers["warc-version"] = lines[0].strip()
        for line in lines[1:]:
            k, sep, v = line.partition(":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
            if length < 0:
                raise ValueError
        except (KeyError, ValueError):
            return recs, f"missing or invalid Content-Length at byte {p}"
        body_start = hdr_end + 4
        if body_start + length > n:
            return recs, f"truncated body at byte {body_start}"
        recs.append((headers, buf[body_start : body_start + length]))
        p = body_start + length
    return recs, None


# ---------------------------------------------------------------------------
# HTTP payload extraction for raw-WARC ``response`` records. Per ISO 28500
# the body of a response record is the full HTTP message the crawler
# received — status line, headers, and (typically HTML) entity body. Feeding
# that verbatim into ``documents.text`` pollutes every downstream
# quality/dedup/tokenizer operator with header noise and markup, so the
# kernel splits the HTTP framing (headers end at the first blank line),
# honors Transfer-Encoding/Content-Encoding/charset, and runs a minimal
# library-free tag-strip for HTML payloads. All helpers are pure and total
# (hypothesis-fuzzed): malformed input skips the record, never fails a task.
# ---------------------------------------------------------------------------

_HTML_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_SCRIPT_STYLE_RE = re.compile(r"<(script|style)\b[^>]*>.*?</\1\s*>", re.S | re.I)
_TAG_RE = re.compile(r"<[^>]*>")
_CHARSET_RE = re.compile(r"charset=[\"']?([A-Za-z0-9_.:-]+)")
# <meta charset="..."> and <meta http-equiv="Content-Type"
# content="text/html; charset=..."> both contain charset= inside the tag;
# the HTML5 prescan only promises the first 1024 bytes, we scan 2048
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]{0,512}?charset\s*=\s*[\"']?([A-Za-z0-9_.:-]+)", re.I
)


def _strip_html(markup: str) -> str:
    """Minimal boilerplate removal: drop comments and script/style blocks,
    replace every tag with whitespace, decode entities (stdlib
    ``html.unescape``), collapse whitespace runs (newline-containing runs
    keep ONE newline so line structure survives for the quality features).
    All regexes are linear-time (no nested quantifiers over the same
    class); entity decode runs AFTER tag removal so ``&lt;script&gt;`` in
    text can never become live markup."""
    import html as _html

    txt = _HTML_COMMENT_RE.sub(" ", markup)
    txt = _SCRIPT_STYLE_RE.sub(" ", txt)
    txt = _TAG_RE.sub(" ", txt)
    txt = _html.unescape(txt)
    txt = re.sub(r"[^\S\n]*\n\s*", "\n", txt)
    txt = re.sub(r"[^\S\n]+", " ", txt)
    return txt.strip()


_BLOCK_TAG_RE = re.compile(
    r"(?i)</?(?:p|div|td|th|li|ul|ol|dl|dt|dd|h[1-6]|article|section|header"
    r"|footer|nav|aside|main|blockquote|pre|table|tr|form|figure|br)\b[^>]*>"
)
_A_TEXT_RE = re.compile(r"(?is)<a\b[^>]*>(.*?)</a\s*>")


def extract_main_text(
    markup: str, min_words: int = 5, max_link_density: float = 0.33
) -> str:
    """Density-based main-content extraction (the jusText/Arc90 heuristic,
    library-free): split the page at block-level tags, score each block by
    word count and LINK density (words inside ``<a>`` / words), and keep
    only blocks that read like body text — navigation bars, menus, footers,
    and related-links chrome are short and link-saturated, so they fall
    below ``min_words`` or above ``max_link_density``. Same totality
    contract as ``_strip_html`` (pure regex, never raises); blocks joined
    with newlines, entities decoded after tag removal."""
    import html as _html

    txt = _HTML_COMMENT_RE.sub(" ", markup)
    txt = _SCRIPT_STYLE_RE.sub(" ", txt)
    kept: list[str] = []
    for block in _BLOCK_TAG_RE.split(txt):
        link_words = 0
        for m in _A_TEXT_RE.finditer(block):
            link_words += len(_TAG_RE.sub(" ", m.group(1)).split())
        words = _html.unescape(_TAG_RE.sub(" ", block)).split()
        n = len(words)
        if n > 0 and n >= min_words and link_words / n <= max_link_density:
            kept.append(" ".join(words))
    return "\n".join(kept)


def _dechunk(payload: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer encoding; tolerant — if the very
    first size line is unparsable the payload wasn't really chunked and is
    returned verbatim; a break mid-stream keeps what decoded so far."""
    out: list[bytes] = []
    p, n = 0, len(payload)
    while p < n:
        eol = payload.find(b"\r\n", p)
        if eol < 0:
            return payload if not out else b"".join(out)
        try:
            size = int(payload[p:eol].split(b";")[0].strip() or b"?", 16)
            if size < 0:
                raise ValueError
        except ValueError:
            return payload if not out else b"".join(out)
        if size == 0:
            break
        start = eol + 2
        out.append(payload[start : start + size])
        p = start + size + 2  # skip the CRLF terminating the chunk
    return b"".join(out)


def _http_payload(
    body: bytes, extract_html: bool = True, html_mode: str = "strip"
) -> tuple[str | None, str | None]:
    """One HTTP response message → (text, skip_reason); exactly one is
    non-None. Skips (reason-named, never raised): no header/body split, not
    a status line, non-2xx status, or a content type that isn't text/HTML —
    redirects, images, PDFs etc. are real crawl records but not documents.
    Honors chunked transfer coding, gzip/deflate content coding, and the
    Content-Type charset (unknown charsets fall back to UTF-8-replace;
    header bytes decode as latin-1 per RFC 9112)."""
    import gzip
    import zlib

    cut = sep = None
    for s in (b"\r\n\r\n", b"\n\n"):
        c = body.find(s)
        if c >= 0 and (cut is None or c < cut):
            cut, sep = c, s
    if cut is None:
        return None, "http: no header/payload separator"
    head, payload = body[:cut], body[cut + len(sep) :]
    lines = head.decode("latin-1", "replace").replace("\r\n", "\n").split("\n")
    parts = lines[0].split()
    if not parts or not parts[0].upper().startswith("HTTP/"):
        return None, "http: not a response status line"
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, "http: unparseable status line"
    if not 200 <= status < 300:
        return None, f"http: status {status}"
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, sep_, v = line.partition(":")
        if sep_:
            headers[k.strip().lower()] = v.strip()
    if "chunked" in headers.get("transfer-encoding", "").lower():
        payload = _dechunk(payload)
    coding = headers.get("content-encoding", "").lower()
    if coding in ("gzip", "x-gzip") or payload[:2] == b"\x1f\x8b":
        # truncated streams raise EOFError and corrupt deflate data raises
        # zlib.error — neither is an OSError, and both are routine in crawl
        # data, so the totality contract must absorb all three
        try:
            payload = gzip.decompress(payload)
        except (OSError, EOFError, zlib.error):
            if payload[:2] == b"\x1f\x8b":
                # a real-but-damaged gzip stream (cut off mid-transfer):
                # salvage the decompressible prefix rather than emit
                # compressed bytes as text
                try:
                    got = zlib.decompressobj(16 + zlib.MAX_WBITS).decompress(payload)
                    if got:
                        payload = got
                except zlib.error:
                    pass
            # else: stored un-encoded despite the header — keep raw bytes
    elif coding == "deflate":
        try:
            payload = zlib.decompress(payload)
        except zlib.error:
            try:
                payload = zlib.decompress(payload, -zlib.MAX_WBITS)
            except zlib.error:
                pass
    # missing Content-Type defaults to HTML — the overwhelmingly common
    # case for crawled 200 responses, and the strip is a no-op on plain text
    ctype = headers.get("content-type", "text/html").lower()
    mtype = ctype.split(";")[0].strip()
    html_like = "html" in mtype or mtype.endswith("+xml") or mtype == "application/xml"
    if not (mtype.startswith("text/") or html_like):
        return None, f"http: unextractable content-type {mtype}"
    m = _CHARSET_RE.search(ctype)
    enc = m.group(1) if m else None
    if enc is None and html_like:
        # Content-Type carried no charset: consult the document's own
        # <meta charset> / http-equiv declaration (HTML5 prescan) before
        # falling back to UTF-8-replace
        mm = _META_CHARSET_RE.search(payload[:2048])
        if mm:
            enc = mm.group(1).decode("ascii", "replace")
    try:
        text = payload.decode(enc or "utf-8", "replace")
    except LookupError:
        text = payload.decode("utf-8", "replace")
    if extract_html and html_like:
        text = (
            extract_main_text(text) if html_mode == "main" else _strip_html(text)
        )
    return text, None


def read_warc_corpus(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] = _WARC_DEFAULT_TYPES,
    pattern: str | None = None,
    keep_corrupt: bool = False,
    extract_http: bool = True,
    html_mode: str = "strip",
    lang_id: bool = True,
) -> DataFrame:
    """WARC/WET files → the documents contract.

    Scale shape: ``binaryFile`` parallelizes ACROSS files (a .warc.gz is
    not splittable anyway — Common Crawl ships ~1 GB segments precisely so
    files are the parallelism unit), record splitting + gzip inflation run
    in an Arrow-batched kernel, and only the extracted TEXT leaves the
    kernel — raw archive bytes never shuffle. Multi-member gzip (the
    per-record-compressed .warc.gz layout) inflates in one pass.

    Contract mapping: text = record body (UTF-8, replacement-decoded) for
    WET ``conversion`` records; for raw-WARC ``response`` records the body
    is an HTTP message, so the kernel splits the HTTP framing and extracts
    the entity payload (chunked/gzip/deflate codings undone, Content-Type
    charset honored, HTML tag-stripped + entity-decoded) — non-2xx and
    non-text responses (redirects, images, PDFs) are SKIPPED, not
    documents and not corruption. ``extract_http=False`` restores the
    verbatim body (debug/raw-archive access only — it puts HTTP headers
    and markup into ``text``). source = WARC-Target-URI (falls back to the
    file path); lang = WARC-Identified-Content-Language's first tag (WET
    sets it); doc_id = the engine-wide 60-bit content hash.
    ``record_types`` keeps conversion/response records and drops
    warcinfo/request/metadata bookkeeping. Corrupt framing quarantines the
    file's remaining tail as ONE corrupt row (dropped unless
    ``keep_corrupt``, the ``read_jsonl_corpus`` semantics), and a parse
    failure never aborts the scan."""
    reader = spark.read.format("binaryFile")
    if pattern is not None:
        reader = reader.option("pathGlobFilter", pattern)
    files = reader.load(path).select("path", "content")
    return _warc_documents(
        files, record_types, keep_corrupt, extract_http, html_mode, lang_id
    )


def stream_warc_corpus(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] = _WARC_DEFAULT_TYPES,
    pattern: str | None = None,
    keep_corrupt: bool = False,
    max_files_per_trigger: int | None = None,
    extract_http: bool = True,
    html_mode: str = "strip",
    lang_id: bool = True,
) -> DataFrame:
    """Streaming twin of ``read_warc_corpus``: a WARC/WET drop-folder as a
    STREAMING documents frame (the ``stream_jsonl_corpus`` discipline —
    same kernel, same quarantine semantics, gated equal in tests), feeding
    the continuous-curation sinks. Segments arrive whole (binaryFile: a
    file is the unit), so ``max_files_per_trigger`` is the backpressure
    knob — one ~1 GB Common Crawl segment per trigger is a sane default on
    modest executors."""
    files = _stream_warc_files(spark, path, pattern, max_files_per_trigger)
    return _warc_documents(
        files, record_types, keep_corrupt, extract_http, html_mode, lang_id
    )


def _stream_warc_files(
    spark: SparkSession,
    path: str,
    pattern: str | None,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """Shared streaming binaryFile front door for the WARC readers
    (documents and link-graph twins): one schema/options definition, so the
    twins can never drift."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    reader = spark.readStream.format("binaryFile").schema(schema)
    if pattern is not None:
        reader = reader.option("pathGlobFilter", pattern)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path).select("path", "content")


def _warc_documents(
    files: DataFrame,
    record_types: tuple[str, ...],
    keep_corrupt: bool,
    extract_http: bool = True,
    html_mode: str = "strip",
    lang_id: bool = True,
) -> DataFrame:
    """Shared batch/streaming tail: the record-splitting Arrow kernel plus
    the documents-contract projection. ``html_mode``: "strip" (tag removal
    only) or "main" (density-based main-content extraction,
    ``extract_main_text`` — drops nav/menu/footer chrome).

    ``lang_id`` (r9): raw-WARC ``response`` records carry no
    WARC-Identified-Content-Language header (only WET conversions do), so
    their ``lang`` lands NULL and a raw-crawl corpus silently piles into
    the data card's null-lang bucket. When on, extracted response records
    with no header get ``functions.text.lang_guess`` (pure-Catalyst
    multi-language stopword density — a guess only above its evidence
    threshold, NULL otherwise). WET/conversion rows are NEVER touched —
    header presence or absence passes through verbatim."""
    want = tuple(t.lower() for t in record_types)

    def run(batches):
        import gzip
        import zlib

        import pandas as pd

        for pdf in batches:
            out = {"text": [], "lang": [], "source": [], "corrupt": [],
                   "wtype": []}
            for fpath, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                if raw[:2] == b"\x1f\x8b":
                    # EOFError (truncated member, e.g. a half-copied
                    # drop-folder file) and zlib.error (corrupt deflate)
                    # escape an OSError-only handler and would fail the task
                    try:
                        raw = gzip.decompress(raw)  # handles multi-member
                    except (OSError, EOFError, zlib.error) as e:
                        out["text"].append(None)
                        out["lang"].append(None)
                        out["source"].append(fpath)
                        out["corrupt"].append(f"gzip: {e}")
                        out["wtype"].append(None)
                        continue
                recs, corrupt = _split_warc_records(raw)
                for headers, body in recs:
                    wtype = headers.get("warc-type", "").lower()
                    if wtype not in want:
                        continue
                    if wtype == "response" and extract_http:
                        text, skip = _http_payload(body, True, html_mode)
                        if skip is not None:
                            continue  # redirect/image/etc: a record, not a doc
                    else:
                        text = body.decode("utf-8", "replace")
                    lang = headers.get("warc-identified-content-language")
                    out["text"].append(text)
                    out["lang"].append(lang.split(",")[0].strip() if lang else None)
                    out["source"].append(headers.get("warc-target-uri", fpath))
                    out["corrupt"].append(None)
                    out["wtype"].append(wtype)
                if corrupt is not None:
                    out["text"].append(None)
                    out["lang"].append(None)
                    out["source"].append(fpath)
                    out["corrupt"].append(corrupt)
                    out["wtype"].append(None)
            yield pd.DataFrame(out)

    parsed = files.mapInPandas(
        run,
        schema="text string, lang string, source string, corrupt string,"
        " wtype string",
    )
    if lang_id:
        from pulsar_replay_spark.functions.text import lang_guess

        parsed = parsed.withColumn(
            "lang",
            F.when(
                F.col("lang").isNull()
                & (F.col("wtype") == "response")
                & F.col("text").isNotNull(),
                lang_guess(F.col("text")),
            ).otherwise(F.col("lang")),
        )
    out = parsed.select(
        F.coalesce(
            _content_id(F.col("text")),
            # quarantine rows mix the reason with the source file so two
            # different broken segments failing the same way never collide
            _content_id(F.concat_ws("\x1f", F.col("corrupt"), F.col("source"))),
        ).alias("doc_id"),
        "text",
        "lang",
        "source",
        F.coalesce(F.length("text"), F.lit(0)).cast("long").alias("n_chars"),
        "corrupt",
    )
    if keep_corrupt:
        return out
    return out.filter(F.col("corrupt").isNull()).drop("corrupt")


# ---------------------------------------------------------------------------
# Host-level link graph from raw WARC response records — the edge source for
# operators.graph.domain_rank (host-authority quality priors). Pure helpers
# first (fuzzable without Spark), then the binaryFile kernel mirroring
# _warc_documents' scale shape.
# ---------------------------------------------------------------------------

_HREF_RE = re.compile(r"""href\s*=\s*["']?([^"'\s>]+)""", re.IGNORECASE)


def _host_of(url: str) -> "str | None":
    """Lowercased host of an absolute (or protocol-relative) http(s) URL;
    None for anything else (relative links are same-host by construction
    and carry no cross-host endorsement). Linear string splits only."""
    # explicit ASCII whitespace set = Java regex \s, so the Catalyst twin
    # (graph.host_expr) is EXACTLY equal on every input — a bare .strip()
    # also eats unicode whitespace the JVM side would keep
    u = url.strip(" \t\n\r\x0b\x0c")
    if u.startswith("//"):
        u = "http:" + u
    low = u.lower()
    if not (low.startswith("http://") or low.startswith("https://")):
        return None
    rest = u.split("://", 1)[1]
    host = rest.split("/", 1)[0].split("?", 1)[0].split("#", 1)[0]
    host = host.rsplit("@", 1)[-1].split(":", 1)[0].lower().strip(".")
    return host or None


def page_link_hosts(html: str, src_host: "str | None") -> "list[str]":
    """DISTINCT cross-host link targets of one page (sorted for
    determinism). Distinct-per-page is the standard weighting: a page
    linking the same host 40 times endorses it once; forty PAGES linking it
    endorse it forty times."""
    hosts = set()
    for m in _HREF_RE.finditer(html):
        h = _host_of(m.group(1))
        if h is not None and h != src_host:
            hosts.add(h)
    return sorted(hosts)


def read_warc_links(
    spark: SparkSession,
    path: str,
    pattern: str | None = None,
) -> DataFrame:
    """Raw WARC archives → the host link graph (src_host, dst_host), one
    row per (page, distinct cross-host link target). Feed to
    ``operators.graph.domain_rank`` for host-authority priors, joinable
    against any quality stage by host.

    Scale shape: identical to ``read_warc_corpus`` — files are the
    parallelism unit, HTML never leaves the Arrow kernel (only host pairs
    do), and corrupt tails/undecodable records are SKIPPED here (the
    documents reader owns quarantine accounting; run it over the same
    segments for the audit trail).

    Reference analog: none — north-star extension (crawl-curation tier)."""
    reader = spark.read.format("binaryFile")
    reader = reader.option("pathGlobFilter", pattern or "*.warc*")
    return _warc_links(reader.load(path).select("path", "content"))


def stream_warc_links(
    spark: SparkSession,
    path: str,
    pattern: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``read_warc_links`` (the ``stream_warc_corpus``
    discipline — same kernel, gated equal in tests): a crawl drop-folder as
    a STREAMING (src_host, dst_host) edge frame, appendable to a link-graph
    store for periodic ``domain_rank`` refreshes."""
    files = _stream_warc_files(spark, path, pattern or "*.warc*", max_files_per_trigger)
    return _warc_links(files)


def _response_pages(content) -> "list[tuple[str, str]]":
    """(src_host, raw_html) per extractable response record of ONE archive
    file — the shared page walk of the link-graph and anchor kernels
    (damaged gzip, non-response records, hostless URIs, and non-text
    payloads all contribute nothing, never a failure)."""
    import gzip
    import zlib

    raw = bytes(content)
    if raw[:2] == b"\x1f\x8b":
        try:
            raw = gzip.decompress(raw)
        except (OSError, EOFError, zlib.error):
            return []
    recs, _corrupt = _split_warc_records(raw)
    pages = []
    for headers, body in recs:
        if headers.get("warc-type", "").lower() != "response":
            continue
        src = _host_of(headers.get("warc-target-uri", ""))
        if src is None:
            continue
        html, skip = _http_payload(body, extract_html=False)
        if skip is not None:
            continue
        pages.append((src, html))
    return pages


def _warc_links(files: DataFrame) -> DataFrame:
    """Shared batch/streaming tail of the link-graph readers."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {"src_host": [], "dst_host": []}
            for content in pdf["content"]:
                for src, html in _response_pages(content):
                    for dst in page_link_hosts(html, src):
                        out["src_host"].append(src)
                        out["dst_host"].append(dst)
            yield pd.DataFrame(out)

    return files.mapInPandas(run, schema="src_host string, dst_host string")


# ---------------------------------------------------------------------------
# Anchor-text mining from raw WARC (r8): (src_host, dst_host, anchor) —
# anchor text is training data in its own right (query→document retrieval
# pairs, title generation) and the classic relevance signal for the target
# page. Pure helper first (fuzzable), then batch + streaming front doors on
# the shared kernels.
# ---------------------------------------------------------------------------

_A_OPEN_RE = re.compile(r"(?is)<a\b([^>]*)>")
# raw anchor bodies longer than this aren't anchor text — and bounding the
# close-tag search keeps an UNCLOSED <a> (truncated/adversarial page) from
# scanning to end-of-document per anchor (O(anchors × tail) blowup)
ANCHOR_BODY_CAP = 4096


def page_anchors(
    html: str, max_chars: int = 256
) -> "list[tuple[str, str]]":
    """(dst_host, anchor_text) per link whose href resolves to an http(s)
    host AND whose visible text is non-empty (image-only/empty anchors
    carry no language). The anchor markup is stripped with the SAME
    ``_strip_html`` the documents path uses (nested tags out, entities
    decoded after), then capped at ``max_chars``. Matching is find-based
    and bounded: the open tag is one linear regex, href matches within the
    small attribute string, and the close tag is a windowed ``str.find``
    (``ANCHOR_BODY_CAP``) — an unclosed anchor costs one bounded window,
    never a rescan of the document tail."""
    out = []
    for m in _A_OPEN_RE.finditer(html):
        hm = _HREF_RE.search(m.group(1))
        if hm is None:
            continue
        dst = _host_of(hm.group(1))
        if dst is None:
            continue
        start = m.end()
        close = html.find("</a", start, start + ANCHOR_BODY_CAP)
        if close < 0:
            continue
        text = _strip_html(html[start:close])[:max_chars].strip()
        if text:
            out.append((dst, text))
    return out


def read_warc_anchors(
    spark: SparkSession, path: str, pattern: str | None = None
) -> DataFrame:
    """Raw WARC archives → (src_host, dst_host, anchor) rows, one per
    anchored link (same-host anchors INCLUDED — navigation text is signal
    for title/retrieval mining even within a site; filter
    ``src_host != dst_host`` for the endorsement reading). Scale shape =
    ``read_warc_links``: files parallelize, HTML never leaves the kernel,
    damaged archives/records contribute nothing."""
    reader = spark.read.format("binaryFile")
    reader = reader.option("pathGlobFilter", pattern or "*.warc*")
    return _warc_anchors(reader.load(path).select("path", "content"))


def stream_warc_anchors(
    spark: SparkSession,
    path: str,
    pattern: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``read_warc_anchors`` (shared kernel, gated equal
    in tests)."""
    files = _stream_warc_files(spark, path, pattern or "*.warc*", max_files_per_trigger)
    return _warc_anchors(files)


def _warc_anchors(files: DataFrame) -> DataFrame:
    """Shared batch/streaming tail of the anchor readers (same
    ``_response_pages`` walk as the link-graph kernel)."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {"src_host": [], "dst_host": [], "anchor": []}
            for content in pdf["content"]:
                for src, html in _response_pages(content):
                    for dst, text in page_anchors(html):
                        out["src_host"].append(src)
                        out["dst_host"].append(dst)
                        out["anchor"].append(text)
            yield pd.DataFrame(out)

    return files.mapInPandas(
        run, schema="src_host string, dst_host string, anchor string"
    )
