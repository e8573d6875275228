"""Multimodal plumbing: binary payload columns + Arrow-batched feature
extraction (decode stubbed — no media libs in the container)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import multimodal


def test_as_media_schema_and_hash(spark, documents):
    media = multimodal.as_media(documents)
    assert media.schema.simpleString() == (
        "struct<doc_id:bigint,payload:binary,media_type:string,byte_len:int,sha256:string>"
    )
    r = media.orderBy("doc_id").first()
    assert r["sha256"] == hashlib.sha256(bytes(r["payload"])).hexdigest()
    assert r["byte_len"] == len(bytes(r["payload"]))


def test_extract_features_fake(spark, documents):
    media = multimodal.as_media(documents.limit(50))
    feats = multimodal.extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
    # deterministic across runs
    again = {r["doc_id"]: list(r["feature"]) for r in multimodal.extract_features(media).collect()}
    for r in rows:
        assert [pytest.approx(x) for x in again[r["doc_id"]]] == list(r["feature"])


def test_extract_features_real_decode_raises(spark, documents):
    media = multimodal.as_media(documents.limit(2))
    feats = multimodal.extract_features(media, fake=False)
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        feats.collect()


def test_feature_pipeline_composes_with_similarity(spark, documents):
    """Features feed the dim-agnostic similarity operators (schema
    contract): the 8-dim features rank through brute_force_topk and every
    query gets neighbours."""
    from pulsar_replay_spark.operators.similarity import brute_force_topk

    media = multimodal.as_media(documents.limit(20))
    feats = multimodal.extract_features(media).select(
        F.col("doc_id").alias("vec_id"), F.col("feature").alias("embedding")
    )
    assert feats.count() == 20
    queries = feats.orderBy("vec_id").limit(4)
    q_ids = {r["vec_id"] for r in queries.collect()}
    got = brute_force_topk(feats, queries, k=3).collect()
    assert {r["q_id"] for r in got} == q_ids
    assert len(got) == 3 * len(q_ids)


def test_frame_sample_multiplicity_and_determinism(spark, documents):
    media = multimodal.as_media(documents)
    frames = multimodal.frame_sample(media, n_frames=4)
    n_videos = media.filter("media_type = 'video/mp4'").count()
    rows = frames.collect()
    assert len(rows) == 4 * n_videos
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2, 3] for v in per_doc.values())
    # offsets monotone within a doc; frames are non-empty prefixes of payload
    assert all(r["offset_ms"] >= 0 and len(r["frame_bytes"]) > 0 for r in rows)
    again = multimodal.frame_sample(media, n_frames=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_resize_thumbnail_fixed_size(spark, documents):
    media = multimodal.as_media(documents)
    thumbs = multimodal.resize_thumbnail(media, width=16, height=8).collect()
    n_images = media.filter("media_type = 'image/png'").count()
    assert len(thumbs) == n_images
    assert all(len(bytes(r["thumb"])) == 16 * 8 for r in thumbs)
    assert all((r["width"], r["height"]) == (16, 8) for r in thumbs)


def test_frame_sample_real_decode_raises(spark, documents):
    """Without ffmpeg the real branch must fail loudly, naming the missing
    dependency (on toolchain-equipped machines the positive twin below runs
    instead)."""
    import shutil

    import pytest as _pytest

    if shutil.which("ffmpeg") is not None:
        _pytest.skip("ffmpeg installed; covered by test_frame_sample_real_ffmpeg")
    media = multimodal.as_media(documents)
    with _pytest.raises(Exception, match="ffmpeg"):
        multimodal.frame_sample(media, fake=False).collect()


# --- Real-decode smoke tests: skipped (not failed) where the toolchain is
# absent; wherever PIL/ffmpeg exist the real branch is exercised end-to-end
# through the same mapInPandas plumbing the fakes pin. ---


def _png_media(spark):
    """One real PNG payload shaped like as_media output (media_type image)."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (8, 4), (255, 0, 0)).save(buf, format="PNG")
    payload = buf.getvalue()
    return spark.createDataFrame(
        [(1, payload, "image/png", len(payload), "x")],
        "doc_id long, payload binary, media_type string, byte_len long, sha256 string",
    )


def test_extract_features_real_pil(spark):
    import pytest as _pytest

    _pytest.importorskip("PIL")
    media = _png_media(spark)
    rows = multimodal.extract_features(media, fake=False).collect()
    assert len(rows) == 1
    feat = rows[0]["feature"]
    assert len(feat) == multimodal.FEATURE_DIM
    # solid red 8x4: mean R=1, G=B=0, zero stds, luminance 1/3, aspect 2
    assert abs(feat[0] - 1.0) < 1e-9 and abs(feat[1]) < 1e-9
    assert abs(feat[7] - 2.0) < 1e-9


def test_resize_thumbnail_real_pil(spark):
    import pytest as _pytest

    _pytest.importorskip("PIL")
    media = _png_media(spark)
    rows = multimodal.resize_thumbnail(media, width=4, height=2, fake=False).collect()
    assert len(rows) == 1
    assert len(bytes(rows[0]["thumb"])) == 4 * 2 * 3  # RGB bytes
    assert all(b in (0, 255) for b in bytes(rows[0]["thumb"]))  # solid red survives


def test_frame_sample_real_ffmpeg(spark):
    import shutil

    import pytest as _pytest

    if shutil.which("ffmpeg") is None or shutil.which("ffprobe") is None:
        _pytest.skip("ffmpeg toolchain not installed")
    import subprocess
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".mp4") as tf:
        subprocess.run(
            ["ffmpeg", "-v", "error", "-y", "-f", "lavfi", "-i",
             "testsrc=duration=1:size=64x64:rate=8", tf.name],
            check=True,
        )
        payload = open(tf.name, "rb").read()
    media = spark.createDataFrame(
        [(1, payload, "video/mp4", len(payload), "x")],
        "doc_id long, payload binary, media_type string, byte_len long, sha256 string",
    )
    rows = multimodal.frame_sample(media, n_frames=2, fake=False).collect()
    assert len(rows) == 2
    assert all(len(bytes(r["frame_bytes"])) > 0 for r in rows)


def test_frame_dedup_collapses_planted_duplicates(spark, documents):
    """Two cloned videos must share every frame hash; the dedup keeps exactly
    one owner per distinct hash (the (doc_id, frame_idx) minimum) and keeps
    every unique frame."""
    from pyspark.sql import functions as F

    base = multimodal.as_media(documents).filter(F.col("media_type") == "video/mp4")
    clone = base.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    frames = multimodal.frame_sample(base.unionByName(clone), n_frames=3)
    verdicts = multimodal.frame_dedup(frames).collect()
    assert len(verdicts) == frames.count()

    by_hash: dict = {}
    for r in verdicts:
        by_hash.setdefault(r["frame_hash"], []).append(r)
    for members in by_hash.values():
        keepers = [m for m in members if m["keep"]]
        assert len(keepers) == 1
        assert min((m["doc_id"], m["frame_idx"]) for m in members) == (
            keepers[0]["doc_id"],
            keepers[0]["frame_idx"],
        )
    # every cloned frame is a duplicate of its source frame -> dropped
    dropped_clone = [r for r in verdicts if r["doc_id"] >= 1_000_000 and not r["keep"]]
    assert len(dropped_clone) == 9  # 3 clones x 3 frames


def test_audio_windows_cover_payload(spark, documents):
    """Windows tile each audio payload with the configured hop: correct
    count, monotone offsets, exact byte slices (python mirror), overlap =
    window - hop, final partial window kept."""
    media = multimodal.as_media(documents.limit(60))
    audio = {r["doc_id"]: bytes(r["payload"]) for r in media.filter("media_type = 'audio/wav'").collect()}
    assert audio
    rows = multimodal.audio_windows(media, window_ms=40, hop_ms=25).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(audio)
    for doc_id, ws in by_doc.items():
        raw = audio[doc_id]
        ws.sort(key=lambda r: r["window_idx"])
        expect_starts = []
        s = 0
        while s < len(raw):
            expect_starts.append(s)
            if min(s + 40, len(raw)) == len(raw):
                break
            s += 25
        assert [w["start_ms"] for w in ws] == expect_starts
        for w in ws:
            assert bytes(w["window_bytes"]) == raw[w["start_ms"]:w["end_ms"]]
            assert w["end_ms"] - w["start_ms"] <= 40
        assert ws[-1]["end_ms"] == len(raw)


def test_parse_media_headers_real_containers(spark):
    """Library-free header decode against REAL hand-crafted container bytes:
    a 7×5 PNG IHDR, a 2ch/8kHz/16-bit WAV with exactly 0.25 s of data, an
    MP4 ftyp+moov/mvhd with a 90s duration at timescale 600 — plus a
    text payload that must degrade to parse_ok = false, never a wrong
    answer."""
    import struct
    import zlib

    from pulsar_replay_spark.operators.multimodal import parse_media_headers

    ihdr = struct.pack(">IIBBBBB", 7, 5, 8, 2, 0, 0, 0)  # 7x5, 8-bit, RGB
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )

    sr, ch, bits = 8000, 2, 16
    n_data = sr * ch * (bits // 8) // 4  # 0.25 s
    fmt = struct.pack("<HHIIHH", 1, ch, sr, sr * ch * bits // 8, ch * bits // 8, bits)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + n_data) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", n_data) + b"\x00" * n_data
    )

    mvhd = b"\x00\x00\x00\x00" + struct.pack(">IIII", 0, 0, 600, 600 * 90)
    moov_body = struct.pack(">I", 8 + len(mvhd)) + b"mvhd" + mvhd
    moov = struct.pack(">I", 8 + len(moov_body)) + b"moov" + moov_body
    mp4 = struct.pack(">I", 16) + b"ftyp" + b"isom\x00\x00\x02\x00" + moov

    rows = [(1, png), (2, wav), (3, mp4), (4, b"just some text bytes")]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r.asDict() for r in parse_media_headers(media).collect()}

    assert got[1]["container"] == "png" and got[1]["parse_ok"]
    assert (got[1]["width"], got[1]["height"]) == (7, 5)
    assert (got[1]["channels"], got[1]["bit_depth"]) == (3, 8)

    assert got[2]["container"] == "wav" and got[2]["parse_ok"]
    assert (got[2]["channels"], got[2]["sample_rate"], got[2]["bit_depth"]) == (2, 8000, 16)
    assert got[2]["duration_ms"] == 250

    assert got[3]["container"] == "mp4" and got[3]["parse_ok"]
    assert got[3]["duration_ms"] == 90_000

    assert got[4]["container"] is None and not got[4]["parse_ok"]
    assert all(got[4][k] is None for k in ("width", "sample_rate", "duration_ms"))


def test_parse_media_headers_fixture_payloads_degrade_cleanly(spark, documents):
    """Fixture payloads are text bytes, not real containers: every row must
    come back parse_ok = false (sniffed from magic bytes — the claimed
    media_type column is never trusted), one output row per input."""
    from pulsar_replay_spark.operators.multimodal import as_media, parse_media_headers

    media = as_media(documents)
    got = parse_media_headers(media)
    assert got.count() == media.count()
    assert got.filter("parse_ok").count() == 0


def test_parse_media_headers_mp4_spec_edges(spark):
    """Regression pins for the r5 MP4 box-walk fixes plus the r6 ADVICE
    hardening, against hand-crafted spec-edge payloads:

    - a moov carried in a 64-bit ``largesize`` box (size==1) holding a
      VERSION-1 mvhd (64-bit duration), preceded by a sibling ``free`` box,
      followed by a size==0 to-EOF trailer box — duration must be exact;
    - a TRUNCATED largesize header inside moov — the walk must stop cleanly
      (parse_ok stays true, duration null), not trip the exception handler;
    - an mvhd whose declared size is too small for its fields, followed by
      sibling bytes that would fake a plausible timescale/duration — the
      reads are bounded by the box end, so duration must stay null;
    - a NULL payload row — parse_ok false, the job survives.
    """
    import struct

    from pulsar_replay_spark.operators.multimodal import parse_media_headers

    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom\x00\x00\x02\x00"

    # 1: largesize moov + free sibling + v1 mvhd + size==0 trailer
    mvhd_v1 = b"\x01\x00\x00\x00" + struct.pack(">QQIQ", 0, 0, 1000, 1000 * 120)
    mvhd_box = struct.pack(">I", 8 + len(mvhd_v1)) + b"mvhd" + mvhd_v1
    free = struct.pack(">I", 12) + b"free" + b"\x00" * 4
    moov_body = free + mvhd_box
    moov = (
        struct.pack(">I", 1)
        + b"moov"
        + struct.pack(">Q", 16 + len(moov_body))
        + moov_body
    )
    trailer = struct.pack(">I", 0) + b"mdat" + b"\x00" * 20  # size==0: to EOF
    mp4_large = ftyp + moov + trailer

    # 2: truncated largesize header (claims 64-bit size, payload ends first)
    trunc_inner = struct.pack(">I", 1) + b"mvhd" + b"\x00\x00"
    moov_trunc = struct.pack(">I", 8 + len(trunc_inner)) + b"moov" + trunc_inner
    mp4_trunc = ftyp + moov_trunc

    # 3: mvhd declares size 12 (no room for fields); the next sibling's bytes
    # would decode as timescale=600, duration=600*90 if bounds leaked
    small_mvhd = struct.pack(">I", 12) + b"mvhd" + b"\x00\x00\x00\x00"
    fake_sib = (
        struct.pack(">I", 28)
        + b"free"
        + struct.pack(">IIII", 0, 0, 600, 600 * 90)
        + b"xxxx"
    )
    body3 = small_mvhd + fake_sib
    mp4_small = ftyp + struct.pack(">I", 8 + len(body3)) + b"moov" + body3

    rows = [(1, mp4_large), (2, mp4_trunc), (3, mp4_small), (4, None)]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r.asDict() for r in parse_media_headers(media).collect()}

    assert got[1]["container"] == "mp4" and got[1]["parse_ok"]
    assert got[1]["duration_ms"] == 120_000

    assert got[2]["container"] == "mp4" and got[2]["parse_ok"]
    assert got[2]["duration_ms"] is None

    assert got[3]["container"] == "mp4" and got[3]["parse_ok"]
    assert got[3]["duration_ms"] is None

    assert not got[4]["parse_ok"] and got[4]["container"] is None


def test_parse_one_media_never_raises_on_arbitrary_bytes():
    """Hypothesis fuzz of the header decoder contract: ANY byte string —
    including ones opening with PNG/RIFF/ftyp magic followed by garbage —
    yields one complete dict with the full field set and never raises; a
    magic-less input is parse_ok=false with all-null fields."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pulsar_replay_spark.operators.multimodal import _parse_one_media

    FIELDS = {
        "container",
        "width",
        "height",
        "channels",
        "sample_rate",
        "bit_depth",
        "duration_ms",
        "parse_ok",
    }
    magics = st.sampled_from(
        [b"", b"\x89PNG\r\n\x1a\n", b"RIFF\x10\x00\x00\x00WAVE",
         b"\x00\x00\x00\x10ftyp", b"\x00\x00\x00\x01moov"]
    )

    @settings(max_examples=300, deadline=None)
    @given(prefix=magics, tail=st.binary(max_size=96))
    def fuzz(prefix, tail):
        out = _parse_one_media(prefix + tail)
        assert set(out) == FIELDS
        assert isinstance(out["parse_ok"], bool)
        if out["container"] is None:
            assert not out["parse_ok"]
            assert all(out[f] is None for f in FIELDS - {"container", "parse_ok"})

    fuzz()


def test_read_media_dir_binaryfile_ingest(spark, tmp_path):
    """binaryFile ingestion into the media-row contract: real container bytes
    written as FILES round-trip through read_media_dir into
    parse_media_headers with correct sniffed containers; extension-mapped
    media_type is only a hint; doc_ids are stable across re-reads; the glob
    pattern prunes at listing time; nested files appear only with
    recursive=True."""
    import hashlib
    import struct
    import zlib

    from pulsar_replay_spark.operators.multimodal import (
        parse_media_headers,
        read_media_dir,
    )

    ihdr = struct.pack(">IIBBBBB", 7, 5, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    sr, ch, bits = 8000, 2, 16
    n_data = sr * ch * (bits // 8) // 4
    fmt = struct.pack("<HHIIHH", 1, ch, sr, sr * ch * bits // 8, ch * bits // 8, bits)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + n_data) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", n_data) + b"\x00" * n_data
    )
    (tmp_path / "red.png").write_bytes(png)
    (tmp_path / "tone.wav").write_bytes(wav)
    (tmp_path / "notes.txt").write_bytes(b"just some text bytes")
    (tmp_path / "nested").mkdir()
    (tmp_path / "nested" / "deep.png").write_bytes(png)

    media = read_media_dir(spark, str(tmp_path))
    rows = {r["source_path"].rsplit("/", 1)[-1]: r.asDict() for r in media.collect()}
    assert set(rows) == {"red.png", "tone.wav", "notes.txt"}  # non-recursive
    assert rows["red.png"]["media_type"] == "image/png"
    assert rows["tone.wav"]["media_type"] == "audio/wav"
    assert rows["notes.txt"]["media_type"] == "application/octet-stream"
    assert rows["red.png"]["byte_len"] == len(png)
    assert rows["red.png"]["sha256"] == hashlib.sha256(png).hexdigest()
    assert len({r["doc_id"] for r in rows.values()}) == 3

    parsed = {
        r["doc_id"]: r.asDict() for r in parse_media_headers(media).collect()
    }
    p = parsed[rows["red.png"]["doc_id"]]
    assert p["container"] == "png" and (p["width"], p["height"]) == (7, 5)
    w = parsed[rows["tone.wav"]["doc_id"]]
    assert w["container"] == "wav" and w["duration_ms"] == 250
    assert not parsed[rows["notes.txt"]["doc_id"]]["parse_ok"]

    # glob pattern prunes at listing; recursive picks up the nested file
    only_png = read_media_dir(spark, str(tmp_path), pattern="*.png")
    assert only_png.count() == 1
    # content-addressed ids: the byte-identical nested copy COLLAPSES to one
    # row (doc_id stays a unique key for downstream frame/feature joins);
    # keeper = min source_path, dedupe_content=False keeps every copy
    rec = read_media_dir(spark, str(tmp_path), pattern="*.png", recursive=True)
    rec_rows = rec.collect()
    assert len(rec_rows) == 1
    assert rec_rows[0]["source_path"].endswith("nested/deep.png")  # min path
    copies = read_media_dir(
        spark, str(tmp_path), pattern="*.png", recursive=True, dedupe_content=False
    ).collect()
    assert len(copies) == 2
    assert len({r["doc_id"] for r in copies}) == 1
    assert rows["red.png"]["doc_id"] == int(
        hashlib.sha256(png).hexdigest()[:15], 16
    )

    # re-ingest stability: same content -> same doc_ids
    again = {
        r["source_path"]: r["doc_id"]
        for r in read_media_dir(spark, str(tmp_path)).collect()
    }
    assert again == {r["source_path"]: r["doc_id"] for r in media.collect()}


def test_best_member_marks_keeps_highest_scoring_copy(spark):
    """The media quality-keeper: within each perceptual cluster the largest
    copy survives (ties -> min doc_id), singletons pass untouched, exactly
    one keeper per cluster, and the marks schema is unchanged."""
    from pulsar_replay_spark.operators import multimodal as mm

    marks = spark.createDataFrame(
        [
            (1, 1, True), (2, 1, False), (3, 1, False),   # cluster 1
            (5, 5, True), (6, 5, False),                   # cluster 5 (tie)
            (9, 9, True),                                  # singleton
        ],
        "doc_id long, cluster_id long, keep boolean",
    )
    scores = spark.createDataFrame(
        [(1, 100), (2, 900), (3, 500), (5, 70), (6, 70), (9, 10)],
        "doc_id long, byte_len long",
    )
    got = {
        r.doc_id: (r.cluster_id, r.keep)
        for r in mm.best_member_marks(marks, scores).collect()
    }
    assert got == {
        1: (1, False), 2: (1, True), 3: (1, False),  # largest copy wins
        5: (5, True), 6: (5, False),                 # tie -> min doc_id
        9: (9, True),                                # singleton untouched
    }
    # exactly one keeper per cluster
    per_cluster = {}
    for d, (c, k) in got.items():
        per_cluster[c] = per_cluster.get(c, 0) + int(k)
    assert all(v == 1 for v in per_cluster.values())


def test_best_member_marks_partial_scores_keep_members_marked(spark):
    """r8 advice regression: a member missing from the score frame must
    NOT vanish from the marks — NULL score sorts last, so an unscored copy
    loses to any scored sibling but stays marked a duplicate; an
    all-unscored cluster degrades to the min-doc_id keeper."""
    from pulsar_replay_spark.operators import multimodal as mm

    marks = spark.createDataFrame(
        [
            (1, 1, True), (2, 1, False), (3, 1, False),  # 3 unscored
            (7, 7, True), (8, 7, False),                 # all unscored
            (9, 9, True),                                # singleton
        ],
        "doc_id long, cluster_id long, keep boolean",
    )
    scores = spark.createDataFrame(
        [(1, 100), (2, 900), (9, 10)],  # doc 3, 7, 8 absent
        "doc_id long, byte_len long",
    )
    got = {
        r.doc_id: (r.cluster_id, r.keep)
        for r in mm.best_member_marks(marks, scores).collect()
    }
    assert got == {
        1: (1, False), 2: (1, True), 3: (1, False),  # 3 kept AND marked loser
        7: (7, True), 8: (7, False),                 # min-doc_id fallback
        9: (9, True),
    }
