"""Multimodal plumbing: binary payload columns + Arrow-batched frame
sampling (decode faked: the engine ships no media decoder)."""

from __future__ import annotations

import hashlib

from pulsar_replay_spark.operators import multimodal


def test_as_media_schema_and_hash(spark, documents):
    media = multimodal.as_media(documents)
    assert media.schema.simpleString() == (
        "struct<doc_id:bigint,payload:binary,media_type:string,byte_len:int,sha256:string>"
    )
    r = media.orderBy("doc_id").first()
    assert r["sha256"] == hashlib.sha256(bytes(r["payload"])).hexdigest()
    assert r["byte_len"] == len(bytes(r["payload"]))


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
