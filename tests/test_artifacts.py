"""Artifact-persistence gates: every build-once model saves to parquet and
reloads to EXACTLY the shape its builder produced, and serving from the
reloaded artifact equals serving from the in-session build — the write-
once/serve-forever seam the index operators document."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pulsar_replay_spark.operators import artifacts, curation, pca, similarity


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_ivf_index_roundtrip_and_serving(spark, embeddings, tmp_path):
    cents = similarity.kmeans_refine(embeddings, 16, n_iter=1)
    cells = similarity.ivf_assign(embeddings, cents, n_probe=1).localCheckpoint(
        eager=True
    )
    artifacts.save_ivf_index(cents, cells, str(tmp_path / "ivf"))
    lc, lcells = artifacts.load_ivf_index(spark, str(tmp_path / "ivf"))
    assert _rows(lc) == _rows(cents)
    assert _rows(lcells) == _rows(cells)

    queries = embeddings.filter(F.col("vec_id") % 100 == 0)
    built = similarity.ivf_topk(
        embeddings, queries, k=5, n_probe=4, centroids=cents, corpus_cells=cells
    )
    served = similarity.ivf_topk(
        embeddings, queries, k=5, n_probe=4, centroids=lc, corpus_cells=lcells
    )
    assert _rows(built) == _rows(served)


def test_pq_index_roundtrip_and_serving(spark, embeddings, tmp_path):
    idx = similarity.pq_index(embeddings)
    artifacts.save_pq_index(idx, str(tmp_path / "pq"))
    loaded = artifacts.load_pq_index(spark, str(tmp_path / "pq"))
    for piece in ("books", "codes", "cents", "cells"):
        assert _rows(loaded[piece]) == _rows(idx[piece]), piece

    queries = embeddings.filter(F.col("vec_id") % 100 == 0)
    built = similarity.ivf_pq_topk(embeddings, queries, k=5, index=idx)
    served = similarity.ivf_pq_topk(embeddings, queries, k=5, index=loaded)
    assert _rows(built) == _rows(served)


def test_dsir_model_roundtrip_and_scoring(spark, documents, tmp_path):
    target = documents.filter(F.col("lang") == "es")
    ratio, default = curation.dsir_bucket_log_ratio(
        curation.dsir_features(target), curation.dsir_features(documents)
    )
    artifacts.save_dsir_model(ratio, default, str(tmp_path / "dsir"))
    lratio, ldefault = artifacts.load_dsir_model(spark, str(tmp_path / "dsir"))
    assert ldefault == default
    assert _rows(lratio) == _rows(ratio)
    assert _rows(curation.dsir_score(documents, lratio, ldefault)) == _rows(
        curation.dsir_score(documents, ratio, default)
    )


def test_pca_model_roundtrip_and_projection(spark, embeddings, tmp_path):
    model = pca.pca_fit(embeddings, 8, whiten=True)
    artifacts.save_pca_model(spark, model, str(tmp_path / "pca"))
    loaded = artifacts.load_pca_model(spark, str(tmp_path / "pca"))
    assert loaded["n"] == model["n"] and loaded["whiten"] is True
    for key in ("mean", "components", "eigvals", "explained_var_ratio"):
        assert np.array_equal(loaded[key], model[key]), key
    assert _rows(
        pca.pca_project(embeddings, loaded).select("vec_id", "proj")
    ) == _rows(pca.pca_project(embeddings, model).select("vec_id", "proj"))


def test_bloom_roundtrip_and_serving(spark, documents, tmp_path):
    from pulsar_replay_spark.operators import bloom

    keyed = documents.select(F.md5("text").alias("content_key"))
    n_bits, n_hashes = bloom.bloom_params(1000, fpp=0.01)
    bitmap = bloom.bloom_build(keyed, "content_key", n_bits, n_hashes)
    artifacts.save_bloom(spark, bitmap, n_hashes, str(tmp_path / "bloom"))
    lbm, lk = artifacts.load_bloom(spark, str(tmp_path / "bloom"))
    assert lbm == bitmap and lk == n_hashes

    probe = keyed.limit(50)
    built = bloom.bloom_might_contain(probe, "content_key", bitmap, n_hashes)
    served = bloom.bloom_might_contain(probe, "content_key", lbm, lk)
    assert _rows(built) == _rows(served)
    assert all(r["might_contain"] for r in served.collect())


def test_bloom_hex128_kind_no_false_negatives(spark, documents):
    """r11: the vectorized hex128 key kind (keys that already ARE 128-bit
    hex hashes — gram hashes, content md5s): every inserted key hits
    (no false negatives), absent keys miss at ~fpp, bitmaps are NOT
    interchangeable with the md5 kind, and an unknown kind raises."""
    import pytest as _pytest

    from pulsar_replay_spark.operators import bloom

    keyed = documents.select(F.md5("text").alias("k")).distinct()
    n = keyed.count()
    n_bits, n_hashes = bloom.bloom_params(n, fpp=0.01)
    bm = bloom.bloom_build(keyed, "k", n_bits, n_hashes, key_kind="hex128")
    hits = bloom.bloom_might_contain(
        keyed, "k", bm, n_hashes, key_kind="hex128"
    )
    assert all(r["might_contain"] for r in hits.collect())

    absent = spark.range(2000).select(
        F.md5(F.concat(F.lit("absent"), F.col("id"))).alias("k")
    )
    fp = (
        bloom.bloom_might_contain(absent, "k", bm, n_hashes, key_kind="hex128")
        .filter(F.col("might_contain"))
        .count()
    )
    assert fp <= 2000 * 0.03  # ~fpp with slack

    # kinds are not interchangeable: md5-kind probe of a hex128 bitmap
    # must NOT report everything present (positions differ)
    cross = bloom.bloom_might_contain(keyed, "k", bm, n_hashes)
    assert not all(r["might_contain"] for r in cross.collect())

    with _pytest.raises(ValueError, match="key_kind"):
        bloom.bloom_build(keyed, "k", n_bits, n_hashes, key_kind="sha9000")
    with _pytest.raises(ValueError, match="key_kind"):
        bloom.bloom_might_contain(keyed, "k", bm, n_hashes, key_kind="nope")


def test_bloom_hex128_rejects_malformed_key_lengths():
    """r11 ADVICE: hex128 decodes the CONCATENATED batch, so a 30-char +
    34-char pair keeps the total a multiple of 32 and would silently
    shift every later key's h1/h2 — a probe-side false negative. The
    per-key length check must raise a named error instead (and not just
    when the total length breaks fromhex)."""
    import numpy as np
    import pytest as _pytest

    from pulsar_replay_spark.operators.bloom import _positions_hex128

    good = ["ab" * 16, "cd" * 16]
    out = _positions_hex128(good, 1 << 20, 5)
    assert out.shape == (2, 5)
    # offsetting pair: total length is still 64 chars → fromhex succeeds,
    # alignment is silently wrong without the guard
    bad = ["ab" * 15, "cd" * 17]
    with _pytest.raises(ValueError, match="32-hex-char"):
        _positions_hex128(bad, 1 << 20, 5)
    assert _positions_hex128([], 1 << 20, 5).shape[0] == 0
    assert isinstance(out, np.ndarray)
