"""Round-5b operator tests: tiled/Deflate GeoTIFF codec, SemDeDup
semantic dedup, and the logistic-regression quality-filter step — each
checked against an INDEPENDENT reference implementation (the parity
oracle shares expression structure with the Spark side, so these catch
shared-formula defects parity can't)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

SF = "/root/testdata/sf0.01"


def test_tiled_geotiff_codec_roundtrips_and_validates():
    """Tiles must mosaic back losslessly in row-major order, geo tags must
    recover, and the decoder must reject containers it can't honestly
    read (wrong magic, wrong compression)."""
    from odc_product_docker_images_spark.multimodal.geotiff import (
        _EPSG,
        _H,
        _TILE,
        _TILED_SCALE as _SCALE,
        _TILED_TIEPOINT as _TIEPOINT,
        _W,
        _decode_tiff as _decode_tiled,
        _pack_tiled,
    )

    rng = np.random.default_rng(11)
    raster = rng.integers(0, 65536, size=(_H, _W), dtype=np.uint16)
    payload = _pack_tiled(raster)

    w, h, back, ps, tp, gk = _decode_tiled(payload)
    assert (w, h) == (_W, _H)
    assert np.array_equal(back, raster)
    assert ps == _SCALE and tp == _TIEPOINT
    keys = {gk[4 + 4 * i]: gk[7 + 4 * i] for i in range((len(gk) - 4) // 4)}
    assert keys[2048] == _EPSG

    # a gradient raster catches tile-order transposition that a uniform
    # random raster statistically wouldn't if tiles were square-symmetric
    grad = (np.arange(_H)[:, None] * _W + np.arange(_W)[None, :]).astype(np.uint16)
    _, _, back2, *_ = _decode_tiled(_pack_tiled(grad))
    assert np.array_equal(back2, grad)

    with pytest.raises(NotImplementedError):
        _decode_tiled(b"MM\x00*" + payload[4:])

    # flip Compression to 1 (none): decoder must refuse, not misparse
    bad = bytearray(payload)
    entry = payload.index(struct.pack("<HHIHH", 259, 3, 1, 8, 0))
    struct.pack_into("<HHIHH", bad, entry, 259, 3, 1, 1, 0)
    with pytest.raises(NotImplementedError, match="Deflate"):
        _decode_tiled(bytes(bad))

    # truncate a tile stream: inflate must fail loudly, not return junk
    import zlib

    with pytest.raises(zlib.error):
        _decode_tiled(payload[:-8])

    # the mosaic is tiled, not striped: tile edge must divide the scene
    assert _W % _TILE == 0 and _H % _TILE == 0


def _load_embeddings():
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    ids = t["vec_id"].to_numpy(np.int64)
    M = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    order = np.argsort(ids)
    return ids[order], M[order]


def test_semantic_dedup_matches_independent_numpy(spark):
    """Recompute assignment + greedy-by-id pruning with a straight numpy
    implementation (unrounded distances — ties don't occur at fixture
    scale) and require identical keep/drop/witness decisions."""
    from odc_product_docker_images_spark.textvec.semantic import (
        _K,
        _TAU,
        dedup_semantic,
    )

    ids, M = _load_embeddings()
    seeds = M[ids < _K]
    d2 = ((M[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)  # argmin returns the FIRST (lowest id) tie
    N = M / np.linalg.norm(M, axis=1, keepdims=True)

    expected = {}
    for c in range(_K):
        members = ids[assign == c]
        Mc = N[assign == c]
        C = Mc @ Mc.T
        n = len(members)
        for j in range(n):
            wit = [members[i] for i in range(j) if C[i, j] > _TAU]
            expected[int(members[j])] = (
                c,
                1 if wit else 0,
                min(wit) if wit else None,
            )

    got = {
        r["vec_id"]: (r["centroid_id"], r["is_dropped"], r["dup_of"])
        for r in dedup_semantic(spark, SF).collect()
    }
    assert len(got) == len(ids)
    assert got == expected
    # the fixture must actually exercise the drop path
    assert sum(v[1] for v in got.values()) > 0


def test_lr_step_matches_independent_numpy_gradient(spark):
    """Recompute the batch gradient/loss with unrounded numpy math; the
    engine's 6-dp per-row rounding must land within 5e-4 of it, and the
    update rule w_new = w_old - eta*grad must hold exactly on the
    returned columns."""
    import pyarrow.parquet as pq

    from odc_product_docker_images_spark.textvec.lr_filter import (
        _ETA,
        _W,
        text_quality_lr_step,
    )

    docs = pq.read_table(f"{SF}/documents.parquet").to_pandas()
    y = (docs["lang"] == "en").to_numpy(np.float64)
    x0 = np.ones(len(docs))
    x1 = np.log(1.0 + docs["n_chars"].to_numpy(np.float64))
    x2 = docs["text"].str.split(" ").str.len().to_numpy(np.float64) / 100.0
    X = np.stack([x0, x1, x2], axis=1)
    w = np.array([wv for _, wv in _W])
    m = X @ w
    p = 1.0 / (1.0 + np.exp(-m))
    grad = X.T @ (p - y)
    loss = np.log1p(np.exp(-(2 * y - 1) * m)).sum()

    rows = {r["feature"]: r for r in text_quality_lr_step(spark, SF).collect()}
    assert set(rows) == {"bias", "log_len", "n_tokens"}
    for k, (name, wv) in enumerate(_W):
        r = rows[name]
        assert r["w_old"] == wv
        assert r["grad"] == pytest.approx(grad[k], abs=5e-4)
        assert r["w_new"] == r["w_old"] - _ETA * r["grad"]  # exact IEEE identity
        assert r["loss"] == pytest.approx(loss, abs=5e-3)
        assert r["n_docs"] == len(docs)
    # gradient must be non-trivial (the label isn't constant)
    assert 0 < y.sum() < len(docs)
