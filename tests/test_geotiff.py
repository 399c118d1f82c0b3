"""GeoTIFF codec: the writer's bytes are pinned, and the reader rejects a
layout/compression pair it does not implement."""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pytest


def _striped_random():
    from odc_product_docker_images_spark.multimodal.geotiff import _pack_tiff

    rng = np.random.default_rng(7)
    return _pack_tiff(rng.integers(0, 65536, size=(15, 24), dtype=np.uint16))


def _tiled_random():
    from odc_product_docker_images_spark.multimodal.geotiff import _pack_tiled

    rng = np.random.default_rng(11)
    return _pack_tiled(rng.integers(0, 65536, size=(32, 48), dtype=np.uint16))


def _striped_tile_blob():
    from odc_product_docker_images_spark.multimodal.geotiff import _pack_tiff
    from odc_product_docker_images_spark.sources.tile_source import _tile_band_raster

    return _pack_tiff(_tile_band_raster(2, 3, 32, "nir"))


@pytest.mark.parametrize(
    "build, md5, size, deflate",
    [
        (_striped_random, "bb67659f3798994c041cd204f2baf936", 1114, False),
        (_tiled_random, "3999afffcac75ee6a7d6bcba28bd0577", 3472, True),
        (_striped_tile_blob, "cb5abb7c9b2a5e23f1290e2b24a61264", 2578, False),
    ],
    ids=["striped", "tiled", "tile_source_blob"],
)
def test_writer_bytes_are_pinned(build, md5, size, deflate):
    """Both layouts' bytes stay exactly as first written, so blob stores
    written earlier (the tile source's write-once ``tiff_tiles`` artifact)
    stay valid under their tag.  Deflate output depends on the zlib build;
    the tiled digest was taken with zlib 1.2.13."""
    if deflate and zlib.ZLIB_RUNTIME_VERSION != "1.2.13":
        pytest.skip(f"deflate bytes differ under zlib {zlib.ZLIB_RUNTIME_VERSION}")
    payload = build()
    assert (hashlib.md5(payload).hexdigest(), len(payload)) == (md5, size)


def test_reader_refuses_deflate_strips():
    """Compression = Deflate on a striped file is not a layout the reader
    implements: it must refuse, not misparse."""
    from odc_product_docker_images_spark.multimodal.geotiff import _decode_tiff

    payload = bytearray(_striped_random())
    entry = payload.index(struct.pack("<HHIHH", 259, 3, 1, 1, 0))
    struct.pack_into("<HHIHH", payload, entry, 259, 3, 1, 8, 0)
    with pytest.raises(NotImplementedError, match="Deflate"):
        _decode_tiff(bytes(payload))


@pytest.mark.parametrize(
    "grid, shape",
    [("_STRIPED", (1, 5)), ("_TILED", (16, 16)), ("_TILED", (20, 40))],
    ids=["striped_1x5", "tiled_16x16", "tiled_20x40"],
)
def test_single_block_and_edge_tile_rasters_round_trip(grid, shape):
    """A raster of ONE block writes its offset and byte count inline (the
    reader reads values of <= 4 bytes there), and a tiled raster whose
    sides are not tile multiples writes full, padded edge tiles."""
    from odc_product_docker_images_spark.multimodal import geotiff

    g = getattr(geotiff, grid)
    raster = np.random.default_rng(3).integers(0, 65536, size=shape, dtype=np.uint16)
    w, h, back, scale, tiepoint, _ = geotiff._decode_tiff(g.pack(raster))
    assert (h, w) == shape
    np.testing.assert_array_equal(back, raster)
    assert (scale, tiepoint) == (g.scale, g.tiepoint)
