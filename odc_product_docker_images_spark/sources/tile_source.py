"""Tile scan (SURVEY.md §2.1 S2) — the ``Datacube.load`` read fan-out as
one ``mapInArrow`` pass.

Reference analog: ``datacube-core``'s load path — the Postgres extent index
enumerates datasets, each (tile × time) becomes an independent read task,
GDAL materializes pixels.  Here the same shape: ``spark.range`` holds one
tile id per partition, and each task materializes its tile's pixel rows
independently on an executor — embarrassingly parallel, no driver
bottleneck.  No Python DataSource is involved, so the scan plans on the
JVM and starts no data-source daemon.

One kernel serves both scans.  Without a blob directory it takes each
band's raster from a deterministic function of (tile, y, x, band); with
one it opens and decodes one GeoTIFF blob per (tile, band), written from
the same function by the ``multimodal/geotiff.py`` codec.  Either way a
task emits its tile as one Arrow ``RecordBatch``, so tests and the DuckDB
oracle can assert exact content; a real deployment swaps the blob store
for rasterio reads.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

# The rows of both tile scans.
TILE_SCHEMA = "tile_x int, tile_y int, y long, x long, red double, nir double"


def _tile_band_raster(tile_x: int, tile_y: int, n: int, band: str):
    """The deterministic per-band pixel raster (uint16) of one tile — the
    arithmetic the DuckDB RANGE oracle regenerates for both scans."""
    import numpy as np

    y = np.arange(tile_y * n, (tile_y + 1) * n, dtype=np.int64)[:, None]
    x = np.arange(tile_x * n, (tile_x + 1) * n, dtype=np.int64)[None, :]
    if band == "red":
        return ((y * 31 + x * 17) % 255).astype(np.uint16)
    return ((y * 13 + x * 41) % 255).astype(np.uint16)


def ensure_tiff_tiles(tiles: int = 4, tile_size: int = 32) -> str:
    """Write-once TIFF blob store; returns its directory.  One striped
    classic GeoTIFF per (tile, band), encoded by the
    ``multimodal/geotiff.py`` writer from the deterministic formula.
    Pure-Python fixture generation (no Spark job; a ``scratch.artifact``
    tagged by the generation parameters) — a real deployment points the
    scan at the object bucket instead."""
    from pathlib import Path

    from ..multimodal.geotiff import _pack_tiff
    from ..scratch import artifact

    def build(path: str) -> None:
        d = Path(path)
        for tx in range(tiles):
            for ty in range(tiles):
                for band in ("red", "nir"):
                    raster = _tile_band_raster(tx, ty, tile_size, band)
                    (d / f"tile_{tx}_{ty}_{band}.tif").write_bytes(_pack_tiff(raster))

    return artifact("tiff_tiles", build, f"{tiles}x{tile_size}")


def _band(tx: int, ty: int, n: int, band: str, blob_dir: str | None):
    """One band of one tile: synthesized, or OPENED AND DECODED from its
    blob (the GDAL-shaped read path: header, IFD, out-of-line
    offset/byte-count arrays, geo tags)."""
    if blob_dir is None:
        return _tile_band_raster(tx, ty, n, band)
    from pathlib import Path

    from ..multimodal.geotiff import _decode_tiff

    payload = (Path(blob_dir) / f"tile_{tx}_{ty}_{band}.tif").read_bytes()
    w, h, raster, _ps, _tp, _gk = _decode_tiff(payload)
    if (w, h) != (n, n):
        raise ValueError(f"tile blob {tx},{ty},{band}: {w}x{h} != {n}x{n}")
    return raster


def _tile_batches(tiles: int, n: int, blob_dir: str | None, batches: Iterator) -> Iterator:
    """``mapInArrow`` kernel: tile id ``tx * tiles + ty`` → that tile's
    pixel rows as one batch."""
    import numpy as np
    import pyarrow as pa

    for batch in batches:
        for tile in batch.column(0).to_pylist():
            tx, ty = divmod(tile, tiles)
            y, x = np.mgrid[ty * n : (ty + 1) * n, tx * n : (tx + 1) * n].astype(np.int64)
            red, nir = (_band(tx, ty, n, b, blob_dir).ravel().astype(np.float64) for b in ("red", "nir"))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.full(n * n, tx, dtype=np.int32)),
                    pa.array(np.full(n * n, ty, dtype=np.int32)),
                    pa.array(y.ravel()),
                    pa.array(x.ravel()),
                    pa.array(red),
                    pa.array(nir),
                ],
                names=["tile_x", "tile_y", "y", "x", "red", "nir"],
            )


def tile_pixels(spark, tiles: int, tile_size: int, blob_dir: str | None = None):
    """The pixel rows of ``tiles``×``tiles`` tiles of ``tile_size``² —
    one read task per tile, the master's tile×time job fan-out."""
    return spark.range(tiles * tiles, numPartitions=tiles * tiles).mapInArrow(
        functools.partial(_tile_batches, tiles, tile_size, blob_dir), TILE_SCHEMA
    )
