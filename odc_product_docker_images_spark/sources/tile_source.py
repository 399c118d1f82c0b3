"""Custom Python Data Source (SURVEY.md §2.1 S2) — the ``Datacube.load``
scan re-expressed as a PySpark 4 DataSource.

Reference analog: ``datacube-core``'s load path — the Postgres extent index
enumerates datasets, each (tile × time) becomes an independent read task,
GDAL materializes pixels.  Here the same shape: the source plans one
``InputPartition`` per tile, each partition materializes its pixel rows
independently on an executor — embarrassingly parallel, no driver
bottleneck, exactly how a raster-ingest bridge would be wired when real
GDAL bindings exist.

The pixel values are a deterministic function of (tile, y, x, band) so
tests can assert exact content; a real deployment swaps `_tile_pixels`
for rasterio reads.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType


class TilePartition(InputPartition):
    def __init__(self, tile_x: int, tile_y: int):
        self.tile_x = tile_x
        self.tile_y = tile_y


class SyntheticTileReader(DataSourceReader):
    def __init__(self, options: dict):
        self.tiles = int(options.get("tiles", "4"))
        self.tile_size = int(options.get("tile_size", "32"))

    def partitions(self) -> list[InputPartition]:
        # one read task per tile — the master's tile×time job fan-out
        return [TilePartition(tx, ty) for tx in range(self.tiles) for ty in range(self.tiles)]

    def read(self, partition: TilePartition) -> Iterator[tuple]:
        n = self.tile_size
        base_y = partition.tile_y * n
        base_x = partition.tile_x * n
        for yy in range(n):
            for xx in range(n):
                y, x = base_y + yy, base_x + xx
                # deterministic 'bands' (stand-in for GDAL pixel reads)
                red = float((y * 31 + x * 17) % 255)
                nir = float((y * 13 + x * 41) % 255)
                yield (partition.tile_x, partition.tile_y, y, x, red, nir)


class SyntheticTileSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_tiles"

    def schema(self) -> str:
        return "tile_x int, tile_y int, y long, x long, red double, nir double"

    def reader(self, schema: StructType) -> DataSourceReader:
        return SyntheticTileReader(self.options)


class TiffTilePartition(InputPartition):
    def __init__(self, tile_x: int, tile_y: int):
        self.tile_x = tile_x
        self.tile_y = tile_y


def _tile_band_raster(tile_x: int, tile_y: int, n: int, band: str):
    """The deterministic per-band pixel raster (uint16) — the SAME
    arithmetic ``SyntheticTileReader`` yields row-by-row, so the DuckDB
    RANGE oracle covers both sources."""
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
    source at the object bucket instead."""
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


class TiffTileReader(DataSourceReader):
    """GDAL-shaped read path: each partition OPENS AND DECODES real TIFF
    blobs (the ``multimodal/geotiff.py`` strip walker — header, IFD,
    out-of-line offset/byte-count arrays, geo tags) instead of
    synthesizing pixels arithmetically.  One (tile × 2 bands) decode per
    read task, embarrassingly parallel, no driver involvement."""

    def __init__(self, options: dict):
        self.blob_dir = options["path"]
        self.tiles = int(options.get("tiles", "4"))
        self.tile_size = int(options.get("tile_size", "32"))

    def partitions(self) -> list[InputPartition]:
        return [
            TiffTilePartition(tx, ty)
            for tx in range((self.tiles))
            for ty in range(self.tiles)
        ]

    def read(self, partition: TiffTilePartition) -> Iterator[tuple]:
        from pathlib import Path

        from ..multimodal.geotiff import _decode_tiff

        n = self.tile_size
        tx, ty = partition.tile_x, partition.tile_y
        rasters = {}
        for band in ("red", "nir"):
            payload = (Path(self.blob_dir) / f"tile_{tx}_{ty}_{band}.tif").read_bytes()
            w, h, raster, _ps, _tp, _gk = _decode_tiff(payload)
            if (w, h) != (n, n):
                raise ValueError(f"tile blob {tx},{ty},{band}: {w}x{h} != {n}x{n}")
            rasters[band] = raster
        base_y, base_x = ty * n, tx * n
        for yy in range(n):
            red_row = rasters["red"][yy]
            nir_row = rasters["nir"][yy]
            for xx in range(n):
                yield (
                    tx,
                    ty,
                    base_y + yy,
                    base_x + xx,
                    float(red_row[xx]),
                    float(nir_row[xx]),
                )


class TiffTileSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tiff_tiles"

    def schema(self) -> str:
        return "tile_x int, tile_y int, y long, x long, red double, nir double"

    def reader(self, schema: StructType) -> DataSourceReader:
        return TiffTileReader(self.options)


def register_tile_source(spark) -> None:
    spark.dataSource.register(SyntheticTileSource)
    spark.dataSource.register(TiffTileSource)
