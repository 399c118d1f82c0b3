"""Custom Python Data Source (SURVEY.md §2.1 S2) — the ``Datacube.load``
scan re-expressed as a PySpark 4 DataSource.

Reference analog: ``datacube-core``'s load path — the Postgres extent index
enumerates datasets, each (tile × time) becomes an independent read task,
GDAL materializes pixels.  Here the same shape: the source plans one
``InputPartition`` per tile, each partition materializes its pixel rows
independently on an executor — embarrassingly parallel, no driver
bottleneck, exactly how a raster-ingest bridge would be wired when real
GDAL bindings exist.

Two source names share one reader.  ``synthetic_tiles`` takes each band's
raster from a deterministic function of (tile, y, x, band); ``tiff_tiles``
opens and decodes one GeoTIFF blob per (tile, band), written from the same
function by the ``multimodal/geotiff.py`` codec.  Either way a read task
emits its tile as one Arrow ``RecordBatch``, so tests and the DuckDB
oracle can assert exact content; a real deployment swaps the blob store
for rasterio reads.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

# Both tile sources' rows.  Readers pass it to ``spark.read.schema``: a
# Python source asked for its schema at load time starts a Python worker.
TILE_SCHEMA = "tile_x int, tile_y int, y long, x long, red double, nir double"


class TilePartition(InputPartition):
    def __init__(self, tile_x: int, tile_y: int):
        self.tile_x = tile_x
        self.tile_y = tile_y


def _tile_band_raster(tile_x: int, tile_y: int, n: int, band: str):
    """The deterministic per-band pixel raster (uint16) of one tile — the
    arithmetic the DuckDB RANGE oracle regenerates for both sources."""
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


class TileReader(DataSourceReader):
    """One read task per tile — the master's tile×time job fan-out.  With
    a ``blob_dir`` each task OPENS AND DECODES its two band blobs (the
    GDAL-shaped read path: header, IFD, out-of-line offset/byte-count
    arrays, geo tags); without one it synthesizes them arithmetically."""

    def __init__(self, options: dict, blob_dir: str | None):
        self.blob_dir = blob_dir
        self.tiles = int(options.get("tiles", "4"))
        self.tile_size = int(options.get("tile_size", "32"))

    def partitions(self) -> list[InputPartition]:
        return [TilePartition(tx, ty) for tx in range(self.tiles) for ty in range(self.tiles)]

    def _band(self, tx: int, ty: int, band: str):
        n = self.tile_size
        if self.blob_dir is None:
            return _tile_band_raster(tx, ty, n, band)
        from pathlib import Path

        from ..multimodal.geotiff import _decode_tiff

        payload = (Path(self.blob_dir) / f"tile_{tx}_{ty}_{band}.tif").read_bytes()
        w, h, raster, _ps, _tp, _gk = _decode_tiff(payload)
        if (w, h) != (n, n):
            raise ValueError(f"tile blob {tx},{ty},{band}: {w}x{h} != {n}x{n}")
        return raster

    def read(self, partition: TilePartition) -> Iterator:
        import numpy as np
        import pyarrow as pa

        n, tx, ty = self.tile_size, partition.tile_x, partition.tile_y
        y, x = np.mgrid[ty * n : (ty + 1) * n, tx * n : (tx + 1) * n].astype(np.int64)
        red, nir = (self._band(tx, ty, b).ravel().astype(np.float64) for b in ("red", "nir"))
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


class SyntheticTileSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_tiles"

    def schema(self) -> str:
        return TILE_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return TileReader(self.options, None)


class TiffTileSource(SyntheticTileSource):
    @classmethod
    def name(cls) -> str:
        return "tiff_tiles"

    def reader(self, schema: StructType) -> DataSourceReader:
        return TileReader(self.options, self.options["path"])


def register_tile_source(spark) -> None:
    spark.dataSource.register(SyntheticTileSource)
    spark.dataSource.register(TiffTileSource)
