"""Tiled + Deflate GeoTIFF sink — the actual COG layout (S4+, r5b).

`geotiff.py` closed the reference's export gap with a striped,
uncompressed classic TIFF.  Real cloud-optimized GeoTIFFs are TILED and
COMPRESSED (⟨pub⟩ cogeotiff/cog-spec; ⟨pub⟩ GDAL COG driver defaults:
512×512 tiles, DEFLATE) — tiles are the random-access unit that makes
range-request reads work, which is the property the reference's product
uploads rely on downstream.  This module adds that layout: TileWidth /
TileLength / TileOffsets / TileByteCounts (tags 322-325) instead of
strips, Compression = 8 (Adobe Deflate), each tile an independent zlib
stream (``zlib``'s C deflate/inflate — stdlib, no external libs), plus
the same three geo tags and an INDEPENDENT decoder that re-parses the
IFD, inflates every tile, reassembles the mosaic in row-major tile
order, and recovers the geo metadata.

The registered key is the full round-trip with the same oracle
discipline as `sink_geotiff_roundtrip`: composite → encode → object-store
stand-in → re-read → decode → aggregate DECODED pixels, hash-gated
against DuckDB regenerating the raster arithmetically.  Compressed byte
counts never enter the output (deflate output is zlib-version-specific;
pixel content is not).

Scale: encode is one ``applyInPandas`` per scene; tiles compress
independently (the COG point — at real tile counts this vectorizes
across executors by scene, and a tile-parallel variant is a groupBy on
(scene, tile) with the same writer); decode is a zero-shuffle Arrow map.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..scratch import fresh
from .geotiff import _DOUBLE, _LONG, _SCENES, _SHORT, geokeys, pack_ifd, parse_ifd

_W, _H = 48, 32  # scene raster; multiples of the tile edge by construction
_TILE = 16
_TX, _TY = _W // _TILE, _H // _TILE  # 3 × 2 tiles
_SCALE = (12.5, 50.0, 0.0)
_TIEPOINT = (0.0, 0.0, 0.0, 0.0, 1600.0, 0.0)
_EPSG = 4326
_GEOKEYS = (1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, _EPSG)


def _pack_tiled(raster) -> bytes:
    """Encode a (h, w) uint16 raster as a tiled, Deflate-compressed
    classic TIFF with geo tags.  Row-major tile order per the spec."""
    h, w = raster.shape
    tiles = []
    for ty in range(_TY):
        for tx in range(_TX):
            block = raster[ty * _TILE : (ty + 1) * _TILE, tx * _TILE : (tx + 1) * _TILE]
            tiles.append(zlib.compress(block.astype("<u2").tobytes(), 6))
    tbc = [len(t) for t in tiles]
    n_tiles = len(tiles)

    ifd_off = 8
    n_entries = 14
    aux_off = ifd_off + 2 + n_entries * 12 + 4
    to_off = aux_off  # tile offsets (LONG × n)
    tbc_off = to_off + 4 * n_tiles  # tile byte counts (LONG × n)
    ps_off = tbc_off + 4 * n_tiles
    tp_off = ps_off + 24
    gk_off = tp_off + 48
    data_off = gk_off + 32
    offsets = []
    acc = data_off
    for c in tbc:
        offsets.append(acc)
        acc += c

    entries = [  # ascending tag order
        (256, _SHORT, 1, w),  # ImageWidth
        (257, _SHORT, 1, h),  # ImageLength
        (258, _SHORT, 1, 16),  # BitsPerSample
        (259, _SHORT, 1, 8),  # Compression = Adobe Deflate
        (262, _SHORT, 1, 1),  # Photometric = BlackIsZero
        (277, _SHORT, 1, 1),  # SamplesPerPixel
        (322, _SHORT, 1, _TILE),  # TileWidth
        (323, _SHORT, 1, _TILE),  # TileLength
        (324, _LONG, n_tiles, to_off),  # TileOffsets
        (325, _LONG, n_tiles, tbc_off),  # TileByteCounts
        (339, _SHORT, 1, 1),  # SampleFormat = unsigned
        (33550, _DOUBLE, 3, ps_off),
        (33922, _DOUBLE, 6, tp_off),
        (34735, _SHORT, 16, gk_off),
    ]
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off))
    out += pack_ifd(entries)
    out += struct.pack(f"<{n_tiles}I", *offsets)
    out += struct.pack(f"<{n_tiles}I", *tbc)
    out += struct.pack("<3d", *_SCALE)
    out += struct.pack("<6d", *_TIEPOINT)
    out += struct.pack("<16H", *_GEOKEYS)
    for t in tiles:
        out += t
    return bytes(out)


def _decode_tiled(payload: bytes):
    """Independent reader: parse the IFD, inflate every tile, reassemble
    row-major, crop any tile padding back to (ImageLength, ImageWidth)."""
    import numpy as np

    tags = parse_ifd(payload)
    w, h = tags[256][0], tags[257][0]
    if (tags[258][0], tags[259][0], tags[277][0], tags.get(339, (1,))[0]) != (16, 8, 1, 1):
        raise NotImplementedError("only Deflate single-band uint16 supported")
    tw, th = tags[322][0], tags[323][0]
    tx, ty = -(-w // tw), -(-h // th)  # ceil-div: tiles cover the padded grid
    offs, counts = tags[324], tags[325]
    if len(offs) != tx * ty:
        raise ValueError("tile count does not match IFD dimensions")
    mosaic = np.zeros((ty * th, tx * tw), dtype=np.uint16)
    for i, (o, c) in enumerate(zip(offs, counts)):
        block = np.frombuffer(
            zlib.decompress(payload[o : o + c]), dtype="<u2"
        ).reshape(th, tw)
        r, col = divmod(i, tx)
        mosaic[r * th : (r + 1) * th, col * tw : (col + 1) * tw] = block
    return w, h, mosaic[:h, :w], tags[33550], tags[33922], tags[34735]


def _encode_scenes(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    raster = np.zeros((_H, _W), dtype=np.uint16)
    x = pdf["x"].to_numpy(np.int64)
    y = pdf["y"].to_numpy(np.int64)
    raster[y, x] = np.minimum(pdf["n"].to_numpy(np.int64), 65535)
    return pd.DataFrame(
        {"event_type": [pdf["event_type"].iloc[0]], "payload": [_pack_tiled(raster)]}
    )


def _decode_scenes(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in it:
        rows = []
        for et, payload in zip(pdf["event_type"], pdf["payload"]):
            w, h, raster, ps, tp, gk = _decode_tiled(bytes(payload))
            keys = geokeys(gk)
            flat = raster.astype(np.int64).ravel()
            rows.append(
                (
                    et, w, h, _TX * _TY, _TILE, 8, int(keys[2048]),
                    ps[0], ps[1], tp[4],
                    int(flat.sum()),
                    int(((np.arange(flat.size) + 1) * flat).sum()),
                    int(flat.max()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "event_type", "width", "height", "n_tiles", "tile_edge",
                "compression", "epsg", "scale_x", "scale_y", "origin_y",
                "px_sum", "pos_weighted_sum", "max_px",
            ],
        )


@register(
    "sink_geotiff_tiled",
    oracle=f"""
        WITH c AS (
            SELECT event_type,
                   LEAST(GREATEST(CAST(FLOOR(value / 12.5) AS BIGINT), 0), {_W - 1}) AS x,
                   LEAST(GREATEST(CAST(FLOOR(user_id / 50.0) AS BIGINT), 0), {_H - 1}) AS y,
                   LEAST(COUNT(*), 65535) AS n
            FROM events GROUP BY 1, 2, 3
        )
        SELECT event_type,
               CAST({_W} AS INTEGER) AS width,
               CAST({_H} AS INTEGER) AS height,
               CAST({_TX * _TY} AS INTEGER) AS n_tiles,
               CAST({_TILE} AS INTEGER) AS tile_edge,
               CAST(8 AS INTEGER) AS compression,
               CAST({_EPSG} AS INTEGER) AS epsg,
               CAST(12.5 AS DOUBLE) AS scale_x,
               CAST(50.0 AS DOUBLE) AS scale_y,
               CAST(1600.0 AS DOUBLE) AS origin_y,
               CAST(SUM(n) AS BIGINT) AS px_sum,
               CAST(SUM((y * {_W} + x + 1) * n) AS BIGINT) AS pos_weighted_sum,
               CAST(MAX(n) AS BIGINT) AS max_px
        FROM c GROUP BY event_type
    """,
)
def sink_geotiff_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+: COG-layout GeoTIFF round-trip — tiled (16×16), Deflate-
    compressed, geo-tagged; encode per scene, write to the object-store
    stand-in, re-read, inflate + mosaic with the independent decoder.
    Stats come from the DECODED pixels and RECOVERED tags, so the oracle's
    arithmetic raster gates IFD math, tile order, compression, and the
    geo-tag plumbing at once."""
    cells = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.least(
                F.greatest(
                    F.floor(F.col("value") / F.lit(12.5)).cast("bigint"), F.lit(0)
                ),
                F.lit(_W - 1),
            ).alias("x"),
            F.least(
                F.greatest(
                    F.floor(F.col("user_id") / F.lit(50.0)).cast("bigint"), F.lit(0)
                ),
                F.lit(_H - 1),
            ).alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    encoded = cells.groupBy("event_type").applyInPandas(_encode_scenes, _SCENES)
    store = str(fresh("geotiff_tiled_store"))
    encoded.write.mode("overwrite").parquet(store)
    return spark.read.schema(_SCENES).parquet(store).mapInPandas(
        _decode_scenes,
        schema=(
            "event_type string, width int, height int, n_tiles int,"
            " tile_edge int, compression int, epsg int, scale_x double,"
            " scale_y double, origin_y double, px_sum long,"
            " pos_weighted_sum long, max_px long"
        ),
    )
