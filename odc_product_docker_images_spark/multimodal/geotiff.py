"""GeoTIFF container SINK — the reference's one output artifact (S4, r5).

The reference's product workers end every run by exporting the composite
as a per-scene GeoTIFF upload (⟨pub⟩ odc-product-docker-images :
``<product>/worker.py :: write_cog``; ⟨pub⟩ datacube-utilities :
``data_cube_utilities/import_export.py :: export_xarray_to_geotiff``).
This module closes that gap with the same no-external-libs discipline as
``multimodal/png.py``: a spec-correct classic-TIFF writer (little-endian
header, ascending-tag IFD, one strip per row with out-of-line offset /
byte-count arrays) carrying the three GeoTIFF geo-tags — ModelPixelScale
(33550), ModelTiepoint (33922), and a GeoKeyDirectory (34735) declaring a
geographic EPSG:4326 model — plus an INDEPENDENT decoder that re-parses
the IFD, validates layout tags, reassembles strips, and recovers the geo
metadata.

The registered key is a full sink ROUND-TRIP: composite → encode → write
to a parquet object-store stand-in → re-read → decode → aggregate the
DECODED pixels and geo tags, value-hash-gated against DuckDB regenerating
the same raster arithmetically.  Any bug in IFD math, strip offsets, or
the geo-tag plumbing breaks the position-weighted sum or the recovered
scale/tiepoint constants.

Scale: the composite is one cell-keyed shuffle; encode is one
``applyInPandas`` per scene (scenes are the natural unit of the
reference's export); decode is a zero-shuffle Arrow map over the store.
At 100 TB the store is the object bucket and scenes encode in parallel —
nothing here is driver-side.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..scratch import fresh

_TW, _TH = 24, 15  # scene raster: x = min(floor(value/25), 23), y = floor(user_id/100)
_SCALE = (25.0, 100.0, 0.0)  # ModelPixelScale: cell size in model units
_TIEPOINT = (0.0, 0.0, 0.0, 0.0, 1500.0, 0.0)  # raster (0,0) ↔ model (0, 1500)
_EPSG = 4326
# GeoKeyDirectory: version 1.1.0, 3 keys — GTModelType=2 (geographic),
# GTRasterType=1 (PixelIsArea), GeographicType=EPSG:4326
_GEOKEYS = (1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, _EPSG)

_SHORT, _LONG, _DOUBLE = 3, 4, 12
_TYPE_FMT = {_SHORT: "H", _LONG: "I", _DOUBLE: "d"}
_TYPE_SIZE = {_SHORT: 2, _LONG: 4, _DOUBLE: 8}


def pack_ifd(entries: list[tuple[int, int, int, int]]) -> bytes:
    """Pack an IFD: entry count + 12-byte entries (inline-left-packed for a
    single SHORT, out-of-line offset otherwise) + the no-next-IFD pointer.
    Shared by the striped and tiled writers — the inline-value rule lives
    in exactly one place."""
    out = bytearray(struct.pack("<H", len(entries)))
    for tag, typ, cnt, val in entries:
        if typ == _SHORT and cnt == 1:  # inline value, left-packed
            out += struct.pack("<HHIHH", tag, typ, cnt, val, 0)
        else:
            out += struct.pack("<HHII", tag, typ, cnt, val)
    out += struct.pack("<I", 0)  # no next IFD
    return bytes(out)


def parse_ifd(payload: bytes) -> dict[int, tuple]:
    """Walk a little-endian classic-TIFF header + first IFD into a
    tag → values dict (inline vs out-of-line by size; unknown types
    skipped per spec).  Shared by both independent decoders."""
    if payload[:4] != b"II*\x00":
        raise NotImplementedError(f"unsupported container: {payload[:4]!r}")
    (ifd_off,) = struct.unpack_from("<I", payload, 4)
    (n,) = struct.unpack_from("<H", payload, ifd_off)
    tags: dict[int, tuple] = {}
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from("<HHI", payload, base)
        if typ not in _TYPE_FMT:
            continue  # unknown type: skip per spec
        size = _TYPE_SIZE[typ] * cnt
        off = base + 8 if size <= 4 else struct.unpack_from("<I", payload, base + 8)[0]
        tags[tag] = struct.unpack_from("<" + _TYPE_FMT[typ] * cnt, payload, off)
    return tags


def geokeys(gk: tuple) -> dict[int, int]:
    """GeoKeyDirectory (tag 34735) entries → key id → value dict."""
    return {gk[4 + 4 * i]: gk[7 + 4 * i] for i in range((len(gk) - 4) // 4)}


def _pack_tiff(raster) -> bytes:
    """Encode a (h, w) uint16 raster as a striped classic TIFF with geo
    tags.  One strip per row; offset/byte-count arrays, the two double
    vectors, and the GeoKey directory live out-of-line after the IFD."""
    h, w = raster.shape
    strips = [raster[y].astype("<u2").tobytes() for y in range(h)]
    sbc = [len(s) for s in strips]

    ifd_off = 8
    n_entries = 13
    aux_off = ifd_off + 2 + n_entries * 12 + 4
    so_off = aux_off  # strip offsets array (LONG × h)
    sbc_off = so_off + 4 * h  # strip byte counts (LONG × h)
    ps_off = sbc_off + 4 * h  # ModelPixelScale (DOUBLE × 3)
    tp_off = ps_off + 24  # ModelTiepoint (DOUBLE × 6)
    gk_off = tp_off + 48  # GeoKeyDirectory (SHORT × 16)
    data_off = gk_off + 32
    offsets = []
    acc = data_off
    for c in sbc:
        offsets.append(acc)
        acc += c

    entries = [  # ascending tag order, as the spec requires
        (256, _SHORT, 1, w),  # ImageWidth
        (257, _SHORT, 1, h),  # ImageLength
        (258, _SHORT, 1, 16),  # BitsPerSample
        (259, _SHORT, 1, 1),  # Compression = none
        (262, _SHORT, 1, 1),  # Photometric = BlackIsZero
        (273, _LONG, h, so_off),  # StripOffsets
        (277, _SHORT, 1, 1),  # SamplesPerPixel
        (278, _SHORT, 1, 1),  # RowsPerStrip
        (279, _LONG, h, sbc_off),  # StripByteCounts
        (339, _SHORT, 1, 1),  # SampleFormat = unsigned int
        (33550, _DOUBLE, 3, ps_off),  # ModelPixelScale
        (33922, _DOUBLE, 6, tp_off),  # ModelTiepoint
        (34735, _SHORT, 16, gk_off),  # GeoKeyDirectory
    ]
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off))
    out += pack_ifd(entries)
    out += struct.pack(f"<{h}I", *offsets)
    out += struct.pack(f"<{h}I", *sbc)
    out += struct.pack("<3d", *_SCALE)
    out += struct.pack("<6d", *_TIEPOINT)
    out += struct.pack("<16H", *_GEOKEYS)
    for s in strips:
        out += s
    return bytes(out)


def _decode_tiff(payload: bytes):
    """Independent reader: parse header + IFD (inline vs out-of-line by
    size), validate the layout this writer claims, reassemble strips.
    Returns (w, h, raster uint16 (h, w), pixel_scale, tiepoint, geokeys)."""
    import numpy as np

    tags = parse_ifd(payload)
    w, h = tags[256][0], tags[257][0]
    if (tags[258][0], tags[259][0], tags[277][0], tags.get(339, (1,))[0]) != (16, 1, 1, 1):
        raise NotImplementedError("only uncompressed single-band uint16 supported")
    offs, counts = tags[273], tags[279]
    if len(offs) != h or any(c != w * 2 for c in counts):
        raise ValueError("strip layout does not match IFD dimensions")
    rows = [
        np.frombuffer(payload[o : o + c], dtype="<u2") for o, c in zip(offs, counts)
    ]
    return w, h, np.vstack(rows), tags[33550], tags[33922], tags[34735]


def _encode_scenes(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    raster = np.zeros((_TH, _TW), dtype=np.uint16)
    x = pdf["x"].to_numpy(np.int64)
    y = pdf["y"].to_numpy(np.int64)
    raster[y, x] = np.minimum(pdf["n"].to_numpy(np.int64), 65535)
    return pd.DataFrame(
        {"event_type": [pdf["event_type"].iloc[0]], "payload": [_pack_tiff(raster)]}
    )


def _decode_scenes(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in it:
        rows = []
        for et, payload in zip(pdf["event_type"], pdf["payload"]):
            w, h, raster, ps, tp, gk = _decode_tiff(bytes(payload))
            keys = geokeys(gk)
            flat = raster.astype(np.int64).ravel()
            rows.append(
                (
                    et, w, h, h, 16, int(keys[2048]), ps[0], ps[1], tp[4],
                    int(flat.sum()),
                    int(((np.arange(flat.size) + 1) * flat).sum()),
                    int(flat.max()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "event_type", "width", "height", "n_strips", "bits", "epsg",
                "scale_x", "scale_y", "origin_y", "px_sum",
                "pos_weighted_sum", "max_px",
            ],
        )


@register(
    "sink_geotiff_roundtrip",
    oracle=f"""
        WITH c AS (
            SELECT event_type,
                   LEAST(GREATEST(CAST(FLOOR(value / 25.0) AS BIGINT), 0), {_TW - 1}) AS x,
                   LEAST(GREATEST(CAST(FLOOR(user_id / 100.0) AS BIGINT), 0), {_TH - 1}) AS y,
                   LEAST(COUNT(*), 65535) AS n
            FROM events GROUP BY 1, 2, 3
        )
        SELECT event_type,
               CAST({_TW} AS INTEGER) AS width,
               CAST({_TH} AS INTEGER) AS height,
               CAST({_TH} AS INTEGER) AS n_strips,
               CAST(16 AS INTEGER) AS bits,
               CAST({_EPSG} AS INTEGER) AS epsg,
               CAST(25.0 AS DOUBLE) AS scale_x,
               CAST(100.0 AS DOUBLE) AS scale_y,
               CAST(1500.0 AS DOUBLE) AS origin_y,
               CAST(SUM(n) AS BIGINT) AS px_sum,
               CAST(SUM((y * {_TW} + x + 1) * n) AS BIGINT) AS pos_weighted_sum,
               CAST(MAX(n) AS BIGINT) AS max_px
        FROM c GROUP BY event_type
    """,
)
def sink_geotiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: GeoTIFF export round-trip — composite each event_type scene
    onto a fixed grid, encode a real striped GeoTIFF (IFD + geo tags) per
    scene, WRITE the artifacts to an object-store stand-in, re-read, and
    decode with the independent reader.  The emitted stats come from the
    DECODED pixels and the RECOVERED geo tags, so the oracle's arithmetic
    raster regeneration gates the whole encode→sink→decode path.

    Duplicate-cell counts above uint16 clip at 65535 on both sides (never
    reached at test scales); out-of-footprint x-cells clip onto the scene
    edge on both sides (the crop semantics of a fixed GeoBox)."""
    cells = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.least(
                F.greatest(
                    F.floor(F.col("value") / F.lit(25.0)).cast("bigint"), F.lit(0)
                ),
                F.lit(_TW - 1),
            ).alias("x"),
            F.least(
                F.greatest(
                    F.floor(F.col("user_id") / F.lit(100.0)).cast("bigint"), F.lit(0)
                ),
                F.lit(_TH - 1),
            ).alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    encoded = cells.groupBy("event_type").applyInPandas(
        _encode_scenes, "event_type string, payload binary"
    )
    store = str(fresh("geotiff_store"))
    encoded.write.mode("overwrite").parquet(store)
    return spark.read.parquet(store).mapInPandas(
        _decode_scenes,
        schema=(
            "event_type string, width int, height int, n_strips int,"
            " bits int, epsg int, scale_x double, scale_y double,"
            " origin_y double, px_sum long, pos_weighted_sum long,"
            " max_px long"
        ),
    )
