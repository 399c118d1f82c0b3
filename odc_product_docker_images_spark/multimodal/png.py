"""PNG container decode — a REAL compressed codec, pure stdlib (X5, r4b).

`multimodal/columns.py` parses the uncompressed containers (WAV, BMP) and
raises for compressed codecs because no media libraries ship in this
environment.  PNG is the exception that needs none: its compression is
DEFLATE, and ``zlib`` is in the Python standard library.  This module
closes the "compressed container" gap with a spec-correct PNG round-trip:

- **pack**: 8-byte signature; IHDR; the pixel raster filtered row-by-row
  with ALL FIVE PNG filter types (None/Sub/Up/Average/Paeth, cycled by
  row), zlib-compressed and split across TWO IDAT chunks (readers must
  concatenate); IEND.  Every chunk carries its real CRC-32.
- **decode**: signature check, chunk walk with CRC VERIFICATION, IHDR
  parse, IDAT concatenation, ``zlib.decompress``, then the real work —
  per-row UNFILTERING (the Paeth predictor and the ``//2`` average are
  where naive readers break), yielding the logical RGB stream.

The emitted checksums are computed from the DECODED stream, and the
DuckDB oracle regenerates them arithmetically from the pixel-synth
formula — so filter reversal, chunk reassembly, and the inflate itself
are all value-hash-gated: any bug anywhere in the decode path breaks the
position-weighted sum.

Scale: one zero-shuffle Arrow map pass, one row per asset — identical
cost shape to the other X5 decode keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..io import fanout, load
from ..registry import register

_W, _H = 16, 10
# Pixel synth: byte k of the logical RGB stream is
# (doc_id*A + (k//3)*B + (k%3)*C) % 256  (doc_id >= 0, as for WAV/BMP).
_A, _B, _C = 48271, 2246822519, 131


def _synth_raster(doc_id: int):
    import numpy as np

    k = np.arange(_W * _H * 3, dtype=np.int64)
    return ((doc_id * _A + (k // 3) * _B + (k % 3) * _C) % 256).astype(np.uint8)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _pack_png(doc_id: int) -> bytes:
    """Spec-correct PNG writer: filters each row with type (y % 5) and
    deflates the filtered stream; IDAT split in two."""
    import struct
    import zlib

    px = _synth_raster(doc_id).reshape(_H, _W * 3)
    bpp = 3  # bytes per pixel (8-bit RGB)
    out = bytearray()
    prior = bytes(_W * 3)
    for y in range(_H):
        row = px[y].tobytes()
        ft = y % 5
        out.append(ft)
        if ft == 0:  # None
            out += row
        elif ft == 1:  # Sub
            out += bytes(
                (row[x] - (row[x - bpp] if x >= bpp else 0)) % 256
                for x in range(len(row))
            )
        elif ft == 2:  # Up
            out += bytes((row[x] - prior[x]) % 256 for x in range(len(row)))
        elif ft == 3:  # Average
            out += bytes(
                (row[x] - ((row[x - bpp] if x >= bpp else 0) + prior[x]) // 2) % 256
                for x in range(len(row))
            )
        else:  # Paeth
            out += bytes(
                (
                    row[x]
                    - _paeth(
                        row[x - bpp] if x >= bpp else 0,
                        prior[x],
                        prior[x - bpp] if x >= bpp else 0,
                    )
                )
                % 256
                for x in range(len(row))
            )
        prior = row

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", _W, _H, 8, 2, 0, 0, 0)  # 8-bit RGB
    comp = zlib.compress(bytes(out), 6)
    half = len(comp) // 2
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", comp[:half])
        + chunk(b"IDAT", comp[half:])
        + chunk(b"IEND", b"")
    )


def _parse_png(payload: bytes):
    """Chunk walk (CRC-verified) → IHDR → inflate → (w, h, depth, ctype,
    fts (h,), filt (h, stride)) — everything up to but NOT including
    unfiltering.  The inflate is ``zlib.decompress`` (C); the reshape into
    filter-type column + filtered rows is a numpy view, so nothing here
    iterates bytes in Python.  Non-8-bit-RGB, interlaced, or paletted
    PNGs raise (honest: this decoder covers the layout it writes, not the
    full spec)."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError(f"unsupported container: {payload[:4]!r}")
    pos, idat, ihdr = 8, b"", None
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    w, h, depth, ctype, comp_m, filt_m, interlace = ihdr
    if (depth, ctype, comp_m, filt_m, interlace) != (8, 2, 0, 0, 0):
        raise NotImplementedError("only 8-bit non-interlaced RGB supported")
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w * 3 + 1)
    return w, h, depth, ctype, raw[:, 0], raw[:, 1:]


def _unfilter_stack(filt, fts):
    """Vectorized unfilter over a STACK of same-shaped images (r5: replaces
    the per-byte Python loops the r4 verdict flagged as the 3.5×-at-10×
    scale killer).  ``filt`` is (n, h, stride) uint8 filtered bytes,
    ``fts`` (n, h) filter types; returns (n, h, stride) uint8 pixels.

    Recurrence structure decides the loop shape: Up chains row-to-row
    (loop y), Sub/Average/Paeth chain pixel-to-pixel (Sub closes under a
    per-channel cumsum; Average/Paeth loop x over (n, 3) channel
    vectors).  Python-level iterations are therefore O(h·w) per BATCH —
    independent of asset count — instead of O(n·h·stride) per-byte steps."""
    import numpy as np

    n, h, stride = filt.shape
    bpp = 3
    f = filt.astype(np.int64)
    out = np.empty((n, h, stride), dtype=np.uint8)
    prior = np.zeros((n, stride), dtype=np.int64)
    known = np.isin(fts, (0, 1, 2, 3, 4))
    if not known.all():
        raise ValueError(f"bad filter type {int(fts[~known][0])}")
    for y in range(h):
        row, ft = f[:, y, :], fts[:, y]
        recon = np.empty((n, stride), dtype=np.int64)
        m = ft == 0  # None
        if m.any():
            recon[m] = row[m]
        m = ft == 1  # Sub: recon[x] = filt[x] + recon[x-bpp] -> channel cumsum
        if m.any():
            r = row[m].reshape(-1, stride // bpp, bpp)
            recon[m] = (r.cumsum(axis=1) & 255).reshape(-1, stride)
        m = ft == 2  # Up
        if m.any():
            recon[m] = (row[m] + prior[m]) & 255
        m34 = (ft == 3) | (ft == 4)  # Average / Paeth: x-recurrence
        if m34.any():
            r, pr = row[m34], prior[m34]
            is_avg = (ft[m34] == 3)[:, None]
            rec = np.empty_like(r)
            left = np.zeros((r.shape[0], bpp), dtype=np.int64)  # recon[x-bpp]
            zero = left
            for x in range(0, stride, bpp):
                b = pr[:, x : x + bpp]
                c = pr[:, x - bpp : x] if x else zero
                p = left + b - c
                pa, pb, pc = np.abs(p - left), np.abs(p - b), np.abs(p - c)
                paeth = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, b, c)
                )
                left = (r[:, x : x + bpp] + np.where(is_avg, (left + b) >> 1, paeth)) & 255
                rec[:, x : x + bpp] = left
            recon[m34] = rec
        out[:, y, :] = recon
        prior = recon
    return out


def _decode_png(payload: bytes) -> tuple[int, int, int, int, bytes]:
    """Single-asset decode (kept for the codec round-trip tests): parse +
    unfilter a stack of one.  Returns (w, h, depth, ctype, pixel bytes)."""
    w, h, depth, ctype, fts, filt = _parse_png(payload)
    px = _unfilter_stack(filt[None, :, :], fts[None, :])
    return w, h, depth, ctype, px.tobytes()


def _png_decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in it:
        ids = [int(d) for d in pdf["doc_id"]]
        parsed = [_parse_png(_pack_png(d)) for d in ids]
        # group same-shaped images so each group unfilters as one stack
        groups: dict[tuple[int, int], list[int]] = {}
        for i, (w, h, _d, _c, _f, _r) in enumerate(parsed):
            groups.setdefault((w, h), []).append(i)
        pws = np.empty(len(ids), dtype=np.int64)
        mx = np.empty(len(ids), dtype=np.int64)
        for (w, h), idxs in groups.items():
            filt = np.stack([parsed[i][5] for i in idxs])
            fts = np.stack([parsed[i][4] for i in idxs])
            px = _unfilter_stack(filt, fts).reshape(len(idxs), -1).astype(np.int64)
            weights = np.arange(1, px.shape[1] + 1, dtype=np.int64)
            pws[idxs] = px @ weights
            mx[idxs] = px.max(axis=1)
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "width": [parsed[i][0] for i in range(len(ids))],
                "height": [parsed[i][1] for i in range(len(ids))],
                "bit_depth": [parsed[i][2] for i in range(len(ids))],
                "color_type": [parsed[i][3] for i in range(len(ids))],
                "n_pixel_bytes": [parsed[i][0] * parsed[i][1] * 3 for i in range(len(ids))],
                "pos_weighted_sum": pws,
                "max_byte": mx,
            }
        )


@register(
    "multimodal_png_decode",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, t.k,
                   (doc_id * {_A} + CAST(FLOOR(t.k / 3) AS BIGINT) * {_B}
                    + (t.k % 3) * {_C}) % 256 AS byte
            FROM (SELECT doc_id FROM documents) d,
                 UNNEST(RANGE(0, {_W * _H * 3})) AS t(k)
        )
        SELECT doc_id,
               CAST({_W} AS INTEGER) AS width,
               CAST({_H} AS INTEGER) AS height,
               CAST(8 AS INTEGER) AS bit_depth,
               CAST(2 AS INTEGER) AS color_type,
               CAST({_W * _H * 3} AS BIGINT) AS n_pixel_bytes,
               CAST(SUM((k + 1) * byte) AS BIGINT) AS pos_weighted_sum,
               CAST(MAX(byte) AS BIGINT) AS max_byte
        FROM b GROUP BY doc_id
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 COMPRESSED container: real PNG decode — CRC-verified chunk walk,
    multi-IDAT reassembly, zlib INFLATE, and unfiltering of all five PNG
    row filters — entirely in the Arrow batch pass, stdlib only.  The
    position-weighted sum runs over the decoded logical stream, so a bug
    in any stage (a missed CRC, a dropped IDAT byte, a wrong Paeth
    branch) breaks the value hash against the oracle's arithmetic
    regeneration of the same pixels."""
    dc = load(spark, sf_dir, "documents")
    return (
        dc.select("doc_id")
        .repartition(fanout(spark), "doc_id")
        .mapInPandas(
            _png_decode_batches,
            schema=(
                "doc_id long, width int, height int, bit_depth int,"
                " color_type int, n_pixel_bytes long, pos_weighted_sum long,"
                " max_byte long"
            ),
        )
    )
