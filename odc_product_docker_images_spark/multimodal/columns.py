"""Multimodal columns (SURVEY.md §2.10 X5).

Image/audio/video payloads as opaque ``binary`` columns with typed metadata
structs — the Spark-side plumbing (schema, batch shape, partition-safe UDF
signatures) is real and tested.  Uncompressed containers are decoded FOR
REAL in pure Python (netpbm PGM, RIFF/WAV with chunk walking, BMP with
bottom-up rows and stride padding).  Compressed codecs live in sibling
modules with zero external libs: DEFLATE-PNG in ``png.py`` (r4b) and
baseline JPEG in ``jpeg.py`` (r5); only exotic/ffmpeg formats remain
stubbed.

Design for 100 TB of media:
- payload is a BinaryType column; Parquet stores it row-grouped so metadata
  predicates prune without touching bytes (select meta-only → column
  pruning skips the blobs entirely — the same trick as band pruning).
- decode/resize/frame-sample run as ``mapInPandas`` over Arrow batches:
  bytes → numpy, no shuffle, linear scale-out; batch size bounded via
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of blobs
  fits executor memory.
- derived features (dims, channels, per-band stats) land in sibling typed
  columns so downstream ops never re-touch the payload.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import fanout, load
from ..registry import register

COMPRESSED_DECODERS_AVAILABLE = False  # flip when PIL/turbojpeg exist in the image

_PGM_W = 32  # synthesized raster width (bytes per row)


def _decode_pgm(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL pure-python decode of the binary PGM (P5) container: parse the
    netpbm header (magic, width, height, maxval, single whitespace byte)
    with an index scanner — the raster may legally contain whitespace
    bytes, so token-splitting the whole payload would corrupt it — and
    slice the raster.  Returns (width, height, channels, raster).

    Unknown compressed formats still raise (PNG/JPEG decode for real in
    ``png.py`` / ``jpeg.py``; ``COMPRESSED_DECODERS_AVAILABLE`` gates
    future ffmpeg-style codecs); the uncompressed
    netpbm path exercises the full bytes→pixels contract for real.
    """
    if not payload.startswith(b"P5"):
        if COMPRESSED_DECODERS_AVAILABLE:  # pragma: no cover
            raise NotImplementedError("compressed codec wiring goes here")
        raise NotImplementedError(f"unsupported container: {payload[:2]!r}")
    pos, fields = 2, []
    while len(fields) < 3:
        while payload[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # exactly ONE whitespace byte separates maxval from the raster
    width, height, maxval = fields
    if maxval != 255:
        raise NotImplementedError("only 8-bit rasters supported")
    raster = payload[pos : pos + width * height]
    return width, height, 1, raster


def _decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows = [_decode_pgm(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "width": [r[0] for r in rows],
                "height": [r[1] for r in rows],
                "channels": [r[2] for r in rows],
                "n_pixel_bytes": [len(r[3]) for r in rows],
                "pixel_md5": [hashlib.md5(r[3]).hexdigest() for r in rows],
                "row0_md5": [hashlib.md5(r[3][: r[0]]).hexdigest() for r in rows],
            }
        )


@register(
    "multimodal_decode",
    oracle=f"""
        SELECT doc_id,
               CAST({_PGM_W} AS INTEGER) AS width,
               CAST(CEIL(LEN(text) / {_PGM_W}.0) AS INTEGER) AS height,
               CAST(1 AS INTEGER) AS channels,
               CAST({_PGM_W} * CEIL(LEN(text) / {_PGM_W}.0) AS BIGINT) AS n_pixel_bytes,
               MD5(RPAD(text, CAST({_PGM_W} * CEIL(LEN(text) / {_PGM_W}.0) AS INT), '.'))
                 AS pixel_md5,
               MD5(SUBSTR(RPAD(text, CAST({_PGM_W} * CEIL(LEN(text) / {_PGM_W}.0) AS INT),
                          '.'), 1, {_PGM_W})) AS row0_md5
        FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: binary media decode with a FULL value oracle.  Each document is
    packed Spark-side into a REAL netpbm PGM (P5) container — header +
    8-bit raster, text bytes padded to a {_PGM_W}-wide raster — and the
    mapInPandas decoder parses the header and slices the raster like any
    codec would.  The oracle recomputes the raster stats (dims, pixel md5,
    first-row md5) straight from the text, so a mis-parsed header offset
    or a wrong slice breaks the value hash.  Compressed codecs stay
    honestly stubbed (``_decode_pgm``); the Arrow plumbing, batch shape
    and bytes→pixels contract are exercised for real."""
    dc = load(spark, sf_dir, "documents")
    padded = F.expr(
        f"rpad(text, CAST({_PGM_W} * ceil(length(text) / {_PGM_W}.0) AS INT), '.')"
    )
    header = F.concat_ws(
        "",
        F.lit(f"P5\n{_PGM_W} "),
        F.expr(f"CAST(ceil(length(text) / {_PGM_W}.0) AS INT)").cast("string"),
        F.lit("\n255\n"),
    )
    media = dc.select(
        "doc_id",
        F.concat(F.encode(header, "utf-8"), F.encode(padded, "utf-8")).alias("payload"),
        F.struct(
            F.lit("image/x-portable-graymap").alias("mime"),
            F.col("n_chars").cast("bigint").alias("content_length"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )
    return media.select("doc_id", "payload").mapInPandas(
        _decode_batches,
        schema=(
            "doc_id long, width int, height int, channels int,"
            " n_pixel_bytes long, pixel_md5 string, row0_md5 string"
        ),
    )


@register(
    "multimodal_meta",
    oracle="""
        SELECT source AS origin,
               COUNT(*) AS n_assets,
               CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
               CAST(MAX(n_chars) AS BIGINT) AS max_bytes
        FROM documents
        GROUP BY source
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: metadata-only rollup — MUST prune the payload column (asserted
    in plan tests): storage stats per origin without touching a single
    blob byte."""
    dc = load(spark, sf_dir, "documents")
    media = dc.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.col("source").alias("origin"),
        F.col("n_chars").cast("bigint").alias("content_length"),
    )
    return media.groupBy("origin").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("content_length").alias("total_bytes"),
        F.max("content_length").alias("max_bytes"),
    )


_FRAME, _STRIDE = 48, 128  # chars per frame, chars between sampled frames


def _framesample_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One asset row in → one row PER SAMPLED FRAME out (mapInPandas is the
    fan-out shape; a real video pipeline emits decoded frame tensors here).
    Frame bytes are REAL slices of the payload; only pixel decode is a
    stub elsewhere."""
    for pdf in it:
        ids, idxs, hashes, lens = [], [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            n_frames = -(-len(text) // _STRIDE)  # ceil
            for i in range(n_frames):
                frame = text[i * _STRIDE : i * _STRIDE + _FRAME]
                ids.append(doc_id)
                idxs.append(i)
                hashes.append(hashlib.md5(frame.encode("utf-8")).hexdigest())
                lens.append(len(frame))
        yield pd.DataFrame(
            {"doc_id": ids, "frame_idx": idxs, "frame_md5": hashes, "frame_len": lens}
        )


@register(
    "multimodal_framesample",
    oracle=f"""
        SELECT doc_id, i AS frame_idx,
               MD5(SUBSTRING(text, CAST(i * {_STRIDE} + 1 AS INT), {_FRAME}))
                 AS frame_md5,
               LEN(SUBSTRING(text, CAST(i * {_STRIDE} + 1 AS INT), {_FRAME}))
                 AS frame_len
        FROM documents,
             UNNEST(RANGE(0, CAST(CEIL(LEN(text) / {_STRIDE}.0) AS BIGINT))) AS t(i)
    """,
)
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: deterministic frame sampling — every ``_STRIDE``-th offset of
    each asset yields a ``_FRAME``-char frame, one output row per frame
    (the video keyframe-extraction batch shape: mapInPandas fans a row out
    to N frames without any shuffle; frames carry content hash + length as
    the typed feature columns).  The frame slicing and hashing are real on
    both engines, so unlike the decode stub this key has a full value-hash
    oracle.  Repartitioned before the fan-out so single-file inputs don't
    serialize the stage (CLAUDE.md rule)."""
    dc = load(spark, sf_dir, "documents")
    return (
        dc.select("doc_id", "text")
        .repartition(fanout(spark), "doc_id")
        .mapInPandas(
            _framesample_batches,
            schema="doc_id long, frame_idx long, frame_md5 string, frame_len long",
        )
    )


_PCM_N, _PCM_WIN = 2048, 256  # samples per asset, samples per analysis window
# Deterministic sample-synth multipliers.  PRECONDITION: doc_id >= 0 — numpy's
# % returns a non-negative remainder while DuckDB's follows the dividend's
# sign, so a negative doc_id would silently break the oracle match (the
# fixture's doc_ids are non-negative row numbers).
_PCM_A, _PCM_B = 7919, 2654435761


def _audio_synth_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Pack each asset a deterministic int16 little-endian PCM payload —
    the stand-in for a WAV data chunk (the container-header parse is the
    same scanner discipline as ``_decode_pgm``)."""
    import numpy as np

    for pdf in it:
        payloads = []
        for d in pdf["doc_id"]:
            i = np.arange(_PCM_N, dtype=np.int64)
            v = ((int(d) * _PCM_A + i * _PCM_B) % 65536) - 32768
            payloads.append(v.astype("<i2").tobytes())
        yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(), "payload": payloads})


def _audio_feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """bytes → int16 samples → per-window features.  One asset row in,
    one row per analysis window out (the audio-featurization fan-out)."""
    import numpy as np

    for pdf in it:
        ids, wins, peaks, rmss, zcs = [], [], [], [], []
        for d, p in zip(pdf["doc_id"], pdf["payload"]):
            v = np.frombuffer(p, dtype="<i2").astype(np.int64)
            for w in range(len(v) // _PCM_WIN):
                seg = v[w * _PCM_WIN : (w + 1) * _PCM_WIN]
                ids.append(d)
                wins.append(w)
                peaks.append(int(np.abs(seg).max()))
                # Σs² exact in int64; /256 is a power-of-two (exact);
                # sqrt is IEEE-correctly-rounded in numpy AND both SQL
                # engines — bit-identical with NO rounding step
                rmss.append(float(np.sqrt(float(int((seg * seg).sum())) / _PCM_WIN)))
                zcs.append(int(((seg[1:] * seg[:-1]) < 0).sum()))
        yield pd.DataFrame(
            {"doc_id": ids, "win": wins, "peak": peaks, "rms": rmss,
             "zero_crossings": zcs}
        )


@register(
    "multimodal_audio_features",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, t.i,
                   ((doc_id * {_PCM_A} + t.i * {_PCM_B}) % 65536) - 32768 AS v
            FROM (SELECT doc_id FROM documents) d,
                 UNNEST(RANGE(0, {_PCM_N})) AS t(i)
        ), w AS (
            SELECT doc_id, CAST(FLOOR(i / {_PCM_WIN}) AS BIGINT) AS win, i, v,
                   LAG(v) OVER (PARTITION BY doc_id,
                                CAST(FLOOR(i / {_PCM_WIN}) AS BIGINT)
                                ORDER BY i) AS prev
            FROM s
        )
        SELECT doc_id, win,
               MAX(ABS(v)) AS peak,
               SQRT(CAST(SUM(v * v) AS BIGINT) / {_PCM_WIN}.0) AS rms,
               CAST(SUM(CASE WHEN prev IS NOT NULL AND v * prev < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        FROM w GROUP BY 1, 2
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 audio: windowed feature extraction over int16 PCM payloads —
    the audio twin of frame sampling: synthesize a deterministic PCM
    payload per asset (arithmetic stand-in for the WAV data chunk), then
    decode bytes → samples → per-window peak / RMS / zero-crossing counts
    in a second Arrow pass.  Real plumbing throughout: little-endian int16
    byte decode, window slicing, integer feature math.  FULL oracle —
    DuckDB regenerates the samples from RANGE and computes identical
    features (peak and zero-crossings are pure integers; RMS is an exact
    int sum, a power-of-two divide and an IEEE-correctly-rounded sqrt, so
    even the float column needs no rounding).  Scale: two zero-shuffle
    Arrow map passes; window fan-out is 8 rows per asset, bounded by the
    payload length, never the corpus."""
    dc = load(spark, sf_dir, "documents")
    media = (
        dc.select("doc_id")
        .repartition(fanout(spark), "doc_id")
        .mapInPandas(_audio_synth_batches, schema="doc_id long, payload binary")
    )
    return media.mapInPandas(
        _audio_feature_batches,
        schema="doc_id long, win long, peak long, rms double, zero_crossings long",
    )


_WAV_RATE, _WAV_BITS = 16000, 16  # mono 16-bit PCM container parameters


def _pack_wav(pcm: bytes) -> bytes:
    """REAL RIFF/WAVE container: canonical fmt chunk, plus a LIST chunk
    BEFORE data so a parser that assumes the data chunk at a fixed offset
    (byte 44) reads garbage — the decoder must walk chunks."""
    import struct

    fmt = struct.pack(
        "<HHIIHH", 1, 1, _WAV_RATE, _WAV_RATE * (_WAV_BITS // 8), _WAV_BITS // 8,
        _WAV_BITS,
    )
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _decode_wav(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL pure-python RIFF/WAVE parse: verify the RIFF/WAVE magic, then
    WALK the chunk list (id, le32 size, body, pad-to-even) collecting the
    fmt fields and the data slice — the scanner discipline every TLV
    container (RIFF, PNG, ISO-BMFF) needs.  Returns (sample_rate,
    channels, bits, data).  Compressed codecs (non-PCM format tags) raise:
    their decoders are not in this container."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(f"unsupported container: {payload[:4]!r}")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            tag, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if tag != 1:  # non-PCM (ADPCM, MP3-in-WAV, ...) = a compressed codec
                raise NotImplementedError(f"compressed WAV format tag {tag}")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks pad to even length
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return rate, channels, bits, data


def _wav_decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Pack (same deterministic PCM synth as the feature key) then decode
    through the REAL container round-trip in one Arrow pass; every output
    value derives from the DECODED bytes, so a mis-walked chunk or a wrong
    slice breaks the value hash."""
    import numpy as np

    for pdf in it:
        rows = []
        for d in pdf["doc_id"]:
            i = np.arange(_PCM_N, dtype=np.int64)
            v = ((int(d) * _PCM_A + i * _PCM_B) % 65536) - 32768
            rate, channels, bits, data = _decode_wav(_pack_wav(v.astype("<i2").tobytes()))
            u2 = np.frombuffer(data, dtype="<u2").astype(np.int64)  # two's-complement
            lo, hi = u2 & 255, u2 >> 8
            rows.append(
                (
                    int(d), rate, channels, bits, len(u2),
                    int((lo + hi).sum()),
                    int(((np.arange(len(u2)) + 1) * u2).sum()),
                    int(np.abs(((u2 + 32768) % 65536) - 32768).max()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "sample_rate", "channels", "bits", "n_samples",
                "byte_sum", "pos_weighted_sum", "peak",
            ],
        )


@register(
    "multimodal_wav_decode",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, t.i,
                   ((doc_id * {_PCM_A} + t.i * {_PCM_B}) % 65536) - 32768 AS v
            FROM (SELECT doc_id FROM documents) d,
                 UNNEST(RANGE(0, {_PCM_N})) AS t(i)
        ), b AS (
            SELECT doc_id, i, ((v % 65536) + 65536) % 65536 AS u2, ABS(v) AS av
            FROM s
        )
        SELECT doc_id,
               CAST({_WAV_RATE} AS INTEGER) AS sample_rate,
               CAST(1 AS INTEGER) AS channels,
               CAST({_WAV_BITS} AS INTEGER) AS bits,
               CAST({_PCM_N} AS BIGINT) AS n_samples,
               CAST(SUM(u2 % 256 + CAST(FLOOR(u2 / 256) AS BIGINT)) AS BIGINT)
                 AS byte_sum,
               CAST(SUM((i + 1) * u2) AS BIGINT) AS pos_weighted_sum,
               MAX(av) AS peak
        FROM b GROUP BY doc_id
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 audio container: REAL RIFF/WAV round-trip with a full value
    oracle — pack the deterministic PCM payload into a canonical WAV file
    (fmt chunk + a decoy LIST chunk + data chunk), then parse it back by
    WALKING the chunk list, and emit header fields plus three checksums of
    the DECODED data chunk: the byte sum (lo+hi of each little-endian
    sample — wrong endianness or a one-byte offset shifts it), the
    position-weighted two's-complement sum (catches reordered or
    truncated samples the plain sum misses), and the signed peak.  The
    oracle regenerates all three arithmetically from RANGE, so header
    parsing, chunk walking, and byte decode are value-hash-gated end to
    end.  Only non-PCM format tags (genuinely compressed codecs) raise.
    Scale: one zero-shuffle Arrow map pass, output one row per asset."""
    dc = load(spark, sf_dir, "documents")
    return (
        dc.select("doc_id")
        .repartition(fanout(spark), "doc_id")
        .mapInPandas(
            _wav_decode_batches,
            schema=(
                "doc_id long, sample_rate int, channels int, bits int,"
                " n_samples long, byte_sum long, pos_weighted_sum long, peak long"
            ),
        )
    )


_BMP_W, _BMP_H = 31, 16  # odd width: 24bpp rows need 3 pad bytes (stride 96)
# Deterministic pixel-synth multipliers (same doc_id >= 0 precondition as
# the PCM pair above).  Byte k of the logical BGR pixel stream is
# (doc_id*A + (k//3)*B + (k%3)*C) % 256.
_BMP_A, _BMP_B, _BMP_C = 40503, 2654435761, 97


def _pack_bmp(doc_id: int) -> bytes:
    """REAL Windows BMP: BITMAPFILEHEADER + BITMAPINFOHEADER, 24bpp,
    rows padded to 4-byte stride and stored BOTTOM-UP — the two classic
    BMP quirks a naive reader gets wrong."""
    import struct

    import numpy as np

    k = np.arange(_BMP_W * _BMP_H * 3, dtype=np.int64)
    px = ((doc_id * _BMP_A + (k // 3) * _BMP_B + (k % 3) * _BMP_C) % 256).astype(
        np.uint8
    ).reshape(_BMP_H, _BMP_W * 3)
    stride = (_BMP_W * 3 + 3) & ~3
    pad = bytes(stride - _BMP_W * 3)
    raster = b"".join(px[y].tobytes() + pad for y in range(_BMP_H - 1, -1, -1))
    info = struct.pack(
        "<IiiHHIIiiII", 40, _BMP_W, _BMP_H, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(raster), 0, 0, 14 + 40)
    return header + info + raster


def _decode_bmp(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL pure-python BMP parse: magic, pixel-array offset from the file
    header, dims/bpp from the info header, then reassemble the LOGICAL
    top-down pixel stream by walking the padded bottom-up rows.  Returns
    (width, height, bpp, logical_pixels).  Compressed BMPs (RLE) raise."""
    import struct

    if payload[:2] != b"BM":
        raise NotImplementedError(f"unsupported container: {payload[:2]!r}")
    data_off = struct.unpack("<I", payload[10:14])[0]
    width, height = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    compression = struct.unpack("<I", payload[30:34])[0]
    if compression != 0:  # BI_RLE8/BI_RLE4/... = a genuinely compressed codec
        raise NotImplementedError(f"compressed BMP (method {compression})")
    stride = (width * (bpp // 8) + 3) & ~3
    rows = [
        payload[data_off + y * stride : data_off + y * stride + width * (bpp // 8)]
        for y in range(height - 1, -1, -1)  # stored bottom-up → logical top-down
    ]
    return width, height, bpp, b"".join(rows)


def _bmp_decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in it:
        rows = []
        for d in pdf["doc_id"]:
            width, height, bpp, px = _decode_bmp(_pack_bmp(int(d)))
            b = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
            rows.append(
                (
                    int(d), width, height, bpp, len(b),
                    int(((np.arange(len(b)) + 1) * b).sum()),
                    int(b.max()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "bpp", "n_pixel_bytes",
                "pos_weighted_sum", "max_byte",
            ],
        )


@register(
    "multimodal_bmp_decode",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, t.k,
                   (doc_id * {_BMP_A} + CAST(FLOOR(t.k / 3) AS BIGINT) * {_BMP_B}
                    + (t.k % 3) * {_BMP_C}) % 256 AS byte
            FROM (SELECT doc_id FROM documents) d,
                 UNNEST(RANGE(0, {_BMP_W * _BMP_H * 3})) AS t(k)
        )
        SELECT doc_id,
               CAST({_BMP_W} AS INTEGER) AS width,
               CAST({_BMP_H} AS INTEGER) AS height,
               CAST(24 AS INTEGER) AS bpp,
               CAST({_BMP_W * _BMP_H * 3} AS BIGINT) AS n_pixel_bytes,
               CAST(SUM((k + 1) * byte) AS BIGINT) AS pos_weighted_sum,
               CAST(MAX(byte) AS BIGINT) AS max_byte
        FROM b GROUP BY doc_id
    """,
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 image container: REAL BMP round-trip with a full value oracle —
    pack deterministic 24bpp pixels into a spec-correct BMP (padded
    4-byte row stride, bottom-up row order), parse headers (pixel-array
    offset, dims, bpp, compression tag), and reassemble the logical
    top-down pixel stream.  The position-weighted byte sum is computed
    over the LOGICAL stream, so forgetting the row flip or including the
    pad bytes breaks the value hash — exactly the two mistakes a naive
    BMP reader makes.  Only RLE-compressed BMPs (a real codec) raise.
    Scale: one zero-shuffle Arrow map pass, one row per asset."""
    dc = load(spark, sf_dir, "documents")
    return (
        dc.select("doc_id")
        .repartition(fanout(spark), "doc_id")
        .mapInPandas(
            _bmp_decode_batches,
            schema=(
                "doc_id long, width int, height int, bpp int,"
                " n_pixel_bytes long, pos_weighted_sum long, max_byte long"
            ),
        )
    )
