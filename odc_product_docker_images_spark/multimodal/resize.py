"""Image RESIZE over binary payload columns (X5+, r5e).

The multimodal surface named in the brief is decode / feature-extract /
RESIZE / frame-sample; resize was the one leg still missing.  This
operator runs the REAL container path — pack a spec-correct 24bpp BMP
per asset, parse it back with the honest decoder (`_decode_bmp`: pixel-
array offset, padded stride, bottom-up rows) — then 2× box-downsamples
the logical raster per channel (crop to even dims, mean of each 2×2
block, floor'd — exact integer arithmetic end to end) and emits stats
over the RESIZED raster.  Because the source pixels are an arithmetic
function of (doc_id, pixel, channel), DuckDB regenerates the resized
raster symbolically: the FULL oracle gates decode, crop, block indexing,
the floor-mean, and channel interleaving at once — off-by-one in any
axis shifts every position weight.

Scale: one zero-shuffle Arrow map pass (the `multimodal_bmp_decode`
shape); the resize itself is numpy slicing per asset — at 100 TB this is
the thumbnail/preprocess stage of an image-training pipeline, trivially
parallel by asset.  Floor semantics: integer // on non-negative ints ==
FLOOR(x / 4.0) with the exact power-of-two double divide both engines
share.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..io import fanout, load
from ..registry import register
from .columns import _BMP_A, _BMP_B, _BMP_C, _BMP_H, _BMP_W, _decode_bmp, _pack_bmp

_DW, _DH = _BMP_W // 2, _BMP_H // 2  # 15 × 8 after even-crop + 2x box


def _resize_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in it:
        rows = []
        for d in pdf["doc_id"]:
            width, height, bpp, px = _decode_bmp(_pack_bmp(int(d)))
            img = (
                np.frombuffer(px, dtype=np.uint8)
                .astype(np.int64)
                .reshape(height, width, 3)
            )
            ev = img[: _DH * 2, : _DW * 2, :]  # crop odd edge before blocking
            small = (
                ev[0::2, 0::2, :] + ev[1::2, 0::2, :]
                + ev[0::2, 1::2, :] + ev[1::2, 1::2, :]
            ) // 4
            flat = small.ravel()  # (y, x, ch) row-major — the logical stream
            rows.append(
                (
                    int(d), width, height, _DW, _DH,
                    int(flat.sum()),
                    int(((np.arange(flat.size) + 1) * flat).sum()),
                    int(flat.max()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "src_w", "src_h", "dst_w", "dst_h",
                "px_sum", "pos_weighted_sum", "max_px",
            ],
        )


@register(
    "multimodal_image_resize",
    oracle=f"""
        WITH pos AS (
            SELECT doc_id, t.k,
                   CAST(FLOOR(t.k / 3) AS BIGINT) % {_DW} AS x,
                   CAST(FLOOR(t.k / {3 * _DW}) AS BIGINT) AS y,
                   t.k % 3 AS ch
            FROM (SELECT doc_id FROM documents) d,
                 UNNEST(RANGE(0, {_DW * _DH * 3})) AS t(k)
        ), r AS (
            SELECT doc_id, k,
                   CAST(FLOOR((
                       (doc_id * {_BMP_A} + ((2 * y) * {_BMP_W} + 2 * x) * {_BMP_B} + ch * {_BMP_C}) % 256
                     + (doc_id * {_BMP_A} + ((2 * y) * {_BMP_W} + 2 * x + 1) * {_BMP_B} + ch * {_BMP_C}) % 256
                     + (doc_id * {_BMP_A} + ((2 * y + 1) * {_BMP_W} + 2 * x) * {_BMP_B} + ch * {_BMP_C}) % 256
                     + (doc_id * {_BMP_A} + ((2 * y + 1) * {_BMP_W} + 2 * x + 1) * {_BMP_B} + ch * {_BMP_C}) % 256
                   ) / 4.0) AS BIGINT) AS px
            FROM pos
        )
        SELECT doc_id,
               CAST({_BMP_W} AS INTEGER) AS src_w,
               CAST({_BMP_H} AS INTEGER) AS src_h,
               CAST({_DW} AS INTEGER) AS dst_w,
               CAST({_DH} AS INTEGER) AS dst_h,
               CAST(SUM(px) AS BIGINT) AS px_sum,
               CAST(SUM((k + 1) * px) AS BIGINT) AS pos_weighted_sum,
               CAST(MAX(px) AS BIGINT) AS max_px
        FROM r GROUP BY doc_id
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5+: 2× box-downsample thumbnails over the real BMP decode path —
    per-asset resized-raster stats (sum, position-weighted sum, max) with
    the full arithmetic oracle regenerating the resize symbolically."""
    dc = load(spark, sf_dir, "documents")
    return (
        dc.select("doc_id")
        .repartition(fanout(spark), "doc_id")
        .mapInPandas(
            _resize_batches,
            schema=(
                "doc_id long, src_w int, src_h int, dst_w int, dst_h int,"
                " px_sum long, pos_weighted_sum long, max_px long"
            ),
        )
    )
