"""GeoMAD: the geomedian's robust-dispersion companion (SURVEY.md §2.4 A3+).

Reference analog: the DEA/odc-stats "GeoMAD" annual product — alongside the
per-pixel geometric median it publishes three Median Absolute Deviations of
the time series AROUND that geomedian (public odc-algo ``_geomedian.py`` /
the hdmedians ``emad``/``smad``/``bcmad`` kernels):

- **EMAD**  (Euclidean):     median_t ‖x_t − gm‖₂
- **SMAD**  (spectral):      median_t (1 − cos(x_t, gm))
- **BCMAD** (Bray–Curtis):   median_t  Σ_d |x_td − gm_d| / Σ_d |x_td + gm_d|

Spark mapping: the same HOLISTIC shape as the geomedian itself — one
shuffle on the pixel key, then a single numpy-vectorized pass per
partition (``mapInPandas``) that solves the geomedian for every group at
once (the batched Weiszfeld from ``kernels/geomedian.py``) and takes the
three deviation medians over the same NaN-padded (G, n_max, d) cube.  The
MAD step adds no second shuffle and no extra Arrow transfer: it reuses the
rows already co-located for the solve.

⊘oracle: iterative kernel — not SQL-expressible; pytest compares every
group against a direct per-group numpy reference (tests/test_kernels.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from .geomedian import BANDS, solve_partitions, weiszfeld_batched


def mads_reference(X: np.ndarray, gm: np.ndarray) -> tuple[float, float, float]:
    """Per-group numpy reference for the three MADs (pytest oracle)."""
    dev = X - gm
    emad = float(np.median(np.sqrt((dev**2).sum(axis=1))))
    cos = (X * gm).sum(axis=1) / (
        np.sqrt((X**2).sum(axis=1)) * np.sqrt((gm**2).sum())
    )
    smad = float(np.median(1.0 - cos))
    bc = np.abs(dev).sum(axis=1) / np.abs(X + gm).sum(axis=1)
    bcmad = float(np.median(bc))
    return emad, smad, bcmad


def _pad_cube(keys: np.ndarray, X: np.ndarray):
    """Scatter rows into the NaN-padded (G, n_max, d) cube (same layout the
    batched Weiszfeld builds internally)."""
    uniq, inv = np.unique(keys, return_inverse=True)
    counts = np.bincount(inv, minlength=len(uniq))
    order = np.argsort(inv, kind="stable")
    starts = np.cumsum(counts) - counts
    pos = np.arange(len(keys)) - starts[inv[order]]
    A = np.full((len(uniq), int(counts.max()), X.shape[1]), np.nan)
    A[inv[order], pos] = X[order]
    return uniq, counts, A


def _gmad_partition(batches):
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    keys = pdf["l_suppkey"].to_numpy()
    X = pdf[BANDS].to_numpy(dtype=np.float64)
    uniq, y, counts = weiszfeld_batched(keys, X)
    # One cube, three vectorized deviation medians for ALL groups at once.
    u2, c2, A = _pad_cube(keys, X)
    assert (u2 == uniq).all()
    dev = A - y[:, None, :]  # (G, n_max, d); NaN rows propagate
    emad = np.nanmedian(np.sqrt((dev**2).sum(axis=2)), axis=1)
    dot = np.nansum(A * y[:, None, :], axis=2)
    nx = np.sqrt(np.nansum(A**2, axis=2))
    # nansum over an all-NaN padded row yields 0 → guard the 0/0 with the
    # valid mask baked into dev's NaNs: rebuild NaNs where the row is pad.
    pad = np.isnan(A[..., 0])
    ngm = np.sqrt((y**2).sum(axis=1))
    cos = np.where(pad, np.nan, dot / np.where(pad, 1.0, nx * ngm[:, None]))
    smad = np.nanmedian(1.0 - cos, axis=1)
    bc_num = np.abs(dev).sum(axis=2)  # NaN on pad rows (dev keeps NaN)
    bc_den = np.abs(A + y[:, None, :]).sum(axis=2)
    bcmad = np.nanmedian(bc_num / bc_den, axis=1)
    yield pd.DataFrame(
        {
            "l_suppkey": uniq,
            "n_obs": counts,
            "emad": np.round(emad, 6),
            "smad": np.round(smad, 6),
            "bcmad": np.round(bcmad, 6),
        }
    )


_SCHEMA = "l_suppkey long, n_obs long, emad double, smad double, bcmad double"


@register("agg_geomedian_mads")  # ⊘oracle: iterative holistic kernel — numpy-oracled in pytest
def agg_geomedian_mads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+: the GeoMAD product — per-pixel EMAD/SMAD/BCMAD dispersion around
    the geometric median, computed in the SAME single-shuffle pass as the
    geomedian solve (the deviation medians reuse the co-located cube; no
    second Exchange, no extra Arrow hop — pinned in tests/test_plans.py).
    At 100 TB the cost model is identical to ``agg_geomedian``: one hash
    shuffle on the pixel key + a vectorized per-partition solve, and the
    stored-bucketed layout (``agg_geomedian_bucketed``) removes even that
    Exchange when the grid is stable across runs."""
    lf = load(spark, sf_dir, "lineitem")
    return (
        lf.select("l_suppkey", *BANDS)
        .repartition(solve_partitions(spark, sf_dir), "l_suppkey")
        .mapInPandas(_gmad_partition, schema=_SCHEMA)
    )


@register(
    "agg_mad_1d",
    oracle="""
        WITH med AS (
            SELECT l_suppkey, MEDIAN(l_quantity) AS med
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT l.l_suppkey,
               ROUND(MAX(m.med), 6) AS med_qty,
               ROUND(MEDIAN(ABS(l.l_quantity - m.med)), 6) AS mad_qty,
               COUNT(*) AS n_obs
        FROM lineitem l JOIN med m ON l.l_suppkey = m.l_suppkey
        GROUP BY l.l_suppkey
    """,
)
def agg_mad_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+ cross-check: in 1-D the GeoMAD's EMAD reduces to the classical
    median absolute deviation — ``median(|x − median(x)|)`` — which SQL can
    oracle exactly, pinning the MAD kernel's semantics the same way
    ``agg_geomedian_1d`` pins the geomedian's.  Two-pass holistic shape:
    per-group exact median, equi-join back, second grouped median of the
    deviations.  At this sf the tiny median side BROADCASTS (AQE), so the
    fact table is scanned and shuffled once for each grouped median; at
    100 TB the same plan degrades gracefully to two hash exchanges on the
    group key with the join and final agg reusing the second.  Same cost
    class as ``agg_median``; the sketch tier (``agg_approx_percentile``)
    approximates both passes when exactness isn't required."""
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    med = li.groupBy("l_suppkey").agg(F.median("l_quantity").alias("med"))
    return (
        li.join(med, "l_suppkey")
        .groupBy("l_suppkey")
        .agg(
            F.round(F.max("med"), 6).alias("med_qty"),
            F.round(F.median(F.abs(F.col("l_quantity") - F.col("med"))), 6).alias("mad_qty"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )
