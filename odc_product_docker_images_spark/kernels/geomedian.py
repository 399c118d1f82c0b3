"""Geometric median composite (SURVEY.md §2.4 A3 / §2.8 U3).

Reference analog: ``dc_mosaic.create_hdmedians_multiple_band_mosaic`` →
``hdmedians :: nangeomedian`` (Cython Weiszfeld iteration) and
``odc-algo :: _geomedian.py`` — the robust multi-band composite used for
DEA's annual geomedian products.

Spark mapping: a HOLISTIC aggregate — no partial aggregation exists (the
geometric median of medians is not the median).  So this is the documented
``applyInPandas`` path: one shuffle on the pixel key, then an
Arrow-batched, numpy-vectorized Weiszfeld solve per group.  Known perf
cliff vs algebraic aggregates (SURVEY §4): mitigations are (a) Arrow
transfer, (b) vectorized iteration within each group, (c) capped
iterations with tolerance, (d) pre-partitioning by pixel key when the
composite is recomputed repeatedly.

⊘oracle: not SQL-expressible — pytest compares against a direct numpy
Weiszfeld on collected data (tests/test_kernels.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import fanout, load, table_rows
from ..registry import register

BANDS = ["l_quantity", "l_discount", "l_tax"]


def weiszfeld(X: np.ndarray, max_iter: int = 1000, tol: float = 1e-10) -> np.ndarray:
    """Geometric median of points X (n, d) by Weiszfeld iteration.

    Pure-numpy re-derivation of the classic algorithm (as in the public
    hdmedians/odc-algo kernels): start at the centroid, iterate the
    distance-weighted mean, guard points coincident with the iterate.
    max_iter=1000 (raised from 200 in r10): the objective gate below
    caught one sf0.01 group where the 200-step run still sat ABOVE the
    coordinate-median objective (slow linear convergence near a data
    point); every fixture group converges within 500, and the batched
    form only iterates the unconverged remainder, so the raise is free.
    """
    y = X.mean(axis=0)
    for _ in range(max_iter):
        d = np.sqrt(((X - y) ** 2).sum(axis=1))
        nz = d > 1e-12
        if not nz.any():
            break
        w = 1.0 / d[nz]
        y_new = (X[nz] * w[:, None]).sum(axis=0) / w.sum()
        if np.sqrt(((y_new - y) ** 2).sum()) < tol:
            y = y_new
            break
        y = y_new
    return y


def weiszfeld_batched(keys: np.ndarray, X: np.ndarray, max_iter: int = 1000,
                      tol: float = 1e-10) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Solve the geometric median for EVERY group in one masked-matrix
    iteration: scatter rows into a (G, n_max, d) NaN-padded cube and run
    Weiszfeld on the whole cube, shrinking to the active (unconverged)
    groups each step.  Same per-group math as ``weiszfeld`` — centroid
    start, >1e-12 coincidence guard, stop at step<tol — but ~10 numpy
    dispatches per ITERATION for all groups instead of per group, which is
    what flattened the measured 6.7×-at-10×-data cliff of the one-group-
    per-call form (SCALING.md).  Returns (group_keys, medians, counts)."""
    uniq, inv = np.unique(keys, return_inverse=True)
    G, d = len(uniq), X.shape[1]
    counts = np.bincount(inv, minlength=G)
    n_max = int(counts.max())
    order = np.argsort(inv, kind="stable")
    starts = np.cumsum(counts) - counts
    pos = np.arange(len(keys)) - starts[inv[order]]
    A = np.full((G, n_max, d), np.nan)
    A[inv[order], pos] = X[order]
    valid = ~np.isnan(A[..., 0])  # (G, n_max)

    y = np.nansum(A, axis=1) / counts[:, None]  # per-group centroid start
    active = np.arange(G)
    for _ in range(max_iter):
        if active.size == 0:
            break
        Aa, ya = A[active], y[active]
        dist = np.sqrt(np.nansum((Aa - ya[:, None, :]) ** 2, axis=2))
        nz = valid[active] & (dist > 1e-12)
        has_nz = nz.any(axis=1)
        w = np.where(nz, 1.0 / np.where(nz, dist, 1.0), 0.0)
        wsum = w.sum(axis=1)
        A0 = np.where(nz[..., None], Aa, 0.0)
        y_new = (A0 * w[..., None]).sum(axis=1) / np.where(has_nz, wsum, 1.0)[:, None]
        # groups with every point coincident keep their iterate (guard path)
        y_new = np.where(has_nz[:, None], y_new, ya)
        step = np.sqrt(((y_new - ya) ** 2).sum(axis=1))
        y[active] = y_new
        active = active[has_nz & (step >= tol)]
    return uniq, y, counts


def _gm_partition(batches):
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    uniq, y, counts = weiszfeld_batched(
        pdf["l_suppkey"].to_numpy(), pdf[BANDS].to_numpy(dtype=np.float64)
    )
    out = {"l_suppkey": uniq, "n_obs": counts}
    for i, b in enumerate(BANDS):
        out[f"gm_{b}"] = np.round(y[:, i], 6)
    yield pd.DataFrame(out)


def solve_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Partition count of the hash-repartitioned geomedian solves: the
    host's fan-out width, raised by a memory cap DERIVED from the data
    (r9 kernel-memory discipline: ~250k rows per task keeps the padded
    (G, n_max, d) cube plus the Weiszfeld temporaries well under 100 MB).
    Every Python task pays a fixed start-up cost, so more tasks than the
    host runs at once only add that cost; per-group results do not depend
    on the count.  The row count comes from parquet footers (r13: same
    integer as ``count()``, no Spark job)."""
    return max(fanout(spark), -(-table_rows(sf_dir, "lineitem") // 250_000))


_SCHEMA = (
    "l_suppkey long, n_obs long, "
    + ", ".join(f"gm_{b} double" for b in BANDS)
)


@register("agg_geomedian")  # ⊘oracle: holistic iterative kernel — numpy-oracled in pytest
def agg_geomedian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-pixel multi-band geometric median — one shuffle
    (hash-repartition on the pixel key, so every group is whole within a
    partition), then ONE vectorized solve per partition over all of its
    groups via ``mapInPandas`` (the per-group ``applyInPandas`` form paid
    a Python roundtrip per pixel).  ``solve_partitions`` sizes the
    repartition from the host and the data."""
    lf = load(spark, sf_dir, "lineitem")
    return (
        lf.select("l_suppkey", *BANDS)
        .repartition(solve_partitions(spark, sf_dir), "l_suppkey")
        .mapInPandas(_gm_partition, schema=_SCHEMA)
    )


@register("agg_geomedian_bucketed")  # ⊘oracle: holistic kernel — exact-equality-vs-agg_geomedian pytest
def agg_geomedian_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 at 100 TB: the SHUFFLE-FREE geomedian.  The holistic aggregate's
    one unavoidable shuffle (hash-repartition on the pixel key) disappears
    when the pixel table is STORED bucketed by that key
    (``sources/bucketed.py``): the map-side solve reads co-located buckets
    directly and the plan has ZERO Exchange anywhere (pinned in
    tests/test_plans.py).  This is the documented mitigation made real —
    annual composites recompute over the same grid many times, so pay the
    partitioning once at ingest and never per run.  Same batched Weiszfeld
    kernel, one vectorized solve per bucket over all of its groups; output
    is bit-identical to ``agg_geomedian`` (per-group math is independent of
    partition composition — asserted exactly in tests/test_kernels.py)."""
    from ..sources.bucketed import _ensure_bucketed

    name = _ensure_bucketed(spark, sf_dir, "lineitem", "l_suppkey")
    # The bucketed layout only surfaces as scan partitioning while
    # autoBucketedScan is off (a plain mapInPandas declares no required
    # distribution, so Spark would otherwise "helpfully" fall back to
    # size-based splits and break group co-location).  Session defaults set
    # this off; re-set defensively — planning happens at action time.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    return (
        spark.table(name)
        .select("l_suppkey", *BANDS)
        .mapInPandas(_gm_partition, schema=_SCHEMA)
    )


@register(
    "agg_geomedian_1d",
    oracle="""
        SELECT l_suppkey, ROUND(MEDIAN(l_quantity), 6) AS gm_l_quantity,
               COUNT(*) AS n_obs
        FROM lineitem GROUP BY l_suppkey
    """,
)
def agg_geomedian_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 cross-check: in 1-D the geometric median IS the ordinary median,
    which DuckDB can oracle exactly — pins the kernel's semantics to SQL
    where the math allows it.  (DuckDB interpolates even-count medians, so
    the exact F.median built-in is used here; the Weiszfeld kernel converges
    to the same point but is only tol-close — compared in pytest instead.)"""
    lf = load(spark, sf_dir, "lineitem")
    return lf.groupBy("l_suppkey").agg(
        F.round(F.median("l_quantity"), 6).alias("gm_l_quantity"),
        F.count(F.lit(1)).alias("n_obs"),
    )


# Per-point objective allowance for the gate below: the kernel rounds its
# output point to 6 dp, which can inflate the objective by at most
# sqrt(d)*5e-7 per point (exactly the n=1 degenerate case where geomedian
# == the point == the band median and the true objectives tie at 0).
_GM_GATE_SLACK = 1e-5


@register(
    "geomedian_objective_gate",
    oracle="""
        SELECT l_suppkey, COUNT(*) AS n,
               TRUE AS beats_centroid, TRUE AS beats_band_median
        FROM lineitem GROUP BY l_suppkey
    """,
)
def geomedian_objective_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 quality gate — the ``sketch_error_gates`` pattern applied to the
    ⊘rows-only Weiszfeld kernel, so a broken iteration flips a driver
    hash row: per group, the geometric median MINIMIZES the summed
    Euclidean distance objective, so its objective must not exceed that
    of (a) the per-band centroid — guaranteed even for a truncated run,
    Weiszfeld descends monotonically from its centroid start — and
    (b) the per-band coordinate-wise median, a feasible point the
    converged optimum beats by definition (weiszfeld's tol=1e-10,
    max_iter=1000 budget — raised from 200 when this very gate caught
    one sf0.01 group still above the band median at 200 iters).  The
    oracle pins both booleans TRUE plus the exact group count.

    Shape: the audit pass computes per-band centroid and median as
    WINDOW aggregates over ONE l_suppkey partitioning (no stats-join
    branch — the branch-duplication convention), then broadcast-joins
    the G-row geomedian panel and reduces three distance sums per group.
    The float distance sums feed ONLY slack-guarded booleans (slack =
    _GM_GATE_SLACK per point, covering the kernel's 6 dp output
    rounding), never a hashed value — the det.py decimal path is not
    needed.  Two lineitem scans total: the kernel's own shuffle and the
    windowed audit pass."""
    from pyspark.sql import Window

    gm = agg_geomedian(spark, sf_dir).select(
        "l_suppkey", *[f"gm_{b}" for b in BANDS]
    )
    lf = load(spark, sf_dir, "lineitem").select("l_suppkey", *BANDS)
    w = Window.partitionBy("l_suppkey")
    stats = lf.select(
        "l_suppkey",
        *BANDS,
        *[F.avg(b).over(w).alias(f"mu_{b}") for b in BANDS],
        *[F.median(b).over(w).alias(f"md_{b}") for b in BANDS],
    )
    j = stats.join(F.broadcast(gm), "l_suppkey")

    def dist(prefix: str) -> F.Column:
        sq = F.lit(0.0)
        for b in BANDS:
            dlt = F.col(b) - F.col(f"{prefix}_{b}")
            sq = sq + dlt * dlt
        return F.sqrt(sq)

    per = j.select(
        "l_suppkey",
        dist("gm").alias("dg"),
        dist("mu").alias("dc"),
        dist("md").alias("dm"),
    )
    n = F.count(F.lit(1))
    slack = F.lit(_GM_GATE_SLACK) * n + F.lit(1e-9)
    return per.groupBy("l_suppkey").agg(
        n.cast("long").alias("n"),
        (F.sum("dg") <= F.sum("dc") + slack).alias("beats_centroid"),
        (F.sum("dg") <= F.sum("dm") + slack).alias("beats_band_median"),
    )
