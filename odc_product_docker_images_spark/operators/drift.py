"""Distribution drift monitor — PSI + KS over binned slices (§4+/r5e).

Production pipelines watch for feature drift between a reference slice
and a candidate slice (new cohort, new deployment, new satellite) with
the Population Stability Index and the binned KS statistic — the
data-quality sibling of `profile_table`/`table_constraint_check`.  Here
the slices are the even/odd series populations and the measure is the
event value over 10 fixed-width bins: per bin, smoothed slice
probabilities, the PSI contribution (p−q)·ln(p/q), and the running-CDF
gap whose maximum is the KS statistic.

Spark-first: one scan, one grouped shuffle (bin counts with conditional
map-side partials); totals and CDFs are windows over the 10-row bin
table (the small-table window pattern — never a corpus window).  At
100 TB the shuffle carries |bins| rows per partition, nothing else.
Determinism: counts are exact integers; smoothing constants are exact
binary doubles (0.5 / 5.0), so probabilities are exact IEEE divides;
LN is the one libm op, absorbed by dround(6); CDFs accumulate through
the exact decimal path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import (
    dec_cast,
    dround,
    exact_double,
    sql_dec_cast,
    sql_dround,
    sql_exact_double,
)
from ..io import load
from ..registry import register

_NBINS = 10
_BW = 50.0

_P_REF = "((n_ref + CAST(0.5 AS DOUBLE)) / (tot_ref + CAST(5.0 AS DOUBLE)))"
_P_CAND = "((n_cand + CAST(0.5 AS DOUBLE)) / (tot_cand + CAST(5.0 AS DOUBLE)))"


@register(
    "profile_drift_psi",
    oracle=f"""
        WITH b AS (
            SELECT LEAST(GREATEST(CAST(FLOOR(value / CAST({_BW!r} AS DOUBLE))
                       AS BIGINT), 0), {_NBINS - 1}) AS bin,
                   CAST(user_id % 2 = 0 AS INTEGER) AS is_ref
            FROM events
        ), c0 AS (
            SELECT bin,
                   SUM(is_ref) AS n_ref,
                   SUM(1 - is_ref) AS n_cand
            FROM b GROUP BY bin
        ), c AS (
            -- full bin spine: PSI's smoothing denominator presumes every
            -- bin present; an empty bin must appear with zero counts
            SELECT CAST(s.i AS BIGINT) AS bin,
                   COALESCE(n_ref, 0) AS n_ref,
                   COALESCE(n_cand, 0) AS n_cand
            FROM RANGE(0, {_NBINS}) s(i) LEFT JOIN c0 ON c0.bin = s.i
        ), t AS (
            SELECT bin, n_ref, n_cand,
                   CAST(SUM(n_ref) OVER () AS DOUBLE) AS tot_ref,
                   CAST(SUM(n_cand) OVER () AS DOUBLE) AS tot_cand
            FROM c
        ), p AS (
            SELECT bin, n_ref, n_cand,
                   {_P_REF} AS p_ref,
                   {_P_CAND} AS p_cand,
                   {sql_dround(f"({_P_REF} - {_P_CAND}) * LN({_P_REF} / {_P_CAND})", 6)}
                     AS psi_contrib
            FROM t
        )
        SELECT bin, CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cand AS BIGINT) AS n_cand, p_ref, p_cand, psi_contrib,
               ABS({sql_exact_double(f"SUM({sql_dec_cast('p_ref')}) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)")}
                   - {sql_exact_double(f"SUM({sql_dec_cast('p_cand')}) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)")})
                 AS cdf_gap
        FROM p
    """,
)
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4+: PSI/KS drift — even-series reference vs odd-series candidate
    over 10 fixed bins of the value distribution; per bin: counts,
    smoothed probabilities, PSI contribution, and the running-CDF gap
    (max over rows = the KS statistic)."""
    b = load(spark, sf_dir, "events").select(
        F.least(
            F.greatest(F.floor(F.col("value") / F.lit(_BW)).cast("bigint"), F.lit(0)),
            F.lit(_NBINS - 1),
        ).alias("bin"),
        (F.col("user_id") % 2 == 0).cast("int").alias("is_ref"),
    )
    c0 = b.groupBy("bin").agg(
        F.sum("is_ref").alias("n_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("n_cand"),
    )
    # full bin spine (empty bins carry zero counts — the smoothing
    # denominator presumes all _NBINS bins are present)
    spine = spark.range(_NBINS).select(F.col("id").cast("bigint").alias("bin"))
    c = (
        F.broadcast(spine)
        .join(c0, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
        )
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = c.select(
        "bin",
        "n_ref",
        "n_cand",
        F.sum("n_ref").over(wall).cast("double").alias("tot_ref"),
        F.sum("n_cand").over(wall).cast("double").alias("tot_cand"),
    )
    p_ref = (F.col("n_ref") + F.lit(0.5)) / (F.col("tot_ref") + F.lit(5.0))
    p_cand = (F.col("n_cand") + F.lit(0.5)) / (F.col("tot_cand") + F.lit(5.0))
    p = t.select(
        "bin",
        "n_ref",
        "n_cand",
        p_ref.alias("p_ref"),
        p_cand.alias("p_cand"),
        dround((p_ref - p_cand) * F.log(p_ref / p_cand), 6).alias("psi_contrib"),
    )
    wcdf = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return p.select(
        "bin",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cand").cast("bigint").alias("n_cand"),
        "p_ref",
        "p_cand",
        "psi_contrib",
        F.abs(
            exact_double(F.sum(dec_cast("p_ref")).over(wcdf))
            - exact_double(F.sum(dec_cast("p_cand")).over(wcdf))
        ).alias("cdf_gap"),
    )


# -- embedding-drift monitor (r11): PSI over int8 code histograms ----------
#
# The vector-store twin of profile_drift_psi: an ANN index stores int8
# codes (sim_quantize_int8's max-abs symmetric scheme), so the cheapest
# always-on drift monitor is a histogram of the CODES the index actually
# holds — no float math per vector beyond the quantizer the store already
# runs.  Reference slice = even vec_id, candidate = odd; 16 bins of code
# width 16 over [-128, 127].

_EB_NBINS = 16

_EP_REF = "((n_ref + CAST(0.5 AS DOUBLE)) / (tot_ref + CAST(8.0 AS DOUBLE)))"
_EP_CAND = "((n_cand + CAST(0.5 AS DOUBLE)) / (tot_cand + CAST(8.0 AS DOUBLE)))"


@register(
    "profile_embedding_drift",
    oracle=f"""
        WITH v AS (
            SELECT vec_id,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), scaled AS (
            SELECT vec_id, e,
                   127.0 / NULLIF(LIST_MAX(LIST_TRANSFORM(e, x -> ABS(x))),
                                  CAST(0.0 AS DOUBLE)) AS s
            FROM v
        ), codes AS (
            SELECT vec_id,
                   UNNEST(LIST_TRANSFORM(e, x -> FLOOR(x * s + 0.5))) AS code
            FROM scaled
        ), b AS (
            SELECT LEAST(GREATEST(CAST(FLOOR((code + 128) / 16) AS BIGINT),
                         0), {_EB_NBINS - 1}) AS bin,
                   CAST(vec_id % 2 = 0 AS INTEGER) AS is_ref
            FROM codes
        ), c0 AS (
            SELECT bin,
                   SUM(is_ref) AS n_ref,
                   SUM(1 - is_ref) AS n_cand
            FROM b GROUP BY bin
        ), c AS (
            SELECT CAST(sp.i AS BIGINT) AS bin,
                   COALESCE(n_ref, 0) AS n_ref,
                   COALESCE(n_cand, 0) AS n_cand
            FROM RANGE(0, {_EB_NBINS}) sp(i) LEFT JOIN c0 ON c0.bin = sp.i
        ), t AS (
            SELECT bin, n_ref, n_cand,
                   CAST(SUM(n_ref) OVER () AS DOUBLE) AS tot_ref,
                   CAST(SUM(n_cand) OVER () AS DOUBLE) AS tot_cand
            FROM c
        )
        SELECT bin, CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cand AS BIGINT) AS n_cand,
               {_EP_REF} AS p_ref,
               {_EP_CAND} AS p_cand,
               {sql_dround(f"({_EP_REF} - {_EP_CAND}) * LN({_EP_REF} / {_EP_CAND})", 6)}
                 AS psi_contrib
        FROM t
    """,
)
def profile_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+/§4+: embedding-drift monitor — PSI over int8 quantization-code
    histograms (composes ``sim_quantize_int8``'s max-abs code scheme with
    ``profile_drift_psi``'s smoothed-PSI form).  Even vec_id = reference
    slice, odd = candidate; per 16-wide code bin: slice counts, smoothed
    probabilities, PSI contribution (sum over rows = the drift score a
    pipeline thresholds before trusting a pre-built ANN index on new data).

    Spark-first/100 TB shape: the quantizer is pure array codegen inside
    the scan (zero shuffle, identical to the storage path the index build
    already runs); the explode fans out dims×vectors rows but the ONLY
    shuffle is the 16-bin grouped count with map-side partials — the
    shuffle carries ≤|bins| rows per task regardless of corpus size, and
    the spine/window tier runs on a 16-row table.  Determinism: codes are
    exact small-integer doubles (IEEE mul/add/floor, the quantize.py
    bridge), bin math is exact, counts are integers, smoothing constants
    are exact binary (0.5/8.0), so probabilities are exact IEEE divides;
    LN is the one libm op, absorbed by dround(6)."""
    em = load(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    df = em.select("vec_id", e.alias("e"))
    # NULLIF guard (r12, ADVICE): an all-zero embedding would raise
    # DIVIDE_BY_ZERO under ANSI on the Spark side while DuckDB yields inf;
    # NULL flows identically through code/bin on both sides and activates
    # only on exact zero, so standard-grain hashes never move.
    s = 127.0 / F.nullif(F.array_max(F.transform(F.col("e"), F.abs)), F.lit(0.0))
    df = df.withColumn("s", s)
    code = F.transform(F.col("e"), lambda x: F.floor(x * F.col("s") + 0.5).cast("double"))
    codes = df.select("vec_id", F.explode(code).alias("code"))
    b = codes.select(
        F.least(
            F.greatest(
                F.floor((F.col("code") + F.lit(128)) / F.lit(16)).cast("bigint"),
                F.lit(0),
            ),
            F.lit(_EB_NBINS - 1),
        ).alias("bin"),
        (F.col("vec_id") % 2 == 0).cast("int").alias("is_ref"),
    )
    c0 = b.groupBy("bin").agg(
        F.sum("is_ref").alias("n_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("n_cand"),
    )
    spine = spark.range(_EB_NBINS).select(F.col("id").cast("bigint").alias("bin"))
    c = (
        F.broadcast(spine)
        .join(c0, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
        )
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = c.select(
        "bin",
        "n_ref",
        "n_cand",
        F.sum("n_ref").over(wall).cast("double").alias("tot_ref"),
        F.sum("n_cand").over(wall).cast("double").alias("tot_cand"),
    )
    p_ref = (F.col("n_ref") + F.lit(0.5)) / (F.col("tot_ref") + F.lit(8.0))
    p_cand = (F.col("n_cand") + F.lit(0.5)) / (F.col("tot_cand") + F.lit(8.0))
    return t.select(
        "bin",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cand").cast("bigint").alias("n_cand"),
        p_ref.alias("p_ref"),
        p_cand.alias("p_cand"),
        dround((p_ref - p_cand) * F.log(p_ref / p_cand), 6).alias("psi_contrib"),
    )


# -- snapshot-drift monitor (r11): PSI between versioned-table snapshots --
#
# The storage-side compose: lakehouse stacks run distribution checks
# BETWEEN table snapshots ("did the append move the value distribution?")
# — expectations-on-commit.  v0 = the base events table; commit 1 appends
# a value-shifted cohort (value × 1.5, an exact binary multiply), so v1's
# distribution genuinely drifts and the monitor reads BOTH snapshots
# through their manifests (time travel feeding the quality gate).

_SD_PSI_REF = "((n_ref + CAST(0.5 AS DOUBLE)) / (tot_ref + CAST(5.0 AS DOUBLE)))"
_SD_PSI_CAND = "((n_cand + CAST(0.5 AS DOUBLE)) / (tot_cand + CAST(5.0 AS DOUBLE)))"


@register(
    "table_snapshot_drift",
    oracle=f"""
        WITH ref AS (
            SELECT value FROM events
        ), cand AS (
            SELECT value FROM events
            UNION ALL
            SELECT value * CAST(1.5 AS DOUBLE) FROM events
        ), b AS (
            SELECT LEAST(GREATEST(CAST(FLOOR(value / CAST({_BW!r} AS DOUBLE))
                       AS BIGINT), 0), {_NBINS - 1}) AS bin,
                   1 AS is_ref
            FROM ref
            UNION ALL
            SELECT LEAST(GREATEST(CAST(FLOOR(value / CAST({_BW!r} AS DOUBLE))
                       AS BIGINT), 0), {_NBINS - 1}) AS bin,
                   0 AS is_ref
            FROM cand
        ), c0 AS (
            SELECT bin,
                   SUM(is_ref) AS n_ref,
                   SUM(1 - is_ref) AS n_cand
            FROM b GROUP BY bin
        ), c AS (
            SELECT CAST(sp.i AS BIGINT) AS bin,
                   COALESCE(n_ref, 0) AS n_ref,
                   COALESCE(n_cand, 0) AS n_cand
            FROM RANGE(0, {_NBINS}) sp(i) LEFT JOIN c0 ON c0.bin = sp.i
        ), t AS (
            SELECT bin, n_ref, n_cand,
                   CAST(SUM(n_ref) OVER () AS DOUBLE) AS tot_ref,
                   CAST(SUM(n_cand) OVER () AS DOUBLE) AS tot_cand
            FROM c
        )
        SELECT bin, CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cand AS BIGINT) AS n_cand,
               {_SD_PSI_REF} AS p_ref,
               {_SD_PSI_CAND} AS p_cand,
               {sql_dround(f"({_SD_PSI_REF} - {_SD_PSI_CAND}) * LN({_SD_PSI_REF} / {_SD_PSI_CAND})", 6)}
                 AS psi_contrib
        FROM t
    """,
)
def table_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+/§4+ compose (r11): snapshot-to-snapshot drift — write events as
    versioned-table v0, append a value-shifted cohort (×1.5) as v1, then
    PSI the value distribution of v0 (reference) against v1 (candidate),
    reading BOTH snapshots through their manifests (``table_time_travel``
    feeding ``profile_drift_psi``'s smoothed form).  The expectations-on-
    commit check a lakehouse runs before publishing an append.

    Scale shape: the two snapshot reads are manifest-planned parquet
    scans; binning is map-side; the only shuffle is the |bins|-row
    grouped count (map-side partials), and the spine/total tier runs on
    a 10-row table.  Determinism: 1.5 is an exact binary double so the
    shifted cohort's values are exact IEEE products; bin math, counts,
    and smoothing are exact as in profile_drift_psi; LN absorbed by
    dround(6)."""
    from ..sources.versioned import _fresh_table

    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t = _fresh_table("snapdrift")
    t.write(ev, mode="overwrite", n_files=4)
    t.write(
        ev.select("event_id", (F.col("value") * F.lit(1.5)).alias("value")),
        n_files=4,
    )
    versions = t.versions()
    ref = t.read(spark, versions[0]).select("value")
    cand = t.read(spark, versions[-1]).select("value")

    def binned(df: DataFrame, is_ref: int) -> DataFrame:
        return df.select(
            F.least(
                F.greatest(
                    F.floor(F.col("value") / F.lit(_BW)).cast("bigint"), F.lit(0)
                ),
                F.lit(_NBINS - 1),
            ).alias("bin"),
            F.lit(is_ref).alias("is_ref"),
        )

    b = binned(ref, 1).unionByName(binned(cand, 0))
    c0 = b.groupBy("bin").agg(
        F.sum("is_ref").alias("n_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("n_cand"),
    )
    spine = spark.range(_NBINS).select(F.col("id").cast("bigint").alias("bin"))
    c = (
        F.broadcast(spine)
        .join(c0, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
        )
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t2 = c.select(
        "bin",
        "n_ref",
        "n_cand",
        F.sum("n_ref").over(wall).cast("double").alias("tot_ref"),
        F.sum("n_cand").over(wall).cast("double").alias("tot_cand"),
    )
    p_ref = (F.col("n_ref") + F.lit(0.5)) / (F.col("tot_ref") + F.lit(5.0))
    p_cand = (F.col("n_cand") + F.lit(0.5)) / (F.col("tot_cand") + F.lit(5.0))
    return t2.select(
        "bin",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cand").cast("bigint").alias("n_cand"),
        p_ref.alias("p_ref"),
        p_cand.alias("p_cand"),
        dround((p_ref - p_cand) * F.log(p_ref / p_cand), 6).alias("psi_contrib"),
    )
