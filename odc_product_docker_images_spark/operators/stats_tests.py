"""Distribution-comparison statistics (SURVEY.md §2.4 extension — the
experiment-analysis tier past t-test/chi²/Mann-Whitney: nonparametric
distribution equality and multi-group variance decomposition).

Reference analog: product QA notebooks comparing per-scene value
distributions between processing runs (⟨pub⟩ datacube-stats summary
workflows) and the A/B analysis stack every event pipeline grows.  Both
keys follow the repo's exact-sufficient-statistics discipline: integer
counts stay integers, every cross-engine float reduction goes through
the decimal path, and libm steps round 4-6 dp at a pinned point.

Scale notes (100 TB): the KS statistic is a GLOBAL ECDF comparison — the
naive form is a single-task global window over every distinct value.
Here the ECDF prefix counts come from the two-pass scan in
``functions/prefix.py`` over the value-grouped counts: range-partition,
cumsum within slices in parallel, add a broadcast offset table of slice
totals.  The argmax row is a
TakeOrderedAndProject (limit 1), never a full sort.  ANOVA is one
map-side-combinable aggregate over the corpus followed by arithmetic on
a #groups-row table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import (
    davg,
    dec_cast,
    dround,
    dsum,
    exact_double,
    sql_davg,
    sql_dec_cast,
    sql_dround,
    sql_dsum,
    sql_exact_double,
)
from ..functions.prefix import global_prefix
from ..io import load
from ..registry import register

@register(
    "agg_ks_test",
    oracle="""
        WITH s AS (
            SELECT user_id % 2 AS arm, value FROM events
        ), by_v AS (
            SELECT value,
                   CAST(SUM(arm) AS BIGINT) AS c1,
                   CAST(COUNT(*) - SUM(arm) AS BIGINT) AS c0
            FROM s GROUP BY value
        ), tot AS (
            SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(c0) AS BIGINT) AS n0
            FROM by_v
        ), cum AS (
            SELECT value,
                   CAST(SUM(c1) OVER (ORDER BY value) AS BIGINT) AS cc1,
                   CAST(SUM(c0) OVER (ORDER BY value) AS BIGINT) AS cc0
            FROM by_v
        )
        SELECT value AS at_value,
               CAST(ABS(cc1 * n0 - cc0 * n1) AS BIGINT) AS d_num,
               n1, n0,
               CAST(ABS(cc1 * n0 - cc0 * n1) AS DOUBLE)
                   / NULLIF(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE), CAST(0.0 AS DOUBLE)) AS ks_d
        FROM cum CROSS JOIN tot
        ORDER BY d_num DESC, at_value ASC
        LIMIT 1
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25: two-sample Kolmogorov-Smirnov D between the two arms' value
    distributions (arm = user_id parity) — BIT-EXACT, no float tolerance:
    D's numerator |cc1*n0 - cc0*n1| is pure integer arithmetic on ECDF
    counts, so the argmax and the final one division are identical IEEE
    on both engines.

    Distributed shape: one value-grouped count (the oracle's ``by_v``),
    then ``global_prefix``'s two-pass scan for the ECDF counts and the
    arm totals.  Values are distinct after the group-by, so the ROWS
    prefix is the oracle's RANGE frame.  The winning row is a limit-1
    TakeOrderedAndProject, never a full sort.  No single-task global
    window anywhere."""
    ev = load(spark, sf_dir, "events")
    by_v = (
        ev.select((F.col("user_id") % 2).alias("arm"), "value")
        .groupBy("value")
        .agg(
            F.sum("arm").alias("c1"),
            (F.count(F.lit(1)) - F.sum("arm")).alias("c0"),
        )
    )
    cum = global_prefix(by_v, ["value"], sums={"cc1": "c1", "cc0": "c0"}).select(
        F.col("value").alias("at_value"),
        "cc1",
        "cc0",
        F.col("cc1_total").alias("n1"),
        F.col("cc0_total").alias("n0"),
    )
    scored = cum.select(
        "at_value",
        F.abs(F.col("cc1") * F.col("n0") - F.col("cc0") * F.col("n1"))
        .cast("long")
        .alias("d_num"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n0").cast("long").alias("n0"),
    ).select(
        # ks_d computed BEFORE the sort+limit: a per-row division keeps
        # the top-1 selection a fused TakeOrderedAndProject (the nullif
        # guard in a post-limit projection broke the fusion — plan pin)
        "*",
        (
            F.col("d_num").cast("double")
            / F.nullif(
                F.col("n1").cast("double") * F.col("n0").cast("double"),
                F.lit(0.0),
            )
        ).alias("ks_d"),
    )
    return scored.orderBy(
        F.col("d_num").desc(), F.col("at_value").asc()
    ).limit(1)


_SSB_SUM = sql_exact_double("SUM(" + sql_dec_cast("ssb_g") + ")")
_SSW_SUM = sql_exact_double("SUM(" + sql_dec_cast("ssw_g") + ")")


@register(
    "agg_anova_oneway",
    oracle=f"""
        WITH g AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   {sql_dsum("value", "s_g")},
                   {sql_dsum("value * value", "ss_g")}
            FROM events GROUP BY event_type
        ), grand AS (
            SELECT event_type, n_g, s_g, ss_g,
                   CAST(SUM(n_g) OVER () AS BIGINT) AS n_tot,
                   {sql_exact_double(f"SUM({sql_dec_cast('s_g')}) OVER ()")} AS s_tot,
                   CAST(COUNT(*) OVER () AS BIGINT) AS k
            FROM g
        ), terms AS (
            SELECT n_tot, k,
                   {sql_dround("ss_g - s_g * s_g / n_g")} AS ssw_g,
                   {sql_dround(
                       "n_g * (s_g / n_g - s_tot / n_tot)"
                       " * (s_g / n_g - s_tot / n_tot)"
                   )} AS ssb_g
            FROM grand
        )
        SELECT CAST(MAX(k) AS BIGINT) AS k_groups,
               CAST(MAX(n_tot) AS BIGINT) AS n_total,
               {sql_dsum("ssb_g", "ssb")},
               {sql_dsum("ssw_g", "ssw")},
               {sql_dround(
                   f"({_SSB_SUM} / NULLIF(CAST(MAX(k) - 1 AS DOUBLE),"
                   f" CAST(0.0 AS DOUBLE)))"
                   f" / NULLIF({_SSW_SUM} / NULLIF("
                   f"CAST(MAX(n_tot) - MAX(k) AS DOUBLE),"
                   f" CAST(0.0 AS DOUBLE)), CAST(0.0 AS DOUBLE))"
               )} AS f_stat
        FROM terms
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A26: one-way ANOVA of value across the event-type groups — the
    multi-group generalization of ``agg_ttest_welch``.  One map-side
    combinable pass collects per-group sufficient statistics (n, Σx,
    Σx²) through the decimal-exact path; everything after is arithmetic
    on a #groups-row table, with grand totals as windows over that tiny
    table (never a re-planned join-back branch).  Determinism: n are
    exact integers; Σx/Σx² round 6 dp through decimal sums; each group's
    SSW/SSB term is a fixed IEEE chain on those rounded stats, rounded
    6 dp, then decimal-summed across the unordered group table; F rounds
    6 dp last.  At 100 TB the corpus-sized work is exactly one
    hash-aggregate shuffle of 5 keys × 3 numbers."""
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        dsum("value", "s_g"),
        dsum(F.col("value") * F.col("value"), "ss_g"),
    )
    wall = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    grand = g.select(
        "n_g",
        "s_g",
        "ss_g",
        F.sum("n_g").over(wall).cast("long").alias("n_tot"),
        exact_double(F.sum(dec_cast("s_g")).over(wall)).alias("s_tot"),
        F.count(F.lit(1)).over(wall).cast("long").alias("k"),
    )
    mean_dev = F.col("s_g") / F.col("n_g") - F.col("s_tot") / F.col("n_tot")
    terms = grand.select(
        "n_tot",
        "k",
        dround(F.col("ss_g") - F.col("s_g") * F.col("s_g") / F.col("n_g")).alias(
            "ssw_g"
        ),
        dround(F.col("n_g") * mean_dev * mean_dev).alias("ssb_g"),
    )
    ssb_exact = exact_double(F.sum(dec_cast("ssb_g")))
    ssw_exact = exact_double(F.sum(dec_cast("ssw_g")))
    return terms.agg(
        F.max("k").cast("long").alias("k_groups"),
        F.max("n_tot").cast("long").alias("n_total"),
        dsum("ssb_g", "ssb"),
        dsum("ssw_g", "ssw"),
        dround(
            (ssb_exact / F.nullif((F.max("k") - 1).cast("double"), F.lit(0.0)))
            / F.nullif(
                ssw_exact
                / F.nullif(
                    (F.max("n_tot") - F.max("k")).cast("double"), F.lit(0.0)
                ),
                F.lit(0.0),
            )
        ).alias("f_stat"),
    )


_ACF_MAX_LAG = 7
_DEG2RAD = 0.017453292519943295  # exact double literal on both engines
_RAD2DEG = 57.29577951308232


@register(
    "agg_acf",
    oracle=f"""
        WITH series AS (
            SELECT DATE_TRUNC('day', ts) AS d,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ), stats AS (
            SELECT d, x,
                   CAST(SUM(x) OVER () AS DOUBLE)
                       / CAST(COUNT(*) OVER () AS DOUBLE) AS mu,
                   LEAD(x, 1) OVER w AS x1, LEAD(x, 2) OVER w AS x2,
                   LEAD(x, 3) OVER w AS x3, LEAD(x, 4) OVER w AS x4,
                   LEAD(x, 5) OVER w AS x5, LEAD(x, 6) OVER w AS x6,
                   LEAD(x, 7) OVER w AS x7
            FROM series
            WINDOW w AS (ORDER BY d)
        ), dev AS (
            SELECT d, mu, x - mu AS dv,
                   {sql_exact_double(
                       "SUM("
                       + sql_dec_cast("(x - mu) * (x - mu)")
                       + ") OVER ()"
                   )} AS den,
                   x1, x2, x3, x4, x5, x6, x7
            FROM stats
        ), pairs AS (
            SELECT lag, dv, den,
                   CASE lag WHEN 1 THEN x1 WHEN 2 THEN x2 WHEN 3 THEN x3
                            WHEN 4 THEN x4 WHEN 5 THEN x5 WHEN 6 THEN x6
                            ELSE x7 END AS xk,
                   mu
            FROM dev CROSS JOIN UNNEST(RANGE(1, {_ACF_MAX_LAG} + 1)) AS t(lag)
        )
        SELECT CAST(lag AS INT) AS lag,
               CAST(COUNT(xk) AS BIGINT) AS n_pairs,
               {sql_dround(
                   sql_exact_double(
                       "SUM(" + sql_dec_cast("dv * (xk - mu)") + ")"
                   )
                   + " / MAX(den)"
               )} AS acf
        FROM pairs
        GROUP BY lag
    """,
)
def agg_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A27: autocorrelation of the daily event-count series at lags 1-7
    — the seasonality screen behind window_seasonal_zscore and the
    forecast keys (a strong lag-7 ACF is what justifies weekly models).

    Corpus work is ONE day-grouped count; the series itself is O(span
    days), so all lag handling rides the documented small-side-window
    pattern: 7 constant-offset LEAD columns over one global window spec
    (no self-join, no re-scan), unpivoted via posexplode into (lag,
    pair) rows.  Determinism: x are exact integer counts and mu is one
    exact int/int division, so each deviation product is a fixed IEEE
    chain; numerator and the shared full-series denominator go through
    decimal sums; the final ratio rounds 6 dp."""
    ev = load(spark, sf_dir, "events")
    series = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    wall = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    word = Window.partitionBy(F.lit(0)).orderBy("d")
    stats = series.select(
        "d",
        "x",
        (F.sum("x").over(wall).cast("double") / F.count(F.lit(1)).over(wall)).alias(
            "mu"
        ),
        *[F.lead("x", k).over(word).alias(f"x{k}") for k in range(1, _ACF_MAX_LAG + 1)],
    )
    dv = F.col("x") - F.col("mu")
    dev = stats.select(
        "mu",
        dv.alias("dv"),
        exact_double(F.sum(dec_cast(dv * dv)).over(wall)).alias("den"),
        *[f"x{k}" for k in range(1, _ACF_MAX_LAG + 1)],
    )
    pairs = dev.select(
        "dv",
        "den",
        "mu",
        F.posexplode(F.array(*[f"x{k}" for k in range(1, _ACF_MAX_LAG + 1)])).alias(
            "pos", "xk"
        ),
    )
    return (
        pairs.withColumn("lag", (F.col("pos") + 1).cast("int"))
        .groupBy("lag")
        .agg(
            F.count("xk").cast("long").alias("n_pairs"),
            dround(
                exact_double(F.sum(dec_cast(F.col("dv") * (F.col("xk") - F.col("mu")))))
                / F.max("den")
            ).alias("acf"),
        )
    )


@register(
    "agg_circular_mean",
    oracle=f"""
        WITH a AS (
            SELECT event_type,
                   {sql_dround(
                       "SIN((value % CAST(360.0 AS DOUBLE))"
                       f" * CAST({_DEG2RAD!r} AS DOUBLE))"
                   )} AS s_i,
                   {sql_dround(
                       "COS((value % CAST(360.0 AS DOUBLE))"
                       f" * CAST({_DEG2RAD!r} AS DOUBLE))"
                   )} AS c_i
            FROM events
        ), agg AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum("s_i", "s_sum")},
                   {sql_dsum("c_i", "c_sum")}
            FROM a GROUP BY event_type
        )
        SELECT event_type, n, s_sum, c_sum,
               {sql_dround(
                   f"ATAN2(s_sum, c_sum) * CAST({_RAD2DEG!r} AS DOUBLE)"
               )} AS mean_dir_deg,
               {sql_dround("SQRT(s_sum * s_sum + c_sum * c_sum) / n")} AS r_len
        FROM agg
    """,
)
def agg_circular_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28: circular (directional) mean and resultant length per event
    type, treating value mod 360 as a bearing — the wind-direction /
    sun-azimuth aggregate a plain arithmetic mean gets wrong (mean of
    359° and 1° must be 0°, not 180°).  Classic unit-vector form: mean
    direction = atan2(Σsin, Σcos); R̄ = |resultant|/n measures
    concentration.  One map-side-combinable pass; per-row sin/cos round
    6 dp (libm policy) before the decimal sums, the atan2/sqrt finals
    round 6 dp; fmod and the degree/radian constants are exact double
    literals on both engines (bare-literal DECIMAL trap documented in
    CLAUDE.md)."""
    ev = load(spark, sf_dir, "events")
    rad = (F.col("value") % F.lit(360.0)) * F.lit(_DEG2RAD)
    a = ev.select(
        "event_type",
        dround(F.sin(rad)).alias("s_i"),
        dround(F.cos(rad)).alias("c_i"),
    )
    agg = a.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("s_i", "s_sum"),
        dsum("c_i", "c_sum"),
    )
    return agg.select(
        "event_type",
        "n",
        "s_sum",
        "c_sum",
        dround(F.atan2("s_sum", "c_sum") * F.lit(_RAD2DEG)).alias("mean_dir_deg"),
        dround(
            F.sqrt(F.col("s_sum") * F.col("s_sum") + F.col("c_sum") * F.col("c_sum"))
            / F.col("n")
        ).alias("r_len"),
    )


@register(
    "agg_ljung_box",
    oracle=f"""
        WITH series AS (
            SELECT DATE_TRUNC('day', ts) AS d,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ), stats AS (
            SELECT d, x,
                   CAST(SUM(x) OVER () AS DOUBLE)
                       / CAST(COUNT(*) OVER () AS DOUBLE) AS mu,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n,
                   LEAD(x, 1) OVER w AS x1, LEAD(x, 2) OVER w AS x2,
                   LEAD(x, 3) OVER w AS x3, LEAD(x, 4) OVER w AS x4,
                   LEAD(x, 5) OVER w AS x5, LEAD(x, 6) OVER w AS x6,
                   LEAD(x, 7) OVER w AS x7
            FROM series
            WINDOW w AS (ORDER BY d)
        ), dev AS (
            SELECT n, mu, x - mu AS dv,
                   {sql_exact_double(
                       "SUM("
                       + sql_dec_cast("(x - mu) * (x - mu)")
                       + ") OVER ()"
                   )} AS den,
                   x1, x2, x3, x4, x5, x6, x7
            FROM stats
        ), pairs AS (
            SELECT lag, n,
                   CASE lag WHEN 1 THEN x1 WHEN 2 THEN x2 WHEN 3 THEN x3
                            WHEN 4 THEN x4 WHEN 5 THEN x5 WHEN 6 THEN x6
                            ELSE x7 END AS xk,
                   dv, den, mu
            FROM dev CROSS JOIN UNNEST(RANGE(1, {_ACF_MAX_LAG} + 1)) AS t(lag)
        ), rho AS (
            SELECT lag, MAX(n) AS n,
                   {sql_dround(
                       "("
                       + sql_exact_double(
                           "SUM(" + sql_dec_cast("dv * (xk - mu)") + ")"
                       )
                       + ") / MAX(den)"
                   )} AS r_k
            FROM pairs GROUP BY lag
        ), terms AS (
            SELECT n, {sql_dround("r_k * r_k / (n - lag)")} AS term
            FROM rho
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_obs,
               CAST({_ACF_MAX_LAG} AS INT) AS max_lag,
               {sql_dround(
                   "MAX(n) * (MAX(n) + 2) * ("
                   + sql_exact_double("SUM(" + sql_dec_cast("term") + ")")
                   + ")"
               )} AS q_stat
        FROM terms
    """,
)
def agg_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A27+: Ljung-Box portmanteau statistic Q = n(n+2)·Σ ρ̂ₖ²/(n−k)
    over lags 1-{_ACF_MAX_LAG} of the daily event-count series — the
    joint is-this-white-noise test that consumes ``agg_acf``'s
    autocorrelations (readers compare Q to χ²_K).  Identical single-scan
    lead-window scaffold as the ACF key; the portmanteau reduction adds
    one tiny aggregate over the 7-row lag table.  Determinism: ρ̂ₖ
    round 6 dp exactly as in agg_acf, each χ² term rounds 6 dp, the
    final scaled sum rounds 6 dp; n is an exact integer."""
    ev = load(spark, sf_dir, "events")
    series = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    wall = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    word = Window.partitionBy(F.lit(0)).orderBy("d")
    stats = series.select(
        "d",
        "x",
        (F.sum("x").over(wall).cast("double") / F.count(F.lit(1)).over(wall)).alias(
            "mu"
        ),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        *[F.lead("x", k).over(word).alias(f"x{k}") for k in range(1, _ACF_MAX_LAG + 1)],
    )
    dv = F.col("x") - F.col("mu")
    dev = stats.select(
        "n",
        "mu",
        dv.alias("dv"),
        exact_double(F.sum(dec_cast(dv * dv)).over(wall)).alias("den"),
        *[f"x{k}" for k in range(1, _ACF_MAX_LAG + 1)],
    )
    pairs = dev.select(
        "n",
        "dv",
        "den",
        "mu",
        F.posexplode(F.array(*[f"x{k}" for k in range(1, _ACF_MAX_LAG + 1)])).alias(
            "pos", "xk"
        ),
    )
    rho = (
        pairs.withColumn("lag", (F.col("pos") + 1).cast("int"))
        .groupBy("lag")
        .agg(
            F.max("n").alias("n"),
            dround(
                exact_double(F.sum(dec_cast(F.col("dv") * (F.col("xk") - F.col("mu")))))
                / F.max("den")
            ).alias("r_k"),
        )
    )
    terms = rho.select(
        "n",
        dround(F.col("r_k") * F.col("r_k") / (F.col("n") - F.col("lag"))).alias(
            "term"
        ),
    )
    return terms.agg(
        F.max("n").cast("long").alias("n_obs"),
        F.lit(_ACF_MAX_LAG).cast("int").alias("max_lag"),
        dround(
            F.max("n") * (F.max("n") + 2) * exact_double(F.sum(dec_cast("term")))
        ).alias("q_stat"),
    )


@register(
    "agg_stl_lite",
    oracle=f"""
        WITH series AS (
            SELECT DATE_TRUNC('day', ts) AS d,
                   DATE_DIFF('day', DATE '2024-01-01',
                             CAST(DATE_TRUNC('day', ts) AS DATE)) % 7 AS dow,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), tr AS (
            SELECT d, dow, x,
                   CAST(SUM(x) OVER w7 AS DOUBLE)
                       / CAST(COUNT(*) OVER w7 AS DOUBLE) AS trend
            FROM series
            WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ), det AS (
            SELECT d, dow, x, trend, x - trend AS dt
            FROM tr
        ), seas AS (
            SELECT d, x, trend, dt,
                   {sql_exact_double(
                       "SUM(" + sql_dec_cast("dt") + ") OVER (PARTITION BY dow)"
                   )} / (COUNT(*) OVER (PARTITION BY dow)) AS s
            FROM det
        ), resid AS (
            SELECT dt, dt - s AS r,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n,
                   {sql_exact_double(
                       "SUM(" + sql_dec_cast("dt") + ") OVER ()"
                   )} / (COUNT(*) OVER ()) AS mean_dt,
                   {sql_exact_double(
                       "SUM(" + sql_dec_cast("dt - s") + ") OVER ()"
                   )} / (COUNT(*) OVER ()) AS mean_r
            FROM seas
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_days,
               {sql_dsum("(dt - mean_dt) * (dt - mean_dt)", "ss_detrended")},
               {sql_dsum("(r - mean_r) * (r - mean_r)", "ss_resid")},
               {sql_dround(
                   "GREATEST(CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE) - ("
                   + sql_exact_double(
                       "SUM(" + sql_dec_cast("(r - mean_r) * (r - mean_r)") + ")"
                   )
                   + ") / NULLIF(("
                   + sql_exact_double(
                       "SUM(" + sql_dec_cast("(dt - mean_dt) * (dt - mean_dt)") + ")"
                   )
                   + "), CAST(0.0 AS DOUBLE)))"
               )} AS seasonal_strength
        FROM resid
    """,
)
def agg_stl_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A30: STL-lite seasonal-strength decomposition of the daily
    event-count series — trend = centered 7-day rolling mean, seasonal =
    per-weekday mean of the detrended series, and the Hyndman
    seasonal-strength statistic 1 − Var(resid)/Var(detrended): the
    quantitative "does this series deserve a weekly model" answer that
    agg_acf hints at.  Weekday comes from day-diff-mod-7 arithmetic, not
    engine dayofweek (Sunday=0 vs Sunday=1 conventions diverge).

    Single lineage, zero joins: the seasonal means are PARTITION-BY-dow
    windows over the same series table (never a groupBy + join-back
    branch), variances are wall windows + one decimal-path reduction.
    Corpus work = the one day-grouped count; everything else is
    O(span-days) small-side windows (documented pattern)."""
    ev = load(spark, sf_dir, "events")
    series = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"),
        (F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("date")) % 7).alias(
            "dow"
        ),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    w7 = Window.partitionBy(F.lit(0)).orderBy("d").rowsBetween(-3, 3)
    tr = series.select(
        "d",
        "dow",
        "x",
        (F.sum("x").over(w7).cast("double") / F.count(F.lit(1)).over(w7)).alias(
            "trend"
        ),
    )
    det = tr.withColumn("dt", F.col("x") - F.col("trend"))
    w_dow = Window.partitionBy("dow")
    seas = det.select(
        "dt",
        (
            exact_double(F.sum(dec_cast("dt")).over(w_dow))
            / F.count(F.lit(1)).over(w_dow)
        ).alias("s"),
    )
    wall = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    resid = seas.select(
        "dt",
        (F.col("dt") - F.col("s")).alias("r"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        (
            exact_double(F.sum(dec_cast("dt")).over(wall))
            / F.count(F.lit(1)).over(wall)
        ).alias("mean_dt"),
        (
            exact_double(F.sum(dec_cast(F.col("dt") - F.col("s"))).over(wall))
            / F.count(F.lit(1)).over(wall)
        ).alias("mean_r"),
    )
    dd = (F.col("dt") - F.col("mean_dt")) * (F.col("dt") - F.col("mean_dt"))
    rr = (F.col("r") - F.col("mean_r")) * (F.col("r") - F.col("mean_r"))
    ss_d = exact_double(F.sum(dec_cast(dd)))
    ss_r = exact_double(F.sum(dec_cast(rr)))
    return resid.agg(
        F.max("n").cast("long").alias("n_days"),
        dsum(dd, "ss_detrended"),
        dsum(rr, "ss_resid"),
        dround(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0) - ss_r / F.nullif(ss_d, F.lit(0.0)),
            )
        ).alias(
            "seasonal_strength"
        ),
    )


@register(
    "window_rolling_corr",
    oracle=f"""
        WITH series AS (
            SELECT DATE_TRUNC('day', ts) AS d,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS p,
                   CAST(SUM(CASE WHEN event_type = 'view'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS v
            FROM events GROUP BY 1
        ), roll AS (
            SELECT d, p, v,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n,
                   CAST(SUM(p) OVER w AS BIGINT) AS sp,
                   CAST(SUM(v) OVER w AS BIGINT) AS sv,
                   CAST(SUM(p * v) OVER w AS BIGINT) AS spv,
                   CAST(SUM(p * p) OVER w AS BIGINT) AS spp,
                   CAST(SUM(v * v) OVER w AS BIGINT) AS svv
            FROM series
            WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT d, p, v, n,
               CASE WHEN n >= 5
                     AND (n * spp - sp * sp) > 0
                     AND (n * svv - sv * sv) > 0
                    THEN {sql_dround(
                        "CAST(n * spv - sp * sv AS DOUBLE)"
                        " / SQRT(CAST(n * spp - sp * sp AS DOUBLE)"
                        " * CAST(n * svv - sv * sv AS DOUBLE))"
                    )} END AS rolling_corr
        FROM roll
    """,
)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12: rolling 14-day Pearson correlation between the daily
    purchase and view count series — the co-movement monitor behind
    metric-health dashboards (decoupling purchases from views is an
    incident signal).  Every windowed sufficient statistic (Σp, Σv,
    Σpv, Σp², Σv²) is an EXACT integer over the frame, so the
    correlation is one fixed IEEE chain per row, rounded 6 dp; windows
    with n < 5 or zero variance yield NULL.  Corpus work = one
    day-grouped conditional count; the rolling pass is O(span) on the
    documented small-side window."""
    ev = load(spark, sf_dir, "events")
    series = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("p"),
        F.sum((F.col("event_type") == "view").cast("int")).cast("long").alias("v"),
    )
    w = Window.partitionBy(F.lit(0)).orderBy("d").rowsBetween(-13, 0)
    roll = series.select(
        "d",
        "p",
        "v",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("p").over(w).cast("long").alias("sp"),
        F.sum("v").over(w).cast("long").alias("sv"),
        F.sum(F.col("p") * F.col("v")).over(w).cast("long").alias("spv"),
        F.sum(F.col("p") * F.col("p")).over(w).cast("long").alias("spp"),
        F.sum(F.col("v") * F.col("v")).over(w).cast("long").alias("svv"),
    )
    cnum = F.col("n") * F.col("spv") - F.col("sp") * F.col("sv")
    dp = F.col("n") * F.col("spp") - F.col("sp") * F.col("sp")
    dv = F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")
    return roll.select(
        "d",
        "p",
        "v",
        "n",
        F.when(
            (F.col("n") >= 5) & (dp > 0) & (dv > 0),
            dround(
                cnum.cast("double") / F.sqrt(dp.cast("double") * dv.cast("double"))
            ),
        ).alias("rolling_corr"),
    )


_HURST_SIZES = (5, 10, 15)


@register(
    "agg_hurst_rs",
    oracle=f"""
        WITH series AS (
            SELECT DATE_TRUNC('day', ts) AS d,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ), idxd AS (
            SELECT x, ROW_NUMBER() OVER (ORDER BY d) - 1 AS i
            FROM series
        ), blocks AS (
            SELECT sz, (i // sz) AS blk, x, i,
                   CAST(COUNT(*) OVER (PARTITION BY sz, (i // sz))
                        AS BIGINT) AS m,
                   CAST(SUM(x) OVER (PARTITION BY sz, (i // sz))
                        AS DOUBLE)
                       / COUNT(*) OVER (PARTITION BY sz, (i // sz)) AS mu
            FROM idxd
            CROSS JOIN UNNEST(ARRAY[5, 10, 15]) AS t(sz)
        ), full_blocks AS (
            SELECT * FROM blocks WHERE m = sz
        ), cum AS (
            SELECT sz, blk, mu, m, x,
                   CAST(CAST(CAST(ROUND((SUM(CAST(CAST((CASE WHEN ABS((x - mu)) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE (x - mu) END) AS VARCHAR) AS DECIMAL(30,10))) OVER (PARTITION BY sz, blk ORDER BY i ROWS UNBOUNDED PRECEDING)), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0 AS z
            FROM full_blocks
        ), rs AS (
            SELECT sz, blk,
                   MAX(z) - MIN(z) AS r,
                   CAST(CAST(CAST(ROUND((CAST(CAST((CASE WHEN ABS((SQRT((CAST(CAST(CAST(ROUND((SUM(CAST(CAST((CASE WHEN ABS(((x - mu) * (x - mu))) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE ((x - mu) * (x - mu)) END) AS VARCHAR) AS DECIMAL(30,10)))), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0) / MAX(m)))) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE (SQRT((CAST(CAST(CAST(ROUND((SUM(CAST(CAST((CASE WHEN ABS(((x - mu) * (x - mu))) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE ((x - mu) * (x - mu)) END) AS VARCHAR) AS DECIMAL(30,10)))), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0) / MAX(m))) END) AS VARCHAR) AS DECIMAL(30,10))), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0 AS s
            FROM cum GROUP BY sz, blk
        ), pts AS (
            SELECT sz,
                   CAST(CAST(CAST(ROUND((CAST(CAST((CASE WHEN ABS((LN(CAST(sz AS DOUBLE)))) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE (LN(CAST(sz AS DOUBLE))) END) AS VARCHAR) AS DECIMAL(30,10))), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0 AS lx,
                   CAST(CAST(CAST(ROUND((CAST(CAST((CASE WHEN ABS(((CAST(CAST(CAST(ROUND((SUM(CAST(CAST((CASE WHEN ABS((CAST(CAST(CAST(ROUND((CAST(CAST((CASE WHEN ABS((LN(r / s))) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE (LN(r / s)) END) AS VARCHAR) AS DECIMAL(30,10))), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0)) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE (CAST(CAST(CAST(ROUND((CAST(CAST((CASE WHEN ABS((LN(r / s))) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE (LN(r / s)) END) AS VARCHAR) AS DECIMAL(30,10))), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0) END) AS VARCHAR) AS DECIMAL(30,10)))), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0) / COUNT(*))) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE ((CAST(CAST(CAST(ROUND((SUM(CAST(CAST((CASE WHEN ABS((CAST(CAST(CAST(ROUND((CAST(CAST((CASE WHEN ABS((LN(r / s))) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE (LN(r / s)) END) AS VARCHAR) AS DECIMAL(30,10))), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0)) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE (CAST(CAST(CAST(ROUND((CAST(CAST((CASE WHEN ABS((LN(r / s))) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE (LN(r / s)) END) AS VARCHAR) AS DECIMAL(30,10))), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0) END) AS VARCHAR) AS DECIMAL(30,10)))), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0) / COUNT(*)) END) AS VARCHAR) AS DECIMAL(30,10))), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0 AS ly
            FROM rs WHERE s > 0.0 AND r > 0.0
            GROUP BY sz
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sizes,
               {sql_dround(
                   "(COUNT(*) * ("
                   + sql_exact_double(
                       "SUM(" + sql_dec_cast("lx * ly") + ")"
                   )
                   + ") - ("
                   + sql_exact_double("SUM(" + sql_dec_cast("lx") + ")")
                   + ") * ("
                   + sql_exact_double("SUM(" + sql_dec_cast("ly") + ")")
                   + ")) / (COUNT(*) * ("
                   + sql_exact_double("SUM(" + sql_dec_cast("lx * lx") + ")")
                   + ") - ("
                   + sql_exact_double("SUM(" + sql_dec_cast("lx") + ")")
                   + ") * ("
                   + sql_exact_double("SUM(" + sql_dec_cast("lx") + ")")
                   + "))"
               )} AS hurst_h
        FROM pts
    """,
)
def agg_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A31: Hurst exponent by rescaled-range analysis of the daily
    event-count series — H>0.5 long-range persistence, H<0.5 mean
    reversion: the memory diagnostic behind capacity forecasting.
    Blocks of {_HURST_SIZES} days: R = range of the within-block
    cumulative deviations, S = population std; H = OLS slope of
    mean ln(R/S) against ln(size).

    Everything after the one day-count aggregate is windows on the
    O(span) series: block membership via explode over the sizes,
    within-block prefix sums (decimal path), per-size means and the
    3-point OLS as tiny reductions.  ln/sqrt round 6 dp at pinned
    points; degenerate blocks (zero R or S) drop before the log."""
    ev = load(spark, sf_dir, "events")
    series = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    idxd = series.select(
        "x",
        (F.row_number().over(Window.partitionBy(F.lit(0)).orderBy("d")) - 1).alias(
            "i"
        ),
    )
    blocks = idxd.select(
        "x",
        "i",
        F.explode(F.array(*[F.lit(s) for s in _HURST_SIZES])).alias("sz"),
    ).withColumn("blk", F.floor(F.col("i") / F.col("sz")))
    w_b = Window.partitionBy("sz", "blk")
    blocks = blocks.select(
        "sz",
        "blk",
        "x",
        "i",
        F.count(F.lit(1)).over(w_b).cast("long").alias("m"),
        (F.sum("x").over(w_b).cast("double") / F.count(F.lit(1)).over(w_b)).alias(
            "mu"
        ),
    ).where(F.col("m") == F.col("sz"))
    w_cum = (
        Window.partitionBy("sz", "blk")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = blocks.select(
        "sz",
        "blk",
        "mu",
        "m",
        "x",
        exact_double(F.sum(dec_cast(F.col("x") - F.col("mu"))).over(w_cum)).alias(
            "z"
        ),
    )
    rs = cum.groupBy("sz", "blk").agg(
        (F.max("z") - F.min("z")).alias("r"),
        dround(
            F.sqrt(
                exact_double(
                    F.sum(dec_cast((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))))
                )
                / F.max("m")
            )
        ).alias("s"),
    )
    pts = (
        rs.where((F.col("s") > 0.0) & (F.col("r") > 0.0))
        .groupBy("sz")
        .agg(
            dround(F.max(F.log(F.col("sz").cast("double")))).alias("lx"),
            dround(
                exact_double(F.sum(dec_cast(dround(F.log(F.col("r") / F.col("s"))))))
                / F.count(F.lit(1))
            ).alias("ly"),
        )
    )
    n = F.count(F.lit(1))
    sxy = exact_double(F.sum(dec_cast(F.col("lx") * F.col("ly"))))
    sx = exact_double(F.sum(dec_cast("lx")))
    sy = exact_double(F.sum(dec_cast("ly")))
    sxx = exact_double(F.sum(dec_cast(F.col("lx") * F.col("lx"))))
    return pts.agg(
        n.cast("long").alias("n_sizes"),
        dround((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("hurst_h"),
    )


_FDR_ALPHA = 0.05
_KS_P_TERMS = 5  # Kolmogorov asymptotic series truncation


def _sql_ks_p(lam: str) -> str:
    terms = " + ".join(
        f"({(-1) ** (k - 1)} * EXP(CAST({-2 * k * k!r} AS DOUBLE)"
        f" * ({lam}) * ({lam})))"
        for k in range(1, _KS_P_TERMS + 1)
    )
    return sql_dround(
        f"LEAST(CAST(1.0 AS DOUBLE),"
        f" GREATEST(CAST(0.0 AS DOUBLE), 2.0 * ({terms})))"
    )


@register(
    "agg_ks_by_group_fdr",
    oracle=f"""
        WITH s AS (
            SELECT event_type, user_id % 2 AS arm, value FROM events
        ), by_v AS (
            SELECT event_type, value,
                   CAST(SUM(arm) AS BIGINT) AS c1,
                   CAST(COUNT(*) - SUM(arm) AS BIGINT) AS c0
            FROM s GROUP BY event_type, value
        ), tot AS (
            SELECT event_type,
                   CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(c0) AS BIGINT) AS n0
            FROM by_v GROUP BY event_type
        ), cum AS (
            SELECT event_type, value,
                   CAST(SUM(c1) OVER (PARTITION BY event_type ORDER BY value)
                        AS BIGINT) AS cc1,
                   CAST(SUM(c0) OVER (PARTITION BY event_type ORDER BY value)
                        AS BIGINT) AS cc0
            FROM by_v
        ), dmax AS (
            SELECT c.event_type, t.n1, t.n0,
                   CAST(MAX(ABS(c.cc1 * t.n0 - c.cc0 * t.n1)) AS BIGINT)
                       AS d_num
            FROM cum c JOIN tot t USING (event_type)
            GROUP BY c.event_type, t.n1, t.n0
        ), scored AS (
            SELECT event_type, n1, n0, d_num,
                   CAST(d_num AS DOUBLE)
                       / NULLIF(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE), CAST(0.0 AS DOUBLE)) AS ks_d,
                   {sql_dround(
                       "(CAST(d_num AS DOUBLE)"
                       " / NULLIF(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE), CAST(0.0 AS DOUBLE)))"
                       " * SQRT(CAST(n1 AS DOUBLE) * n0 / (n1 + n0))"
                   )} AS lam
            FROM dmax
        ), pvals AS (
            SELECT event_type, n1, n0, d_num, ks_d,
                   {_sql_ks_p("lam")} AS p_value
            FROM scored
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p_value, event_type)
                           AS BIGINT) AS p_rank,
                   CAST(COUNT(*) OVER () AS BIGINT) AS m
            FROM pvals
        ), cut AS (
            SELECT *,
                   MAX(CASE WHEN p_value <= p_rank * CAST({_FDR_ALPHA!r} AS DOUBLE)
                                           / m
                            THEN p_rank ELSE 0 END) OVER () AS i_star
            FROM ranked
        )
        SELECT event_type, n1, n0, d_num, ks_d, p_value,
               CAST(p_rank AS INT) AS p_rank,
               CAST(p_rank <= i_star AS INT) AS rejected
        FROM cut
    """,
)
def agg_ks_by_group_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25+: the multiple-testing pipeline — a two-sample KS test PER
    event type (arms = user_id parity), Kolmogorov asymptotic p-values
    (λ = D√(n₁n₀/n), truncated alternating series, {_KS_P_TERMS} terms),
    and Benjamini-Hochberg FDR at α = {_FDR_ALPHA}: reject every group
    ranked at or below the largest i with p₍ᵢ₎ ≤ i·α/m.  This is what a
    metrics platform actually ships — never one unadjusted test.

    Scale shape: the ECDFs are the agg_ks_test scaffold generalized to
    (group, value) partitions — group-parallel, no global window over
    data; each group reduces to one integer D; the p-value series and
    the BH step run on the m-row test table.  Determinism: D integer;
    λ and p round 6 dp; the BH threshold compare uses a CAST double α
    (bare-literal trap) on the rounded p."""
    ev = load(spark, sf_dir, "events")
    by_v = (
        ev.select("event_type", (F.col("user_id") % 2).alias("arm"), "value")
        .groupBy("event_type", "value")
        .agg(
            F.sum("arm").cast("long").alias("c1"),
            (F.count(F.lit(1)) - F.sum("arm")).cast("long").alias("c0"),
        )
    )
    w_g = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = by_v.select(
        "event_type",
        F.sum("c1").over(w_g).alias("cc1"),
        F.sum("c0").over(w_g).alias("cc0"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c0").over(w_all).alias("n0"),
    )
    dmax = cum.groupBy("event_type", "n1", "n0").agg(
        F.max(F.abs(F.col("cc1") * F.col("n0") - F.col("cc0") * F.col("n1")))
        .cast("long")
        .alias("d_num")
    )
    ks_d = F.col("d_num").cast("double") / (
        F.nullif(F.col("n1").cast("double") * F.col("n0").cast("double"), F.lit(0.0))
    )
    lam = dround(
        ks_d
        * F.sqrt(
            F.col("n1").cast("double") * F.col("n0") / (F.col("n1") + F.col("n0"))
        )
    )
    scored = dmax.select(
        "event_type",
        F.col("n1").cast("long").alias("n1"),
        F.col("n0").cast("long").alias("n0"),
        "d_num",
        ks_d.alias("ks_d"),
        lam.alias("lam"),
    )
    series = None
    for k in range(1, _KS_P_TERMS + 1):
        term = F.lit(float((-1) ** (k - 1))) * F.exp(
            F.lit(float(-2 * k * k)) * F.col("lam") * F.col("lam")
        )
        series = term if series is None else series + term
    p = dround(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.lit(2.0) * series))
    )
    pvals = scored.withColumn("p_value", p).drop("lam")
    w_rank = Window.partitionBy(F.lit(0)).orderBy("p_value", "event_type")
    wall = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pvals.select(
        "*",
        F.row_number().over(w_rank).cast("long").alias("p_rank"),
        F.count(F.lit(1)).over(wall).cast("long").alias("m"),
    )
    i_star = F.max(
        F.when(
            F.col("p_value")
            <= F.col("p_rank") * F.lit(_FDR_ALPHA) / F.col("m"),
            F.col("p_rank"),
        ).otherwise(F.lit(0))
    ).over(wall)
    return ranked.select(
        "event_type",
        "n1",
        "n0",
        "d_num",
        "ks_d",
        "p_value",
        F.col("p_rank").cast("int").alias("p_rank"),
        (F.col("p_rank") <= i_star).cast("int").alias("rejected"),
    )


_CMH_SUCCESS = 250.0  # 2x2 outcome: value above this is a "success"


@register(
    "agg_cmh_test",
    oracle=f"""
        WITH cells AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN user_id % 2 = 1
                                  AND value > CAST({_CMH_SUCCESS!r} AS DOUBLE)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS a,
                   CAST(SUM(CASE WHEN user_id % 2 = 1
                                  AND value <= CAST({_CMH_SUCCESS!r} AS DOUBLE)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS b,
                   CAST(SUM(CASE WHEN user_id % 2 = 0
                                  AND value > CAST({_CMH_SUCCESS!r} AS DOUBLE)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                   CAST(SUM(CASE WHEN user_id % 2 = 0
                                  AND value <= CAST({_CMH_SUCCESS!r} AS DOUBLE)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS d
            FROM events GROUP BY event_type
        ), terms AS (
            SELECT a,
                   {sql_dround(
                       "CAST((a + b) AS DOUBLE) * (a + c) / (a + b + c + d)"
                   )} AS e,
                   {sql_dround(
                       "CAST((a + b) AS DOUBLE) * (c + d) * (a + c) * (b + d)"
                       " / NULLIF(CAST((a + b + c + d) AS DOUBLE)"
                       "    * (a + b + c + d) * (a + b + c + d - 1),"
                       " CAST(0.0 AS DOUBLE))"
                   )} AS v
            FROM cells
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(a) AS BIGINT) AS observed,
               {sql_dsum("e", "expected")},
               {sql_dsum("v", "variance")},
               {sql_dround(
                   "POW(CAST(SUM(a) AS DOUBLE) - ("
                   + sql_exact_double("SUM(" + sql_dec_cast("e") + ")")
                   + "), 2) / NULLIF(("
                   + sql_exact_double("SUM(" + sql_dec_cast("v") + ")")
                   + "), CAST(0.0 AS DOUBLE))"
               )} AS cmh_q
        FROM terms
    """,
)
def agg_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33: Cochran-Mantel-Haenszel test — one pooled 2×2 association
    test (arm × success) CONTROLLING for the event-type strata, the
    confounder-adjusted form of ``agg_chi_square`` (Simpson's-paradox
    insurance: per-stratum hypergeometric expectations and variances,
    pooled as Q = (Σa − ΣE)²/ΣV against χ²₁).

    One conditional corpus aggregate produces every stratum's 2×2
    margins as exact integers; E/V are fixed IEEE chains per stratum
    rounded 6 dp, pooled through decimal sums; Q rounds 6 dp.  The same
    shape as the log-rank key: corpus work is one hash agg, the test is
    a #strata-row reduction."""
    ev = load(spark, sf_dir, "events")
    arm1 = F.col("user_id") % 2 == 1
    succ = F.col("value") > F.lit(_CMH_SUCCESS)
    cells = ev.groupBy("event_type").agg(
        F.sum((arm1 & succ).cast("int")).cast("long").alias("a"),
        F.sum((arm1 & ~succ).cast("int")).cast("long").alias("b"),
        F.sum((~arm1 & succ).cast("int")).cast("long").alias("c"),
        F.sum((~arm1 & ~succ).cast("int")).cast("long").alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    e = dround(
        (F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c")) / n
    )
    v = dround(
        (F.col("a") + F.col("b")).cast("double")
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
        / F.nullif(n.cast("double") * n * (n - 1), F.lit(0.0))
    )
    terms = cells.select("a", e.alias("e"), v.alias("v"))
    se = exact_double(F.sum(dec_cast("e")))
    sv = exact_double(F.sum(dec_cast("v")))
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("a").cast("long").alias("observed"),
        dsum("e", "expected"),
        dsum("v", "variance"),
        dround(
            F.pow(F.sum("a").cast("double") - se, F.lit(2.0))
            / F.nullif(sv, F.lit(0.0))
        ).alias("cmh_q"),
    )


@register(
    "agg_kruskal_wallis",
    oracle="""
        WITH cvg AS (
            SELECT value, event_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY value, event_type
        ), vstats AS (
            SELECT value, event_type, c,
                   CAST(SUM(c) OVER (PARTITION BY value) AS BIGINT) AS m,
                   CAST(SUM(c) OVER (ORDER BY value
                        RANGE UNBOUNDED PRECEDING) AS BIGINT) AS cc
            FROM cvg
        ), contrib AS (
            SELECT event_type,
                   CAST(SUM(c * (2 * (cc - m) + m + 1)) AS BIGINT) AS r2_j,
                   CAST(SUM(c) AS BIGINT) AS n_j
            FROM vstats GROUP BY event_type
        ), ties AS (
            SELECT CAST(SUM(m * m * m - m) AS BIGINT) AS tsum,
                   CAST(SUM(m) AS BIGINT) AS n
            FROM (SELECT value, MAX(m) AS m FROM vstats GROUP BY value)
        )
SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
               CAST(MAX(t.n) AS BIGINT) AS n_total,
               CAST(CAST(CAST(ROUND((CAST(CAST((CASE WHEN ABS(((CAST(12.0 AS DOUBLE) / (CAST(MAX(t.n) AS DOUBLE) * (MAX(t.n) + 1)) * LIST_SUM(LIST(CAST(r2_j AS DOUBLE) * r2_j / (4.0 * n_j) ORDER BY event_type)) - 3.0 * (MAX(t.n) + 1)) / NULLIF(CAST(1.0 AS DOUBLE) - CAST(MAX(t.tsum) AS DOUBLE) / NULLIF(CAST(MAX(t.n) AS DOUBLE) * MAX(t.n) * MAX(t.n) - MAX(t.n), CAST(0.0 AS DOUBLE)), CAST(0.0 AS DOUBLE)))) < 5e-11 THEN CAST(0.0 AS DOUBLE) ELSE ((CAST(12.0 AS DOUBLE) / (CAST(MAX(t.n) AS DOUBLE) * (MAX(t.n) + 1)) * LIST_SUM(LIST(CAST(r2_j AS DOUBLE) * r2_j / (4.0 * n_j) ORDER BY event_type)) - 3.0 * (MAX(t.n) + 1)) / NULLIF(CAST(1.0 AS DOUBLE) - CAST(MAX(t.tsum) AS DOUBLE) / NULLIF(CAST(MAX(t.n) AS DOUBLE) * MAX(t.n) * MAX(t.n) - MAX(t.n), CAST(0.0 AS DOUBLE)), CAST(0.0 AS DOUBLE))) END) AS VARCHAR) AS DECIMAL(30,10))), 6) AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE) / 1000000.0 AS h_stat
        FROM contrib CROSS JOIN ties t
    """,
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A34: Kruskal-Wallis rank ANOVA of value across event types with
    the tie correction — the K-group nonparametric member completing the
    mann_whitney (K=2) / anova (parametric) family.  BIT-EXACT until
    the final H chain: tie-averaged rank sums stay integers via the
    doubled-rank identity (2·R_j = Σ_v c_vg·(2·below_v + m_v + 1)), as
    do the tie weights Σ(m³−m).

    Distributed shape: one (value, group) count; its per-value totals
    ``m`` and their inclusive cumulative ``cc`` come from
    ``global_prefix``'s two-pass scan over the value-distinct table (the
    ROWS prefix is the oracle's RANGE frame) and join back on value; H
    is a #groups-row reduction.  The one float chain is a fixed IEEE
    expression on exact integers."""
    ev = load(spark, sf_dir, "events")
    # persisted: the per-value totals and the group rank sums both read it
    # (distinct-(value,group)-bounded, the PMI-vocab exception)
    cvg = (
        ev.groupBy("value", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    per_v = global_prefix(
        cvg.groupBy("value").agg(F.sum("c").alias("m")), ["value"], sums={"cc": "m"}
    ).select("value", "m", "cc")
    contrib = (
        cvg.join(per_v, "value")
        .groupBy("event_type")
        .agg(
            F.sum(F.col("c") * (2 * (F.col("cc") - F.col("m")) + F.col("m") + 1))
            .cast("long")
            .alias("r2_j"),
            F.sum("c").cast("long").alias("n_j"),
        )
    )
    ties = per_v.agg(
        F.sum(F.col("m") * F.col("m") * F.col("m") - F.col("m"))
        .cast("long")
        .alias("tsum"),
        F.sum("m").cast("long").alias("n"),
    )
    joined = contrib.crossJoin(F.broadcast(ties))
    n = F.max("n").cast("double")
    # per-group terms are deterministic IEEE chains on integers; the
    # cross-group sum is a FOLD over the group-key-sorted term array —
    # fixed order on both engines (a bare float SUM re-associates run to
    # run, and the decimal path overflows its int64 hop at sf0.1 where
    # the term sum reaches ~1e15: both caught)
    term_struct = F.struct(
        F.col("event_type"),
        (
            F.col("r2_j").cast("double")
            * F.col("r2_j")
            / (F.lit(4.0) * F.col("n_j"))
        ).alias("term"),
    )
    term_sum = F.aggregate(
        F.sort_array(F.collect_list(term_struct)),
        F.lit(0.0),
        lambda a, v: a + v["term"],
    )
    h_raw = (
        F.lit(12.0) / (n * (F.max("n") + 1)) * term_sum
        - F.lit(3.0) * (F.max("n") + 1)
    )
    corr = F.lit(1.0) - F.max("tsum").cast("double") / F.nullif(
        n * F.max("n") * F.max("n") - F.max("n"), F.lit(0.0)
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.max("n").cast("long").alias("n_total"),
        dround(h_raw / F.nullif(corr, F.lit(0.0))).alias("h_stat"),
    )


@register(
    "agg_spearman_corr",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   {sql_dsum("value", "tv")},
                   CAST(COUNT(*) AS BIGINT) AS ne
            FROM events GROUP BY user_id
        ), ranked AS (
            SELECT user_id,
                   RANK() OVER (ORDER BY tv)
                     + (COUNT(*) OVER (PARTITION BY tv) - 1) / 2.0 AS rx,
                   RANK() OVER (ORDER BY ne)
                     + (COUNT(*) OVER (PARTITION BY ne) - 1) / 2.0 AS ry,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM per_user
        ), stats AS (
            SELECT n,
                   rx / CAST(n AS DOUBLE)
                     - (CAST(n AS DOUBLE) + CAST(1.0 AS DOUBLE))
                       / (CAST(2.0 AS DOUBLE) * CAST(n AS DOUBLE)) AS dx,
                   ry / CAST(n AS DOUBLE)
                     - (CAST(n AS DOUBLE) + CAST(1.0 AS DOUBLE))
                       / (CAST(2.0 AS DOUBLE) * CAST(n AS DOUBLE)) AS dy
            FROM ranked
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_users,
               {sql_dround(
                   "(" + sql_exact_double(
                       "SUM(" + sql_dec_cast("dx * dy") + ")", 10
                   )
                   + ") / NULLIF(SQRT((" + sql_exact_double(
                       "SUM(" + sql_dec_cast("dx * dx") + ")", 10
                   )
                   + ") * (" + sql_exact_double(
                       "SUM(" + sql_dec_cast("dy * dy") + ")", 10
                   )
                   + ")), CAST(0.0 AS DOUBLE))"
               )} AS spearman_rho
        FROM stats
    """,
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A35: Spearman rank correlation between each user's total spend
    and event count — the monotone-association companion to
    ``agg_corr``'s Pearson (robust to the heavy-tailed spend
    distribution Pearson is hostage to).  Tie-averaged ranks via
    RANK() + (ties−1)/2 — exact .5-grid doubles on both engines.

    Scale-proof moment form (the r11 100x slice found the raw form's
    CAST_OVERFLOW at 150k users): centered RANK sums grow ~n³/12 —
    2.8e14 at the 100x grain, 8e25 at a 1e9-user deployment — hostile
    to ANY integer hop.  So the reduction runs on NORMALIZED ranks
    u = r/n (O(1) measures; centered sums ~n/12, inside the nd=10 hop
    domain — 2^63/10^10 ≈ 9.2e8, n/12 form holds to n ≈ 1.1e10 users;
    nd=10 not 8 because DuckDB's DECIMAL(17,8) hop is int64-backed and
    its scaled multiply overflows, while DECIMAL(19,10) rides int128), centered on the EXACT closed-form mean
    (n+1)/(2n): tie-averaged ranks preserve the permutation total
    n(n+1)/2, so no mean pass is needed at all — the two whole-table
    mean windows of the raw form are gone.  rho is invariant under the
    per-variable rescale; both engines run the identical double
    expressions, so the change is parity-neutral by construction.

    Corpus work is the per-user aggregate; ranking runs on the
    #users-row table (small-side windows by the documented convention —
    at real scale the two rank transforms take the same
    ``global_prefix`` scaffold as agg_kruskal_wallis)."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        dsum("value", "tv"), F.count(F.lit(1)).cast("long").alias("ne")
    )
    w_x = Window.partitionBy(F.lit(0)).orderBy("tv")
    w_y = Window.partitionBy(F.lit(0)).orderBy("ne")
    wall = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per_user.select(
        (
            F.rank().over(w_x)
            + (F.count(F.lit(1)).over(Window.partitionBy("tv")) - 1) / 2.0
        ).alias("rx"),
        (
            F.rank().over(w_y)
            + (F.count(F.lit(1)).over(Window.partitionBy("ne")) - 1) / 2.0
        ).alias("ry"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
    )
    nd = F.col("n").cast("double")
    mu = (nd + F.lit(1.0)) / (F.lit(2.0) * nd)
    stats = ranked.select(
        "n",
        (F.col("rx") / nd - mu).alias("dx"),
        (F.col("ry") / nd - mu).alias("dy"),
    )
    sxy = exact_double(F.sum(dec_cast(F.col("dx") * F.col("dy"))), 10)
    sxx = exact_double(F.sum(dec_cast(F.col("dx") * F.col("dx"))), 10)
    syy = exact_double(F.sum(dec_cast(F.col("dy") * F.col("dy"))), 10)
    return stats.agg(
        F.max("n").cast("long").alias("n_users"),
        dround(
            sxy / F.nullif(F.sqrt(sxx * syy), F.lit(0.0))
        ).alias("spearman_rho"),
    )


_WSR_SPLIT = "2024-01-16"  # first-half / second-half boundary


@register(
    "agg_wilcoxon_signed_rank",
    oracle=f"""
        WITH halves AS (
            SELECT user_id,
                   {sql_davg(
                       f"CASE WHEN ts < TIMESTAMP '{_WSR_SPLIT}'"
                       " THEN value END", "m1"
                   )},
                   {sql_davg(
                       f"CASE WHEN ts >= TIMESTAMP '{_WSR_SPLIT}'"
                       " THEN value END", "m2"
                   )}
            FROM events GROUP BY user_id
        ), diffs AS (
            SELECT user_id, {sql_dround("m2 - m1")} AS d
            FROM halves WHERE m1 IS NOT NULL AND m2 IS NOT NULL
        ), nz AS (
            SELECT user_id, d, ABS(d) AS ad FROM diffs WHERE d <> 0.0
        ), ranked AS (
            SELECT d,
                   RANK() OVER (ORDER BY ad)
                     + (COUNT(*) OVER (PARTITION BY ad) - 1) / 2.0 AS r,
                   CAST(COUNT(*) OVER (PARTITION BY ad) AS BIGINT) AS t,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM nz
        ), tiew AS (
            SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tsum
            FROM (SELECT ad, CAST(COUNT(*) AS BIGINT) AS t
                  FROM nz GROUP BY ad)
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_eff,
               {sql_exact_double(
                   "SUM(CASE WHEN d > 0.0 THEN " + sql_dec_cast("r") + " END)"
               )} AS w_plus,
               {sql_exact_double(
                   "SUM(CASE WHEN d < 0.0 THEN " + sql_dec_cast("r") + " END)"
               )} AS w_minus,
               {sql_dround(
                   "(("
                   + sql_exact_double(
                       "SUM(CASE WHEN d > 0.0 THEN " + sql_dec_cast("r")
                       + " END)"
                   )
                   + ") - CAST(MAX(n) AS DOUBLE) * (MAX(n) + 1) / 4.0)"
                   " / SQRT(CAST(MAX(n) AS DOUBLE) * (MAX(n) + 1)"
                   " * (2 * MAX(n) + 1) / 24.0"
                   " - CAST(MAX(t.tsum) AS DOUBLE) / 48.0)"
               )} AS z_stat
        FROM ranked CROSS JOIN tiew t
    """,
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A37: Wilcoxon signed-rank test — each user's second-half vs
    first-half mean spend as a PAIRED sample, completing the
    nonparametric family (mann_whitney unpaired, kruskal K-group):
    rank |d| with tie averaging, W⁺ = rank sum of positive shifts,
    normal approximation with the tie-corrected variance.

    Corpus work is one conditional per-user aggregate; ranking runs on
    the #users table (small-side windows; the kruskal ``global_prefix``
    scaffold is the at-scale form).  Paired means round 6 dp through the davg
    path BEFORE differencing so the sign/tie structure is cross-engine
    frozen; rank sums ride the decimal path (.5-grid values), z rounds
    6 dp."""
    ev = load(spark, sf_dir, "events")
    halves = ev.groupBy("user_id").agg(
        davg(
            F.when(F.col("ts") < F.lit(_WSR_SPLIT).cast("timestamp"), F.col("value")),
            "m1",
        ),
        davg(
            F.when(F.col("ts") >= F.lit(_WSR_SPLIT).cast("timestamp"), F.col("value")),
            "m2",
        ),
    )
    diffs = halves.where(
        F.col("m1").isNotNull() & F.col("m2").isNotNull()
    ).select(dround(F.col("m2") - F.col("m1")).alias("d"))
    nz = diffs.where(F.col("d") != 0.0).withColumn("ad", F.abs("d"))
    w_r = Window.partitionBy(F.lit(0)).orderBy("ad")
    w_t = Window.partitionBy("ad")
    wall = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = nz.select(
        "d",
        (F.rank().over(w_r) + (F.count(F.lit(1)).over(w_t) - 1) / 2.0).alias("r"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
    )
    tiew = (
        nz.groupBy("ad")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("tsum")
        )
    )
    joined = ranked.crossJoin(F.broadcast(tiew))
    wp = exact_double(F.sum(F.when(F.col("d") > 0.0, dec_cast("r"))))
    wm = exact_double(F.sum(F.when(F.col("d") < 0.0, dec_cast("r"))))
    n = F.max("n").cast("double")
    z = dround(
        (wp - n * (F.max("n") + 1) / F.lit(4.0))
        / F.sqrt(
            n * (F.max("n") + 1) * (2 * F.max("n") + 1) / F.lit(24.0)
            - F.max("tsum").cast("double") / F.lit(48.0)
        )
    )
    return joined.agg(
        F.max("n").cast("long").alias("n_eff"),
        wp.alias("w_plus"),
        wm.alias("w_minus"),
        z.alias("z_stat"),
    )


_TOST_MARGIN = 5.0  # equivalence margin on mean value
_TOST_ZCRIT = 1.6448536269514722  # one-sided 5% normal critical value


@register(
    "agg_tost_equivalence",
    oracle=f"""
        WITH arms AS (
            SELECT user_id % 2 AS arm, value FROM events
        ), stats AS (
            SELECT arm,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum("value", "s")},
                   {sql_dsum("value * value", "q")}
            FROM arms GROUP BY arm
        ), wide AS (
            SELECT MAX(CASE WHEN arm = 1 THEN n END) AS n1,
                   MAX(CASE WHEN arm = 1 THEN s END) AS s1,
                   MAX(CASE WHEN arm = 1 THEN q END) AS q1,
                   MAX(CASE WHEN arm = 0 THEN n END) AS n0,
                   MAX(CASE WHEN arm = 0 THEN s END) AS s0,
                   MAX(CASE WHEN arm = 0 THEN q END) AS q0
            FROM stats
        ), derived AS (
            SELECT n1, n0,
                   {sql_dround("s1 / n1 - s0 / n0")} AS mean_diff,
                   {sql_dround(
                       "SQRT((q1 - s1 * s1 / n1) / (n1 * (n1 - 1.0))"
                       " + (q0 - s0 * s0 / n0) / (n0 * (n0 - 1.0)))"
                   )} AS se
            FROM wide
        )
        SELECT n1, n0, mean_diff, se,
               {sql_dround(
                   f"(mean_diff + CAST({_TOST_MARGIN!r} AS DOUBLE)) / se"
               )} AS t_lower,
               {sql_dround(
                   f"(CAST({_TOST_MARGIN!r} AS DOUBLE) - mean_diff) / se"
               )} AS t_upper,
               CAST(
                   LEAST({sql_dround(
                       f"(mean_diff + CAST({_TOST_MARGIN!r} AS DOUBLE)) / se"
                   )}, {sql_dround(
                       f"(CAST({_TOST_MARGIN!r} AS DOUBLE) - mean_diff) / se"
                   )}) > CAST({_TOST_ZCRIT!r} AS DOUBLE)
               AS INT) AS equivalent
        FROM derived
    """,
)
def agg_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A38: TOST equivalence test — two one-sided tests that the arm
    mean difference lies INSIDE ±{_TOST_MARGIN}: the inferential
    inverse of ``agg_ttest_welch`` (failing to reject a difference is
    not evidence of equivalence; TOST is).  Both one-sided statistics
    share the Welch standard error from one sufficient-statistics pass;
    equivalence = min(t_lower, t_upper) above the one-sided 5% normal
    critical value, compared on 6 dp-rounded statistics so the verdict
    bit is cross-engine frozen."""
    ev = load(spark, sf_dir, "events")
    stats = ev.select((F.col("user_id") % 2).alias("arm"), "value").groupBy(
        "arm"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("value", "s"),
        dsum(F.col("value") * F.col("value"), "q"),
    )
    wide = stats.agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c))).alias(f"{c}{a}")
            for a in (1, 0)
            for c in ("n", "s", "q")
        ]
    )
    mean_diff = dround(F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0"))
    se = dround(
        F.sqrt(
            (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1"))
            / (F.col("n1") * (F.col("n1") - F.lit(1.0)))
            + (F.col("q0") - F.col("s0") * F.col("s0") / F.col("n0"))
            / (F.col("n0") * (F.col("n0") - F.lit(1.0)))
        )
    )
    derived = wide.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n0").cast("long").alias("n0"),
        mean_diff.alias("mean_diff"),
        se.alias("se"),
    )
    t_lo = dround((F.col("mean_diff") + F.lit(_TOST_MARGIN)) / F.col("se"))
    t_hi = dround((F.lit(_TOST_MARGIN) - F.col("mean_diff")) / F.col("se"))
    return derived.select(
        "n1",
        "n0",
        "mean_diff",
        "se",
        t_lo.alias("t_lower"),
        t_hi.alias("t_upper"),
        (F.least(t_lo, t_hi) > F.lit(_TOST_ZCRIT)).cast("int").alias("equivalent"),
    )


@register(
    "agg_breusch_pagan",
    oracle=f"""
        WITH pts AS (
            SELECT CAST(DATE_DIFF('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) AS DOUBLE) AS x,
                   value AS y
            FROM events
        ), m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum("x", "sx")}, {sql_dsum("y", "sy")},
                   {sql_dsum("x * x", "sxx")}, {sql_dsum("x * y", "sxy")}
            FROM pts
        ), fit AS (
            SELECT n,
                   {sql_dround(
                       "(n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, CAST(0.0 AS DOUBLE))"
                   )} AS b,
                   {sql_dround(
                       "(sy * sxx - sx * sxy) / NULLIF(n * sxx - sx * sx, CAST(0.0 AS DOUBLE))"
                   )} AS a
            FROM m
        ), resid AS (
            SELECT p.x,
                   {sql_dround(
                       "(p.y - f.a - f.b * p.x) * (p.y - f.a - f.b * p.x)"
                   )} AS e2,
                   f.n, f.a, f.b
            FROM pts p CROSS JOIN fit f
        ), aux AS (
            -- e2 scaled by 1e-6 in the auxiliary moments: R^2 (hence LM)
            -- is invariant to linear scaling, and unscaled SUM(e2*e2)
            -- overflows the decimal->int64 hop at 10x data
            SELECT MAX(n) AS n, MAX(a) AS a, MAX(b) AS b,
                   {sql_dsum("x", "ax")},
                   {sql_dsum("e2 * CAST(1e-6 AS DOUBLE)", "ae")},
                   {sql_dsum("x * x", "axx")},
                   {sql_dsum(
                       "(e2 * CAST(1e-6 AS DOUBLE))"
                       " * (e2 * CAST(1e-6 AS DOUBLE))", "aee"
                   )},
                   {sql_dsum("x * (e2 * CAST(1e-6 AS DOUBLE))", "axe")}
            FROM resid
        )
        SELECT CAST(n AS BIGINT) AS n_obs, a AS intercept, b AS slope,
               {sql_dround(
                   "n * POW(n * axe - ax * ae, 2)"
                   " / NULLIF((n * axx - ax * ax)"
                   " * (n * aee - ae * ae), CAST(0.0 AS DOUBLE))"
               )} AS lm_stat
        FROM aux
    """,
)
def agg_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A39: Breusch-Pagan heteroscedasticity screen on the value-vs-day
    OLS fit — LM = n·R² of regressing squared residuals on the
    regressor: the does-variance-drift-with-time check that decides
    whether ``agg_linear_trend``'s plain standard errors are honest.

    Two corpus passes by design (fit, then residual moments — the OLS
    coefficients must exist before residuals do; the 1-row fit
    broadcasts back, the train/apply shape of ml_naive_bayes).  All
    moment sums ride the decimal path; a, b, per-row e², and LM round
    6 dp."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.col("value").alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("x", "sx"),
        dsum("y", "sy"),
        dsum(F.col("x") * F.col("x"), "sxx"),
        dsum(F.col("x") * F.col("y"), "sxy"),
    )
    b = dround(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.nullif(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
        )
    )
    # intercept by its own closed form (NOT sy/n - b_rounded*sx/n: the
    # rounded slope's 5e-7 grid error multiplies by sx ~ 1e8)
    fit = m.select(
        "n",
        b.alias("b"),
        dround(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"))
            / F.nullif(
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
                F.lit(0.0),
            )
        ).alias("a"),
    )
    resid = pts.crossJoin(F.broadcast(fit)).select(
        "x",
        "n",
        "a",
        "b",
        dround(
            (F.col("y") - F.col("a") - F.col("b") * F.col("x"))
            * (F.col("y") - F.col("a") - F.col("b") * F.col("x"))
        ).alias("e2"),
    )
    # e2 scaled 1e-6 in the aux moments: R^2/LM are scale-invariant and
    # the unscaled e2^2 sum overflows the decimal->int64 hop at 10x data
    e2s = F.col("e2") * F.lit(1e-6)
    aux = resid.agg(
        F.max("n").alias("n"),
        F.max("a").alias("a"),
        F.max("b").alias("b"),
        dsum("x", "ax"),
        dsum(e2s, "ae"),
        dsum(F.col("x") * F.col("x"), "axx"),
        dsum(e2s * e2s, "aee"),
        dsum(F.col("x") * e2s, "axe"),
    )
    lm = dround(
        F.col("n")
        * F.pow(F.col("n") * F.col("axe") - F.col("ax") * F.col("ae"), F.lit(2.0))
        / F.nullif(
            (F.col("n") * F.col("axx") - F.col("ax") * F.col("ax"))
            * (F.col("n") * F.col("aee") - F.col("ae") * F.col("ae")),
            F.lit(0.0),
        )
    )
    return aux.select(
        F.col("n").cast("long").alias("n_obs"),
        F.col("a").alias("intercept"),
        F.col("b").alias("slope"),
        lm.alias("lm_stat"),
    )


@register(
    "agg_runs_test",
    oracle=f"""
        WITH series AS (
            SELECT DATE_TRUNC('day', ts) AS d,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ), med AS (
            SELECT d, x,
                   CAST(x > MEDIAN(x) OVER () AS INTEGER) AS above,
                   CAST(x = MEDIAN(x) OVER () AS INTEGER) AS at_med
            FROM series
        ), nz AS (
            SELECT d, above,
                   LAG(above) OVER (ORDER BY d) AS prev
            FROM med WHERE at_med = 0
        ), agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(above) AS BIGINT) AS n1,
                   CAST(COUNT(*) - SUM(above) AS BIGINT) AS n0,
                   CAST(1 + SUM(CASE WHEN prev IS NOT NULL
                                      AND above <> prev
                                     THEN 1 ELSE 0 END) AS BIGINT) AS runs
            FROM nz
        )
        SELECT n, n1, n0, runs,
               {sql_dround(
                   "(runs - (CAST(2.0 AS DOUBLE) * n1 * n0 / n + 1.0))"
                   " / SQRT(CAST(2.0 AS DOUBLE) * n1 * n0"
                   " * (2.0 * n1 * n0 - n)"
                   " / (CAST(n AS DOUBLE) * n * (n - 1)))"
               )} AS z_stat
        FROM agg
    """,
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A40: Wald-Wolfowitz runs test — is the daily event-count series'
    above/below-median sequence random, or does it streak?  (The
    randomness screen behind window_streak's descriptive runs.)  Runs
    counted via one lag window over the median-dichotomized series
    (at-median days drop, the standard convention); z against the exact
    run-count mean/variance.  Corpus work = one day-count agg; the
    median and the lag ride the O(span) series windows; counts stay
    exact integers into one 6 dp IEEE chain.  DuckDB MEDIAN on an even
    count interpolates exactly like Spark's percentile(0.5) over bigint
    counts — both land on the same .5-grid value."""
    ev = load(spark, sf_dir, "events")
    series = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    wall = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = F.expr("percentile(x, 0.5)").over(wall)
    m = series.select(
        "d",
        "x",
        (F.col("x") > med).cast("int").alias("above"),
        (F.col("x") == med).cast("int").alias("at_med"),
    ).where(F.col("at_med") == 0)
    w_ord = Window.partitionBy(F.lit(0)).orderBy("d")
    nz = m.select("above", F.lag("above").over(w_ord).alias("prev"))
    agg = nz.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("above").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("above")).cast("long").alias("n0"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull() & (F.col("above") != F.col("prev")), 1
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("runs"),
    )
    n = F.col("n").cast("double")
    mu = F.lit(2.0) * F.col("n1") * F.col("n0") / F.col("n") + F.lit(1.0)
    var = (
        F.lit(2.0)
        * F.col("n1")
        * F.col("n0")
        * (F.lit(2.0) * F.col("n1") * F.col("n0") - F.col("n"))
        / (n * F.col("n") * (F.col("n") - 1))
    )
    return agg.select(
        "n",
        "n1",
        "n0",
        "runs",
        dround((F.col("runs") - mu) / F.sqrt(var)).alias("z_stat"),
    )


@register(
    "agg_overdispersion",
    oracle=f"""
        WITH daily AS (
            SELECT user_id, DATE_TRUNC('day', ts) AS d,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY user_id, DATE_TRUNC('day', ts)
        ), m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c) AS BIGINT) AS s,
                   CAST(SUM(c * c) AS BIGINT) AS q
            FROM daily
        )
        SELECT n,
               {sql_dround("CAST(s AS DOUBLE) / n")} AS mean_count,
               {sql_dround(
                   "(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)"
                   " / NULLIF(CAST(n - 1 AS DOUBLE), CAST(0.0 AS DOUBLE))"
               )} AS var_count,
               {sql_dround(
                   "((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)"
                   " / NULLIF(CAST(n - 1 AS DOUBLE), CAST(0.0 AS DOUBLE)))"
                   " / (CAST(s AS DOUBLE) / n)"
               )} AS dispersion_index,
               CASE WHEN (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                         / NULLIF(CAST(n - 1 AS DOUBLE), CAST(0.0 AS DOUBLE))
                         > CAST(s AS DOUBLE) / n
                    THEN {sql_dround(
                        "(CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)"
                        " / ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)"
                        " / NULLIF(CAST(n - 1 AS DOUBLE), CAST(0.0 AS DOUBLE))"
                        " - CAST(s AS DOUBLE) / n)"
                    )} END AS nb_r
        FROM m
    """,
)
def agg_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A43: overdispersion diagnosis of per-user daily event counts —
    the Fisher dispersion index Var/Mean (1 under Poisson) and the
    method-of-moments negative-binomial size r = μ²/(σ²−μ) when
    overdispersed: the decides-your-count-model statistic behind every
    rate-alerting threshold (a Poisson alert fires constantly on NB
    data).  One (user, day) count + one integer-moment reduction;
    every output a 6 dp IEEE chain on exact integers; nb_r is NULL
    when the data is NOT overdispersed (the guard both engines share)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("q").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / F.nullif((F.col("n") - 1).cast("double"), F.lit(0.0))
    return m.select(
        "n",
        dround(mean).alias("mean_count"),
        dround(var).alias("var_count"),
        dround(var / mean).alias("dispersion_index"),
        F.when(var > mean, dround(mean * mean / (var - mean))).alias("nb_r"),
    )


_SPRT_L1 = 0.10008345855698243  # ln(p1/p0), p0=0.19, p1=0.21
_SPRT_L0 = -0.02500130220541727  # ln((1-p1)/(1-p0))
_SPRT_BOUND = 2.9444389791664403  # ln((1-beta)/alpha), alpha=beta=0.05


@register(
    "agg_sprt_decision",
    oracle=f"""
        WITH seq AS (
            SELECT CAST(event_type = 'purchase' AS BIGINT) AS hit,
                   DATE_TRUNC('day', ts) AS bkt, ts, event_id
            FROM events
        ), cum AS (
            SELECT CAST(SUM(hit) OVER w AS BIGINT) AS c1,
                   CAST(COUNT(*) OVER w - SUM(hit) OVER w AS BIGINT) AS c0,
                   CAST(COUNT(*) OVER w AS BIGINT) AS rk,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM seq
            WINDOW w AS (ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        ), scored AS (
            SELECT rk, n,
                   {sql_dround(
                       f"c1 * CAST({_SPRT_L1!r} AS DOUBLE)"
                       f" + c0 * CAST({_SPRT_L0!r} AS DOUBLE)"
                   )} AS llr
            FROM cum
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_total,
               CAST(MIN(CASE WHEN llr >= CAST({_SPRT_BOUND!r} AS DOUBLE)
                              OR llr <= CAST({-_SPRT_BOUND!r} AS DOUBLE)
                             THEN rk END) AS BIGINT) AS n_at_decision,
               MAX(CASE WHEN rk = (SELECT MIN(CASE WHEN llr >= CAST({_SPRT_BOUND!r} AS DOUBLE)
                                                    OR llr <= CAST({-_SPRT_BOUND!r} AS DOUBLE)
                                                   THEN rk END) FROM scored)
                        THEN llr END) AS llr_at_decision,
               CASE WHEN MAX(CASE WHEN rk = (SELECT MIN(CASE WHEN llr >= CAST({_SPRT_BOUND!r} AS DOUBLE)
                                                              OR llr <= CAST({-_SPRT_BOUND!r} AS DOUBLE)
                                                             THEN rk END) FROM scored)
                                  THEN llr END) >= CAST({_SPRT_BOUND!r} AS DOUBLE)
                    THEN 'h1'
                    WHEN MIN(CASE WHEN llr >= CAST({_SPRT_BOUND!r} AS DOUBLE)
                                   OR llr <= CAST({-_SPRT_BOUND!r} AS DOUBLE)
                                  THEN rk END) IS NOT NULL
                    THEN 'h0'
                    ELSE 'continue' END AS decision
        FROM scored
    """,
)
def agg_sprt_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A45: Wald's SPRT — walk the event stream in time order
    accumulating the Bernoulli log-likelihood ratio for purchase rate
    H1: p=0.21 vs H0: p=0.19 (α=β=0.05) and report the FIRST boundary
    crossing: the always-valid sequential test that replaces
    fixed-horizon peeking.  The LLR never float-accumulates: after k
    events it is EXACTLY c1·L1 + c0·L0 on integer prefix counts, so the
    whole path needs only the ECDF-style cumulative counts (the rank
    ``rk``, the stream length ``n`` and the hit count ``c1`` from
    ``global_prefix``'s two-pass scan in (ts, event_id) order), one
    rounded expression per row, and a conditional-MIN reduction for the
    first crossing."""
    ev = load(spark, sf_dir, "events")
    seq = ev.select(
        (F.col("event_type") == "purchase").cast("long").alias("hit"),
        "ts",
        "event_id",
    )
    cum = global_prefix(seq, ["ts", "event_id"], sums={"c1": "hit"})
    llr = dround(
        F.col("c1") * F.lit(_SPRT_L1)
        + (F.col("rk") - F.col("c1")) * F.lit(_SPRT_L0)
    )
    scored = cum.select("rk", "n", llr.alias("llr"))
    crossing = F.when(
        (F.col("llr") >= _SPRT_BOUND) | (F.col("llr") <= -_SPRT_BOUND),
        F.col("rk"),
    )
    agg = scored.agg(
        F.max("n").cast("long").alias("n_total"),
        F.min(crossing).cast("long").alias("n_at_decision"),
        F.max_by("llr", F.when(crossing.isNotNull(), -F.col("rk"))).alias(
            "llr_at_decision"
        ),
    )
    return agg.select(
        "n_total",
        "n_at_decision",
        "llr_at_decision",
        F.when(F.col("llr_at_decision") >= _SPRT_BOUND, F.lit("h1"))
        .when(F.col("n_at_decision").isNotNull(), F.lit("h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


@register(
    "agg_adf_test",
    oracle=f"""
        WITH series AS (
            SELECT DATE_TRUNC('day', ts) AS d,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ), pairs AS (
            SELECT x - LAG(x) OVER (ORDER BY d) AS dy,
                   LAG(x) OVER (ORDER BY d) AS xl
            FROM series
        ), m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xl) AS BIGINT) AS sx,
                   CAST(SUM(dy) AS BIGINT) AS sy,
                   CAST(SUM(xl * xl) AS BIGINT) AS sxx,
                   CAST(SUM(xl * dy) AS BIGINT) AS sxy,
                   CAST(SUM(dy * dy) AS BIGINT) AS syy
            FROM pairs WHERE xl IS NOT NULL
        )
        SELECT n,
               {sql_dround(
                   "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                   " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
               )} AS rho,
               {sql_dround(
                   "((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                   " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
                   " / SQRT("
                   " ((CAST(syy AS DOUBLE)"
                   "   - (CAST(sy AS DOUBLE) * sy) / n"
                   "   - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                   "      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
                   "     * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n))"
                   "  / (n - 2))"
                   " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))"
               )} AS df_t_stat
        FROM m
    """,
)
def agg_adf_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A46: Dickey-Fuller unit-root statistic (with-intercept, no
    augmentation) on the daily series — regress Δxₜ on xₜ₋₁ and report
    the slope's t-statistic: the stationarity screen that decides
    whether the forecast keys may difference (strongly negative t →
    mean-reverting; near 0 → random walk).  Completes the TS diagnostic
    battery (acf, ljung_box, runs, hurst).

    All sufficient statistics are EXACT integers (counts and lagged
    counts); ρ̂ and its t are two fixed IEEE chains rounded 6 dp.  One
    corpus day-count; the lag and the moments run on the O(span)
    series."""
    ev = load(spark, sf_dir, "events")
    series = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w_ord = Window.partitionBy(F.lit(0)).orderBy("d")
    pairs = series.select(
        (F.col("x") - F.lag("x").over(w_ord)).alias("dy"),
        F.lag("x").over(w_ord).alias("xl"),
    ).where(F.col("xl").isNotNull())
    m = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xl").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("xl") * F.col("xl")).cast("long").alias("sxx"),
        F.sum(F.col("xl") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    n = F.col("n").cast("double")
    sxx_c = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    rho = (n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    sse = (
        F.col("syy").cast("double")
        - (F.col("sy").cast("double") * F.col("sy")) / F.col("n")
        - rho * (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
    )
    t = rho / F.sqrt((sse / (F.col("n") - 2)) / sxx_c)
    return m.select("n", dround(rho).alias("rho"), dround(t).alias("df_t_stat"))


@register(
    "agg_odds_ratio_mh",
    oracle=f"""
        WITH cells AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN user_id % 2 = 1
                                  AND value > CAST({_CMH_SUCCESS!r} AS DOUBLE)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS a,
                   CAST(SUM(CASE WHEN user_id % 2 = 1
                                  AND value <= CAST({_CMH_SUCCESS!r} AS DOUBLE)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS b,
                   CAST(SUM(CASE WHEN user_id % 2 = 0
                                  AND value > CAST({_CMH_SUCCESS!r} AS DOUBLE)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                   CAST(SUM(CASE WHEN user_id % 2 = 0
                                  AND value <= CAST({_CMH_SUCCESS!r} AS DOUBLE)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS d
            FROM events GROUP BY event_type
        ), terms AS (
            SELECT {sql_dround(
                       "CAST(a AS DOUBLE) * d / (a + b + c + d)"
                   )} AS rn_,
                   {sql_dround(
                       "CAST(b AS DOUBLE) * c / (a + b + c + d)"
                   )} AS sn_
            FROM cells
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               {sql_dsum("rn_", "sum_ad_n")},
               {sql_dsum("sn_", "sum_bc_n")},
               {sql_dround(
                   "(" + sql_exact_double("SUM(" + sql_dec_cast("rn_") + ")")
                   + ") / NULLIF((" + sql_exact_double("SUM(" + sql_dec_cast("sn_") + ")")
                   + "), CAST(0.0 AS DOUBLE))"
               )} AS or_mh
        FROM terms
    """,
)
def agg_odds_ratio_mh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33+: Mantel-Haenszel common odds ratio — the pooled EFFECT SIZE
    whose null ``agg_cmh_test`` tests: OR_MH = Σ(aᵢdᵢ/nᵢ)/Σ(bᵢcᵢ/nᵢ)
    across the event-type strata (robust to zero cells, the reason it
    beats averaging per-stratum ORs).  Same one-conditional-aggregate
    shape as the test; per-stratum terms are fixed IEEE chains on exact
    2×2 margins rounded 6 dp, pooled through decimal sums; the ratio is
    parenthesized (infix trap) and rounds 6 dp."""
    ev = load(spark, sf_dir, "events")
    arm1 = F.col("user_id") % 2 == 1
    succ = F.col("value") > F.lit(_CMH_SUCCESS)
    cells = ev.groupBy("event_type").agg(
        F.sum((arm1 & succ).cast("int")).cast("long").alias("a"),
        F.sum((arm1 & ~succ).cast("int")).cast("long").alias("b"),
        F.sum((~arm1 & succ).cast("int")).cast("long").alias("c"),
        F.sum((~arm1 & ~succ).cast("int")).cast("long").alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    terms = cells.select(
        dround(F.col("a").cast("double") * F.col("d") / n).alias("rn_"),
        dround(F.col("b").cast("double") * F.col("c") / n).alias("sn_"),
    )
    sr = exact_double(F.sum(dec_cast("rn_")))
    ss = exact_double(F.sum(dec_cast("sn_")))
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        dsum("rn_", "sum_ad_n"),
        dsum("sn_", "sum_bc_n"),
        dround(sr / F.nullif(ss, F.lit(0.0))).alias("or_mh"),
    )


@register(
    "agg_interevent_burstiness",
    oracle=f"""
        WITH gaps AS (
            SELECT user_id,
                   CAST(DATE_DIFF('second', LAG(ts) OVER w, ts) AS DOUBLE)
                       AS gap
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), m AS (
            SELECT user_id,
                   CAST(COUNT(gap) AS BIGINT) AS n,
                   {sql_dsum("gap", "s")},
                   {sql_dsum("gap * gap", "q")}
            FROM gaps WHERE gap IS NOT NULL
            GROUP BY user_id HAVING COUNT(gap) >= 10
        )
        SELECT user_id, n,
               {sql_dround("s / n")} AS mean_gap,
               {sql_dround(
                   "(SQRT((q - s * s / n) / n) - s / n)"
                   " / (SQRT((q - s * s / n) / n) + s / n)"
               )} AS burstiness_b
        FROM m
    """,
)
def agg_interevent_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A52: Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of each user's
    inter-event times — B→−1 periodic heartbeat, 0 Poisson, →+1 bursty
    sessions: the temporal twin of ``text_burstiness``'s token Fano
    ratio and the one-number answer to "bot or human cadence?".

    One lag window on the user clustering produces the gaps, one
    moments aggregate per user (≥10 gaps); population σ and B are 6 dp
    IEEE chains on the decimal-path sums.  Gap seconds are exact
    integers (micros truncate identically under DATE_DIFF/second on
    both engines)."""
    ev = load(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w_u))
        )
        .cast("double")
        .alias("gap"),
    ).where(F.col("gap").isNotNull())
    m = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap").cast("long").alias("n"),
            dsum("gap", "s"),
            dsum(F.col("gap") * F.col("gap"), "q"),
        )
        .where(F.col("n") >= 10)
    )
    mean = F.col("s") / F.col("n")
    sigma = F.sqrt((F.col("q") - F.col("s") * F.col("s") / F.col("n")) / F.col("n"))
    return m.select(
        "user_id",
        "n",
        dround(mean).alias("mean_gap"),
        dround((sigma - mean) / (sigma + mean)).alias("burstiness_b"),
    )


_EULER_GAMMA = 0.5772156649015329
_SQRT6_OVER_PI = 0.7796968012336763  # sqrt(6)/pi


@register(
    "agg_gumbel_fit",
    oracle=f"""
        WITH daily_user AS (
            SELECT DATE_TRUNC('day', ts) AS d, user_id,
                   {sql_dsum("value", "spend")}
            FROM events GROUP BY 1, 2
        ), maxima AS (
            SELECT d, MAX(spend) AS block_max
            FROM daily_user GROUP BY d
        ), m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum("block_max", "s")},
                   {sql_dsum("block_max * block_max", "q")}
            FROM maxima
        )
        SELECT n,
               {sql_dround("s / n")} AS mean_max,
               {sql_dround(
                   "SQRT((q - s * s / n) / NULLIF(CAST(n - 1 AS DOUBLE), CAST(0.0 AS DOUBLE)))"
               )} AS sd_max,
               {sql_dround(
                   f"SQRT((q - s * s / n) / NULLIF(CAST(n - 1 AS DOUBLE), CAST(0.0 AS DOUBLE)))"
                   f" * CAST({_SQRT6_OVER_PI!r} AS DOUBLE)"
               )} AS gumbel_beta,
               {sql_dround(
                   f"s / n - CAST({_EULER_GAMMA!r} AS DOUBLE)"
                   f" * (SQRT((q - s * s / n) / NULLIF(CAST(n - 1 AS DOUBLE), CAST(0.0 AS DOUBLE)))"
                   f" * CAST({_SQRT6_OVER_PI!r} AS DOUBLE))"
               )} AS gumbel_mu
        FROM m
    """,
)
def agg_gumbel_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A54: Gumbel fit of daily block maxima — method-of-moments EVT on
    the max per-user daily spend (β = σ√6/π, μ = x̄ − γβ): the
    extreme-value tier behind "what peak should capacity plan for",
    which mean/percentile aggregates structurally underestimate.

    Corpus work: one (day, user) aggregate; the block-maxima and
    moments stages run on O(days) rows.  √6/π and Euler-Mascheroni are
    exact double literals; moments ride the decimal path; all outputs
    round 6 dp."""
    ev = load(spark, sf_dir, "events")
    daily_user = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).agg(dsum("value", "spend"))
    maxima = daily_user.groupBy("d").agg(F.max("spend").alias("block_max"))
    m = maxima.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("block_max", "s"),
        dsum(F.col("block_max") * F.col("block_max"), "q"),
    )
    mean = F.col("s") / F.col("n")
    sd = F.sqrt(
        (F.col("q") - F.col("s") * F.col("s") / F.col("n"))
        / F.nullif((F.col("n") - 1).cast("double"), F.lit(0.0))
    )
    beta = sd * F.lit(_SQRT6_OVER_PI)
    return m.select(
        "n",
        dround(mean).alias("mean_max"),
        dround(sd).alias("sd_max"),
        dround(beta).alias("gumbel_beta"),
        dround(mean - F.lit(_EULER_GAMMA) * beta).alias("gumbel_mu"),
    )


@register(
    "window_record_highs",
    oracle="""
        WITH daily AS (
            SELECT DATE_TRUNC('day', ts) AS d,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ), runmax AS (
            SELECT d, x,
                   MAX(x) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_max,
                   ROW_NUMBER() OVER (ORDER BY d) AS i
            FROM daily
        )
        SELECT d, x,
               CAST(prev_max IS NULL OR x > prev_max AS INT) AS is_record,
               CAST(SUM(CASE WHEN prev_max IS NULL OR x > prev_max
                             THEN 1 ELSE 0 END)
                    OVER (ORDER BY d) AS BIGINT) AS n_records_so_far
        FROM runmax
    """,
)
def window_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17: running record highs of the daily series — flag every new
    all-time-high and the cumulative record count: the headline-metric
    tracker, and a randomness probe (an i.i.d. series collects ≈ Hₙ ≈
    ln n records; trending series far exceed it — the pytest oracle
    checks the count against the harmonic expectation band).  One
    day-count aggregate; the strict-prefix running max and the record
    cumsum are two windows on the O(span) series."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w_prev = (
        Window.partitionBy(F.lit(0))
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.partitionBy(F.lit(0)).orderBy("d")
    runmax = daily.select(
        "d", "x", F.max("x").over(w_prev).alias("prev_max")
    )
    is_rec = (F.col("prev_max").isNull() | (F.col("x") > F.col("prev_max"))).cast(
        "int"
    )
    return runmax.select(
        "d",
        "x",
        is_rec.alias("is_record"),
        F.sum(is_rec).over(w_cum).cast("long").alias("n_records_so_far"),
    )


@register(
    "agg_srm_check",
    oracle=f"""
        WITH counts AS (
            SELECT CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n0
            FROM events
        )
        SELECT n1, n0,
               {sql_dround(
                   "POW(n1 - (n1 + n0) / CAST(2.0 AS DOUBLE), 2)"
                   " / ((n1 + n0) / CAST(2.0 AS DOUBLE))"
                   " + POW(n0 - (n1 + n0) / CAST(2.0 AS DOUBLE), 2)"
                   " / ((n1 + n0) / CAST(2.0 AS DOUBLE))"
               )} AS srm_chi2,
               CAST({sql_dround(
                   "POW(n1 - (n1 + n0) / CAST(2.0 AS DOUBLE), 2)"
                   " / ((n1 + n0) / CAST(2.0 AS DOUBLE))"
                   " + POW(n0 - (n1 + n0) / CAST(2.0 AS DOUBLE), 2)"
                   " / ((n1 + n0) / CAST(2.0 AS DOUBLE))"
               )} > CAST(3.841 AS DOUBLE) AS INT) AS srm_flag
        FROM counts
    """,
)
def agg_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A55: sample-ratio-mismatch check — goodness-of-fit χ² of the arm
    traffic counts against the designed 50/50 split: the FIRST gate
    every experiment platform runs, because a biased assignment
    invalidates every downstream test (welch/CUPED/TOST) regardless of
    their p-values.  (``agg_chi_square`` tests association; this tests
    the allocation itself.)  One conditional count + a 1-row exact-int
    χ² chain; the flag compares the 6 dp statistic to the χ²₁ 5%
    critical value on both engines."""
    ev = load(spark, sf_dir, "events")
    counts = ev.agg(
        F.sum((F.col("user_id") % 2 == 1).cast("int")).cast("long").alias("n1"),
        F.sum((F.col("user_id") % 2 == 0).cast("int")).cast("long").alias("n0"),
    )
    exp = (F.col("n1") + F.col("n0")) / F.lit(2.0)
    chi2 = dround(
        F.pow(F.col("n1") - exp, F.lit(2.0)) / exp
        + F.pow(F.col("n0") - exp, F.lit(2.0)) / exp
    )
    return counts.select(
        "n1",
        "n0",
        chi2.alias("srm_chi2"),
        (chi2 > F.lit(3.841)).cast("int").alias("srm_flag"),
    )


@register(
    "window_mix_drift",
    oracle=f"""
        WITH mix AS (
            SELECT DATE_TRUNC('day', ts) AS d,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS v1,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS v2,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS v3,
                   CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                        AS BIGINT) AS v4,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS v5
            FROM events GROUP BY 1
        ), lagged AS (
            SELECT d, v1, v2, v3, v4, v5,
                   LAG(v1) OVER w AS p1, LAG(v2) OVER w AS p2,
                   LAG(v3) OVER w AS p3, LAG(v4) OVER w AS p4,
                   LAG(v5) OVER w AS p5
            FROM mix WINDOW w AS (ORDER BY d)
        )
        SELECT d,
               CASE WHEN p1 IS NOT NULL THEN {sql_dround(
                   "CAST(v1 * p1 + v2 * p2 + v3 * p3 + v4 * p4 + v5 * p5"
                   " AS DOUBLE)"
                   " / (SQRT(CAST(v1*v1 + v2*v2 + v3*v3 + v4*v4 + v5*v5"
                   " AS DOUBLE))"
                   " * SQRT(CAST(p1*p1 + p2*p2 + p3*p3 + p4*p4 + p5*p5"
                   " AS DOUBLE)))"
               )} END AS mix_cosine
        FROM lagged
    """,
)
def window_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18: day-over-day event-mix drift — cosine similarity between
    consecutive days' event-type count vectors: the cheap "did the
    traffic PROFILE change" monitor that catches mix shifts total
    volume hides (the windowed companion of ``text_js_divergence``).
    One conditional day pivot; each day's 5-vector meets its
    predecessor through lag columns on the O(span) ordering; the dot
    and norms are exact integer sums into one 6 dp IEEE chain."""
    ev = load(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "signup", "error"]
    mix = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        *[
            F.sum((F.col("event_type") == t).cast("int"))
            .cast("long")
            .alias(f"v{i+1}")
            for i, t in enumerate(types)
        ]
    )
    w_ord = Window.partitionBy(F.lit(0)).orderBy("d")
    lagged = mix.select(
        "d",
        *[F.col(f"v{i}") for i in range(1, 6)],
        *[F.lag(f"v{i}").over(w_ord).alias(f"p{i}") for i in range(1, 6)],
    )
    dot = sum(F.col(f"v{i}") * F.col(f"p{i}") for i in range(1, 6))
    nv = F.sqrt(
        sum(F.col(f"v{i}") * F.col(f"v{i}") for i in range(1, 6)).cast("double")
    )
    np_ = F.sqrt(
        sum(F.col(f"p{i}") * F.col(f"p{i}") for i in range(1, 6)).cast("double")
    )
    return lagged.select(
        "d",
        F.when(
            F.col("p1").isNotNull(), dround(dot.cast("double") / (nv * np_))
        ).alias("mix_cosine"),
    )
