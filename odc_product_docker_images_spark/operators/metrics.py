"""Experiment / product-metric analytics over the event stream
(SURVEY.md §2.3 aggregate-family extension — the A/B-testing and
engagement rollups an analytics deployment runs daily).

Three shapes, all single-scan and shuffle-minimal:

- **Welch two-sample t-test** (`agg_ttest_welch`): one hash-agg computes
  per-variant moment sums; the tiny summary folds into a single array
  row and crosses with itself into all variant pairs (no self-join — a
  self-join re-plans the scan per side).  The fact table is touched ONCE
  regardless of how many pairs are compared — the classic "sufficient
  statistics first" pattern that scales to any event volume.
- **Rolling distinct users** (`agg_rolling_distinct`): trailing-7-day WAU
  and same-day DAU from ONE pass — the (day, user) grid explodes into its
  7 target days and a single grouped agg computes both distinct counts
  (the off=0 slice is DAU).  Cost is 7x the DISTINCT grid (not 7x the
  corpus), the standard scalable form for sliding count-distinct.
- **Rolling regression slope** (`window_rolling_slope`): per-user trend
  of the last 7 events via closed-form least squares over windowed sums —
  O(1) state per row, no per-window refit, all inside one partitioned
  sort.

Determinism: moment sums ride the decimal-exact det.py path; variance /
t / df are then pure IEEE (+,-,*,/,sqrt) chains on bit-identical inputs,
so they need NO rounding (det.py policy) — POWER() is deliberately
avoided (libm) in favour of explicit multiplication on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import (
    davg,
    dec_cast,
    dround,
    dsum,
    dsum_fast,
    exact_double,
    exact_double_wide,
    sql_davg,
    sql_dec_cast,
    sql_dround,
    sql_dsum,
    sql_exact_double,
    sql_exact_double_wide,
)
from ..functions.prefix import global_prefix
from ..io import fanout, load
from ..registry import register


@register(
    "agg_ttest_welch",
    oracle=f"""
        WITH s AS (
            SELECT event_type,
                   CAST(COUNT(value) AS DOUBLE) AS n,
                   {sql_dsum('value', 'sx')},
                   {sql_dsum('value*value', 'sxx')}
            FROM events
            GROUP BY event_type
        ), e AS (
            SELECT event_type, n,
                   sx / n AS m,
                   (sxx - sx * sx / n) / (n - CAST(1.0 AS DOUBLE)) AS v
            FROM s
        )
        SELECT a.event_type AS type_a,
               b.event_type AS type_b,
               a.n AS n_a,
               b.n AS n_b,
               (a.m - b.m) / SQRT(a.v / a.n + b.v / b.n) AS t_stat,
               ((a.v / a.n + b.v / b.n) * (a.v / a.n + b.v / b.n))
                 / ((a.v / a.n) * (a.v / a.n) / (a.n - CAST(1.0 AS DOUBLE))
                    + (b.v / b.n) * (b.v / b.n) / (b.n - CAST(1.0 AS DOUBLE))) AS df
        FROM e a JOIN e b ON a.event_type < b.event_type
    """,
)
def agg_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: Welch's unequal-variance t-test between every pair of event
    types on ``value``.  One grouped pass computes (n, Σx, Σx²) per
    variant — sufficient statistics, decimal-exact; the tiny summary then
    expands into ordered pairs via a one-row array self-cross and the t
    statistic and Welch–Satterthwaite df come out of pure IEEE arithmetic
    (bit-identical across engines, unrounded).  At 100 TB the fact scan
    happens once and everything after it is O(variants²) in a one-row
    stage — no second scan, no join, nothing driver-side.
    """
    ev = load(spark, sf_dir, "events")
    one = F.lit(1.0)
    s = ev.groupBy("event_type").agg(
        F.count("value").cast("double").alias("n"),
        dsum_fast("value", "sx"),
        dsum_fast(F.col("value") * F.col("value"), "sxx"),
    )
    e = s.select(
        "event_type",
        "n",
        (F.col("sx") / F.col("n")).alias("m"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - one)).alias("v"),
    )
    # Pair expansion WITHOUT a self-join: a self-join would re-plan (and
    # re-scan) the whole summary subtree per side (the branch-duplication
    # trap).  Fold the <=variants summary rows into ONE array row
    # (collect_list — an executor-side aggregate, not a driver collect)
    # and cross the array with itself via two explodes: single scan, no
    # join, O(variants²) rows out of a one-row stage.
    arr = e.agg(F.collect_list(F.struct("event_type", "n", "m", "v")).alias("arr"))
    pairs = (
        arr.select(F.explode("arr").alias("a"), "arr")
        .select("a", F.explode("arr").alias("b"))
        .where(F.col("a.event_type") < F.col("b.event_type"))
    )
    va_na = F.col("a.v") / F.col("a.n")
    vb_nb = F.col("b.v") / F.col("b.n")
    se2 = va_na + vb_nb
    return pairs.select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        ((F.col("a.m") - F.col("b.m")) / F.sqrt(se2)).alias("t_stat"),
        (
            (se2 * se2)
            / (
                va_na * va_na / (F.col("a.n") - one)
                + vb_nb * vb_nb / (F.col("b.n") - one)
            )
        ).alias("df"),
    )


@register(
    "agg_rolling_distinct",
    oracle=f"""
        WITH daily AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ), expanded AS (
            SELECT daily.day + CAST(t.o AS INTEGER) AS day, daily.user_id, t.o
            FROM daily CROSS JOIN (SELECT UNNEST(RANGE(0, 7)) AS o) t
        ), rolled AS (
            SELECT day,
                   COUNT(DISTINCT CASE WHEN o = 0 THEN user_id END) AS dau,
                   COUNT(DISTINCT user_id) AS wau7
            FROM expanded
            GROUP BY day
        )
        SELECT CAST(day AS VARCHAR) AS day, dau, wau7,
               {sql_dround('CAST(dau AS DOUBLE) / CAST(wau7 AS DOUBLE)')} AS stickiness
        FROM rolled
        WHERE dau > 0
    """,
)
def agg_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: DAU / trailing-7-day WAU / stickiness per day.  Sliding
    COUNT(DISTINCT) does not decompose into window frames, so the
    scalable form is: dedupe to the (day, user) grid, explode each grid
    row into the 7 days it contributes to, and run ONE grouped
    two-distinct agg — the off=0 slice is same-day DAU, the whole group
    is WAU.  Shuffle volume is 7 × |grid| (users×days), independent of
    raw event count; days with no activity are exactly the dau=0 groups
    and are dropped.  Stickiness is the DAU/WAU ratio on the decimal
    round path (quotients of small ints hit exact midpoints).
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    expanded = daily.select(
        F.explode(F.array(*[F.lit(o) for o in range(7)])).alias("o"),
        "day",
        "user_id",
    ).select(F.date_add("day", F.col("o")).alias("day"), "user_id", "o")
    rolled = expanded.groupBy("day").agg(
        F.count_distinct(F.when(F.col("o") == 0, F.col("user_id"))).alias("dau"),
        F.count_distinct("user_id").alias("wau7"),
    )
    # DATE output columns canonicalize differently across engines (date vs
    # midnight-timestamp render) — emit the ISO day string on both sides.
    return rolled.where(F.col("dau") > 0).select(
        F.col("day").cast("string").alias("day"),
        "dau",
        "wau7",
        dround(F.col("dau").cast("double") / F.col("wau7").cast("double")).alias(
            "stickiness"
        ),
    )


_SLOPE_W = 7


def _wsum_sql(expr: str) -> str:
    """DuckDB twin of the windowed decimal-exact sum (det.py policy)."""
    return sql_exact_double(f"SUM({sql_dec_cast(expr)}) OVER w")


@register(
    "window_rolling_slope",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_id, value,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS DOUBLE) AS x
            FROM events
        ), sums AS (
            SELECT user_id, event_id,
                   CAST(COUNT(*) OVER w AS DOUBLE) AS n,
                   {_wsum_sql('x')} AS sx,
                   {_wsum_sql('value')} AS sy,
                   {_wsum_sql('x * value')} AS sxy,
                   {_wsum_sql('x * x')} AS sxx
            FROM seq
            WINDOW w AS (
                PARTITION BY user_id ORDER BY x
                ROWS BETWEEN {_SLOPE_W - 1} PRECEDING AND CURRENT ROW
            )
        )
        SELECT user_id, event_id,
               CASE WHEN n * sxx - sx * sx = CAST(0.0 AS DOUBLE) THEN NULL
                    ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx)
               END AS slope
        FROM sums
    """,
)
def window_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12: per-user rolling least-squares slope of ``value`` over the
    last 7 events — the trend detector form: slope = (nΣxy − ΣxΣy) /
    (nΣx² − (Σx)²) with x the per-user event index.  All four running
    sums share ONE partitioned sort (user_id, x); the slope is a pure
    IEEE combination of decimal-exact windowed sums, so no refit, no
    Python, O(1) per row.  n=1 frames (and any zero-variance x frame)
    yield NULL via an exact bit-identical zero test.
    """
    ev = load(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(wseq).cast("double").alias("x"),
    )
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rowsBetween(-(_SLOPE_W - 1), Window.currentRow)
    )

    def wsum(col):
        return exact_double(F.sum(dec_cast(col)).over(w7))

    sums = seq.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w7).cast("double").alias("n"),
        wsum(F.col("x")).alias("sx"),
        wsum(F.col("value")).alias("sy"),
        wsum(F.col("x") * F.col("value")).alias("sxy"),
        wsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return sums.select(
        "user_id",
        "event_id",
        F.when(denom == F.lit(0.0), F.lit(None).cast("double"))
        .otherwise(num / denom)
        .alias("slope"),
    )


@register(
    "agg_chi_square",
    oracle=f"""
        WITH obs AS (
            SELECT event_type,
                   CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
                   CAST(COUNT(*) AS DOUBLE) AS o
            FROM events
            GROUP BY 1, 2
        ), tot AS (
            SELECT event_type, dow, o,
                   SUM(o) OVER (PARTITION BY event_type) AS row_tot,
                   SUM(o) OVER (PARTITION BY dow) AS col_tot,
                   SUM(o) OVER () AS n
            FROM obs
        ), cells AS (
            SELECT event_type, dow, o,
                   row_tot * col_tot / n AS e
            FROM tot
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               {sql_dsum('(o - e) * (o - e) / e', 'chi2')},
               CAST((COUNT(DISTINCT event_type) - 1)
                    * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof
        FROM cells
    """,
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23: chi-square independence test between event type and
    day-of-week — the sample-ratio-mismatch / seasonality screen run
    before trusting an experiment readout.  One grouped pass builds the
    contingency table (|types|×7 cells — tiny regardless of event
    volume); marginals and the grand total are windows over the CELL
    table; each cell's (o−e)²/e contribution is pure IEEE arithmetic on
    exact integer counts, and the statistic sums contributions through
    the decimal-exact path (summation order across engines is never
    pinned, even over 35 cells).  Spark's ``dayofweek`` (1=Sunday) is
    shifted to DuckDB's ``dow`` numbering (0=Sunday) so the contingency
    keys align.  Scale: fact scan once, everything after is O(cells)."""
    ev = load(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type",
        F.dayofweek("ts").cast("long").alias("dow_raw"),
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dow: 0=Sunday..6 —
    # align to DuckDB's numbering.
    obs = obs.select(
        "event_type", (F.col("dow_raw") - 1).alias("dow"), "o"
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells = obs.select(
        "event_type",
        "dow",
        "o",
        (F.sum("o").over(wr) * F.sum("o").over(wc) / F.sum("o").over(wall)).alias("e"),
    )
    contrib = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        dsum_fast(contrib, "chi2"),
        (
            (F.count_distinct("event_type") - 1) * (F.count_distinct("dow") - 1)
        ).cast("long").alias("dof"),
    )


_CUPED_WEEK = 7 * 86400
_CUPED_SPLIT = 2819  # epoch week splitting pre-period from experiment period


@register(
    "agg_cuped",
    oracle=f"""
        WITH e AS (
            SELECT user_id, user_id % 2 AS arm,
                   CAST(FLOOR(CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT)
                        / {_CUPED_WEEK}) AS BIGINT) AS week,
                   value
            FROM events
        ), u AS (
            SELECT user_id, arm,
                   COALESCE({sql_exact_double(
                       f"SUM(CASE WHEN week < {_CUPED_SPLIT} THEN "
                       + sql_dec_cast('value') + " END)")},
                       CAST(0.0 AS DOUBLE)) AS x,
                   COALESCE({sql_exact_double(
                       f"SUM(CASE WHEN week >= {_CUPED_SPLIT} THEN "
                       + sql_dec_cast('value') + " END)")},
                       CAST(0.0 AS DOUBLE)) AS y
            FROM e GROUP BY user_id, arm
        ), s AS (
            SELECT arm,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   {sql_dsum('x', 'sx')},
                   {sql_dsum('y', 'sy')},
                   {sql_dsum('x*x', 'sxx')},
                   {sql_dsum('y*y', 'syy')},
                   {sql_dsum('x*y', 'sxy')}
            FROM u GROUP BY arm
        ), g AS (
            SELECT arm, n, sx, sy, sxx, syy, sxy,
                   SUM(n) OVER () AS gn,
                   SUM(sx) OVER () AS gsx,
                   SUM(sy) OVER () AS gsy,
                   SUM(sxx) OVER () AS gsxx,
                   SUM(sxy) OVER () AS gsxy
            FROM s
        ), t AS (
            SELECT arm, n, sx, sy, sxx, syy, sxy,
                   gsx / gn AS gmx,
                   (gsxy - gsx * gsy / gn) / NULLIF(gsxx - gsx * gsx / gn, CAST(0.0 AS DOUBLE)) AS theta
            FROM g
        )
        SELECT CAST(arm AS BIGINT) AS arm,
               CAST(n AS BIGINT) AS n_users,
               sy / n AS mean_post,
               sy / n - theta * (sx / n - gmx) AS mean_adj,
               (syy - sy * sy / n) / NULLIF(n - CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)) AS var_post,
               (syy - sy * sy / n) / NULLIF(n - CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE))
                 - CAST(2.0 AS DOUBLE) * theta
                   * ((sxy - sx * sy / n) / NULLIF(n - CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)))
                 + theta * theta
                   * ((sxx - sx * sx / n) / NULLIF(n - CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)))
                 AS var_adj,
               theta
        FROM t
    """,
)
def agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: CUPED variance reduction — the pre-experiment-covariate
    adjustment every modern experimentation platform applies before the
    t-test (θ = cov(pre, post)/var(pre), adjusted = post − θ(pre − μ̄pre);
    Deng et al. 2013, WSDM).  Per-arm adjusted mean and variance come out
    CLOSED-FORM from per-arm sufficient statistics (mean_adj = μy −
    θ(μx − μ̄x); var_adj = var_y − 2θcov + θ²var_x), so nothing ever
    joins back to the user table: events → per-user (pre, post) sums →
    per-arm moment sums (2 rows) → 2-row global window for the pooled θ.
    The fact table is touched once; everything after the first agg is
    O(arms).

    Determinism: per-user sums and per-arm moments ride the decimal
    path; global sums add exactly TWO doubles (IEEE addition is
    commutative, so partition order can't change the bits); θ and every
    downstream stat are fixed-order IEEE chains — unrounded."""
    wk = F.floor(F.unix_timestamp("ts") / F.lit(_CUPED_WEEK)).cast("bigint")
    e = load(spark, sf_dir, "events").select(
        "user_id",
        (F.col("user_id") % 2).alias("arm"),
        wk.alias("week"),
        "value",
    )
    zero = F.lit(0.0)
    u = e.groupBy("user_id", "arm").agg(
        F.coalesce(
            exact_double(
                F.sum(
                    F.when(F.col("week") < _CUPED_SPLIT, dec_cast("value"))
                )
            ),
            zero,
        ).alias("x"),
        F.coalesce(
            exact_double(
                F.sum(
                    F.when(F.col("week") >= _CUPED_SPLIT, dec_cast("value"))
                )
            ),
            zero,
        ).alias("y"),
    )
    s = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum_fast("x", "sx"),
        dsum_fast("y", "sy"),
        dsum_fast(F.col("x") * F.col("x"), "sxx"),
        dsum_fast(F.col("y") * F.col("y"), "syy"),
        dsum_fast(F.col("x") * F.col("y"), "sxy"),
    )
    wg = Window.partitionBy()
    g = s.select(
        "*",
        F.sum("n").over(wg).alias("gn"),
        F.sum("sx").over(wg).alias("gsx"),
        F.sum("sy").over(wg).alias("gsy"),
        F.sum("sxx").over(wg).alias("gsxx"),
        F.sum("sxy").over(wg).alias("gsxy"),
    )
    theta = (
        F.col("gsxy") - F.col("gsx") * F.col("gsy") / F.col("gn")
    ) / F.nullif(
        F.col("gsxx") - F.col("gsx") * F.col("gsx") / F.col("gn"), F.lit(0.0)
    )
    t = g.select(
        "arm", "n", "sx", "sy", "sxx", "syy", "sxy",
        (F.col("gsx") / F.col("gn")).alias("gmx"),
        theta.alias("theta"),
    )
    one = F.lit(1.0)
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / F.nullif(
        F.col("n") - one, F.lit(0.0)
    )
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.nullif(
        F.col("n") - one, F.lit(0.0)
    )
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.nullif(
        F.col("n") - one, F.lit(0.0)
    )
    return t.select(
        F.col("arm").cast("bigint").alias("arm"),
        F.col("n").cast("bigint").alias("n_users"),
        (F.col("sy") / F.col("n")).alias("mean_post"),
        (
            F.col("sy") / F.col("n")
            - F.col("theta") * (F.col("sx") / F.col("n") - F.col("gmx"))
        ).alias("mean_adj"),
        var_y.alias("var_post"),
        (
            var_y
            - F.lit(2.0) * F.col("theta") * cov
            + F.col("theta") * F.col("theta") * var_x
        ).alias("var_adj"),
        "theta",
    )


_BOOT_R = 100  # bootstrap replicates
# Poisson(1) surrogate over one md5 byte (0-255): P(0)=94/256≈e⁻¹,
# P(1)=94/256, P(2)=47/256, P(3)=15/256, P(4)=6/256 — mean ≈ 1.004
_BOOT_CUTS = (94, 188, 235, 250)


@register(
    "agg_bootstrap_ci",
    oracle=f"""
        WITH reps AS (
            SELECT event_type, event_id, value, r
            FROM events, UNNEST(RANGE(-1, {_BOOT_R})) AS t(r)
        ), w AS (
            SELECT event_type, r, value,
                   CASE WHEN r = -1 THEN 1 ELSE (
                     CASE
                       WHEN b < {_BOOT_CUTS[0]} THEN 0
                       WHEN b < {_BOOT_CUTS[1]} THEN 1
                       WHEN b < {_BOOT_CUTS[2]} THEN 2
                       WHEN b < {_BOOT_CUTS[3]} THEN 3
                       ELSE 4 END) END AS wt
            FROM (
                SELECT event_type, r, value,
                       (STRPOS('0123456789abcdef',
                           SUBSTR(MD5(CAST(event_id AS VARCHAR) || ':'
                                      || CAST(r AS VARCHAR)), 1, 1)) - 1) * 16
                       + (STRPOS('0123456789abcdef',
                           SUBSTR(MD5(CAST(event_id AS VARCHAR) || ':'
                                      || CAST(r AS VARCHAR)), 2, 1)) - 1) AS b
                FROM reps
            )
        ), rm AS (
            SELECT event_type, r,
                   CAST(SUM(wt) AS BIGINT) AS n_eff,
                   {sql_dsum('CAST(wt AS DOUBLE) * value', 'swv')}
            FROM w GROUP BY event_type, r
        ), m AS (
            SELECT event_type, r,
                   swv / CAST(n_eff AS DOUBLE) AS mean_r,
                   n_eff
            FROM rm WHERE n_eff > 0
        )
        SELECT event_type,
               MAX(CASE WHEN r = -1 THEN n_eff END) AS n_obs,
               MAX(CASE WHEN r = -1 THEN mean_r END) AS mean_full,
               list_extract(list_sort(LIST(mean_r) FILTER (WHERE r >= 0)), 3)
                   AS ci_lo,
               list_extract(list_sort(LIST(mean_r) FILTER (WHERE r >= 0)), 98)
                   AS ci_hi
        FROM m GROUP BY event_type
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: single-pass Poisson bootstrap CI of the per-variant mean —
    the streaming-scale bootstrap (Chamandy et al., Google 2012): instead
    of resampling rows, every row gets {_BOOT_R} DETERMINISTIC
    Poisson-surrogate weights derived from one md5 byte of
    (event_id, replicate) — no data movement per replicate, no RNG state,
    reproducible across engines and runs.  Replicate means collapse per
    (variant, replicate); the 2.5/97.5 percentile band comes from
    explicit sorted-element selection over the {_BOOT_R} replicate means
    (constant-bounded per variant).  Replicate -1 carries weight 1
    everywhere = the full-sample point estimate in the SAME pass.

    Scale shape: one scan, a {_BOOT_R + 1}-way row explode (map-side),
    one (variant, replicate) hash agg with partials, then an O(variants)
    rollup — the shuffled volume is variants·replicates rows, not the
    corpus.  Determinism: md5 bytes are engine-identical; weighted sums
    ride the decimal path; each replicate mean is one IEEE divide; the
    CI picks carried elements bit-exact."""
    e = (
        load(spark, sf_dir, "events")
        .select("event_type", "event_id", "value")
        .repartition(fanout(spark))  # single-file input: parallelize the explode+md5
    )
    reps = e.select(
        "*", F.explode(F.sequence(F.lit(-1), F.lit(_BOOT_R - 1))).alias("r")
    ).select(
        "event_type",
        "r",
        "value",
        # one md5 per (row, replicate); both nibbles read the same column
        F.substring(
            F.md5(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    F.col("r").cast("string"),
                )
            ),
            1,
            2,
        ).alias("hx"),
    )
    digits = "0123456789abcdef"
    byte = (
        F.expr(f"locate(substr(hx, 1, 1), '{digits}') - 1") * 16
    ) + F.expr(f"locate(substr(hx, 2, 1), '{digits}') - 1")
    wt = F.when(F.col("r") == -1, F.lit(1)).otherwise(
        F.when(byte < _BOOT_CUTS[0], 0)
        .when(byte < _BOOT_CUTS[1], 1)
        .when(byte < _BOOT_CUTS[2], 2)
        .when(byte < _BOOT_CUTS[3], 3)
        .otherwise(4)
    )
    w = reps.select("event_type", "r", "value", wt.alias("wt"))
    rm = w.groupBy("event_type", "r").agg(
        F.sum("wt").cast("bigint").alias("n_eff"),
        dsum_fast(F.col("wt").cast("double") * F.col("value"), "swv"),
    )
    m = rm.where(F.col("n_eff") > 0).select(
        "event_type",
        "r",
        (F.col("swv") / F.col("n_eff").cast("double")).alias("mean_r"),
        "n_eff",
    )
    boot = F.array_sort(
        F.collect_list(F.when(F.col("r") >= 0, F.col("mean_r")))
    )
    return m.groupBy("event_type").agg(
        F.max(F.when(F.col("r") == -1, F.col("n_eff"))).alias("n_obs"),
        F.max(F.when(F.col("r") == -1, F.col("mean_r"))).alias("mean_full"),
        F.try_element_at(boot, F.lit(3)).alias("ci_lo"),
        F.try_element_at(boot, F.lit(98)).alias("ci_hi"),
    )


@register(
    "agg_hhi_concentration",
    oracle=f"""
        WITH spend AS (
            SELECT o_orderpriority AS market,
                   o_custkey,
                   {sql_dsum('o_totalprice', 'firm_spend')}
            FROM orders GROUP BY o_orderpriority, o_custkey
        ), shares AS (
            SELECT market, firm_spend,
                   firm_spend / ({sql_exact_double(
                       f"SUM({sql_dec_cast('firm_spend')})"
                       " OVER (PARTITION BY market)"
                   )}) AS share
            FROM spend
        )
        SELECT market,
               COUNT(*) AS n_firms,
               {sql_dsum('share * share', 'hhi')}
        FROM shares GROUP BY market
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19: Herfindahl-Hirschman concentration index per market — HHI =
    Σ shareᵢ² over each firm's spend share (the antitrust / marketplace
    concentration screen; 0.25+ reads as highly concentrated).

    Shapes: per-(market, firm) spend is one decimal hash agg; the market
    total rides a WINDOW over the firm table (no join-back — the
    retention-key discipline, and the firm table is dimension-sized);
    the HHI rollup is a second decimal sum of the squared shares.
    Determinism: spends exact_double(6); each share one IEEE divide;
    share² one more IEEE op; the Σ share² sum rides the decimal path
    (6 dp — HHI's native reporting scale is 4 significant digits)."""
    spend = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("market"), "o_custkey")
        .agg(dsum_fast("o_totalprice", "firm_spend"))
    )
    wm = Window.partitionBy("market")
    shares = spend.select(
        "market",
        (
            F.col("firm_spend")
            / exact_double(F.sum(dec_cast("firm_spend")).over(wm), 6)
        ).alias("share"),
    )
    return shares.groupBy("market").agg(
        F.count(F.lit(1)).alias("n_firms"),
        dsum(F.col("share") * F.col("share"), "hhi"),
    )


_GMM_MU = (50.0, 250.0)  # component means at iteration start (exact)
_GMM_TWO_VAR = 20000.0  # 2·sigma² (shared initial variance 1e4, exact)


@register(
    "ml_gmm_em_step",
    oracle=f"""
        WITH r AS (
            SELECT value AS x,
                   CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + {sql_dround(
                       f"EXP(((value - {_GMM_MU[0]!r}) * (value - {_GMM_MU[0]!r})"
                       f" - (value - {_GMM_MU[1]!r}) * (value - {_GMM_MU[1]!r}))"
                       f" / {_GMM_TWO_VAR!r})"
                   )}) AS r1
            FROM events
        ), s AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   {sql_dsum('r1', 'sr1')},
                   {sql_dsum('r1 * x', 'srx1')},
                   {sql_dsum('r1 * x * x', 'srxx1')},
                   {sql_dsum('(CAST(1.0 AS DOUBLE) - r1)', 'sr2')},
                   {sql_dsum('(CAST(1.0 AS DOUBLE) - r1) * x', 'srx2')},
                   {sql_dsum('(CAST(1.0 AS DOUBLE) - r1) * x * x', 'srxx2')}
            FROM r
        )
        SELECT k, weight, mu, var FROM (
            SELECT 1 AS k, sr1 / n AS weight, srx1 / sr1 AS mu,
                   srxx1 / sr1 - (srx1 / sr1) * (srx1 / sr1) AS var
            FROM s
            UNION ALL
            SELECT 2, sr2 / n, srx2 / sr2,
                   srxx2 / sr2 - (srx2 / sr2) * (srx2 / sr2)
            FROM s
        ) ORDER BY k
    """,
)
def ml_gmm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML: one verified EM iteration of a 1-D two-component Gaussian
    mixture over ``value`` — the ``sim_kmeans_step`` induction discipline
    applied to soft clustering: responsibilities (E) and the updated
    weights/means/variances (M) from ONE pass of sufficient statistics
    (Σr, Σrx, Σrx² per component; σ²' = Σrx²/Σr − μ'²).

    Equal initial weights and variances collapse the responsibility to a
    logistic of the squared-distance gap: r₁ = 1/(1 + exp(((x−μ₁)² −
    (x−μ₂)²)/2σ²)) — explicit multiplication everywhere (no POWER), the
    one libm exp rounded 6 dp through the decimal path, every product of
    (deterministic r, exact x) decimal-summed.  The closing divides are
    fixed IEEE chains on identical operands — unrounded.

    At 100 TB: the E-step is map-side codegen; the M-step is one global
    agg with map-side partials (a 1-row stage); K components widen the
    aggregate list, never add passes — the same scaling story as the
    k-means step."""
    one = F.lit(1.0)
    x = F.col("value")
    t = (
        (x - _GMM_MU[0]) * (x - _GMM_MU[0])
        - (x - _GMM_MU[1]) * (x - _GMM_MU[1])
    ) / F.lit(_GMM_TWO_VAR)
    r1 = one / (one + dround(F.exp(t)))
    r = load(spark, sf_dir, "events").select(
        x.alias("x"), r1.alias("r1")
    )
    s = r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("r1", "sr1"),
        dsum(F.col("r1") * F.col("x"), "srx1"),
        dsum(F.col("r1") * F.col("x") * F.col("x"), "srxx1"),
        dsum(one - F.col("r1"), "sr2"),
        dsum((one - F.col("r1")) * F.col("x"), "srx2"),
        dsum((one - F.col("r1")) * F.col("x") * F.col("x"), "srxx2"),
    )
    comps = s.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("k"),
                    (F.col("sr1") / F.col("n")).alias("weight"),
                    (F.col("srx1") / F.col("sr1")).alias("mu"),
                    (
                        F.col("srxx1") / F.col("sr1")
                        - (F.col("srx1") / F.col("sr1"))
                        * (F.col("srx1") / F.col("sr1"))
                    ).alias("var"),
                ),
                F.struct(
                    F.lit(2).alias("k"),
                    (F.col("sr2") / F.col("n")).alias("weight"),
                    (F.col("srx2") / F.col("sr2")).alias("mu"),
                    (
                        F.col("srxx2") / F.col("sr2")
                        - (F.col("srx2") / F.col("sr2"))
                        * (F.col("srx2") / F.col("sr2"))
                    ).alias("var"),
                ),
            )
        ).alias("c")
    )
    return comps.select("c.k", "c.weight", "c.mu", "c.var").orderBy("k")


@register(
    "ml_lift_table",
    oracle=f"""
        WITH ranked AS (
            SELECT event_type,
                   ROW_NUMBER() OVER (ORDER BY value, event_id) AS rk,
                   COUNT(*) OVER () AS n
            FROM events
        ), deciled AS (
            SELECT CAST(FLOOR(CAST((n - rk) * 10 AS DOUBLE) / n) + 1
                        AS INTEGER) AS decile,
                   CAST(event_type = 'purchase' AS INTEGER) AS conv
            FROM ranked
        ), cells AS (
            SELECT decile,
                   COUNT(*) AS n_rows,
                   CAST(SUM(conv) AS BIGINT) AS n_conv
            FROM deciled GROUP BY decile
        ), t AS (
            SELECT decile, n_rows, n_conv,
                   CAST(SUM(n_conv) OVER () AS BIGINT) AS total_conv,
                   CAST(SUM(n_rows) OVER () AS BIGINT) AS total_rows
            FROM cells
        )
        SELECT decile, n_rows, n_conv,
               CAST(n_conv AS DOUBLE) / CAST(n_rows AS DOUBLE) AS conv_rate,
               (CAST(n_conv AS DOUBLE) / CAST(n_rows AS DOUBLE))
                 / NULLIF(CAST(total_conv AS DOUBLE)
                          / CAST(total_rows AS DOUBLE), CAST(0.0 AS DOUBLE))
                 AS lift
        FROM t
    """,
)
def ml_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML4: decile lift / gains table — rank the population by model
    score (``value`` plays the score), cut into global deciles (1 = top
    scores), and report each decile's conversion rate against the base
    rate: the standard campaign-targeting / model-evaluation report.

    The global decile needs a TOTAL ordering — a plain global
    row_number would sort the corpus in one task, so the rank and the
    global n come from ``global_prefix``'s distributed scan.  Decile
    arithmetic is exact integers under FLOOR (both-sides convention);
    rates and lift are IEEE divides of exact counts.  The oracle states
    the same semantics in its native global window form — distributed
    rank == global rank is the proof."""
    ranked = global_prefix(
        load(spark, sf_dir, "events").select("event_type", "value", "event_id"),
        ["value", "event_id"],
    ).select(
        "rk", "n", (F.col("event_type") == "purchase").cast("int").alias("conv")
    )
    decile = (
        F.floor(((F.col("n") - F.col("rk")) * 10).cast("double") / F.col("n"))
        + 1
    ).cast("int")
    cells = ranked.groupBy(decile.alias("decile")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    wall = Window.partitionBy()
    t = cells.select(
        "*",
        F.sum("n_conv").over(wall).cast("bigint").alias("total_conv"),
        F.sum("n_rows").over(wall).cast("bigint").alias("total_rows"),
    )
    rate = F.col("n_conv").cast("double") / F.col("n_rows").cast("double")
    base = F.col("total_conv").cast("double") / F.col("total_rows").cast("double")
    return t.select(
        "decile", "n_rows", "n_conv", rate.alias("conv_rate"),
        (rate / F.nullif(base, F.lit(0.0))).alias("lift"),
    )


@register(
    "agg_mann_whitney",
    oracle="""
        WITH ranked AS (
            SELECT event_type, value,
                   ROW_NUMBER() OVER (ORDER BY value, event_id) AS rk
            FROM events
        ), tied AS (
            SELECT event_type,
                   (CAST(MIN(rk) OVER (PARTITION BY value) AS DOUBLE)
                    + CAST(MAX(rk) OVER (PARTITION BY value) AS DOUBLE))
                   / CAST(2.0 AS DOUBLE) AS ark
            FROM ranked
        ), s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(ark * 2.0 AS BIGINT)) AS DOUBLE)
                     / CAST(2.0 AS DOUBLE) AS rsum
            FROM tied GROUP BY event_type
        )
        SELECT a.event_type AS type_a,
               b.event_type AS type_b,
               CAST(a.n AS BIGINT) AS n_a,
               CAST(b.n AS BIGINT) AS n_b,
               a.rsum - a.n * (a.n + CAST(1.0 AS DOUBLE))
                 / CAST(2.0 AS DOUBLE) AS u_a,
               (a.rsum - a.n * (a.n + CAST(1.0 AS DOUBLE))
                 / CAST(2.0 AS DOUBLE)) / (a.n * b.n) AS auc
        FROM s a JOIN s b ON a.event_type < b.event_type
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20: Mann-Whitney U (rank-sum) between every variant pair — the
    NON-PARAMETRIC companion to ``agg_ttest_welch`` (U/(n₁n₂) is the AUC
    probability a random a-draw exceeds a random b-draw), with the
    midrank tie correction the textbook statistic requires.

    Spark-first: the global order comes from ``global_prefix``'s
    distributed rank;
    midranks are (min+max)/2 windows over each tied VALUE partition;
    per-variant rank sums are exact (midranks are halves, so 2·ark sums
    as integers and halves once at the edge); the variant-pair expansion
    reuses the t-test's one-row array self-cross.  Determinism: pure
    integer arithmetic until two final IEEE divides."""
    ranked = global_prefix(
        load(spark, sf_dir, "events").select("event_type", "value", "event_id"),
        ["value", "event_id"],
    ).select("event_type", "value", "rk")
    wv = Window.partitionBy("value")
    tied = ranked.select(
        "event_type",
        (
            (
                F.min("rk").over(wv).cast("double")
                + F.max("rk").over(wv).cast("double")
            )
            / F.lit(2.0)
        ).alias("ark"),
    )
    s = tied.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (
            F.sum((F.col("ark") * F.lit(2.0)).cast("bigint")).cast("double")
            / F.lit(2.0)
        ).alias("rsum"),
    )
    arr = s.agg(F.collect_list(F.struct("event_type", "n", "rsum")).alias("arr"))
    pairs = (
        arr.select(F.explode("arr").alias("a"), "arr")
        .select("a", F.explode("arr").alias("b"))
        .where(F.col("a.event_type") < F.col("b.event_type"))
    )
    one = F.lit(1.0)
    two = F.lit(2.0)
    u_a = F.col("a.rsum") - F.col("a.n") * (F.col("a.n") + one) / two
    return pairs.select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n").cast("bigint").alias("n_a"),
        F.col("b.n").cast("bigint").alias("n_b"),
        u_a.alias("u_a"),
        (u_a / (F.col("a.n") * F.col("b.n"))).alias("auc"),
    )


_TE_SMOOTH = 20.0  # prior weight for the smoothed variant (exact binary-ish)


@register(
    "ml_target_encoding",
    oracle=f"""
        WITH e AS (
            SELECT event_id, event_type,
                   CAST(event_type = 'purchase' AS INTEGER) AS y,
                   user_id % 50 AS cat
            FROM events
        ), stats AS (
            SELECT event_id, cat, y,
                   CAST(COUNT(*) OVER (PARTITION BY cat) AS BIGINT) AS n_cat,
                   CAST(SUM(y) OVER (PARTITION BY cat) AS BIGINT) AS s_cat,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n_all,
                   CAST(SUM(y) OVER () AS BIGINT) AS s_all
            FROM e
        )
        SELECT event_id, CAST(cat AS BIGINT) AS cat, n_cat,
               CAST(s_cat - y AS DOUBLE)
                 / CAST(n_cat - 1 AS DOUBLE) AS te_loo,
               (CAST(s_cat AS DOUBLE)
                + CAST({_TE_SMOOTH!r} AS DOUBLE)
                  * (CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE)))
                 / (CAST(n_cat AS DOUBLE) + CAST({_TE_SMOOTH!r} AS DOUBLE))
                 AS te_smooth
        FROM stats
    """,
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML5: target encoding of a categorical feature, in both the
    leave-one-out form ((Σy − yᵢ)/(n−1) — the self-exclusion that stops
    target leakage) and the smoothed form ((Σy + m·prior)/(n + m),
    m={_TE_SMOOTH:g}) — the standard high-cardinality categorical
    treatment in tabular ML pipelines.

    Spark-first: category sums/counts are WINDOWS over the category
    partition (no join-back of an aggregate table — the retention
    discipline), the global prior rides a
    1-row broadcast (a per-row global window would funnel the corpus
    through one task); the LOO subtraction is per-row arithmetic on
    exact integers.  Determinism: integer sums,
    two IEEE divides — unrounded."""
    e = (
        load(spark, sf_dir, "events")
        .repartition(fanout(spark), "user_id")  # single-file input: parallelize windows
        .select(
            "event_id",
            (F.col("event_type") == "purchase").cast("int").alias("y"),
            (F.col("user_id") % 50).alias("cat"),
        )
    )
    wc = Window.partitionBy("cat")
    # the global prior is a 1-row broadcast (the bm25 stats pattern) — a
    # per-ROW global window would funnel the corpus through one task
    g = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum("y").cast("bigint").alias("s_all"),
    )
    s = e.select(
        "event_id",
        "cat",
        "y",
        F.count(F.lit(1)).over(wc).cast("bigint").alias("n_cat"),
        F.sum("y").over(wc).cast("bigint").alias("s_cat"),
    ).crossJoin(F.broadcast(g))
    prior = F.col("s_all").cast("double") / F.col("n_all").cast("double")
    return s.select(
        "event_id",
        F.col("cat").cast("bigint").alias("cat"),
        "n_cat",
        (
            (F.col("s_cat") - F.col("y")).cast("double")
            / (F.col("n_cat") - 1).cast("double")
        ).alias("te_loo"),
        (
            (F.col("s_cat").cast("double") + F.lit(_TE_SMOOTH) * prior)
            / (F.col("n_cat").cast("double") + F.lit(_TE_SMOOTH))
        ).alias("te_smooth"),
    )


_BRIDGE_SPLIT = "1998-06-01"  # period boundary (P1 < split <= P2)
_B_P1 = (
    f"CASE WHEN o_orderdate < TIMESTAMP '{_BRIDGE_SPLIT}'"
    " THEN o_totalprice END"
)
_B_P2 = (
    f"CASE WHEN o_orderdate >= TIMESTAMP '{_BRIDGE_SPLIT}'"
    " THEN o_totalprice END"
)


@register(
    "agg_revenue_bridge",
    oracle=f"""
        WITH c AS (
            SELECT o_custkey,
                   COALESCE({sql_exact_double(f"SUM({sql_dec_cast(_B_P1)})")},
                            CAST(0.0 AS DOUBLE)) AS r1,
                   COALESCE({sql_exact_double(f"SUM({sql_dec_cast(_B_P2)})")},
                            CAST(0.0 AS DOUBLE)) AS r2
            FROM orders GROUP BY o_custkey
        ), tagged AS (
            SELECT o_custkey, r1, r2,
                   CASE WHEN r1 = 0.0 AND r2 > 0.0 THEN 'new'
                        WHEN r1 > 0.0 AND r2 = 0.0 THEN 'churned'
                        WHEN r2 > r1 THEN 'expansion'
                        WHEN r2 < r1 THEN 'contraction'
                        ELSE 'flat' END AS bucket
            FROM c
        )
        SELECT bucket,
               COUNT(*) AS n_customers,
               {sql_dsum('r1', 'rev_p1')},
               {sql_dsum('r2', 'rev_p2')},
               {sql_dsum('r2 - r1', 'delta')}
        FROM tagged GROUP BY bucket
    """,
)
def agg_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22: period-over-period revenue bridge — decompose the P1→P2
    revenue movement into new / expansion / contraction / churned /
    flat customer buckets (the SaaS waterfall every revenue review
    opens with; buckets sum exactly to the total delta).

    ONE scan, one customer hash agg with CONDITIONAL decimal sums for
    both periods (never two period scans joined back), then an
    O(customers) classify + a 5-row bucket rollup.  Sums ride the
    decimal path end to end; zero-revenue compares hit exact 0.0 (the
    conditional sum's COALESCE), never a float epsilon."""
    split = F.lit(_BRIDGE_SPLIT).cast("date")
    zero = F.lit(0.0)
    c = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.coalesce(
                exact_double(
                    F.sum(
                        F.when(
                            F.col("o_orderdate") < split, dec_cast("o_totalprice")
                        )
                    )
                ),
                zero,
            ).alias("r1"),
            F.coalesce(
                exact_double(
                    F.sum(
                        F.when(
                            F.col("o_orderdate") >= split, dec_cast("o_totalprice")
                        )
                    )
                ),
                zero,
            ).alias("r2"),
        )
    )
    bucket = (
        F.when((F.col("r1") == 0.0) & (F.col("r2") > 0.0), "new")
        .when((F.col("r1") > 0.0) & (F.col("r2") == 0.0), "churned")
        .when(F.col("r2") > F.col("r1"), "expansion")
        .when(F.col("r2") < F.col("r1"), "contraction")
        .otherwise("flat")
    )
    return (
        c.select("r1", "r2", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("r1", "rev_p1"),
            dsum("r2", "rev_p2"),
            dsum(F.col("r2") - F.col("r1"), "delta"),
        )
    )


@register(
    "agg_skyline_2d",
    oracle="""
        WITH pts AS (
            SELECT l_orderkey * 10 + l_linenumber AS pid,
                   l_extendedprice AS x, l_discount AS y
            FROM lineitem
        ), scanned AS (
            SELECT pid, x, y,
                   MIN(y) OVER (
                       ORDER BY x DESC, y ASC, pid ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS best_y
            FROM pts
        )
        SELECT pid, x, y
        FROM scanned WHERE best_y IS NULL OR y < best_y
    """,
)
def agg_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23: 2-D skyline (Pareto front) — the points no other point
    dominates (higher price AND lower discount): the multi-objective
    shortlist operator (Börzsönyi et al. ICDE'01).  In 2-D the skyline
    falls out of ONE ordered pass: scanning by x descending, a point
    survives iff its y beats the running minimum of everything scanned
    before it — O(n log n), never the O(n²) dominance join.

    The global order would single-task a corpus window, so the running
    minimum is DISTRIBUTED (the prefix-sum pattern generalized to MIN):
    range-partition on the sort key, per-partition prefix-min, plus each
    partition's incoming best from a ≤32-row broadcast prefix-min of
    partition minima.  Determinism: the scan order carries full unique
    tie-breaks; compares are on exactly-carried doubles — no arithmetic
    at all."""
    pts = (
        load(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("pid"),
            F.col("l_extendedprice").alias("x"),
            F.col("l_discount").alias("y"),
        )
        .repartitionByRange(fanout(spark), F.desc("x"), F.asc("y"), F.asc("pid"))
        .withColumn("pid_part", F.spark_partition_id())
    ).persist()
    wloc = (
        Window.partitionBy("pid_part")
        .orderBy(F.desc("x"), F.asc("y"), F.asc("pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    loc = pts.withColumn("local_best", F.min("y").over(wloc))
    wpre = (
        Window.orderBy("pid_part").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        pts.groupBy("pid_part")
        .agg(F.min("y").alias("part_min"))
        .withColumn("carry_best", F.min("part_min").over(wpre))
        .select("pid_part", "carry_best")
    )
    s = loc.join(F.broadcast(offsets), "pid_part").select(
        "pid",
        "x",
        "y",
        F.least(
            F.col("local_best"), F.col("carry_best")
        ).alias("best_y"),  # least() skips NULLs — min over both prefixes
    )
    return s.where(
        F.col("best_y").isNull() | (F.col("y") < F.col("best_y"))
    ).select("pid", "x", "y")


_DID_SPLIT = 2819  # epoch week: pre period < split <= post period


@register(
    "agg_diff_in_diff",
    oracle=f"""
        WITH e AS (
            SELECT user_id % 2 AS treat,
                   CAST(FLOOR(CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT)
                        / {7 * 86400}) AS BIGINT) >= {_DID_SPLIT} AS post,
                   value
            FROM events
        ), cells AS (
            SELECT CAST(treat AS BIGINT) AS treat,
                   CAST(post AS INTEGER) AS post,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum('value', 'sv')}
            FROM e GROUP BY treat, post
        ), wide AS (
            SELECT
                MAX(CASE WHEN treat = 1 AND post = 1
                    THEN sv / CAST(n AS DOUBLE) END) AS m_t1,
                MAX(CASE WHEN treat = 1 AND post = 0
                    THEN sv / CAST(n AS DOUBLE) END) AS m_t0,
                MAX(CASE WHEN treat = 0 AND post = 1
                    THEN sv / CAST(n AS DOUBLE) END) AS m_c1,
                MAX(CASE WHEN treat = 0 AND post = 0
                    THEN sv / CAST(n AS DOUBLE) END) AS m_c0,
                CAST(SUM(n) AS BIGINT) AS n_total
            FROM cells
        )
        SELECT n_total, m_t0, m_t1, m_c0, m_c1,
               (m_t1 - m_t0) - (m_c1 - m_c0) AS did_estimate
        FROM wide
    """,
)
def agg_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24: difference-in-differences — the 2×2 natural-experiment
    estimator (treated/control × pre/post): DiD = (ȳ_T,post − ȳ_T,pre)
    − (ȳ_C,post − ȳ_C,pre), removing both group level and common time
    trend (Card-Krueger shape).  Completes the causal corner beside
    CUPED (randomized) and the survival/attribution keys.

    ONE grouped pass builds the four cell sums (decimal path, map-side
    partials); the 2×2 pivot and the estimator are a 1-row stage of
    fixed IEEE arithmetic — unrounded."""
    wk = F.floor(F.unix_timestamp("ts") / F.lit(7 * 86400)).cast("bigint")
    e = load(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("treat"),
        (wk >= _DID_SPLIT).cast("int").alias("post"),
        "value",
    )
    cells = e.groupBy("treat", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum_fast("value", "sv"),
    )
    m = lambda t, p: F.max(  # noqa: E731
        F.when(
            (F.col("treat") == t) & (F.col("post") == p),
            F.col("sv") / F.col("n").cast("double"),
        )
    )
    wide = cells.agg(
        m(1, 1).alias("m_t1"),
        m(1, 0).alias("m_t0"),
        m(0, 1).alias("m_c1"),
        m(0, 0).alias("m_c0"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return wide.select(
        "n_total",
        "m_t0",
        "m_t1",
        "m_c0",
        "m_c1",
        (
            (F.col("m_t1") - F.col("m_t0")) - (F.col("m_c1") - F.col("m_c0"))
        ).alias("did_estimate"),
    )


@register(
    "agg_abc_classification",
    oracle=f"""
        WITH part_rev AS (
            SELECT l_partkey,
                   {sql_dsum("l_extendedprice * (1.0 - l_discount)", "rev")}
            FROM lineitem GROUP BY l_partkey
        ), ranked AS (
            SELECT l_partkey, rev,
                   {sql_exact_double_wide(
                       "SUM(" + sql_dec_cast("rev")
                       + ") OVER (ORDER BY rev DESC, l_partkey"
                       " ROWS UNBOUNDED PRECEDING)"
                   )} AS cum_rev,
                   {sql_exact_double_wide("SUM(" + sql_dec_cast("rev") + ") OVER ()")}
                       AS total_rev
            FROM part_rev
        ), classed AS (
            SELECT rev,
                   CASE WHEN {sql_dround("cum_rev / total_rev")}
                             <= CAST(0.7 AS DOUBLE) THEN 'A'
                        WHEN {sql_dround("cum_rev / total_rev")}
                             <= CAST(0.9 AS DOUBLE) THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM ranked
        )
        SELECT abc_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               {sql_dsum("rev", "class_rev")}
        FROM classed GROUP BY abc_class
    """,
)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification — parts sorted by revenue,
    class A = the head covering 70% of cumulative revenue, B to 90%,
    C the tail: the standard assortment/working-capital segmentation.

    The cumulative share needs a TOTAL descending ordering, so the
    revenue prefix and its total come from ``global_prefix``'s
    distributed scan over the #parts-row aggregate, as exact decimals;
    each takes the wide hop once, as in the oracle (the prefix reaches
    GLOBAL revenue in its last cell — past the nd=6 hop at ~290x).  The
    cumulative share is ROUNDED 6 dp before the 0.7/0.9 threshold
    compares on both engines so a class boundary can never flip on a
    cross-engine ulp."""
    li = load(spark, sf_dir, "lineitem")
    part_rev = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "rev")
    )
    ranked = global_prefix(
        part_rev, [F.desc("rev"), "l_partkey"], sums={"cum": dec_cast("rev")}
    )
    share = dround(
        exact_double_wide(F.col("cum")) / exact_double_wide(F.col("cum_total"))
    )
    classed = ranked.select(
        "rev",
        F.when(share <= 0.7, F.lit("A"))
        .when(share <= 0.9, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        dsum("rev", "class_rev"),
    )


_PI_BASE, _PI_CURR = 1995, 2000


@register(
    "agg_price_index",
    oracle=f"""
        WITH pp AS (
            SELECT l_partkey,
                   CAST(YEAR(l_shipdate) AS INT) AS yr,
                   {sql_dsum("l_extendedprice", "ext")},
                   {sql_dsum("l_quantity", "qty")}
            FROM lineitem
            WHERE YEAR(l_shipdate) IN ({_PI_BASE}, {_PI_CURR})
            GROUP BY l_partkey, YEAR(l_shipdate)
        ), wide AS (
            SELECT l_partkey,
                   MAX(CASE WHEN yr = {_PI_BASE} THEN ext END) AS e0,
                   MAX(CASE WHEN yr = {_PI_BASE} THEN qty END) AS q0,
                   MAX(CASE WHEN yr = {_PI_CURR} THEN ext END) AS e1,
                   MAX(CASE WHEN yr = {_PI_CURR} THEN qty END) AS q1
            FROM pp GROUP BY l_partkey
        ), both_p AS (
            SELECT l_partkey,
                   {sql_dround("e0 / q0")} AS p0,
                   {sql_dround("e1 / q1")} AS p1,
                   q0, q1
            FROM wide
            WHERE e0 IS NOT NULL AND e1 IS NOT NULL
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
               {sql_dround(
                   "(" + sql_exact_double_wide("SUM(" + sql_dec_cast("p1 * q0") + ")")
                   + ") / (" + sql_exact_double_wide("SUM(" + sql_dec_cast("p0 * q0") + ")")
                   + ")"
               )} AS laspeyres,
               {sql_dround(
                   "(" + sql_exact_double_wide("SUM(" + sql_dec_cast("p1 * q1") + ")")
                   + ") / (" + sql_exact_double_wide("SUM(" + sql_dec_cast("p0 * q1") + ")")
                   + ")"
               )} AS paasche,
               {sql_dround(
                   "SQRT(((" + sql_exact_double_wide("SUM(" + sql_dec_cast("p1 * q0") + ")")
                   + ") / (" + sql_exact_double_wide("SUM(" + sql_dec_cast("p0 * q0") + ")")
                   + ")) * ((" + sql_exact_double_wide("SUM(" + sql_dec_cast("p1 * q1") + ")")
                   + ") / (" + sql_exact_double_wide("SUM(" + sql_dec_cast("p0 * q1") + ")")
                   + ")))"
               )} AS fisher
        FROM both_p
    """,
)
def agg_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32: Laspeyres / Paasche / Fisher price indices between base year
    {_PI_BASE} and current year {_PI_CURR} over the parts traded in
    BOTH — the inflation-measurement aggregate (base-weighted vs
    current-weighted basket, and their geometric mean).  Part price =
    revenue/quantity within the period.

    One filtered corpus aggregate (year predicate pushed to the scan) →
    a conditional-pivot per part (no self-join between periods) → a
    1-row decimal reduction.  Prices round 6 dp; the four basket sums
    ride the decimal path; every index rounds 6 dp (the string-composed
    numerator/denominator chains are parenthesized — the det.py infix
    precedence trap)."""
    # raw date-range form of YEAR IN (...): function-wrapped predicates
    # don't push to parquet; these ranges do (pinned)
    in_base = (F.col("l_shipdate") >= f"{_PI_BASE}-01-01") & (
        F.col("l_shipdate") < f"{_PI_BASE + 1}-01-01"
    )
    in_curr = (F.col("l_shipdate") >= f"{_PI_CURR}-01-01") & (
        F.col("l_shipdate") < f"{_PI_CURR + 1}-01-01"
    )
    li = load(spark, sf_dir, "lineitem").where(in_base | in_curr)
    pp = li.groupBy("l_partkey", F.year("l_shipdate").alias("yr")).agg(
        dsum("l_extendedprice", "ext"),
        dsum("l_quantity", "qty"),
    )
    wide = pp.groupBy("l_partkey").agg(
        F.max(F.when(F.col("yr") == _PI_BASE, F.col("ext"))).alias("e0"),
        F.max(F.when(F.col("yr") == _PI_BASE, F.col("qty"))).alias("q0"),
        F.max(F.when(F.col("yr") == _PI_CURR, F.col("ext"))).alias("e1"),
        F.max(F.when(F.col("yr") == _PI_CURR, F.col("qty"))).alias("q1"),
    )
    both_p = wide.where(
        F.col("e0").isNotNull() & F.col("e1").isNotNull()
    ).select(
        dround(F.col("e0") / F.col("q0")).alias("p0"),
        dround(F.col("e1") / F.col("q1")).alias("p1"),
        "q0",
        "q1",
    )
    # 1-cell basket sums at year-slice-revenue scale: WIDE hop (the
    # hop-domain audit's ~3000x crossing — cheap insurance, bit-identical
    # in-domain)
    s10 = exact_double_wide(F.sum(dec_cast(F.col("p1") * F.col("q0"))))
    s00 = exact_double_wide(F.sum(dec_cast(F.col("p0") * F.col("q0"))))
    s11 = exact_double_wide(F.sum(dec_cast(F.col("p1") * F.col("q1"))))
    s01 = exact_double_wide(F.sum(dec_cast(F.col("p0") * F.col("q1"))))
    return both_p.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        dround(s10 / s00).alias("laspeyres"),
        dround(s11 / s01).alias("paasche"),
        dround(F.sqrt((s10 / s00) * (s11 / s01))).alias("fisher"),
    )


@register(
    "agg_lorenz_points",
    oracle=f"""
        WITH per_cust AS (
            SELECT o_custkey, {sql_dsum("o_totalprice", "rev")}
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT rev,
                   ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rk,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n,
                   {sql_exact_double_wide(
                       "SUM(" + sql_dec_cast("rev")
                       + ") OVER (ORDER BY rev, o_custkey"
                       " ROWS UNBOUNDED PRECEDING)"
                   )} AS cum_rev,
                   {sql_exact_double_wide(
                       "SUM(" + sql_dec_cast("rev") + ") OVER ()"
                   )} AS tot_rev
            FROM per_cust
        )
        SELECT CAST(FLOOR(rk * 10 / n) AS INT) AS decile_edge,
               CAST(MAX(rk) AS BIGINT) AS n_cum,
               {sql_dround("MAX(rk) / CAST(MAX(n) AS DOUBLE)")} AS pop_share,
               {sql_dround("MAX(cum_rev) / MAX(tot_rev)")} AS rev_share
        FROM ranked
        WHERE FLOOR(rk * 10 / n) * n = rk * 10 OR rk = n
        GROUP BY 1
    """,
)
def agg_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A36: Lorenz curve points — cumulative revenue share at each
    population decile of customers ordered poorest-first: the curve
    whose area complement ``agg_gini`` summarizes (reported together on
    every inequality/concentration dashboard).  A decile edge is the
    rank where rk·10 ≡ 0 (mod n), evaluated in EXACT integer arithmetic
    so edge membership can't float.

    Same distributed scan as gini/ABC (``global_prefix`` over the
    per-customer aggregate): rank, group size, and the exact decimal
    revenue prefix and total, each through the wide hop once as in the
    oracle.  Shares round 6 dp."""
    od = load(spark, sf_dir, "orders")
    per_cust = od.groupBy("o_custkey").agg(dsum("o_totalprice", "rev"))
    ranked = global_prefix(
        per_cust, ["rev", "o_custkey"], sums={"cum": dec_cast("rev")}
    ).select(
        "rk",
        "n",
        exact_double_wide(F.col("cum")).alias("cum_rev"),
        exact_double_wide(F.col("cum_total")).alias("tot"),
    )
    is_edge = ((F.col("rk") * 10) % F.col("n") == 0) | (F.col("rk") == F.col("n"))
    return (
        ranked.where(is_edge)
        .groupBy(F.floor(F.col("rk") * 10 / F.col("n")).cast("int").alias("decile_edge"))
        .agg(
            F.max("rk").cast("long").alias("n_cum"),
            dround(F.max("rk") / F.max("n").cast("double")).alias("pop_share"),
            dround(F.max("cum_rev") / F.max("tot")).alias("rev_share"),
        )
    )


@register(
    "agg_theil_index",
    oracle=f"""
        WITH cust AS (
            SELECT c.c_nationkey AS nation, {sql_dsum("o.o_totalprice", "x")}
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_nationkey, o.o_custkey
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_exact_double_wide("SUM(" + sql_dec_cast("x") + ")")} AS sx
            FROM cust
        ), terms AS (
            SELECT nation, x,
                   {sql_dround(
                       "(x / (sx / n)) * LN(x / (sx / n))"
                   )} AS t_term,
                   n, sx
            FROM cust CROSS JOIN tot
        ), within AS (
            SELECT nation,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   {sql_exact_double_wide("SUM(" + sql_dec_cast("x") + ")")} AS sx_g,
                   MAX(n) AS n, MAX(sx) AS sx
            FROM terms GROUP BY nation
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(MAX(n) AS BIGINT) AS n_custs,
               (SELECT {sql_dround(
                   "(" + sql_exact_double("SUM(" + sql_dec_cast("t_term") + ")")
                   + ") / MAX(n)"
               )} FROM terms) AS theil_total,
               {sql_dround(
                   "(" + sql_exact_double(
                       "SUM(" + sql_dec_cast(
                           "(sx_g / sx) * LN((sx_g / n_g) / (sx / n))"
                       ) + ")"
                   ) + ")"
               )} AS theil_between
        FROM within
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A41: Theil T inequality index of customer revenue with the
    between-nation component — the DECOMPOSABLE inequality measure
    (gini/lorenz report a level; Theil splits it into between-group and
    within-group shares, T_total = T_between + Σ s_g·T_g — the identity
    the pytest oracle pins).  T = (1/n)Σ(x/μ)ln(x/μ).

    Corpus work: one per-customer revenue aggregate (broadcast join to
    the nation dim); the global mean broadcasts back as a 1-row cross
    join (train/apply shape); per-row ln terms round 6 dp into decimal
    sums; group terms reduce on the #nations table."""
    od = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nation"),
    )
    cust = (
        od.join(F.broadcast(cu), "o_custkey")
        .groupBy("nation", "o_custkey")
        .agg(dsum("o_totalprice", "x"))
    ).persist()  # three consumers: totals, per-row terms, group rollup
    tot = cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        # global customer-revenue sum: WIDE hop (crosses nd=6 at ~420x)
        exact_double_wide(F.sum(dec_cast("x"))).alias("sx"),
    )
    terms = cust.crossJoin(F.broadcast(tot)).select(
        "nation",
        "x",
        "n",
        "sx",
        dround(
            (F.col("x") / (F.col("sx") / F.col("n")))
            * F.log(F.col("x") / (F.col("sx") / F.col("n")))
        ).alias("t_term"),
    )
    total_row = terms.agg(
        dround(
            exact_double(F.sum(dec_cast("t_term"))) / F.max("n")
        ).alias("theil_total")
    )
    within = terms.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        exact_double_wide(F.sum(dec_cast("x"))).alias("sx_g"),
        F.max("n").alias("n"),
        F.max("sx").alias("sx"),
    )
    between = within.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.max("n").cast("long").alias("n_custs"),
        dround(
            exact_double(
                F.sum(
                    dec_cast(
                        (F.col("sx_g") / F.col("sx"))
                        * F.log(
                            (F.col("sx_g") / F.col("n_g"))
                            / (F.col("sx") / F.col("n"))
                        )
                    )
                )
            )
        ).alias("theil_between"),
    )
    return between.crossJoin(F.broadcast(total_row)).select(
        "n_groups", "n_custs", "theil_total", "theil_between"
    )


_HILL_K = 100  # tail order statistics used


@register(
    "agg_hill_tail",
    oracle=f"""
        WITH per_cust AS (
            SELECT {sql_dsum("o_totalprice", "rev")}
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT rev,
                   ROW_NUMBER() OVER (ORDER BY rev DESC) AS rk
            FROM per_cust
        ), tail AS (
            SELECT r.rev,
                   (SELECT rev FROM ranked WHERE rk = {_HILL_K} + 1) AS x_k1
            FROM ranked r WHERE r.rk <= {_HILL_K}
        )
        SELECT CAST({_HILL_K} AS INT) AS k_tail,
               MIN(x_k1) AS threshold,
               {sql_dround(
                   "(" + sql_exact_double(
                       "SUM(" + sql_dec_cast(sql_dround("LN(rev / x_k1)")) + ")"
                   ) + f") / {_HILL_K}"
               )} AS hill_gamma,
               {sql_dround(
                   f"{_HILL_K} / ("
                   + sql_exact_double(
                       "SUM(" + sql_dec_cast(sql_dround("LN(rev / x_k1)")) + ")"
                   ) + ")"
               )} AS tail_alpha
        FROM tail
    """,
)
def agg_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A42: Hill tail-index estimate on customer revenue — γ̂ =
    (1/k)Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top k = {_HILL_K} order statistics,
    α = 1/γ̂: the heavy-tail quantifier that tells you whether gini /
    Theil are even finite-variance summaries (α ≤ 2 → they're fragile).

    The top k+1 values come off a limit-(k+1) TakeOrdered — never a
    global sort; the threshold x₍ₖ₊₁₎ broadcasts back as a 1-row
    aggregate (the k+1-sized tail is driver-free throughout).  Per-row
    ln ratios round 6 dp into a decimal sum; γ̂ and α round 6 dp.
    Revenue ties are harmless: any top-k set has the same multiset of
    values, so γ̂ is tie-invariant."""
    od = load(spark, sf_dir, "orders")
    per_cust = od.groupBy("o_custkey").agg(dsum("o_totalprice", "rev"))
    topk1 = per_cust.orderBy(F.col("rev").desc()).limit(_HILL_K + 1).persist()
    thresh = topk1.agg(F.min("rev").alias("x_k1"))
    tail = (
        topk1.crossJoin(F.broadcast(thresh))
        .where(F.col("rev") > F.col("x_k1"))
    )
    # ties at the threshold could leave < k rows after the strict cut;
    # the fixture has none (revenues are distinct sums) — assert via n
    lsum = exact_double(
        F.sum(dec_cast(dround(F.log(F.col("rev") / F.col("x_k1")))))
    )
    return tail.agg(
        F.lit(_HILL_K).cast("int").alias("k_tail"),
        F.min("x_k1").alias("threshold"),
        dround(lsum / F.lit(float(_HILL_K))).alias("hill_gamma"),
        dround(F.lit(float(_HILL_K)) / lsum).alias("tail_alpha"),
    )


_IPTW_CLIP_LO, _IPTW_CLIP_HI = 0.05, 0.95


@register(
    "agg_iptw_ate",
    oracle=f"""
        WITH users AS (
            SELECT user_id,
                   CAST(MAX(user_id % 2) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS activity,
                   {sql_dsum(
                       "CASE WHEN event_type = 'purchase' THEN value"
                       " ELSE 0.0 END", "y"
                   )}
            FROM events GROUP BY user_id
        ), med AS (
            SELECT {sql_davg("activity", "mean_act")} FROM users
        ), prop AS (
            SELECT t, y,
                   GREATEST(CAST({_IPTW_CLIP_LO!r} AS DOUBLE),
                   LEAST(CAST({_IPTW_CLIP_HI!r} AS DOUBLE),
                   {sql_dround(
                       "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
                       " + EXP(-(activity - mean_act)"
                       " / CAST(10.0 AS DOUBLE)))"
                   )})) AS e
            FROM users CROSS JOIN med
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               {sql_dround(
                   "(" + sql_exact_double(
                       "SUM(" + sql_dec_cast("t * y / NULLIF(e, CAST(0.0 AS DOUBLE))") + ")"
                   ) + ") / NULLIF((" + sql_exact_double(
                       "SUM(" + sql_dec_cast("t / NULLIF(e, CAST(0.0 AS DOUBLE))") + ")"
                   ) + "), CAST(0.0 AS DOUBLE))"
               )} AS mu_treated,
               {sql_dround(
                   "(" + sql_exact_double(
                       "SUM(" + sql_dec_cast("(1 - t) * y / NULLIF((1.0 - e), CAST(0.0 AS DOUBLE))") + ")"
                   ) + ") / NULLIF((" + sql_exact_double(
                       "SUM(" + sql_dec_cast("(1 - t) / NULLIF((1.0 - e), CAST(0.0 AS DOUBLE))") + ")"
                   ) + "), CAST(0.0 AS DOUBLE))"
               )} AS mu_control,
               {sql_dround(
                   "(" + sql_exact_double(
                       "SUM(" + sql_dec_cast("t * y / NULLIF(e, CAST(0.0 AS DOUBLE))") + ")"
                   ) + ") / NULLIF((" + sql_exact_double(
                       "SUM(" + sql_dec_cast("t / NULLIF(e, CAST(0.0 AS DOUBLE))") + ")"
                   ) + "), CAST(0.0 AS DOUBLE)) - ((" + sql_exact_double(
                       "SUM(" + sql_dec_cast("(1 - t) * y / NULLIF((1.0 - e), CAST(0.0 AS DOUBLE))") + ")"
                   ) + ") / NULLIF((" + sql_exact_double(
                       "SUM(" + sql_dec_cast("(1 - t) / NULLIF((1.0 - e), CAST(0.0 AS DOUBLE))") + ")"
                   ) + "), CAST(0.0 AS DOUBLE)))"
               )} AS ate_iptw
        FROM prop
    """,
)
def agg_iptw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A44: inverse-propensity-weighted (Hajek) ATE of arm on purchase
    spend — the confounder-adjusted causal tier past diff-in-diff /
    CUPED: weight each user by 1/e(x) (treated) or 1/(1−e(x)) (control)
    with the propensity a logistic in user activity, CLIPPED to
    [{_IPTW_CLIP_LO}, {_IPTW_CLIP_HI}] (the positivity guard every
    production IPTW ships).  Randomized-parity arms → e ≈ ½ and the
    estimate matches the plain difference, which the pytest oracle
    checks.

    One per-user aggregate, a 1-row mean broadcast for the propensity
    feature, then four decimal-path weighted sums in ONE reduction;
    sigmoids round 6 dp; every ratio is parenthesized (the det.py infix
    trap)."""
    ev = load(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(F.col("user_id") % 2).cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("activity"),
        dsum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            ),
            "y",
        ),
    )
    med = users.agg(davg("activity", "mean_act"))
    e = F.greatest(
        F.lit(_IPTW_CLIP_LO),
        F.least(
            F.lit(_IPTW_CLIP_HI),
            dround(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -(F.col("activity") - F.col("mean_act")) / F.lit(10.0)
                    )
                )
            ),
        ),
    )
    prop = users.crossJoin(F.broadcast(med)).select(
        "t", "y", e.alias("e")
    )
    st = exact_double(
        F.sum(
            dec_cast(
                F.col("t") * F.col("y") / F.nullif(F.col("e"), F.lit(0.0))
            )
        )
    )
    wt = exact_double(
        F.sum(dec_cast(F.col("t") / F.nullif(F.col("e"), F.lit(0.0))))
    )
    sc_ = exact_double(
        F.sum(
            dec_cast(
                (1 - F.col("t")) * F.col("y")
                / F.nullif(F.lit(1.0) - F.col("e"), F.lit(0.0))
            )
        )
    )
    wc = exact_double(
        F.sum(
            dec_cast(
                (1 - F.col("t"))
                / F.nullif(F.lit(1.0) - F.col("e"), F.lit(0.0))
            )
        )
    )
    return prop.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        dround(st / F.nullif(wt, F.lit(0.0))).alias("mu_treated"),
        dround(sc_ / F.nullif(wc, F.lit(0.0))).alias("mu_control"),
        dround(
            st / F.nullif(wt, F.lit(0.0)) - sc_ / F.nullif(wc, F.lit(0.0))
        ).alias("ate_iptw"),
    )


@register(
    "agg_new_vs_returning",
    oracle="""
        WITH firsts AS (
            SELECT user_id, MIN(DATE_TRUNC('day', ts)) AS first_day
            FROM events GROUP BY user_id
        ), tagged AS (
            SELECT DATE_TRUNC('day', e.ts) AS day, e.user_id,
                   CAST(DATE_TRUNC('day', e.ts) = f.first_day AS INTEGER)
                       AS is_new
            FROM events e JOIN firsts f ON e.user_id = f.user_id
            GROUP BY 1, 2, 3
        )
        SELECT day,
               CAST(SUM(is_new) AS BIGINT) AS new_users,
               CAST(COUNT(*) - SUM(is_new) AS BIGINT) AS returning_users
        FROM tagged GROUP BY day
    """,
)
def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A47: daily new vs returning active users — the first product
    split on every growth dashboard (is DAU growth acquisition or
    retention?).  A user is "new" on their first-ever active day.

    Single lineage, no join: the first-seen day is a MIN window over
    the user partitioning of the (user, day) distinct activity table,
    so dedup, first-day, and the daily rollup share one user-clustered
    Exchange plus the final day regroup.  (The oracle states it with
    the join-back form — semantically identical.)  Exact integers
    throughout."""
    ev = load(spark, sf_dir, "events")
    user_days = (
        ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    )
    w_u = Window.partitionBy("user_id")
    tagged = user_days.select(
        "day",
        (F.col("day") == F.min("day").over(w_u)).cast("int").alias("is_new"),
    )
    return tagged.groupBy("day").agg(
        F.sum("is_new").cast("long").alias("new_users"),
        (F.count(F.lit(1)) - F.sum("is_new")).cast("long").alias("returning_users"),
    )


@register(
    "agg_entropy_by_group",
    oracle=f"""
        WITH mix AS (
            SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY user_id, event_type
        ), probs AS (
            SELECT user_id, c,
                   CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
            FROM mix
        ), terms AS (
            SELECT user_id, n,
                   {sql_dround(
                       "-(CAST(c AS DOUBLE) / n) * LN(CAST(c AS DOUBLE) / n)"
                   )} AS h_term
            FROM probs
        )
        SELECT user_id,
               CAST(MAX(n) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               {sql_dsum("h_term", "entropy")}
        FROM terms GROUP BY user_id
    """,
)
def agg_entropy_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A48: Shannon entropy of each user's event-type mix — the
    behavioral-diversity feature (one-trick users score 0, uniform
    explorers ln 5) that feeds churn and segmentation models; the
    per-entity companion to the corpus-level ``text_token_entropy``.
    One (user, type) count; per-user totals are windows on the SAME
    user clustering; −p·ln p terms round 6 dp into the decimal sum —
    two linear shuffles end to end."""
    ev = load(spark, sf_dir, "events")
    mix = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_u = Window.partitionBy("user_id")
    probs = mix.select(
        "user_id", "c", F.sum("c").over(w_u).cast("long").alias("n")
    )
    p = F.col("c").cast("double") / F.col("n")
    terms = probs.select(
        "user_id", "n", dround(-p * F.log(p)).alias("h_term")
    )
    return terms.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        dsum("h_term", "entropy"),
    )


_CR_SPLIT = "2024-01-16"
_LN2_CONST = 0.6931471805599453


@register(
    "agg_capture_recapture",
    oracle=f"""
        WITH seen AS (
            SELECT user_id,
                   MAX(CASE WHEN ts < TIMESTAMP '{_CR_SPLIT}'
                            THEN 1 ELSE 0 END) AS s1,
                   MAX(CASE WHEN ts >= TIMESTAMP '{_CR_SPLIT}'
                            THEN 1 ELSE 0 END) AS s2
            FROM events GROUP BY user_id
        )
        SELECT CAST(SUM(s1) AS BIGINT) AS n1,
               CAST(SUM(s2) AS BIGINT) AS n2,
               CAST(SUM(s1 * s2) AS BIGINT) AS m_both,
               CAST(COUNT(*) AS BIGINT) AS n_observed,
               {sql_dround(
                   "(CAST(SUM(s1) + 1 AS DOUBLE) * (SUM(s2) + 1))"
                   " / (SUM(s1 * s2) + 1) - 1.0"
               )} AS chapman_n_hat
        FROM seen
    """,
)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A49: Chapman capture-recapture estimate of the true population
    size from two observation windows (first/second half-month) — the
    how-many-users-exist-that-we-never-saw estimator used for audience
    and wildlife censuses alike: N̂ = (n₁+1)(n₂+1)/(m+1) − 1 on the
    overlap m.  One conditional per-user aggregate + a 1-row integer
    reduction; the estimator is a single 6 dp IEEE chain on exact
    counts."""
    ev = load(spark, sf_dir, "events")
    seen = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("ts") < F.lit(_CR_SPLIT).cast("timestamp"), 1).otherwise(0)
        ).alias("s1"),
        F.max(
            F.when(F.col("ts") >= F.lit(_CR_SPLIT).cast("timestamp"), 1).otherwise(
                0
            )
        ).alias("s2"),
    )
    return seen.agg(
        F.sum("s1").cast("long").alias("n1"),
        F.sum("s2").cast("long").alias("n2"),
        F.sum(F.col("s1") * F.col("s2")).cast("long").alias("m_both"),
        F.count(F.lit(1)).cast("long").alias("n_observed"),
        dround(
            (F.sum("s1").cast("double") + 1)
            * (F.sum("s2") + 1)
            / (F.sum(F.col("s1") * F.col("s2")) + 1)
            - F.lit(1.0)
        ).alias("chapman_n_hat"),
    )


@register(
    "agg_gamma_mom",
    oracle=f"""
        WITH purch AS (
            SELECT value AS x FROM events WHERE event_type = 'purchase'
        ), m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum("x", "s")}, {sql_dsum("x * x", "q")}
            FROM purch
        )
        SELECT n,
               CASE WHEN n > 0 THEN {sql_dround("s / n")} END AS mean_x,
               CASE WHEN n > 1 THEN {sql_dround(
                   "(q - s * s / n) / (n - 1)"
               )} END AS var_x,
               CASE WHEN n > 1 AND q - s * s / n <> 0 THEN {sql_dround(
                   "(s / n) * (s / n) / ((q - s * s / n) / (n - 1))"
               )} END AS gamma_shape,
               CASE WHEN n > 1 AND s <> 0 THEN {sql_dround(
                   "((q - s * s / n) / (n - 1)) / (s / n)"
               )} END AS gamma_scale
        FROM m
    """,
)
def agg_gamma_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A50: method-of-moments Gamma fit of purchase values — k = μ²/σ²,
    θ = σ²/μ: the parametric spend model behind LTV simulation and
    premium-pricing curves (the continuous sibling of
    ``agg_overdispersion``'s NB fit).  One sufficient-statistics pass;
    all four outputs are 6 dp IEEE chains on the decimal-path sums.

    Degenerate grains (ANSI DIVIDE_BY_ZERO, the ``agg_cohort_decay_fit``
    class): n=0 nulls the mean, n<=1 nulls the variance, var=0 (all
    purchases equal) nulls the shape, mean=0 nulls the scale — exact
    zero-tests on the bit-identical sums, CASE-mirrored in the oracle."""
    ev = load(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("value").alias("x")
    )
    m = purch.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("x", "s"),
        dsum(F.col("x") * F.col("x"), "q"),
    )
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    mean = s / n
    var_num = q - s * s / n
    var = var_num / (n - 1)
    return m.select(
        "n",
        F.when(n > 0, dround(mean)).alias("mean_x"),
        F.when(n > 1, dround(var)).alias("var_x"),
        F.when((n > 1) & (var_num != 0), dround(mean * mean / var)).alias(
            "gamma_shape"
        ),
        F.when((n > 1) & (s != 0), dround(var / mean)).alias("gamma_scale"),
    )


@register(
    "agg_cohort_decay_fit",
    oracle=f"""
        WITH firsts AS (
            SELECT user_id, MIN(DATE_TRUNC('day', ts)) AS d0
            FROM events GROUP BY user_id
        ), act AS (
            SELECT DISTINCT e.user_id,
                   DATE_DIFF('day', CAST(f.d0 AS DATE),
                             CAST(DATE_TRUNC('day', e.ts) AS DATE)) // 7
                       AS wk
            FROM events e JOIN firsts f ON e.user_id = f.user_id
        ), base AS (
            SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n0 FROM act
        ), ret AS (
            SELECT wk,
                   CAST(COUNT(*) AS BIGINT) AS active,
                   {sql_dround(
                       "LN(CAST(COUNT(*) AS DOUBLE) / MAX(b.n0))"
                   )} AS ln_ret
            FROM act CROSS JOIN base b
            WHERE wk >= 1
            GROUP BY wk
        ), m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   {sql_dsum("CAST(wk AS DOUBLE)", "sx")},
                   {sql_dsum("ln_ret", "sy")},
                   {sql_dsum("CAST(wk AS DOUBLE) * wk", "sxx")},
                   {sql_dsum("CAST(wk AS DOUBLE) * ln_ret", "sxy")}
            FROM ret
        )
        SELECT k AS n_weeks,
               CASE WHEN k * sxx - sx * sx = 0 THEN NULL ELSE {sql_dround(
                   "(k * sxy - sx * sy) / (k * sxx - sx * sx)"
               )} END AS decay_rate,
               CASE WHEN k * sxx - sx * sx = 0
                      OR k * sxy - sx * sy = 0 THEN NULL ELSE {sql_dround(
                   f"-CAST({_LN2_CONST!r} AS DOUBLE)"
                   " / ((k * sxy - sx * sy) / (k * sxx - sx * sx))"
               )} END AS half_life_weeks
        FROM m
    """,
)
def agg_cohort_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A51: exponential retention-decay fit — regress ln(weekly
    retention) on week offset and report the decay rate and half-life:
    the two numbers a growth team quotes from the retention curve
    ``agg_retention_cohort`` tabulates.  Retention here is
    fraction-of-ever-active users active in week k ≥ 1 since their own
    first day.

    Corpus work: first-day + (user, week) dedup; the fit runs on the
    O(weeks) table with decimal-path moments; ln and the OLS outputs
    round 6 dp; half-life = −ln2/slope uses the exact double ln2
    literal."""
    ev = load(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id")
    act = (
        ev.select(
            "user_id",
            F.date_trunc("day", "ts").alias("day"),
        )
        .distinct()
        .select(
            "user_id",
            F.floor(
                F.datediff(F.col("day"), F.min("day").over(w_u)) / 7
            ).alias("wk"),
        )
        .distinct()
    )
    base = act.agg(F.countDistinct("user_id").cast("long").alias("n0"))
    ret = (
        act.where(F.col("wk") >= 1)
        .crossJoin(F.broadcast(base))
        .groupBy("wk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("active"),
            dround(
                F.log(F.count(F.lit(1)).cast("double") / F.max("n0"))
            ).alias("ln_ret"),
        )
    )
    m = ret.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        dsum(F.col("wk").cast("double"), "sx"),
        dsum("ln_ret", "sy"),
        dsum(F.col("wk").cast("double") * F.col("wk"), "sxx"),
        dsum(F.col("wk").cast("double") * F.col("ln_ret"), "sxy"),
    )
    # Degenerate grains (sf0.001: all activity in week 0 → ret has ≤1 row)
    # make the OLS denominator exactly 0 — ANSI would throw DIVIDE_BY_ZERO.
    # Guard with the exact zero test on both sides (oracle CASE mirrors it);
    # a zero NUMERATOR likewise nulls the half-life (−ln2/0).  Outputs are
    # NULL, matching the `window_rolling_slope` degenerate-slope convention.
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return m.select(
        F.col("k").alias("n_weeks"),
        F.when(den != 0, dround(slope)).alias("decay_rate"),
        F.when(
            (den != 0) & (num != 0), dround(-F.lit(_LN2_CONST) / slope)
        ).alias("half_life_weeks"),
    )


_APDEX_T = 100.0  # satisfied threshold; tolerating up to 4T


@register(
    "agg_apdex_daily",
    oracle=f"""
        SELECT DATE_TRUNC('day', ts) AS day,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value <= CAST({_APDEX_T!r} AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS satisfied,
               CAST(SUM(CASE WHEN value > CAST({_APDEX_T!r} AS DOUBLE)
                              AND value <= CAST({4 * _APDEX_T!r} AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS tolerating,
               (CAST(SUM(CASE WHEN value <= CAST({_APDEX_T!r} AS DOUBLE)
                              THEN 1 ELSE 0 END) AS DOUBLE)
                + SUM(CASE WHEN value > CAST({_APDEX_T!r} AS DOUBLE)
                            AND value <= CAST({4 * _APDEX_T!r} AS DOUBLE)
                           THEN 1 ELSE 0 END) / 2.0)
                   / COUNT(*) AS apdex
        FROM events GROUP BY 1
    """,
)
def agg_apdex_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A53: daily Apdex score — (satisfied + tolerating/2)/n with the
    standard T/4T latency bands (value plays response time, T =
    {_APDEX_T}): THE user-satisfaction SLO aggregate, the bounded [0,1]
    summary raw latency percentiles don't give.  One conditional
    day-grouped pass; counts exact, the score one exact division."""
    ev = load(spark, sf_dir, "events")
    sat = F.sum((F.col("value") <= _APDEX_T).cast("int"))
    tol = F.sum(
        ((F.col("value") > _APDEX_T) & (F.col("value") <= 4 * _APDEX_T)).cast("int")
    )
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        sat.cast("long").alias("satisfied"),
        tol.cast("long").alias("tolerating"),
        ((sat.cast("double") + tol / F.lit(2.0)) / F.count(F.lit(1))).alias(
            "apdex"
        ),
    )


_GMM_ITERS = 3  # unrolled EM iterations (the graph_pagerank_loop convention)
_GMM_W0, _GMM_VAR0 = 0.5, 10000.0  # equal start weights; shared sigma^2


def _gmm_loop_oracle(iters: int) -> str:
    """Chained-CTE oracle for K unrolled EM rounds.  Unlike the step
    (whose equal start weights/variances collapse the responsibility to
    a logistic of the squared-distance gap), the loop carries the FULL
    two-component form — r1 = 1/(1 + (w2/w1)·sqrt(v1/v2)·exp((x−μ1)²/2v1
    − (x−μ2)²/2v2)) — because after round 1 the weights and variances
    genuinely differ.  libm EXP rounds 6 dp; everything else is fixed
    IEEE chains on bit-identical params."""
    parts = [
        f"""
        WITH ev AS (
            SELECT value AS x FROM events
        ), p0 AS (
            SELECT CAST({_GMM_W0!r} AS DOUBLE) AS w1,
                   CAST({_GMM_MU[0]!r} AS DOUBLE) AS mu1,
                   CAST({_GMM_VAR0!r} AS DOUBLE) AS var1,
                   CAST({_GMM_W0!r} AS DOUBLE) AS w2,
                   CAST({_GMM_MU[1]!r} AS DOUBLE) AS mu2,
                   CAST({_GMM_VAR0!r} AS DOUBLE) AS var2
        )"""
    ]
    # clamp the exp argument at ±29: once variances shrink, far-tail
    # points drive exp(t) past the decimal round path's int64 hop, whose
    # true domain is |x|·10⁶ < 2⁶³ → |x| < 9.2e12 (observed: exp(33.8) =
    # 4.9e14 at round 3 overflowed the BIGINT cast).  exp(29) ≈ 3.9e12
    # stays inside it while r1 saturates to 0/1 as it mathematically
    # should.  LEAST/GREATEST mirror exactly.
    t_expr = (
        "LEAST(GREATEST("
        "(x - mu1) * (x - mu1)"
        " / NULLIF(CAST(2.0 AS DOUBLE) * var1, CAST(0.0 AS DOUBLE))"
        " - (x - mu2) * (x - mu2)"
        " / NULLIF(CAST(2.0 AS DOUBLE) * var2, CAST(0.0 AS DOUBLE))"
        ", CAST(-29.0 AS DOUBLE)), CAST(29.0 AS DOUBLE))"
    )
    for i in range(1, iters + 1):
        parts.append(
            f""", r{i} AS (
            SELECT x,
                   CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
                       + (w2 / NULLIF(w1, CAST(0.0 AS DOUBLE)))
                         * SQRT(GREATEST(var1 / NULLIF(var2, CAST(0.0 AS DOUBLE)), CAST(0.0 AS DOUBLE)))
                         * {sql_dround(f"EXP({t_expr})")}) AS r1
            FROM ev CROSS JOIN p{i - 1}
        ), s{i} AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   {sql_dsum('r1', 'sr1')},
                   {sql_dsum('r1 * x', 'srx1')},
                   {sql_dsum('r1 * x * x', 'srxx1')},
                   {sql_dsum('(CAST(1.0 AS DOUBLE) - r1)', 'sr2')},
                   {sql_dsum('(CAST(1.0 AS DOUBLE) - r1) * x', 'srx2')},
                   {sql_dsum('(CAST(1.0 AS DOUBLE) - r1) * x * x', 'srxx2')}
            FROM r{i}
        ), p{i} AS (
            SELECT sr1 / n AS w1,
                   srx1 / NULLIF(sr1, CAST(0.0 AS DOUBLE)) AS mu1,
                   srxx1 / NULLIF(sr1, CAST(0.0 AS DOUBLE))
                     - (srx1 / NULLIF(sr1, CAST(0.0 AS DOUBLE)))
                       * (srx1 / NULLIF(sr1, CAST(0.0 AS DOUBLE))) AS var1,
                   sr2 / n AS w2,
                   srx2 / NULLIF(sr2, CAST(0.0 AS DOUBLE)) AS mu2,
                   srxx2 / NULLIF(sr2, CAST(0.0 AS DOUBLE))
                     - (srx2 / NULLIF(sr2, CAST(0.0 AS DOUBLE)))
                       * (srx2 / NULLIF(sr2, CAST(0.0 AS DOUBLE))) AS var2
            FROM s{i}
        )"""
        )
    parts.append(
        f"""
        SELECT k, weight, mu, var FROM (
            SELECT 1 AS k, w1 AS weight, mu1 AS mu, var1 AS var FROM p{iters}
            UNION ALL
            SELECT 2, w2, mu2, var2 FROM p{iters}
        ) ORDER BY k"""
    )
    return "".join(parts)


@register("ml_gmm_em_loop", oracle=_gmm_loop_oracle(_GMM_ITERS))
def ml_gmm_em_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML: the FULL EM fit — {_GMM_ITERS} unrolled iterations of
    ``ml_gmm_em_step``'s verified E+M round for the 1-D two-component
    mixture, carrying the GENERAL responsibility (weights and variances
    diverge after round 1, so the step's logistic shortcut no longer
    applies): r1 = 1/(1 + (w2/w1)·√(v1/v2)·exp((x−μ1)²/2v1 −
    (x−μ2)²/2v2)).  One corpus pass per round (inherent to EM), the
    seven sufficient statistics map-side combinable, the 1-row parameter
    state persisted and broadcast back — the ``graph_pagerank_loop``
    discipline applied to soft clustering.  Determinism: the one libm
    exp rounds 6 dp per row; sqrt and every divide are IEEE-exact on
    bit-identical operands; sums ride the decimal path — three rounds
    hash bit-identically against the chained-CTE oracle."""
    one = F.lit(1.0)
    ev = load(spark, sf_dir, "events").select(F.col("value").alias("x"))
    params = None
    for _ in range(_GMM_ITERS):
        if params is None:
            base = (
                ev.withColumn("w1", F.lit(_GMM_W0))
                .withColumn("mu1", F.lit(_GMM_MU[0]))
                .withColumn("var1", F.lit(_GMM_VAR0))
                .withColumn("w2", F.lit(_GMM_W0))
                .withColumn("mu2", F.lit(_GMM_MU[1]))
                .withColumn("var2", F.lit(_GMM_VAR0))
            )
        else:
            base = ev.crossJoin(F.broadcast(params))
        x = F.col("x")
        t_raw = (x - F.col("mu1")) * (x - F.col("mu1")) / F.nullif(
            F.lit(2.0) * F.col("var1"), F.lit(0.0)
        ) - (x - F.col("mu2")) * (x - F.col("mu2")) / F.nullif(
            F.lit(2.0) * F.col("var2"), F.lit(0.0)
        )
        t = F.least(F.greatest(t_raw, F.lit(-29.0)), F.lit(29.0))
        r1 = one / (
            one
            + (F.col("w2") / F.nullif(F.col("w1"), F.lit(0.0)))
            * F.sqrt(
                F.greatest(
                    F.col("var1") / F.nullif(F.col("var2"), F.lit(0.0)),
                    F.lit(0.0),
                )
            )
            * dround(F.exp(t))
        )
        r = base.select("x", r1.alias("r1"))
        s = r.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            dsum("r1", "sr1"),
            dsum(F.col("r1") * F.col("x"), "srx1"),
            dsum(F.col("r1") * F.col("x") * F.col("x"), "srxx1"),
            dsum(one - F.col("r1"), "sr2"),
            dsum((one - F.col("r1")) * F.col("x"), "srx2"),
            dsum((one - F.col("r1")) * F.col("x") * F.col("x"), "srxx2"),
        )
        params = s.select(
            (F.col("sr1") / F.col("n")).alias("w1"),
            (F.col("srx1") / F.nullif(F.col("sr1"), F.lit(0.0))).alias("mu1"),
            (
                F.col("srxx1") / F.nullif(F.col("sr1"), F.lit(0.0))
                - (F.col("srx1") / F.nullif(F.col("sr1"), F.lit(0.0)))
                * (F.col("srx1") / F.nullif(F.col("sr1"), F.lit(0.0)))
            ).alias("var1"),
            (F.col("sr2") / F.col("n")).alias("w2"),
            (F.col("srx2") / F.nullif(F.col("sr2"), F.lit(0.0))).alias("mu2"),
            (
                F.col("srxx2") / F.nullif(F.col("sr2"), F.lit(0.0))
                - (F.col("srx2") / F.nullif(F.col("sr2"), F.lit(0.0)))
                * (F.col("srx2") / F.nullif(F.col("sr2"), F.lit(0.0)))
            ).alias("var2"),
        ).persist()
    comps = params.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("k"),
                    F.col("w1").alias("weight"),
                    F.col("mu1").alias("mu"),
                    F.col("var1").alias("var"),
                ),
                F.struct(
                    F.lit(2).alias("k"),
                    F.col("w2").alias("weight"),
                    F.col("mu2").alias("mu"),
                    F.col("var2").alias("var"),
                ),
            )
        ).alias("c")
    )
    return comps.select("c.k", "c.weight", "c.mu", "c.var").orderBy("k")
