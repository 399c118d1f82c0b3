"""Composite / scale-pattern operators: skew-salted aggregation, full
multi-join analytical queries, catalog enumeration, and the registered
streaming-watermark demonstration.

These are the patterns a 100 TB deployment leans on daily:
- Salting: hot keys (3 return flags over 600 M rows) would put one
  reducer on the critical path; salt → partial-aggregate → re-aggregate
  splits each hot key across N reducers.  Because the engine's sums are
  decimal-exact (det.py), the two-phase result is BIT-IDENTICAL to the
  direct aggregation — the oracle is simply the unsalted query.
- The TPC-H-shaped composites exercise multi-join + agg + top-k plans the
  way real product queries do (the per-product pipelines in the reference
  are exactly scan→join-epochs→aggregate→rank chains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import (
    dec_cast,
    dsum,
    dsum_wide,
    exact_double_wide,
    sql_dsum,
    sql_dsum_wide,
)
from ..io import load
from ..registry import register

_DISC_PRICE = "l_extendedprice * (1 - l_discount)"


def _disc_price() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "agg_salted_twophase",
    oracle=f"""
        SELECT l_returnflag,
               {sql_dsum_wide(_DISC_PRICE, "revenue")},
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew mitigation: deterministic salt (hash of the row key, NOT rand()
    — reruns/retries must agg identically) splits each hot group key 16
    ways; phase 1 partial-aggregates per (key, salt), phase 2 merges.
    Decimal sums are associative, so the result equals the direct
    aggregation exactly — which is what the oracle checks."""
    lf = load(spark, sf_dir, "lineitem")
    salt = F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(16)).alias("salt")
    phase1 = (
        lf.withColumn("salt", salt)
        .groupBy("l_returnflag", "salt")
        .agg(
            F.sum(dec_cast(_disc_price())).alias("rev_part"),
            F.count(F.lit(1)).alias("n_part"),
        )
    )
    return phase1.groupBy("l_returnflag").agg(
        # exact_double_wide, NOT round(cast(double)): past ~9e9 the
        # revenue's 6 dp no longer fits a double, so the bare cast
        # diverged from the oracle's decimal hop at the 10x replica
        # (r9c); since r10 the WIDE hop extends the exact finish past
        # the nd=6 int64 domain (9.2e12, ~100x this grain) to 2^63
        exact_double_wide(F.sum("rev_part")).alias("revenue"),
        F.sum("n_part").alias("n"),
    )


@register(
    "composite_q3_shape",
    oracle=f"""
        SELECT l_orderkey, o_orderdate,
               {sql_dsum(_DISC_PRICE, "revenue")}
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate  > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
)
def composite_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: segment filter → 3-way join → revenue per order →
    top-10.  The per-product 'which scenes to process next' ranking query
    in engine terms.  Dims filter BEFORE the join (Catalyst pushes the
    segment predicate below the join); top-k is TakeOrdered, no full sort."""
    cu = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    od = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    lf = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .join(lf, lf.l_orderkey == od.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(_disc_price(), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "composite_q5_shape",
    oracle=f"""
        SELECT n_name, {sql_dsum_wide(_DISC_PRICE, "revenue")}
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
)
def composite_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped: 6-way join (2 broadcast dims) + local-supplier
    predicate + grouped revenue — the zonal-statistics query shape
    (pixels ⋈ zone polygons ⋈ platform metadata)."""
    cu = load(spark, sf_dir, "customer")
    od = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lf = load(spark, sf_dir, "lineitem")
    su = load(spark, sf_dir, "supplier")
    na = F.broadcast(load(spark, sf_dir, "nation"))
    re = F.broadcast(load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    return (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .join(lf, lf.l_orderkey == od.o_orderkey)
        .join(su, (lf.l_suppkey == su.s_suppkey) & (su.s_nationkey == cu.c_nationkey))
        .join(na, cu.c_nationkey == na.n_nationkey)
        .join(re, na.n_regionkey == re.r_regionkey)
        .groupBy("n_name")
        .agg(dsum_wide(_disc_price(), "revenue"))
    )


@register("catalog_tables")  # ⊘oracle: engine catalog metadata, not fixture data
def catalog_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: dataset/product enumeration — ``dc.list_products`` /
    ``list_measurements``.  The declared schema registry IS the catalog;
    each row = (table, n_columns, has time axis, n band-ish columns)."""
    from .. import schemas

    rows = []
    for name in sorted(schemas.TABLES):
        st = schemas.TABLES[name]
        n_ts = sum(1 for f in st.fields if f.dataType.typeName() == "timestamp")
        n_num = sum(
            1 for f in st.fields if f.dataType.typeName() in ("double", "float")
        )
        rows.append((name, len(st.fields), n_ts > 0, n_num))
    return spark.createDataFrame(
        rows, "table_name string, n_columns int, has_time_axis boolean, n_numeric_bands int"
    )


@register(
    "stream_watermark",
    oracle="""
        WITH feed(batch, ts, event_type, value) AS (VALUES
            (0, TIMESTAMP '2024-01-01 10:00:00', 'click', 1.0),
            (0, TIMESTAMP '2024-01-01 10:20:00', 'click', 2.0),
            (0, TIMESTAMP '2024-01-01 10:40:00', 'click', 3.0),
            (1, TIMESTAMP '2024-01-01 09:00:00', 'click', 99.0),
            (2, TIMESTAMP '2024-01-01 12:30:00', 'click', 1.0)
        ), wm AS (
            -- watermark IN EFFECT while batch b processes = max event time
            -- of the batches BEFORE it, minus the 10-minute delay
            SELECT batch,
                   MAX(mx) OVER (ORDER BY batch
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     - INTERVAL 10 MINUTE AS wm_in
            FROM (SELECT batch, MAX(ts) AS mx FROM feed GROUP BY batch)
        ), kept AS (
            -- late-drop rule: a row whose 1h window already closed under
            -- the in-effect watermark is discarded
            SELECT f.* FROM feed f JOIN wm USING (batch)
            WHERE wm_in IS NULL
               OR DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR > wm_in
        )
        SELECT DATE_TRUNC('hour', ts) AS w_start, event_type,
               COUNT(*) AS n, SUM(value) AS sum_value
        FROM kept
        GROUP BY 1, 2
        -- append-mode emission: only windows the FINAL watermark closed
        HAVING DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR
               <= (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM feed)
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: the watermark late-drop demonstration as a registered key — runs
    a REAL watermarked streaming query over a 3-batch staged feed (on-time
    events, a late straggler, a watermark-advancing event) and returns the
    append-mode sink: exactly the on-time window survives.

    Deterministic: the straggler's window closed before it arrived, so the
    emitted row set is fixed regardless of timing.

    FULL oracle (r3): the event-time machine is SIMULATED in SQL over the
    literal feed — the in-effect watermark is a lagged running max of
    per-batch event-time maxima minus the delay, the late-drop rule
    discards rows whose window closed under it, and append-mode emission
    keeps only windows the final watermark closed.  All three T4 rules
    (lag, drop, emit) are hash-gated, not just the surviving row count."""
    from ..scratch import fresh
    from ..streaming import streams as S

    feed = str(fresh("wm"))
    # files must ARRIVE while the query runs: pre-discovered files are
    # planned against the initial (epoch-0) watermark, so a 'late' row in
    # a pre-existing file is NOT dropped — real arrival order is what the
    # watermark semantics key off
    agg = S.tumbling_counts(S.events_stream(spark, feed), watermark="10 minutes")
    sink = S.drain_to_memory(spark, agg, "append", feed, [
        [(1, 1, "2024-01-01T10:00:00", "click", 1.0),
         (2, 1, "2024-01-01T10:20:00", "click", 2.0),
         (3, 1, "2024-01-01T10:40:00", "click", 3.0)],  # watermark → 10:30
        [(4, 1, "2024-01-01T09:00:00", "click", 99.0)],  # late: window closed at 10:30
        [(5, 1, "2024-01-01T12:30:00", "click", 1.0)],  # watermark → 12:20 closes [10:00,11:00)
    ])
    return sink.select("w_start", "event_type", "n", "sum_value")


# stream_stream_join moved to streaming/stream_joins.py (graduated to a
# full value-hash oracle in round 3).


# catalog_gate's oracle: one COUNT(*) subquery per fixture table.  The
# n_columns / has_time_axis literals are DECLARED-SCHEMA constants (the
# schema registry is versioned code, not data), not storage facts — the
# fixture generator emits the same columns at every scale.
_CATALOG_GATE_ORACLE = " UNION ALL ".join(
    f"SELECT '{t}' AS table_name,"
    f" (SELECT COUNT(*) FROM {t}) AS n_rows,"
    f" CAST({nc} AS INTEGER) AS n_columns,"
    f" {str(ts).upper()} AS has_time_axis,"
    f" TRUE AS schema_match"
    for t, nc, ts in [
        ("customer", 5, False), ("documents", 5, False),
        ("embeddings", 3, False), ("events", 6, True),
        ("lineitem", 11, True), ("nation", 3, False),
        ("orders", 6, True), ("part", 6, False),
        ("region", 2, False), ("supplier", 4, False),
    ]
)


@register("catalog_gate", oracle=_CATALOG_GATE_ORACLE)
def catalog_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 quality gate — pins the ⊘rows-only ``catalog_tables`` key's
    enumeration against the fixture ON DISK, so a catalog drift flips a
    driver hash row: for every declared table the catalog must (a) exist
    in the fixture and agree on column count and time-axis flag
    (``schema_match``, computed from the LOADED parquet schema at
    plan-build time — schema introspection, not data movement), and
    (b) the engine's scan of it must return the row count DuckDB sees on
    the same files — a direct cross-engine value that exercises
    ``io.load``'s full normalization path (the events nanos handling)
    over all ten tables at once.

    Shape: a 10-branch union of single-row count aggregates broadcast-
    joined to the 10-row local catalog frame — each branch is one
    column-pruned count-star scan (footer-only for parquet count
    pushdown); no wide shuffle anywhere."""
    from functools import reduce

    from .. import schemas

    cat = catalog_tables(spark, sf_dir)
    parts = []
    for name in sorted(schemas.TABLES):
        df = load(spark, sf_dir, name)
        # timestamp-FAMILY match: the fixture ships lineitem/orders time
        # columns as micros with isAdjustedToUTC=false, which Spark reads
        # as TIMESTAMP_NTZ — value-identical to the declared TIMESTAMP
        # under the pinned UTC session zone (only events needs an actual
        # normalization, for nanos).  The time-AXIS fact is type-family
        # level, not physical-annotation level.
        n_ts = sum(
            1
            for f in df.schema.fields
            if f.dataType.typeName().startswith("timestamp")
        )
        parts.append(
            df.agg(F.count(F.lit(1)).cast("long").alias("n_rows")).select(
                F.lit(name).alias("table_name"),
                "n_rows",
                F.lit(len(df.columns)).alias("actual_cols"),
                F.lit(n_ts > 0).alias("actual_time_axis"),
            )
        )
    actual = reduce(lambda a, b: a.unionByName(b), parts)
    j = actual.join(F.broadcast(cat), "table_name")
    return j.select(
        "table_name",
        "n_rows",
        "n_columns",
        "has_time_axis",
        (
            (F.col("actual_cols") == F.col("n_columns"))
            & (F.col("actual_time_axis") == F.col("has_time_axis"))
        ).alias("schema_match"),
    )
