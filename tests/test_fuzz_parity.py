"""Hypothesis fuzz: the determinism helpers must hash-match DuckDB on
ARBITRARY finite doubles, not just the fixture distribution (SURVEY §5.4).

Each example builds the same little table in Spark and DuckDB and compares
grouped dsum/davg/count canonically — the exact comparison the driver
gate performs, under adversarial values (subnormals, huge magnitude
spreads, negative zeros)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from odc_product_docker_images_spark.functions.det import dsum, davg, sql_dsum, sql_davg
from tools.check_parity import canon_rows

finite = st.floats(
    allow_nan=False,
    allow_infinity=False,
    min_value=-1e9,
    max_value=1e9,
    allow_subnormal=False,
)
rows_strategy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3), finite), min_size=1, max_size=60
)


@settings(max_examples=120, deadline=None)
@given(rows=rows_strategy)
def test_dsum_davg_match_duckdb(spark_global, rows):
    spark = spark_global
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    sdf = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    got = (
        sdf.groupBy("k")
        .agg(dsum("v", "s"), davg("v", "a"), F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        f"SELECT k, {sql_dsum('v', 's')}, {sql_davg('v', 'a')}, COUNT(*) AS n FROM t GROUP BY k"
    ).df()
    con.close()
    assert canon_rows(got) == canon_rows(want)


in_fast_domain = st.floats(
    allow_nan=False,
    allow_infinity=False,
    min_value=-9e8,
    max_value=9e8,
    allow_subnormal=False,
)
fast_rows_strategy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3), in_fast_domain),
    min_size=1,
    max_size=60,
)


@settings(max_examples=120, deadline=None)
@given(rows=fast_rows_strategy)
def test_dsum_fast_matches_duckdb_and_dsum(spark_global, rows):
    """The long-split fast path must be bit-identical to BOTH the DuckDB
    oracle (same sql_dsum/sql_davg twins as dsum) and Spark's own decimal
    path, across the documented addend domain |x| < 9e8 — including sign
    mixes, magnitude spreads, and values whose unscaled form stresses the
    shift/mask decomposition."""
    spark = spark_global
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    sdf = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    from odc_product_docker_images_spark.functions.det import davg_fast, dsum_fast

    got = (
        sdf.groupBy("k")
        .agg(
            dsum_fast("v", "s"),
            davg_fast("v", "a"),
            dsum("v", "s_dec"),
            F.count(F.lit(1)).alias("n"),
        )
        .toPandas()
    )
    assert list(got["s"]) == list(got["s_dec"])  # fast ≡ decimal path
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        f"SELECT k, {sql_dsum('v', 's')}, {sql_davg('v', 'a')},"
        f" {sql_dsum('v', 's_dec')}, COUNT(*) AS n FROM t GROUP BY k"
    ).df()
    con.close()
    assert canon_rows(got) == canon_rows(want)


@settings(max_examples=60, deadline=None)
@given(rows=rows_strategy)
def test_windowed_exact_sum_matches_duckdb(spark_global, rows):
    """The window twin of the aggregate contract: a framed decimal sum
    through the exact-cast path must hash-match however each engine
    evaluates the frame (running sum vs segment tree)."""
    spark = spark_global
    pdf = pd.DataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], columns=["i", "k", "v"]
    )
    sdf = spark.createDataFrame(pdf)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from odc_product_docker_images_spark.functions.det import (
        dec_cast,
        exact_double,
        sql_dec_cast,
        sql_exact_double,
    )

    w = Window.partitionBy("k").orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    got = sdf.select(
        "i", "k", exact_double(F.sum(dec_cast("v")).over(w)).alias("c")
    ).toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        f"""SELECT i, k, {sql_exact_double(f"SUM({sql_dec_cast('v')}) OVER w")} AS c
            FROM t WINDOW w AS (PARTITION BY k ORDER BY i
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
    ).df()
    con.close()
    assert canon_rows(got) == canon_rows(want)


nd10_domain = st.floats(
    allow_nan=False,
    allow_infinity=False,
    min_value=-1e7,
    max_value=1e7,
    allow_subnormal=False,
)
nd10_rows_strategy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3), nd10_domain),
    min_size=1,
    max_size=60,
)


@settings(max_examples=120, deadline=None)
@given(rows=nd10_rows_strategy)
def test_dsum_nd10_matches_duckdb(spark_global, rows):
    """The nd=10 exact-cast path (r9c: decimal(19,10) hop — the old
    decimal(24,6) hop silently re-rounded nd>6 requests to 6 dp) must
    hash-match DuckDB bit-for-bit inside its domain (|sum| < 9.2e8).
    60 values ≤ 1e7 keep the sum well inside."""
    spark = spark_global
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    sdf = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    got = (
        sdf.groupBy("k")
        .agg(dsum("v", "s", 10), F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        f"SELECT k, {sql_dsum('v', 's', 10)}, COUNT(*) AS n FROM t GROUP BY k"
    ).df()
    con.close()
    assert canon_rows(got) == canon_rows(want)


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark


# wide-hop domain: values whose SUM can cross the 9e12 guard in either
# direction — mix huge addends (to 8e17) with ordinary ones so examples
# land on both branches and near the boundary.
# per-addend cap: dec_cast's cross-engine agreement holds for
# |x| < 2^53 (see its docstring — above it Spark expands the exact
# binary value while DuckDB parses the shortest repr); sums still cross
# the 9e12 wide-hop guard with room to spare.
wide_vals = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False,
              min_value=-1e9, max_value=1e9, allow_subnormal=False),
    st.floats(allow_nan=False, allow_infinity=False,
              min_value=-8.9e15, max_value=8.9e15, allow_subnormal=False),
    st.sampled_from([9e12, -9e12, 8.999999e12, 9.000001e12, 2.6e13]),
)
wide_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3), wide_vals),
    min_size=1, max_size=30,
)


@settings(max_examples=120, deadline=None)
@given(rows=wide_rows)
def test_dsum_wide_matches_duckdb(spark_global, rows):
    """r10: the magnitude-adaptive hop (exact_double_wide) must
    hash-match its DuckDB twin on BOTH branches and at the 9e12 guard
    boundary — including sums that overflow the nd=6 hop the fixed form
    would hard-fail on (the agg_weighted_mean 100x find)."""
    from pyspark.sql import functions as F

    from odc_product_docker_images_spark.functions.det import (
        dsum_wide,
        sql_dsum_wide,
    )

    spark = spark_global
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.groupBy("k")
        .agg(dsum_wide("v", "s"), F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        f"SELECT k, {sql_dsum_wide('v', 's')}, COUNT(*) AS n FROM t GROUP BY k"
    ).df()
    con.close()
    assert canon_rows(got) == canon_rows(want)


def test_dsum_wide_hop_boundary_bit_identity(spark_global):
    """``dsum_wide`` must be bit-identical to its DuckDB twin on group
    sums on both sides of the 9e12 hop boundary (30k rows a group)."""
    import numpy as np

    from odc_product_docker_images_spark.functions.det import (
        dsum_wide,
        sql_dsum_wide,
    )

    spark = spark_global
    rng = np.random.default_rng(7)
    pdf = pd.concat(
        [
            pd.DataFrame({"k": 0, "v": rng.uniform(4.0e8, 5.0e8, 30000)}),
            pd.DataFrame({"k": 1, "v": rng.normal(50, 20, 30000)}),
            pd.DataFrame({"k": 2, "v": rng.uniform(-5.0e8, -4.0e8, 30000)}),
        ],
        ignore_index=True,
    )
    sdf = spark.createDataFrame(pdf).repartition(8)
    got = sdf.groupBy("k").agg(dsum_wide("v", "w")).orderBy("k").toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        f"SELECT k, {sql_dsum_wide('v', 'w')} FROM t GROUP BY k ORDER BY k"
    ).df()
    con.close()
    assert (got["w"].to_numpy() == want["w"].to_numpy()).all()
