"""Scale-pattern invariants: bucketed co-located joins, salted aggregation
equivalence, decimal-sum partitioning-independence (SURVEY.md §4, §7
hard-part 6)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from odc_product_docker_images_spark.plans import checks as C

SF = "/root/testdata/sf0.001"


def test_bucketed_join_needs_no_shuffle(spark):
    """Pre-bucketing both sides on the join key co-locates matching rows —
    the join plan carries NO Exchange.  This is the 100 TB answer to
    repeatedly joining the same fact tables (scene ⋈ ledger every round)."""
    from odc_product_docker_images_spark.io import load

    tag = uuid.uuid4().hex[:6]
    ta, tb = f"li_bkt_{tag}", f"od_bkt_{tag}"
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would broadcast-join (planner then ignores
        # bucketing entirely); force the sort-merge path bucketing serves
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        (
            load(spark, SF, "lineitem")
            .select("l_orderkey", "l_quantity")
            .write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .saveAsTable(ta)
        )
        (
            load(spark, SF, "orders")
            .select("o_orderkey", "o_totalprice")
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .saveAsTable(tb)
        )
        joined = spark.table(ta).join(
            spark.table(tb), F.col("l_orderkey") == F.col("o_orderkey")
        )
        assert C.exchange_count(joined) == 0, C.formatted_plan(joined)
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_salted_equals_direct(spark):
    from odc_product_docker_images_spark.operators.composites import agg_salted_twophase
    from odc_product_docker_images_spark.operators.aggregates import _disc_price  # noqa: PLC2701
    from odc_product_docker_images_spark.functions.det import dsum
    from odc_product_docker_images_spark.io import load

    salted = {
        r["l_returnflag"]: (r["revenue"], r["n"])
        for r in agg_salted_twophase(spark, SF).collect()
    }
    direct = {
        r["l_returnflag"]: (r["revenue"], r["n"])
        for r in load(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(dsum(_disc_price(), "revenue"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert salted == direct  # bit-identical, not approximately


@pytest.mark.parametrize("parts", [1, 7, 32])
def test_decimal_sum_is_partitioning_invariant(spark, parts):
    """det.dsum must return the SAME double no matter how rows are split
    across partitions — the property the whole oracle-hash strategy
    rests on."""
    from odc_product_docker_images_spark.functions.det import dsum
    from odc_product_docker_images_spark.io import load

    df = load(spark, SF, "lineitem").repartition(parts)
    got = df.agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "s")
    ).collect()[0]["s"]
    # reference value from a single-partition run
    ref = (
        load(spark, SF, "lineitem")
        .coalesce(1)
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "s"))
        .collect()[0]["s"]
    )
    assert got == ref


def test_iter_udf_matches_expr(spark):
    """The iterator pandas UDF scores bit-match the equivalent Column
    expression (Arrow round-trip preserves doubles exactly)."""
    from odc_product_docker_images_spark.kernels.udfs import _W, udf_iter_score
    from odc_product_docker_images_spark.io import load

    got = udf_iter_score(spark, SF).toPandas().sort_values(
        ["l_orderkey", "l_linenumber", "score"]
    )["score"].to_numpy()
    expr = (
        load(spark, SF, "lineitem")
        .select(
            (
                F.lit(_W["bias"])
                + F.lit(_W["qty"]) * F.col("l_quantity")
                + F.lit(_W["disc"]) * F.col("l_discount")
                + F.lit(_W["tax"]) * F.col("l_tax")
            ).alias("score"),
            "l_orderkey",
            "l_linenumber",
        )
        .toPandas()
        .sort_values(["l_orderkey", "l_linenumber", "score"])["score"]
        .to_numpy()
    )
    assert (got == expr).all()


@pytest.mark.parametrize("by", [None, ["g"]])
@pytest.mark.parametrize("parts", [1, 7])
def test_global_prefix_matches_single_window(spark, monkeypatch, by, parts):
    """``global_prefix``'s ranks, group sizes, running sums and totals
    equal a single-window reference on tied sort values (unique
    tie-break) at any slice count, with and without a group key that
    holds NULLs.  ``fanout`` floors at the host's parallelism, so the
    slice count is pinned there as well as in the shuffle width."""
    import re
    from decimal import Decimal

    import pandas as pd
    from pyspark.sql.types import DecimalType

    from odc_product_docker_images_spark.functions import prefix
    from odc_product_docker_images_spark.functions.det import dec_cast

    rows = [
        (i, None if i % 7 == 0 else "abc"[i % 3], i % 5, (i * 7) % 11 + 0.25)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v int, x double")
    monkeypatch.setattr(prefix, "fanout", lambda _df: parts)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        out = prefix.global_prefix(
            df, ["v", "id"], by=by, sums={"s": "v", "d": dec_cast("x")}
        )
        # the only partition-less window runs over the per-slice offsets
        # table, never over the data rows
        inputs = C.partitionless_window_inputs(out)
        got = out.toPandas().sort_values("id").reset_index(drop=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(inputs) == (0 if by else 1), inputs
    assert not any(re.search(r"\b(id|v|x)#", i) for i in inputs), inputs
    # the decimal prefix keeps its scale through the offset add
    assert out.schema["d"].dataType == DecimalType(38, 10)
    assert got[["d", "d_total"]].map(lambda x: isinstance(x, Decimal)).all().all()

    ref = pd.DataFrame(rows, columns=["id", "g", "v", "x"]).sort_values(["v", "id"])
    key = ref["g"].fillna("<null>") if by else pd.Series(0, index=ref.index)
    grp = ref.groupby(key)
    ref = ref.assign(
        rk=grp.cumcount() + 1,
        n=grp["id"].transform("size"),
        s=grp["v"].cumsum(),
        s_total=grp["v"].transform("sum"),
        d=grp["x"].cumsum(),
        d_total=grp["x"].transform("sum"),
    ).sort_values("id").reset_index(drop=True)
    for c in ("rk", "n", "s", "s_total"):
        assert got[c].tolist() == ref[c].tolist(), c
    for c in ("d", "d_total"):  # x is k + 0.25: the float sums are exact
        assert got[c].astype(float).tolist() == ref[c].tolist(), c


_PREFIX_ECDF_KEYS = [
    "ml_roc_curve",
    "ml_auc_exact",
    "ml_decision_stump",
    "ml_auc_delong_se",
    "ml_pr_auc",
    "ml_ks_statistic",
    "agg_ks_test",
    "agg_kruskal_wallis",
    "agg_sprt_decision",
]


@pytest.mark.parametrize("key", _PREFIX_ECDF_KEYS)
def test_prefix_ecdf_keys_are_fanout_invariant(spark, monkeypatch, key):
    """The keys whose ECDF or running count comes from ``global_prefix``
    return the same rows at one slice and at seven: the offsets, not the
    slice boundaries, carry the global order."""
    from odc_product_docker_images_spark import registry
    from odc_product_docker_images_spark.functions import prefix

    fn = registry.all_queries()[key].fn
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    got = []
    try:
        for parts in (1, 7):
            monkeypatch.setattr(prefix, "fanout", lambda _df, n=parts: n)
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            got.append(sorted(fn(spark, SF).collect(), key=str))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert got[0] == got[1]
