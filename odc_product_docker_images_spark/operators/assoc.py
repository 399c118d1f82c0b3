"""Association-rule mining over order baskets (SURVEY.md §2.3/§2.10
extension — the co-occurrence analytics tier next to the co-purchase
graph keys).

One frequent-pair pass of Apriori: the (order, item) grid self-joins into
co-occurring pairs, a minimum-support threshold prunes the tail BEFORE
any ratio math (the Apriori property: no superset of an infrequent pair
is frequent), and support / confidence / lift come out of exact integer
counts.  The grid is a write-once scratch artifact: pairs (two aliases),
item counts, and the basket total all consume it, and Spark lineage would
otherwise re-run the distinct per consumer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import dround, sql_dround
from ..io import load
from ..registry import register
from ..scratch import artifact, fixture_tag

_MIN_SUPPORT = 3  # absolute basket count (63 surviving rules at sf0.01)


@register(
    "agg_assoc_rules",
    oracle=f"""
        WITH grid AS (
            SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
            FROM lineitem
        ), n AS (
            SELECT CAST(COUNT(DISTINCT basket) AS DOUBLE) AS n_baskets FROM grid
        ), items AS (
            SELECT item, COUNT(*) AS c FROM grid GROUP BY item
        ), pairs AS (
            SELECT a.item AS u, b.item AS v, COUNT(*) AS c_both
            FROM grid a JOIN grid b
              ON a.basket = b.basket AND a.item < b.item
            GROUP BY a.item, b.item
            HAVING COUNT(*) >= {_MIN_SUPPORT}
        )
        SELECT u, v, c_both,
               iu.c AS c_u, iv.c AS c_v,
               {sql_dround('CAST(c_both AS DOUBLE) / n_baskets')} AS support,
               {sql_dround('CAST(c_both AS DOUBLE) / CAST(iu.c AS DOUBLE)')} AS confidence,
               {sql_dround('(CAST(c_both AS DOUBLE) * n_baskets) / (CAST(iu.c AS DOUBLE) * CAST(iv.c AS DOUBLE))')} AS lift
        FROM pairs
        JOIN items iu ON pairs.u = iu.item
        JOIN items iv ON pairs.v = iv.item
        CROSS JOIN n
    """,
)
def agg_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21: frequent-pair association rules u→v over order baskets:
    support = P(u,v), confidence = P(v|u), lift = P(u,v)/(P(u)P(v)).
    The min-support HAVING prunes infrequent pairs straight out of the
    pair aggregation (map-side partial counts collapse the per-basket
    pair explode before it shuffles); item marginals ride two equi-joins
    against the item-count table; the basket total is a broadcast 1-row
    cross join.  All counts are exact integers; the three ratios take the
    decimal round path (quotients of small ints are the midpoint trap).
    At 100 TB the basket grid is bounded by basket size × basket count
    and the pair table by the support threshold — the standard Apriori
    scaling argument."""

    def build(path: str) -> None:
        (
            load(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item"))
            .distinct()
            .write.mode("overwrite")
            .parquet(path)
        )

    grid = spark.read.parquet(artifact("basket_grid", build, fixture_tag(sf_dir)))
    # r12 (guide §2.1/§3.4): the pair stage was a basket self-join that
    # consumed the grid TWICE and the item marginals re-aggregated once
    # per join side — 5 grid scans per run.  Baskets are bounded (order
    # line count), so pairs now explode from a per-basket sorted array;
    # the persisted basket frame also serves the basket total (row count
    # == COUNT(DISTINCT basket)) and the item marginals (explode + count
    # == the per-item grid count).  Same exact integers everywhere.
    baskets = (
        grid.groupBy("basket")
        .agg(F.sort_array(F.collect_list("item")).alias("items"))
        .persist()
    )
    n = baskets.agg(F.count(F.lit(1)).cast("double").alias("n_baskets"))
    items = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # grid rows are distinct → per-basket items strictly increasing; the
    # index-aware transform pairs each u < v once (explicit 2-arg lambda,
    # not the defaulted-param index trap).
    pair_structs = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + F.lit(2), F.size(F.col("items"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("e"))
        .groupBy(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("c_both"))
        .where(F.col("c_both") >= _MIN_SUPPORT)
    )
    iu = items.select(F.col("item").alias("u"), F.col("c").alias("c_u"))
    iv = items.select(F.col("item").alias("v"), F.col("c").alias("c_v"))
    both = F.col("c_both").cast("double")
    return (
        pairs.join(iu, "u")
        .join(iv, "v")
        .crossJoin(F.broadcast(n))
        .select(
            "u",
            "v",
            "c_both",
            "c_u",
            "c_v",
            dround(both / F.col("n_baskets")).alias("support"),
            dround(both / F.col("c_u").cast("double")).alias("confidence"),
            dround(
                (both * F.col("n_baskets"))
                / (F.col("c_u").cast("double") * F.col("c_v").cast("double"))
            ).alias("lift"),
        )
    )
