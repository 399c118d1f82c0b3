"""Runtime row/partition filtering — the two classic 100 TB shuffle-dodges
(SURVEY.md §2.4 join family extension).

Reference analog: the reference engine's planner pushes dimension
predicates into the fact scan before any data moves (⟨pub⟩ datacube-core's
Postgres extent query plays this role for `dc.load`).  On Spark the same
move has two forms, both expressed here as explicit relational plans so
the mechanism is visible and testable:

- **Bloom-filter pre-filter** (`join_bloom_prefilter`): when the dim side
  is too big to broadcast *as rows* but its key set compresses into a few
  KB of bitmap, ship the bitmap instead and drop non-matching fact rows
  MAP-SIDE, before the shuffle.  Spark 3.3+ does an automatic version of
  this (runtime bloom filter join); the hand-built plan keeps it
  deterministic and engine-independent.
- **Dynamic partition pruning** (`join_partition_pruned`): when the fact
  table is partitioned on the join key, a selective dim filter prunes
  entire partitions at scan time — the planner's
  ``dynamicpruningexpression`` subquery.  At 100 TB this is the difference
  between scanning 7 years and scanning 3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import dsum_fast, sql_dsum
from ..io import load
from ..registry import register
from ..scratch import artifact, fixture_tag

# Bloom geometry: 1024 words x 64 bits = 65_536 bits, k=2 hash probes.
# Urgent orders at sf0.01 ~= 3k keys -> ~21 bits/key -> FP rate ~0.8%;
# the exact verify join removes false positives, so geometry only affects
# how much work the pre-filter saves, never the answer.
_WORDS = 1024
_BITS = _WORDS * 64


def _probe(key: str, salt: int):
    """(word_idx, bit) Bloom probe for one hash function.

    Two independent hash functions from one primitive: ``xxhash64(key,
    salt)`` for distinct salt literals.  The bit shift runs through a SQL
    ``shiftleft`` expression because the PySpark wrapper only accepts a
    Python-int shift amount.  Hashes never need a DuckDB twin — the Bloom
    stage is transparent to the oracle (exact semantics are restored by
    the verify join).
    """
    pos = F.pmod(F.xxhash64(F.col(key), F.lit(salt)), F.lit(_BITS))
    word_idx = F.floor(pos / 64).cast("long")
    bit = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64({key}, {salt}), {_BITS}) % 64 AS INT))"
    )
    return word_idx, bit


@register(
    "join_bloom_prefilter",
    oracle=f"""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               {sql_dsum('l_quantity', 'sum_qty')}
        FROM lineitem
        WHERE l_orderkey IN (
            SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        GROUP BY l_returnflag
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: semi-join lineitem against urgent orders THROUGH a hand-built
    Bloom filter.  Plan: (1) build the bitmap relationally — each dim key
    emits k=2 (word_idx, bit) probes, ``bit_or`` folds them into 1024
    64-bit words (a 8 KB table, broadcastable at ANY dim cardinality);
    (2) fact rows probe the broadcast bitmap twice (two broadcast
    equi-joins on word_idx + a bitwise AND filter each) — both probes are
    MAP-SIDE, no fact shuffle; (3) the surviving ~20% of rows take the
    exact semi-join that removes Bloom false positives.  At 100 TB the
    final shuffle moves only survivors — the bitmap did the heavy
    elimination at scan-adjacent cost.  Oracle: the Bloom stage is
    semantically invisible, so the oracle is the plain semi-join.
    """
    li = load(spark, sf_dir, "lineitem")
    dim = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    # Bitmap build: k probes per key -> bit_or per word.  The explode is
    # over a 2-element literal array (cheap); the agg output is <= 1024
    # rows regardless of dim size.
    probes = []
    for salt in (0, 1):
        w, b = _probe("o_orderkey", salt)
        probes.append(F.struct(w.alias("word_idx"), b.alias("bit")))
    bloom = (
        dim.select(F.explode(F.array(*probes)).alias("p"))
        .groupBy(F.col("p.word_idx").alias("word_idx"))
        .agg(F.expr("bit_or(p.bit)").alias("word"))
    )
    # Probe stage: two broadcast joins, each checks one hash position.
    filtered = li
    for salt in (0, 1):
        w, b = _probe("l_orderkey", salt)
        bl = F.broadcast(bloom).withColumnRenamed("word_idx", f"wi{salt}").withColumnRenamed(
            "word", f"wd{salt}"
        )
        filtered = filtered.join(bl, w == F.col(f"wi{salt}"), "inner").where(
            (F.col(f"wd{salt}").bitwiseAND(b)) != 0
        ).drop(f"wi{salt}", f"wd{salt}")
    # Exact verify: false positives out.  left_semi keeps fact columns.
    exact = filtered.join(dim, filtered["l_orderkey"] == dim["o_orderkey"], "left_semi")
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum_fast("l_quantity", "sum_qty"),
    )


_PRUNE_YEARS = (1999, 2000, 2001)


@register(
    "join_partition_pruned",
    oracle=f"""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               {sql_dsum('l_extendedprice', 'sum_price')}
        FROM lineitem
        WHERE EXTRACT(year FROM l_shipdate) IN {_PRUNE_YEARS!r}
        GROUP BY l_returnflag
    """,
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13/S4+: dynamic partition pruning over a year-partitioned fact
    copy.  The fact table is written ONCE per sf_dir partitioned by
    ``ship_year`` (hive-style directories — the layout a real deployment
    maintains for its time-keyed facts); the query joins it to a tiny
    year-dimension carrying an ``era`` attribute and filters on the
    ATTRIBUTE, not the year — so static pruning can't apply and the
    planner must inject a ``dynamicpruningexpression`` subquery: the dim
    is evaluated first and only the 3 matching year-directories are ever
    scanned.  At 100 TB that is a 4/7 scan reduction decided at runtime.
    Oracle: the dim is a literal encoding ``era='modern' ⇔ year ∈
    {1999,2000,2001}``, so the SQL twin is the direct year predicate.
    """

    def build(path: str) -> None:
        (
            load(spark, sf_dir, "lineitem")
            .withColumn("ship_year", F.year("l_shipdate"))
            .repartition("ship_year")
            .write.mode("overwrite")
            .partitionBy("ship_year")
            .parquet(path)
        )

    fact = spark.read.parquet(artifact("dpp_lineitem", build, fixture_tag(sf_dir)))
    year_dim = spark.createDataFrame(
        [(y, "modern" if y in _PRUNE_YEARS else "legacy") for y in range(1995, 2002)],
        "dim_year INT, era STRING",
    )
    joined = fact.join(
        F.broadcast(year_dim.where(F.col("era") == "modern")),
        fact["ship_year"] == F.col("dim_year"),
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum_fast("l_extendedprice", "sum_price"),
    )
