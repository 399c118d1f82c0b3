"""Bucketed tables — the shuffle-free big⋈big join (SURVEY.md §4
"co-located joins"; reference analog ⟨pub⟩: the datacube's spatially
aligned tile storage, where two products gridded the same way join
tile-by-tile with no data movement).

``bucketBy(N, key)`` at write time hash-partitions rows into N bucket
files per directory and records the layout in the catalog; a join of two
tables bucketed the same way on the join key needs NO Exchange on either
side — at 100 TB this converts the nightly fact⋈fact reconciliation from
a double full-table shuffle into a purely local merge per bucket.
``sortBy`` additionally pre-sorts within buckets (parquet row-group
min/max clustering; Spark ≥3.0 re-sorts on read regardless — the sorted
scan shortcut is legacy-conf gated, and sorting n/16 rows per task is
cheap next to moving n rows).  The only shuffle left in the plan is the
final rollup's.

Bucketed writes require the table catalog (path-based parquet cannot
record bucket metadata), so the tables are EXTERNAL — data lives in a
``scratch.fresh`` directory written once per session, alongside the
per-session catalog entry.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import dsum, sql_dsum
from ..io import load
from ..registry import register
from ..scratch import fresh

# 32 = the local core budget: bucket count bounds the parallelism of every
# shuffle-free consumer (bucket = partition), so fewer buckets than cores
# leaves cores idle.  On a cluster this is sized to O(total cores).
_BUCKETS = 32


def _ensure_bucketed(
    spark: SparkSession, sf_dir: str, table: str, key: str
) -> str:
    """Create (once per session and fixture dir) an external bucketed copy
    of a fixture table; returns the catalog name."""
    # the tag must carry EVERY layout degree of freedom — same table
    # bucketed by a different key or count is a different physical table
    # (a collision here silently hands a consumer data clustered on the
    # wrong key, which breaks bucket=group co-location, not just speed)
    tag = hashlib.md5(f"{sf_dir}:{table}:{key}:{_BUCKETS}".encode()).hexdigest()[:8]
    name = f"bkt_{table}_{tag}"
    if not spark.catalog.tableExists(name):
        (
            load(spark, sf_dir, table)
            # repartition on the bucket key with the bucket count: writer
            # hash == bucketing hash, so each task owns exactly ONE bucket
            # and each bucket is ONE file — multi-file buckets void the
            # sortBy guarantee and the join re-sorts its inputs
            .repartition(_BUCKETS, F.col(key))
            .write.bucketBy(_BUCKETS, key)
            .sortBy(key)
            .option("path", str(fresh(name)))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
    return name


@register(
    "table_bucketed_join",
    oracle=f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_lines,
               {sql_dsum("l.l_quantity", "sum_qty")},
               MAX(l.l_orderkey) AS max_key
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o_orderpriority
    """,
)
def table_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big⋈big with ZERO join-side shuffle: both fact tables are stored
    bucketed (16 buckets) and sorted on the join key, so the SortMergeJoin
    reads co-located buckets directly — the plan's only Exchange is the
    final rollup's (pinned in tests/test_plans.py).  The oracle runs the
    same join on the flat fixtures: bucketing must never change results,
    only movement."""
    li = _ensure_bucketed(spark, sf_dir, "lineitem", "l_orderkey")
    od = _ensure_bucketed(spark, sf_dir, "orders", "o_orderkey")
    j = spark.table(li).join(
        spark.table(od), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_quantity", "sum_qty"),
        F.max("l_orderkey").alias("max_key"),
    )
