"""Distributed global rank and running sum (the two-pass parallel scan).

A ``ROW_NUMBER()`` or ``SUM(x) OVER (ORDER BY …)`` window with no
partition sorts its whole input in one task.  ``global_prefix`` returns
the same numbers from a two-pass scan (Blelloch, "Prefix Sums and Their
Applications", 1990): range-partition on the group and sort keys, rank and
sum within each slice in parallel, then add each slice's exclusive offset
from a per-slice rollup small enough to broadcast.  Within a group the
slice order is the sort order, because the group leads the range key, so
offset + local value is the global value whatever the slice count.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DecimalType

from ..io import fanout


def _add(a: Column, b: Column, dtype: DataType) -> Column:
    # two DECIMAL(38,s) addends need 39 digits, so Spark rounds the sum to
    # scale s-1; at 37 digits each the sum keeps its scale exactly
    if isinstance(dtype, DecimalType) and dtype.precision > 37:
        narrow = DecimalType(37, dtype.scale)
        a, b = a.cast(narrow), b.cast(narrow)
    return a + b


def global_prefix(
    df: DataFrame,
    order: Sequence[Column | str],
    by: Sequence[str] | None = None,
    sums: Mapping[str, Column | str] | None = None,
) -> DataFrame:
    """``df``'s columns plus ``rk`` (the 1-based rank in ``order`` within
    the ``by`` group), ``n`` (the rows in the group) and, for each
    ``name: column`` of ``sums``, ``name`` (the inclusive running sum) and
    ``name_total`` (the group total).  ``order`` must end on a unique key,
    or tied rows rank in no fixed order."""
    by, sums = list(by or []), dict(sums or {})
    # persisted: the rollup and the ranked rows both read this frame.
    # Unpinned, each re-executes the range exchange, and the two runs can
    # cut different slices (AQE plans the two pruned branches apart), so a
    # row's pid would no longer name the slice its offset was summed over.
    rp = (
        df.repartitionByRange(fanout(df), *by, *order)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    keys = [*by, "_pid"]
    run = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = rp.select(
        "*",
        F.row_number().over(run).alias("_l_rk"),
        *[F.sum(c).over(run).alias(f"_l_{k}") for k, c in sums.items()],
    )
    # one row per (group, slice): the only windows that span slices, and
    # the only partition-less one when there is no group, run over it
    parts = rp.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_p_rk"),
        *[F.sum(c).alias(f"_p_{k}") for k, c in sums.items()],
    )
    cols = {"rk": "n", **{k: f"{k}_total" for k in sums}}
    # one ordering, two frames: both plan as a single Window
    slices = Window.partitionBy(*by).orderBy("_pid")
    before = slices.rowsBetween(Window.unboundedPreceding, -1)
    whole = slices.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    offsets = parts.select(
        *[F.col(c).alias(f"_b{i}") for i, c in enumerate(by)],
        F.col("_pid").alias("_o_pid"),
        *[
            out
            for k, total in cols.items()
            for out in (
                F.coalesce(F.sum(f"_p_{k}").over(before), F.lit(0)).alias(f"_o_{k}"),
                F.sum(f"_p_{k}").over(whole).alias(total),
            )
        ],
    )
    # null-safe: a NULL group key is a group, not a row to drop
    on = [F.col("_pid") == F.col("_o_pid")] + [
        F.col(c).eqNullSafe(F.col(f"_b{i}")) for i, c in enumerate(by)
    ]
    types = {f.name: f.dataType for f in local.schema.fields}
    return local.join(F.broadcast(offsets), on).select(
        *df.columns,
        *[
            out
            for k, total in cols.items()
            for out in (
                _add(F.col(f"_o_{k}"), F.col(f"_l_{k}"), types[f"_l_{k}"]).alias(k),
                F.col(total),
            )
        ],
    )
