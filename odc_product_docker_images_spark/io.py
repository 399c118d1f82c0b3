"""Parquet scan/sink helpers (SURVEY.md §2.1 S1-S5).

Reference analog: ``Datacube.load`` = Postgres index lookup (spatiotemporal
predicate pushdown) + GDAL band reads (column pruning).  Parquet gives the
same two properties natively: Catalyst pushes filters into row-group
min/max skipping and prunes unread columns, so the engine's "scan" is just
``spark.read.parquet`` + declarative ``where``/``select`` — keep predicates
declarative and NEVER materialize before filtering.

Like the reference, which plans a load from its index's metadata, ``load``
infers a table's schema once (a footer-reading Spark job) and passes it to
every later read, so building a query starts no job.  It memoizes the
schema, never the DataFrame: each call lists the files and builds a fresh
relation, because a self-join of ONE DataFrame object cannot tell its two
sides apart (``a.k < b.k`` fails as ambiguous).

Scale notes (100 TB): real deployments should write the fact tables
partitioned by a time key (``partitionBy('ship_month')``-style) so static +
dynamic partition pruning replace the reference's Postgres extent index;
``maxPartitionBytes`` governs split sizing; no ``collect()`` on any path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .scratch import fixture_tag

# Tables whose feed-style timestamp column has shipped in different
# physical forms across fixture generations: TIMESTAMP(NANOS) int64 (which
# Spark's vectorized reader rejects outright, [PARQUET_TYPE_ILLEGAL] —
# handled via the legacy nanos-as-long conf + declarative truncation to
# micros) and plain micros with isAdjustedToUTC=false (which Spark infers
# as TIMESTAMP_NTZ).  Both are normalized to the session-zone TIMESTAMP the
# engine uses everywhere (session tz is pinned UTC, so the NTZ cast is
# value-preserving) — still one codegen'd scan, no Python in the path.
_NANOS_TS: dict[str, list[str]] = {"events": ["ts"]}

# Session confs, besides the nanos one ``load`` pins, that change what
# parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# (table path, inference confs) -> (fixture_tag when inferred, schema);
# a rewritten table has a new tag and is inferred again.
_SCHEMAS: dict[tuple[str, tuple[str, ...]], tuple[str, StructType]] = {}


def fanout(obj: SparkSession | DataFrame) -> int:
    """Scale-adaptive partition count for explicit fan-out repartitions
    (r12, guide §2.5 "derive partitioning from the environment, not a
    constant"): ``defaultParallelism`` == the master's core count on
    ``local[N]`` and total executor cores on a cluster, so the
    single-file-input fan-outs and the distributed prefix-sum stages
    track the box they run on instead of a literal core count.  A
    lower-core run gets fewer, fuller partitions and a real cluster gets
    its own width, never fewer than the configured shuffle width (the
    floor below).

    Result-invariance contract (why the count is a free parameter at
    every call site): round-robin/hash fan-outs feed order-insensitive
    aggregates or key-partitioned windows, and the prefix-sum sites
    (``functions.prefix.global_prefix``) derive their global ranks as
    (local rank + per-pid offset) where the offsets come from the ACTUAL
    pids of the materialized partitioning — the reconstruction depends
    only on the global sort order, never on how many range slices
    carried it.  Sites where a count feeds results
    (bucketed-layout bucket counts, versioned-table file counts, stream
    feed ntile) keep their literals and are NOT routed through here.

    Dynamic-allocation floor (r13, r12 ADVICE): on a cluster with dynamic
    allocation, ``defaultParallelism`` at plan-build time reflects only
    the executors registered SO FAR (can be a handful at startup), not
    the steady-state width — so the configured shuffle width acts as a
    floor.  On local[N] the result is max(N, shuffle width)."""
    spark = obj if isinstance(obj, SparkSession) else obj.sparkSession
    try:
        shuffle_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuffle_w = 1  # non-numeric (unbound AQE form): defer to defaultParallelism
    return max(spark.sparkContext.defaultParallelism, shuffle_w)


def table_rows(sf_dir: str, table: str) -> int:
    """Exact row count of a fixture table from parquet FOOTER metadata —
    the same integer ``load(...).count()`` returns, without a Spark job
    (r13, guide §5 "the driver should do almost no data work": the
    sizing/audit-gate counts are planning metadata, and at 100 TB a
    ``count()`` is a full scan job; footers are a few KB per file).
    Only valid for RAW-table counts — any filtered/derived frame must
    keep its Spark-side count."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, fn)
            for root, _dirs, fns in os.walk(path)
            for fn in fns
            if fn.endswith(".parquet")
        )
    else:
        files = [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Scan one fixture table."""
    nanos_cols = _NANOS_TS.get(table, [])
    # session-wide, so set on every load: the memo never holds a schema
    # inferred under the other value
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{table}.parquet"
    key = (path, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    tag = fixture_tag(sf_dir, table)
    if key not in _SCHEMAS or _SCHEMAS[key][0] != tag:
        _SCHEMAS[key] = (tag, spark.read.parquet(path).schema)
    schema = _SCHEMAS[key][1]
    df = spark.read.schema(schema).parquet(path)
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    for c in nanos_cols:
        if types.get(c) == "bigint":
            # int64 nanos — integer `div`, not `/`: nanos exceed double's
            # 53-bit mantissa
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif types.get(c) == "timestamp_ntz":
            # micros, isAdjustedToUTC=false — same wall-clock under the
            # pinned UTC session zone
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite") -> None:
    """Partitioned parquet sink (S4 COG/S3-sink analog).

    Reference: per-band GeoTIFF written under a deterministic key prefix and
    uploaded to S3; idempotency via key naming.  Spark analog: directory
    layout IS the index (partition values become pruning predicates for
    readers), ``mode=overwrite`` gives the same idempotent-by-key semantics.
    """
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)
