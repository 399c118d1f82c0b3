"""Text source formats: CSV / JSON-lines round-trips (SURVEY.md §2.1 S2).

The reference stack ingests from whatever lands in the bucket — GeoTIFF
for rasters, but the metadata/telemetry side is CSV and JSON documents.
The engine's canonical storage is parquet; these keys prove the TEXT
formats round-trip losslessly through the engine's writers/readers, which
is where real pipelines break (timestamp formatting, float shortest-repr,
header/schema drift).

Production rules demonstrated here, stated once:
- **Explicit schema, never ``inferSchema``** — inference is an extra full
  read of the data AND a correctness hazard (a column of ints with one
  stray float flips the type by luck of sampling).  At 100 TB it is also
  the difference between a metadata-only plan and a 2× scan.
- **Explicit ``timestampFormat`` with sub-second precision** — the
  default format drops micros; a round-trip that silently truncates
  timestamps corrupts every event-time window downstream.
- Floats survive because Spark writes shortest-repr decimal and the
  parser returns the identical double (round-trip guarantee).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.det import dsum, sql_dsum
from ..io import load
from ..registry import register
from ..scratch import fresh

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)

_ORACLE = f"""
        SELECT COUNT(*) AS n_rows,
               {sql_dsum("value", "sum_value")},
               -- events.parquet carries nanos; the engine's io.load (and
               -- therefore the round-trip) is micros — truncate to match
               MIN(CAST(ts AS TIMESTAMP)) AS min_ts,
               MAX(CAST(ts AS TIMESTAMP)) AS max_ts,
               COUNT(DISTINCT user_id) AS n_users
        FROM events WHERE event_id % 5 = 0
"""


def _subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .where(F.col("event_id") % 5 == 0)
        .select("event_id", "user_id", "ts", "value")
    )


def _verify(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value", "sum_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register("source_csv_roundtrip", oracle=_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: CSV round-trip — write the event subset as headered CSV with a
    microsecond timestamp format, read it back with the EXPLICIT schema,
    and verify content (count, exact-decimal sum, timestamp min/max,
    distinct users) against the parquet source of truth via the oracle.
    A dropped micro, a locale-formatted float, or a header/schema slip
    breaks the value hash."""
    out = str(fresh("csv"))
    _subset(spark, sf_dir).write.mode("overwrite").option("header", "true").option(
        "timestampFormat", _TS_FMT
    ).csv(out)
    back = (
        spark.read.schema(_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .csv(out)
    )
    return _verify(back)


@register("source_jsonl_roundtrip", oracle=_ORACLE)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: JSON-lines round-trip — same contract as the CSV key through
    the JSON writer/reader (the metadata-document format the reference
    indexes).  Schema is explicit on read; JSON adds the field-order and
    null-omission hazards CSV doesn't have, and the identical oracle
    pins them."""
    out = str(fresh("jsonl"))
    _subset(spark, sf_dir).write.mode("overwrite").option(
        "timestampFormat", _TS_FMT
    ).json(out)
    back = (
        spark.read.schema(_SCHEMA).option("timestampFormat", _TS_FMT).json(out)
    )
    return _verify(back)


@register("source_fixed_width_roundtrip", oracle=_ORACLE)
def source_fixed_width_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+: FIXED-WIDTH round-trip — the legacy interchange format every
    long-lived ledger still emits (mainframe extracts, station telemetry):
    no delimiters, columns live at byte offsets.  Encoding is pure
    codegen (lpad zero-filled integers, the timestamp as zero-padded
    epoch micros, the double as right-space-padded SHORTEST REPR — the
    one fixed-width float encoding that loses nothing, since both the
    writer and the parser speak shortest-repr exactly); decoding is
    substring/trim/cast riding the text scan.  Same verification
    aggregate and oracle as the CSV/JSONL keys: a one-byte offset slip
    or a truncated float breaks the value hash."""
    out = str(fresh("fw"))
    # Field widths are int64-PROOF: Spark's lpad silently TRUNCATES a
    # value longer than the field (the r11 100x slice caught an 8-char
    # user_id field collapsing 150k 9-digit replica ids into 27k
    # distinct — a silent-wrong-answer class, not an error).  20 chars
    # holds any long (19 digits + sign); 26 holds any shortest-repr
    # double (max 24).  A width a value can exceed is the fixed-width
    # format's own fixed-literal-cap trap.
    line = F.concat(
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
        F.lpad(F.col("user_id").cast("string"), 20, "0"),
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.rpad(F.col("value").cast("string"), 26, " "),
    )
    _subset(spark, sf_dir).select(line.alias("value")).write.mode(
        "overwrite"
    ).text(out)
    back = spark.read.text(out).select(F.col("value").alias("line"))
    parsed = back.select(
        F.substring("line", 1, 20).cast("long").alias("event_id"),
        F.substring("line", 21, 20).cast("long").alias("user_id"),
        F.timestamp_micros(F.substring("line", 41, 20).cast("long")).alias("ts"),
        F.trim(F.substring("line", 61, 26)).cast("double").alias("value"),
    )
    return _verify(parsed)


_FOOTER_BUCKETS = 8


@register(
    "profile_parquet_footers",
    oracle=f"""
        SELECT CAST(event_id % {_FOOTER_BUCKETS} AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS num_rows,
               CAST(1 AS BIGINT) AS num_row_groups,
               CAST(2 AS BIGINT) AS n_columns
        FROM events GROUP BY 1
    """,
)
def profile_parquet_footers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+: distributed parquet-footer statistics — the manifest-build
    pass of every table format: write a bucket-partitioned table, then
    read ONLY the footers (pyarrow, executor-side via mapInPandas —
    never the data pages) to recover per-file row counts, row-group
    counts and schema width.  The oracle recomputes the expected counts
    from the SOURCE: bucket = event_id mod {_FOOTER_BUCKETS} is the
    partition key, one task holds each bucket, so each directory gets
    exactly one file whose footer must agree with a plain GROUP BY.
    Row-group count pins to 1 (files are far under the 128 MB group
    default) and column count to 2 (partition columns are directory
    metadata, not stored pages).  At 100 TB footer reads are
    #files-bounded and embarrassingly parallel — this is the cheap side
    of the storage layer."""
    import pandas as pd  # Arrow path only

    out = fresh("footers")
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "value",
        (F.col("event_id") % _FOOTER_BUCKETS).cast("long").alias("bucket"),
    )
    ev.repartition(_FOOTER_BUCKETS, "bucket").write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(str(out))
    files = [
        (int(d.name.split("=")[1]), str(p))
        for d in out.iterdir()
        if d.is_dir() and d.name.startswith("bucket=")
        for p in d.glob("*.parquet")
    ]
    paths = spark.createDataFrame(files, "bucket long, path string").repartition(
        _FOOTER_BUCKETS
    )

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for b, p in zip(pdf["bucket"], pdf["path"]):
                f = pq.ParquetFile(p)
                md = f.metadata
                rows.append(
                    (
                        int(b),
                        int(md.num_rows),
                        int(md.num_row_groups),
                        int(md.num_columns),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["bucket", "num_rows", "num_row_groups", "n_columns"]
            )

    return paths.mapInPandas(
        read_footers,
        schema="bucket long, num_rows long, num_row_groups long, n_columns long",
    )
