"""Custom Python STREAMING Data Source (SURVEY.md §2.1 S2 × §2.9).

`tile_source.py` is the batch half of the Datacube-load bridge; this is
the streaming half — the reference's queue-driven ingest (SQS messages →
scene arrivals) as a PySpark 4 ``DataSourceStreamReader``.  The source
tracks an OFFSET (the scene-arrival sequence number), plans one input
partition per offset range per micro-batch, and Spark's checkpointing
gives exactly-once: a restarted query resumes from the committed offset
and never re-reads an arrival.

The feed content is a deterministic function of (batch, i) — the stand-in
for real queue payloads — so the END STATE of the windowed aggregation
carries a FULL value-hash oracle: run the stream to its horizon with
``Trigger.AvailableNow``, and the complete-mode state must equal DuckDB's
arithmetic over the whole feed.  That is the same verify-the-fixpoint
pattern the other streaming keys use, applied to a source the engine
OWNS end to end.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..functions.det import dec_cast, exact_double, sql_dsum
from ..registry import register

_BATCHES = 6
_ROWS = 200

# The feed's rows.  ``source_stream_feed`` passes it to ``readStream.schema``:
# a Python source asked for its schema at load time starts a Python worker.
FEED_SCHEMA = "batch int, sensor int, value double"


class _OffsetRange(InputPartition):
    def __init__(self, batch: int):
        self.batch = batch


class FeedStreamReader(DataSourceStreamReader):
    """One offset per arrival batch; content derived from (batch, i)."""

    def __init__(self, options: dict):
        self.n_batches = int(options.get("batches", str(_BATCHES)))
        self.rows_per = int(options.get("rows", str(_ROWS)))
        self.per_poll = int(options.get("per_poll", "2"))

    def initialOffset(self) -> dict:
        return {"batch": 0}

    def latestOffset(self) -> dict:
        # The queue's current high-water mark; a real bridge would poll
        # SQS/Kafka here.  The mark ADVANCES by per_poll on each planner
        # poll (the reader instance lives for the query's lifetime), so
        # the query executes REAL successive micro-batches with offset
        # ranges — Python sources don't support Trigger.AvailableNow
        # (Spark would fall back to one batch and the offset machinery
        # would never be exercised past a single range).
        self._hwm = min(getattr(self, "_hwm", 0) + self.per_poll, self.n_batches)
        return {"batch": self._hwm}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return [_OffsetRange(b) for b in range(start["batch"], end["batch"])]

    def read(self, partition: _OffsetRange) -> Iterator[tuple]:
        b = partition.batch
        for i in range(self.rows_per):
            sensor = (b * 7 + i) % 5
            value = float((b * 31 + i * 17) % 1000) / 10.0
            yield (b, sensor, value)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the Spark checkpoint; nothing external


class SyntheticFeedSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_feed"

    def schema(self) -> str:
        return FEED_SCHEMA

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return FeedStreamReader(self.options)


def register_feed_source(spark: SparkSession) -> None:
    spark.dataSource.register(SyntheticFeedSource)


@register(
    "source_stream_feed",
    oracle=f"""
        WITH feed AS (
            SELECT b.range AS batch,
                   CAST((b.range * 7 + i.range) % 5 AS INTEGER) AS sensor,
                   CAST((b.range * 31 + i.range * 17) % 1000 AS DOUBLE) / 10.0 AS value
            FROM RANGE(0, {_BATCHES}) b CROSS JOIN RANGE(0, {_ROWS}) i
        )
        SELECT sensor, COUNT(*) AS n, {sql_dsum("value", "sum_value")},
               MAX(batch) + 1 AS n_batches
        FROM feed GROUP BY sensor
    """,
)
def source_stream_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2×T9: drain the custom Python streaming source into a
    complete-mode per-sensor aggregate — the queue-worker loop on a
    source the engine owns.  The high-water mark advances two arrivals
    per planner poll, so the run executes THREE successive real
    micro-batches (offset ranges [0,2), [2,4), [4,6) — pinned in
    tests/test_streaming.py via the query's progress log); the
    decimal-cast sum keeps the incrementally-folded state bit-identical
    to the one-shot aggregation however the offsets split.
    sf-independent by design (the feed is synthetic — the key verifies
    the SOURCE machinery, not fixture volume)."""
    from ..streaming import streams as S

    register_feed_source(spark)
    # COUNT(DISTINCT) is unsupported in streaming aggregations; every
    # sensor sees every batch by construction, so MAX(batch)+1 is the
    # exact batch count and streaming-safe (oracle mirrors it).
    agg = (
        spark.readStream.format("synthetic_feed")
        .schema(FEED_SCHEMA)
        .load()
        .groupBy("sensor")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec_cast("value")).alias("dec_sum"),
            (F.max("batch") + 1).cast("long").alias("n_batches"),
        )
        .select(
            "sensor", "n", exact_double(F.col("dec_sum")).alias("sum_value"), "n_batches"
        )
    )
    # the high-water mark advances 2 arrivals per poll, so the drain runs
    # the horizon in 3 REAL micro-batches, then idles and returns
    return S.drain_to_memory(spark, agg, "complete").select(
        "sensor", "n", "sum_value", "n_batches"
    )
