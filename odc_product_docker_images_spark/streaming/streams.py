"""Structured Streaming surface (SURVEY.md §2.9 T1-T8).

Reference analog: the per-product worker loop — ``BRPOP`` a job from Redis,
process one scene, write output, ack.  That is an at-least-once task stream
with no event-time semantics.  Here the same incremental-processing intent
becomes a real stream: file-source micro-batches (new scene files = new
events), event-time watermarks for late scenes, windowed/sessionized
aggregation as the incremental composite, stateful dedup for at-most-once
ingest, and ``foreachBatch`` as the idempotent partitioned sink (the
COG/S3 upload analog).

Scale notes: state stores shard by the grouping key across executors;
watermarks bound state size (without one, window state grows forever).
``availableNow`` triggers give batch-like catch-up runs with streaming
semantics — the exact shape of a scene-backlog reprocessing job.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# File-source schema: ts arrives as int64 nanos (see io.py) and is converted
# to a micros timestamp in the stream's first projection.
RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stage_events_dir(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> str:
    """Stage the events table as a directory of time-ordered parquet files —
    the replayable 'scene arrival' feed used by tests and demos.  Files are
    split by time range so maxFilesPerTrigger=1 replays history in order
    (late-data tests depend on this)."""
    from ..io import load

    ev = load(spark, sf_dir, "events")
    # same physical form as the source feed: int64 nanos (Spark would
    # otherwise write INT96 and the stream's declared schema wouldn't match)
    ev = ev.withColumn("ts", F.unix_micros("ts") * 1000)
    ev = ev.withColumn("bucket", F.ntile(n_files).over(Window.orderBy("ts")))
    for i in range(1, n_files + 1):
        (
            ev.where(F.col("bucket") == i)
            .drop("bucket")
            .coalesce(1)
            .write.mode("overwrite" if i == 1 else "append")
            .parquet(out_dir)
        )
    return out_dir


def write_feed_file(
    feed_dir: str, idx: int, rows: list[tuple[int, int, str, str, float]]
) -> None:
    """Write one deterministic feed file of (event_id, user_id, iso_ts,
    event_type, value) rows with a PINNED mtime: FileStreamSource orders
    batches by modification time and sub-second writes can land out of
    order — ``os.utime`` makes replay order reproducible."""
    import datetime as dt
    import os
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    Path(feed_dir).mkdir(parents=True, exist_ok=True)
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [
                    int(dt.datetime.fromisoformat(r[2]).timestamp() * 1_000_000_000)
                    for r in rows
                ],
                pa.int64(),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    # write under a temp name, pin mtime, THEN rename: the running
    # FileStreamSource lists the directory concurrently and must never see
    # a half-written footer (it would also pick up a temp-suffixed name,
    # so the temp name carries no parquet extension and a leading dot)
    path = Path(feed_dir) / f"{idx:02d}.parquet"
    tmp = Path(feed_dir) / f".{idx:02d}.inprogress"
    pq.write_table(tbl, tmp)
    os.utime(tmp, (1_700_000_000 + idx * 3600, 1_700_000_000 + idx * 3600))
    os.rename(tmp, path)


def events_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S3-as-stream: the job-queue source re-expressed as a file stream."""
    reader = spark.readStream.schema(RAW_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(src_dir)
    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def tumbling_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T1+T4: watermarked tumbling aggregation — append mode emits a window
    only once the watermark passes its end; later arrivals are dropped."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionized(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """T3 streaming form: merging session windows per user."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "user_id",
            "n",
        )
    )


def dedup_ids(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T5: stateful exactly-once by event id, state bounded by watermark —
    the job-ledger idempotency check as an engine primitive."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _running_per_user(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


def stateful_running_totals(stream: DataFrame) -> DataFrame:
    """T6: arbitrary stateful processing (``applyInPandasWithState``) — a
    per-user running ledger, the generalization the reference's Redis
    counters would need.  State lives in the store, sharded by key.

    Spark 4's successor API (``transformWithStateInPandas`` +
    ``StatefulProcessor`` ValueState) was prototyped and works identically
    here, but its driver worker needs ``google.protobuf``, which this
    container lacks — so the stable applyInPandasWithState form is the
    registered surface."""
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_per_user,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def drain_to_memory(
    spark: SparkSession,
    sdf: DataFrame,
    output_mode: str,
    feed_dir: str | None = None,
    batches: Sequence[list[tuple[int, int, str, str, float]]] = (),
) -> DataFrame:
    """Run ``sdf`` into a memory sink under ``small_state`` and return the
    sink table.  The query first drains whatever its source already holds;
    then each of ``batches`` lands in ``feed_dir`` (``write_feed_file``)
    and is drained before the next — files must ARRIVE between
    ``processAllAvailable`` calls to pin micro-batch boundaries, since
    pre-existing files are planned as one batch at the epoch-0 watermark.
    The query is stopped even when a step raises."""
    name = "mem_" + uuid.uuid4().hex[:8]
    with small_state(spark):
        q = sdf.writeStream.format("memory").queryName(name).outputMode(output_mode).start()
        try:
            q.processAllAvailable()
            for idx, rows in enumerate(batches):
                write_feed_file(feed_dir, idx, rows)
                q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def foreach_batch_sink(stream: DataFrame, out_path: str, checkpoint: str):
    """T8: idempotent partitioned sink via foreachBatch — the COG/S3 upload
    analog (S4): each micro-batch writes date-partitioned parquet; replays
    overwrite the same partitions (idempotent-by-key naming)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("date", F.to_date("ts"))
            .write.mode("append")
            .partitionBy("date")
            .parquet(out_path)
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_stream_join(
    clicks: DataFrame, purchases: DataFrame, within: str = "30 minutes"
) -> DataFrame:
    """T7+: stream-stream interval join — attribute each purchase to clicks
    by the same user within the preceding window.  Both sides carry
    watermarks so the join state is bounded: a click older than
    (watermark - interval) can never match again and is evicted.  This is
    the scene⋈scene epoch-correlation pattern with real streaming state."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
    ).withWatermark("c_ts", "10 minutes")
    p = purchases.select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    ).withWatermark("p_ts", "10 minutes")
    return p.join(
        c,
        F.expr(
            f"c_user = p_user AND c_ts BETWEEN p_ts - INTERVAL {within} AND p_ts"
        ),
        "inner",
    )


@contextmanager
def small_state(spark, n: int = 4):
    """Size streaming STATE partitioning to the literal demo feeds.

    A stateful streaming query fixes its state-store partition count from
    ``spark.sql.shuffle.partitions`` at first start (the checkpoint pins
    it), and every micro-batch then instantiates/commits EVERY state
    partition — for the 3-5-row deterministic feeds these keys replay,
    32 partitions × 3 batches is pure state-store overhead (measured 2×
    the whole key: 4.0-4.7 s → 2.0-2.3 s for stream_watermark at n=4).
    At scale the same dial goes the other way: size it to keys-in-state,
    not to the batch session's shuffle width.  Restores the session conf
    on exit; wrap the ENTIRE query lifetime (start → stop), since the
    plan captures the value at start."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def ohlc_bars(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T1+/A14 streaming form: per-window OHLC bars — ORDER-DEPENDENT
    open/close via min_by/max_by over the packed (epoch-sec, event_id)
    key inside a watermarked tumbling window.  min_by/max_by are
    declarative aggregates, so the incremental state is one (value, key)
    pair per bar side — the stream maintains bars exactly like counts."""
    okey = F.unix_timestamp("ts") * F.lit(10_000_000) + F.col("event_id")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by("value", okey).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", okey).alias("close"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type", "n", "open", "high", "low", "close",
        )
    )
