"""Batch-expressible forms of the streaming surface (SURVEY.md §2.9 T1-T3,
T5, T7).

Reference analog: the ODC stack has NO event-time streaming — its Redis
queue is an at-least-once task stream (one job per new scene) with no
watermarks or windows.  The engine upgrades that to Structured Streaming
(streams.py); these batch twins pin the WINDOW SEMANTICS to DuckDB oracles,
because the same ``window``/``session_window`` expressions drive both the
batch and streaming plans in Spark — verifying the batch form verifies the
aggregation logic the stream runs incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import dsum, sql_dsum
from ..io import load
from ..registry import register
from ..scratch import fresh


@register(
    "stream_tumbling",
    oracle=f"""
        SELECT DATE_TRUNC('hour', ts) AS w_start,
               DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR AS w_end,
               event_type,
               COUNT(*) AS n,
               {sql_dsum("value", "sum_value")}
        FROM events
        GROUP BY DATE_TRUNC('hour', ts), event_type
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: tumbling 1-hour windows — the scene-cadence rollup the reference
    approximates with per-job time chunks."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "stream_sliding",
    oracle=f"""
        SELECT TIME_BUCKET(INTERVAL '15 minutes', ts) - k.off * INTERVAL '15 minutes'
                 AS w_start,
               TIME_BUCKET(INTERVAL '15 minutes', ts) - k.off * INTERVAL '15 minutes'
                 + INTERVAL 1 HOUR AS w_end,
               event_type,
               COUNT(*) AS n,
               {sql_dsum("value", "sum_value")}
        FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(off)
        GROUP BY 1, 2, event_type
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: sliding windows (1 h length, 15 min slide) — each event lands in
    exactly 4 epoch-aligned windows; the oracle reconstructs them by
    offsetting the 15-minute bucket."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "stream_session",
    oracle=f"""
        WITH lagged AS (
            SELECT user_id, ts, value,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events
        ), flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM lagged
        ), sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT MIN(ts) AS s_start,
               MAX(ts) + INTERVAL 30 MINUTE AS s_end,
               user_id,
               COUNT(*) AS n,
               {sql_dsum("value", "sum_value")}
        FROM sessions
        GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: session windows (30 min gap) per user.  Spark merges events whose
    ``[ts, ts+gap)`` windows OVERLAP — a gap of exactly 30 min starts a new
    session, which the oracle mirrors with ``>= INTERVAL 30 MINUTE``
    (SURVEY §7 hard-part 4)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "user_id",
            "n",
            "sum_value",
        )
    )


@register(
    "stream_dedup",
    oracle="""
        SELECT event_type, COUNT(*) AS n_unique
        FROM (SELECT DISTINCT event_id, event_type FROM events)
        GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 batch twin: exactly-once by event id — the streaming form is
    ``dropDuplicatesWithinWatermark(['event_id'])`` (streams.py, tested with
    a MemorySink); the batch form pins the id-dedup semantics."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select("event_id", "event_type")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


@register(
    "stream_static_join",
    oracle=f"""
        SELECT c_mktsegment, COUNT(*) AS n_events, {sql_dsum("value", "sum_value")}
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 batch twin: enrich the event stream with a static dimension —
    in streaming this is stream⋈static (broadcast, no state); semantics
    identical to the batch join."""
    ev = load(spark, sf_dir, "events")
    cu = load(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(cu), ev.user_id == cu.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
    )


@register(
    "stream_stateful_ledger",
    oracle="""
        WITH feed(batch, user_id, value) AS (VALUES
            (0, 1, 1.0), (0, 1, 2.0), (0, 2, 5.0),
            (1, 1, 1.0), (1, 3, 7.0)
        ), per AS (
            SELECT batch, user_id, COUNT(*) AS n, SUM(value) AS s
            FROM feed GROUP BY 1, 2
        )
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(SUM(n) OVER w AS BIGINT) AS n_events,
               SUM(s) OVER w AS total_value
        FROM per
        WINDOW w AS (PARTITION BY user_id ORDER BY batch)
    """,
)
def stream_stateful_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 as a registered key: ``applyInPandasWithState`` per-user running
    ledger (streams.py:stateful_running_totals) driven over a two-batch
    deterministic feed.  Update mode emits each touched user's state per
    micro-batch: batch 1 touches users 1,2 → 2 rows; batch 2 touches users
    1,3 → 2 rows (user 1's ledger now accumulated across batches) — exactly
    4 rows with fixed values, regardless of timing.

    FULL oracle (r3): update-mode output IS the per-batch cumulative state
    of each user touched in that batch — a running-window aggregation over
    the (batch, user) groups of the literal feed, which SQL expresses
    exactly.  The state machine's semantics, not just its row count, are
    hash-gated (the feed values are small binary-exact doubles, so the
    running sums carry no float-order ambiguity)."""
    from . import streams as S

    feed = str(fresh("ledger"))
    totals = S.stateful_running_totals(S.events_stream(spark, feed))
    sink = S.drain_to_memory(spark, totals, "update", feed, [
        [(1, 1, "2024-01-01T10:00:00", "click", 1.0),
         (2, 1, "2024-01-01T10:05:00", "click", 2.0),
         (3, 2, "2024-01-01T10:10:00", "view", 5.0)],
        [(4, 1, "2024-01-01T11:00:00", "click", 1.0),
         (5, 3, "2024-01-01T11:05:00", "purchase", 7.0)],
    ])
    return sink.select("user_id", "n_events", "total_value")


@register(
    "stream_foreach_batch",
    oracle=f"""
        WITH feed(d, value) AS (VALUES
            ('2024-01-01', 1.0), ('2024-01-01', 2.0),
            ('2024-01-02', 3.0), ('2024-01-02', 4.0),
            ('2024-01-03', 5.0)
        )
        SELECT d AS date, COUNT(*) AS n, {sql_dsum("value", "sum_value")}
        FROM feed GROUP BY d
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 as a registered key: ``foreachBatch`` idempotent partitioned sink
    (streams.py:foreach_batch_sink — the COG/S3 upload analog).  A fixed
    three-day feed is driven through the sink with an availableNow trigger,
    then the date-partitioned parquet output is read back and rolled up —
    one row per date with fixed counts/sums proves the writes landed.

    FULL oracle (r3): the read-back rollup is SQL over the literal feed —
    the sink path (partitioned write + partition-discovery read) is now
    value-hash-gated end to end, not just row-counted."""
    from . import streams as S

    base = fresh("fbs")
    feed, out, ckpt = base / "feed", base / "out", base / "ckpt"
    S.write_feed_file(
        str(feed),
        0,
        [
            (1, 1, "2024-01-01T10:00:00", "click", 1.0),
            (2, 2, "2024-01-01T11:00:00", "view", 2.0),
            (3, 1, "2024-01-02T10:00:00", "click", 3.0),
        ],
    )
    S.write_feed_file(
        str(feed),
        1,
        [
            (4, 3, "2024-01-02T12:00:00", "purchase", 4.0),
            (5, 2, "2024-01-03T09:00:00", "click", 5.0),
        ],
    )
    S.foreach_batch_sink(S.events_stream(spark, str(feed)), str(out), str(ckpt))
    sunk = spark.read.parquet(str(out))
    return (
        sunk.groupBy(F.col("date").cast("string").alias("date"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
    )


@register(
    "stream_table_ingest",
    oracle=f"""
        SELECT CAST(4 AS INTEGER) AS n_commits,
               COUNT(*) AS n_rows,
               {sql_dsum("value", "sum_value")}
        FROM events
    """,
)
def stream_table_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 ⋈ S7: streaming ingest INTO the versioned table — the
    reference's worker loop lands each processed scene as an indexed
    dataset; here every micro-batch (``maxFilesPerTrigger=1`` over a
    4-file feed) commits one append snapshot via ``foreachBatch``, so the
    ingest history is time-travelable and each commit is atomic
    (manifest rename).  The key proves the bridge end-to-end: exactly 4
    commits land, and the LATEST snapshot's rollup hash-matches the batch
    oracle over the whole events table — the streaming path lost nothing.
    The final rollup is commit-order-independent (count + exact decimal
    sum), so file arrival order can't flake the hash."""
    from ..sources.versioned import VersionedTable
    from . import streams as S

    root = fresh("sti")
    stage, ckpt = root / "stage", root / "ckpt"
    S.stage_events_dir(spark, sf_dir, str(stage), n_files=4)
    t = VersionedTable(str(root / "table"))

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        t.write(batch_df.select("event_id", "value"), mode="append")

    q = (
        S.events_stream(spark, str(stage), max_files_per_trigger=1)
        .writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_commits = len(t.versions())
    return (
        t.read(spark)
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("value", "sum_value"))
        .select(
            F.lit(n_commits).cast("int").alias("n_commits"),
            "n_rows",
            "sum_value",
        )
    )


@register(
    "stream_available_now",
    oracle=f"""
        SELECT event_type, COUNT(*) AS n, {sql_dsum("value", "sum_value")}
        FROM events
        GROUP BY event_type
    """,
)
def stream_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8+: ``Trigger.AvailableNow`` incremental processing — the
    reference's queue-driven worker loop (pop everything queued, process,
    exit) as Structured Streaming.  TWO successive runs share one
    checkpoint: run 1 sees the first half of the feed, run 2 resumes from
    the checkpoint and processes ONLY the files that arrived in between
    (exactly-once bookkeeping pinned in tests/test_streaming.py), yet the
    complete-mode state ends identical to a batch groupBy over everything —
    so this REAL streaming query carries a full value-hash oracle.
    Decimal-cast sums keep the incrementally-folded state bit-identical to
    the one-shot aggregation regardless of file arrival order."""
    import shutil
    import uuid

    from ..functions.det import dec_cast, exact_double
    from ..streaming import streams as S

    root = fresh("avn")
    stage, feed, ckpt = root / "stage", root / "feed", root / "ckpt"
    S.stage_events_dir(spark, sf_dir, str(stage), n_files=4)
    feed.mkdir(parents=True, exist_ok=True)
    files = sorted(p for p in stage.glob("*.parquet") if p.is_file())

    agg = (
        S.events_stream(spark, str(feed))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec_cast("value")).alias("dec_sum"),
        )
        .select("event_type", "n", exact_double(F.col("dec_sum")).alias("sum_value"))
    )
    name = "avn_" + uuid.uuid4().hex[:6]

    def run_available_now():
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    # |event_type| = 5 state keys and the input is partial-aggregated
    # map-side, so the reduce/state width is pure overhead past a few
    # partitions (small_state; the checkpoint pins the width at first run)
    with S.small_state(spark):
        for f in files[:2]:
            shutil.copy(f, feed / f.name)
        run_available_now()  # worker invocation 1: drains the queue, exits
        for f in files[2:]:
            shutil.copy(f, feed / f.name)
        run_available_now()  # invocation 2: resumes checkpoint, sees only new files
    return spark.table(name).select("event_type", "n", "sum_value")


@register(
    "stream_ohlc_bars",
    oracle="""
        SELECT DATE_TRUNC('hour', ts) AS w_start,
               DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR AS w_end,
               event_type,
               COUNT(*) AS n,
               ARG_MIN(value, CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT)
                       * 10000000 + event_id) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               ARG_MAX(value, CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT)
                       * 10000000 + event_id) AS close
        FROM events
        GROUP BY DATE_TRUNC('hour', ts), event_type
    """,
)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+/r5f: event-time OHLC bars — the batch twin of
    `streams.ohlc_bars`: the SAME window + min_by/max_by expressions the
    watermarked stream maintains incrementally (order-dependent
    open/close carry one (value, key) pair of state per bar side, so
    bars stream exactly like counts; verified against the live stream in
    tests/test_streaming.py).  open/close pick RAW stored doubles over
    the packed (sec, event_id) total order — nothing to round."""
    ev = load(spark, sf_dir, "events")
    okey = F.unix_timestamp("ts") * F.lit(10_000_000) + F.col("event_id")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
