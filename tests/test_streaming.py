"""Structured Streaming semantics tests (SURVEY.md §5.5, §2.9 T4-T8).

Real streams against file sources + memory sinks: watermark late-drop,
stateful dedup, sessionization, arbitrary state, and the foreachBatch
partitioned sink.  Scratch space comes from ``scratch.fresh``.
"""

from __future__ import annotations

import uuid
from datetime import datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from odc_product_docker_images_spark.scratch import fresh
from odc_product_docker_images_spark.streaming import streams as S


@pytest.fixture()
def scratch():
    return fresh("stest")


def _write_file(spark, path: Path, rows: list[tuple]) -> None:
    """One micro-batch file: (event_id, ts_str, user_id, event_type, value)."""
    df = spark.createDataFrame(
        [
            (eid, int(datetime.fromisoformat(ts).timestamp() * 1_000_000_000), uid, et, v, "{}")
            for eid, ts, uid, et, v in rows
        ],
        schema="event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    df.coalesce(1).write.mode("append").parquet(str(path))


def test_watermark_drops_late_window(spark, scratch):
    src = scratch / "src"
    # batch 1: three events 10:00-10:40 → watermark after = 10:30
    _write_file(
        spark,
        src,
        [
            (1, "2024-01-01T10:00:00", 1, "click", 1.0),
            (2, "2024-01-01T10:20:00", 1, "click", 1.0),
            (3, "2024-01-01T10:40:00", 1, "click", 1.0),
        ],
    )
    stream = S.events_stream(spark, str(src), max_files_per_trigger=1)
    agg = S.tumbling_counts(stream, watermark="10 minutes")
    name = "wm_" + uuid.uuid4().hex[:6]
    q = (
        agg.writeStream.format("memory").queryName(name).outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a 09:00 straggler — its window [09:00,10:00) closed at wm 10:30
        _write_file(spark, src, [(4, "2024-01-01T09:00:00", 1, "click", 9.9)])
        q.processAllAvailable()
        # batch 3: 12:30 event advances watermark to 12:20 → closes [10:00,11:00)
        _write_file(spark, src, [(5, "2024-01-01T12:30:00", 1, "click", 1.0)])
        q.processAllAvailable()
        out = spark.table(name).toPandas()
    finally:
        q.stop()
    closed = out[out["w_start"] == datetime(2024, 1, 1, 10, 0)]
    assert len(closed) == 1
    # the late 09:00 event created no row and the closed window excludes it
    assert closed.iloc[0]["n"] == 3
    assert (out["w_start"] != datetime(2024, 1, 1, 9, 0)).all()


def test_dedup_within_watermark(spark, scratch):
    src = scratch / "src"
    _write_file(
        spark,
        src,
        [
            (1, "2024-01-01T10:00:00", 1, "click", 1.0),
            (2, "2024-01-01T10:01:00", 1, "click", 2.0),
        ],
    )
    _write_file(
        spark,
        src,
        [
            (2, "2024-01-01T10:02:00", 1, "click", 2.0),  # duplicate id within watermark
            (3, "2024-01-01T10:03:00", 1, "view", 3.0),
        ],
    )
    stream = S.events_stream(spark, str(src))
    dd = S.dedup_ids(stream, watermark="10 minutes")
    name = "dd_" + uuid.uuid4().hex[:6]
    q = dd.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        out = spark.table(name).toPandas()
    finally:
        q.stop()
    assert sorted(out["event_id"].tolist()) == [1, 2, 3]


def test_session_window_stream_merges(spark, scratch):
    src = scratch / "src"
    _write_file(
        spark,
        src,
        [
            (1, "2024-01-01T10:00:00", 7, "click", 1.0),
            (2, "2024-01-01T10:20:00", 7, "click", 1.0),  # gap 20m < 30m → same session
            (3, "2024-01-01T11:30:00", 7, "click", 1.0),  # gap 70m → new session
            (4, "2024-01-01T14:00:00", 7, "click", 1.0),  # advances watermark, closes both
        ],
    )
    stream = S.events_stream(spark, str(src))
    sess = S.sessionized(stream)
    name = "ss_" + uuid.uuid4().hex[:6]
    q = sess.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        out = spark.table(name).toPandas().sort_values("s_start")
    finally:
        q.stop()
    assert len(out) == 2
    assert out.iloc[0]["n"] == 2  # merged session
    assert out.iloc[0]["s_end"] == datetime(2024, 1, 1, 10, 50)  # last ts + gap
    assert out.iloc[1]["n"] == 1


def test_stateful_running_totals(spark, scratch, sf_dir):
    src = scratch / "src"
    _write_file(
        spark,
        src,
        [
            (1, "2024-01-01T10:00:00", 1, "click", 1.5),
            (2, "2024-01-01T10:01:00", 1, "click", 2.5),
            (3, "2024-01-01T10:02:00", 2, "view", 5.0),
        ],
    )
    stream = S.events_stream(spark, str(src))
    st = S.stateful_running_totals(stream)
    name = "st_" + uuid.uuid4().hex[:6]
    q = st.writeStream.format("memory").queryName(name).outputMode("update").start()
    try:
        q.processAllAvailable()
        out = (
            spark.table(name)
            .toPandas()
            .sort_values(["user_id"])
            .groupby("user_id")
            .last()  # latest state per key
        )
    finally:
        q.stop()
    assert out.loc[1, "n_events"] == 2 and out.loc[1, "total_value"] == pytest.approx(4.0)
    assert out.loc[2, "n_events"] == 1 and out.loc[2, "total_value"] == pytest.approx(5.0)


def test_foreach_batch_partitioned_sink(spark, scratch):
    src = scratch / "src"
    _write_file(
        spark,
        src,
        [
            (1, "2024-01-01T10:00:00", 1, "click", 1.0),
            (2, "2024-01-02T11:00:00", 1, "click", 2.0),
        ],
    )
    out = scratch / "out"
    ckpt = scratch / "ckpt"
    stream = S.events_stream(spark, str(src))
    S.foreach_batch_sink(stream, str(out), str(ckpt))
    written = spark.read.parquet(str(out))
    assert written.count() == 2
    # partition layout = the pruning index (S4 idempotent-by-key analog)
    assert sorted(p.name for p in out.glob("date=*")) == ["date=2024-01-01", "date=2024-01-02"]


def test_stream_matches_batch_form(spark, scratch, sf_dir):
    """The streaming tumbling agg over a staged replay equals the batch
    twin (stream_tumbling) — incremental == one-shot."""
    src = scratch / "replay"
    S.stage_events_dir(spark, sf_dir, str(src), n_files=3)
    stream = S.events_stream(spark, str(src), max_files_per_trigger=1)
    agg = S.tumbling_counts(stream, watermark="10 minutes")
    name = "rp_" + uuid.uuid4().hex[:6]
    q = agg.writeStream.format("memory").queryName(name).outputMode("complete").start()
    try:
        q.processAllAvailable()
        got = (
            spark.table(name)
            .groupBy()
            .agg(F.sum("n").alias("total"))
            .collect()[0]["total"]
        )
    finally:
        q.stop()
    from odc_product_docker_images_spark.io import load

    assert got == load(spark, sf_dir, "events").count()


def test_stream_stream_interval_join(spark, scratch):
    src = scratch / "src"
    _write_file(
        spark,
        src,
        [
            (1, "2024-01-01T10:00:00", 1, "click", 5.0),
            (2, "2024-01-01T10:10:00", 1, "purchase", 100.0),  # matches click@10:00
            (3, "2024-01-01T11:30:00", 1, "purchase", 50.0),   # no click within 30m
            (4, "2024-01-01T10:05:00", 2, "click", 7.0),
            (5, "2024-01-01T10:06:00", 2, "purchase", 70.0),   # matches click@10:05
        ],
    )
    stream = S.events_stream(spark, str(src))
    joined = S.stream_stream_join(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
    )
    name = "sj_" + uuid.uuid4().hex[:6]
    q = joined.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        out = spark.table(name).toPandas().sort_values("p_id")
    finally:
        q.stop()
    assert out["p_id"].tolist() == [2, 5]
    assert out["click_value"].tolist() == [5.0, 7.0]


def test_available_now_is_incremental_exactly_once(spark, scratch, sf_dir):
    """Two availableNow runs over one checkpoint: the second run must read
    ONLY the files that arrived after the first run (no reprocessing), and
    the final state must equal the batch aggregation of everything."""
    import shutil

    from odc_product_docker_images_spark.io import load

    stage, feed, ckpt = scratch / "stage", scratch / "feed", scratch / "ckpt"
    S.stage_events_dir(spark, sf_dir, str(stage), n_files=4)
    feed.mkdir(parents=True, exist_ok=True)
    files = sorted(p for p in stage.glob("*.parquet") if p.is_file())
    agg = S.events_stream(spark, str(feed)).groupBy("event_type").count()
    name = "avt_" + uuid.uuid4().hex[:6]

    def run():
        q = (
            agg.writeStream.format("memory").queryName(name).outputMode("complete")
            .option("checkpointLocation", str(ckpt)).trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in (q.recentProgress or []))

    for f in files[:2]:
        shutil.copy(f, feed / f.name)
    n1 = run()
    for f in files[2:]:
        shutil.copy(f, feed / f.name)
    n2 = run()
    total = load(spark, sf_dir, "events").count()
    assert n1 + n2 == total, f"reprocessing detected: {n1}+{n2} != {total}"
    assert 0 < n2 < total, "second run must read only the new files"
    got = {r["event_type"]: r["count"] for r in spark.table(name).collect()}
    want = {
        r["event_type"]: r["count"]
        for r in load(spark, sf_dir, "events").groupBy("event_type").count().collect()
    }
    assert got == want


def test_python_stream_source_runs_real_micro_batches(spark):
    """The custom Python streaming source must execute SUCCESSIVE offset
    ranges (not one all-covering batch): with the high-water mark
    advancing 2 arrivals per poll over a 6-arrival horizon, the progress
    log must show exactly 3 data-carrying micro-batches of 400 rows
    (2 arrivals x 200 rows) each."""
    import uuid as _uuid

    import pyspark.sql.functions as F

    from odc_product_docker_images_spark.sources.stream_source import (
        register_feed_source,
    )
    from odc_product_docker_images_spark.streaming import streams as S

    register_feed_source(spark)
    name = "feedtest_" + _uuid.uuid4().hex[:6]
    agg = (
        spark.readStream.format("synthetic_feed")
        .load()
        .groupBy("sensor")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with S.small_state(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    rows_per_batch = [
        p["numInputRows"] for p in (q.recentProgress or []) if p["numInputRows"] > 0
    ]
    assert rows_per_batch == [400, 400, 400], rows_per_batch
    total = spark.table(name).agg(F.sum("n")).collect()[0][0]
    assert total == 1200


def test_session_timeout_splits_same_user_sessions(spark):
    """Review-found defect guard: the SAME user with two event bursts more
    than GAP apart must yield TWO finalized sessions, never one merged
    span (the scalar-state FSM folded them together)."""
    from odc_product_docker_images_spark.streaming.session_timeout import (
        _GAP_MS,
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        _session_fsm,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    feed = str(fresh("sesplit"))
    sessions = (
        S.events_stream(spark, feed)
        .withWatermark("ts", "10 minutes")
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fsm,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    sink = S.drain_to_memory(spark, sessions, "append", feed, [
        # burst 1 at 10:00; burst 2 from the SAME user at 12:00 (gap 2h)
        [(1, 7, "2024-01-01T10:00:00", "click", 1.0)],
        [(2, 7, "2024-01-01T12:00:00", "click", 2.0)],
        # advance the watermark far past both closes
        [(3, 8, "2024-01-01T15:00:00", "view", 9.0)],
    ])
    rows = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"], r["sum_value"])
        for r in sink.collect()
    )
    assert rows == [
        (7, "2024-01-01 10:00:00", "2024-01-01 10:00:00", 1, 1.0),
        (7, "2024-01-01 12:00:00", "2024-01-01 12:00:00", 1, 2.0),
    ], rows


def test_stream_ohlc_matches_batch_form(spark, scratch, sf_dir):
    """Order-dependent open/close must stream correctly: the watermarked
    min_by/max_by bars over a 3-file staged replay equal the batch twin
    on the same data — incremental bar state == one-shot."""
    from odc_product_docker_images_spark.streaming.batch_forms import (
        stream_ohlc_bars,
    )

    src = scratch / "ohlc_replay"
    S.stage_events_dir(spark, sf_dir, str(src), n_files=3)
    stream = S.events_stream(spark, str(src), max_files_per_trigger=1)
    bars = S.ohlc_bars(stream)
    name = "ohlc_" + uuid.uuid4().hex[:6]
    q = bars.writeStream.format("memory").queryName(name).outputMode("complete").start()
    try:
        q.processAllAvailable()
        got = {
            (r["w_start"], r["event_type"]): (
                r["n"], r["open"], r["high"], r["low"], r["close"]
            )
            for r in spark.table(name).collect()
        }
    finally:
        q.stop()
    exp = {
        (r["w_start"], r["event_type"]): (
            r["n"], r["open"], r["high"], r["low"], r["close"]
        )
        for r in stream_ohlc_bars(spark, sf_dir).collect()
    }
    assert got == exp
