"""Streaming CDC apply: change feed → MERGE into a versioned table
(SURVEY.md §2.9 T8+ — the composition the reference's queue worker
actually is: messages arrive, the indexed dataset is upserted).

``stream_foreach_batch`` proves the idempotent sink and
``table_merge_upsert`` proves copy-on-write MERGE; this key wires them
together: a file-stream change feed drains under ``availableNow`` and
every micro-batch is deduplicated to latest-per-key then MERGEd, so the
table converges to the latest-write-wins state regardless of how the
source groups files into batches.  That batching-independence is the CDC
correctness property (a retried/coalesced batch must not change the
result) — and exactly what the oracle checks: ``arg_max(value, seq)``
over the full change history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..scratch import fresh
from ..sources.versioned import VersionedTable
from . import streams as S

# (event_id, value) change history: seq 0 is the base snapshot, later
# seqs arrive via the stream in two feed files.
_BASE = [(i, 10.0 * i) for i in range(1, 7)]
_FEED0 = [(1, 11.5), (2, 12.5), (7, 70.5)]
_FEED1 = [(2, 22.5), (8, 80.5)]


def _values(rows, seq):
    return ", ".join(f"({k}, CAST({v!r} AS DOUBLE), {seq})" for k, v in rows)


@register(
    "stream_cdc_apply",
    oracle=f"""
        WITH hist(event_id, value, seq) AS (VALUES
            {_values(_BASE, 0)},
            {_values(_FEED0, 1)},
            {_values(_FEED1, 2)}
        )
        SELECT CAST(event_id AS BIGINT) AS event_id,
               ARG_MAX(value, seq) AS value
        FROM hist
        GROUP BY event_id
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8++: drain a CDC file stream into a versioned table via
    per-micro-batch MERGE.  Each batch dedupes to latest-per-key first
    (``max_by`` on event time — MERGE requires unique update keys, and a
    coalesced batch may carry several versions of one key), so the final
    table state is invariant to micro-batch boundaries; the feed files
    carry distinct event times to make "latest" well-defined.  At 100 TB
    this is the standard Delta/Iceberg CDC-apply loop: per batch, one
    broadcast semi-join plans the touched files and only those rewrite
    (copy-on-write) — table maintenance cost tracks churn, not table
    size.  The oracle replays the full change history relationally
    (latest-write-wins ``arg_max``), which is precisely the semantics the
    streaming apply must converge to."""
    base = fresh("cdca")
    feed, ckpt = base / "feed", base / "ckpt"
    t = VersionedTable(str(base / "table"))
    t.write(
        spark.createDataFrame(_BASE, "event_id LONG, value DOUBLE"),
        mode="overwrite",
    )
    S.write_feed_file(
        str(feed),
        0,
        [(k, 1, f"2024-01-01T10:00:{k:02d}", "cdc", v) for k, v in _FEED0],
    )
    S.write_feed_file(
        str(feed),
        1,
        [(k, 1, f"2024-01-01T11:00:{k:02d}", "cdc", v) for k, v in _FEED1],
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = batch_df.groupBy("event_id").agg(
            F.max_by(F.col("value"), F.col("ts")).alias("value")
        )
        t.merge(batch_df.sparkSession, latest, key="event_id")

    (
        S.events_stream(spark, str(feed), max_files_per_trigger=1)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return t.read(spark).select("event_id", "value")
