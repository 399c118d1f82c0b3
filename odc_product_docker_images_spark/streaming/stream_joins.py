"""Stream⋈stream interval join with a FULL value-hash oracle (SURVEY.md
§2.9 T7).

The join itself is a REAL Structured Streaming query (two watermarked
stream sides, bounded join state — ``streams.stream_stream_join``), not a
batch twin.  It still carries a full oracle because the feed is staged
before the query starts: every file is planned into micro-batch 0 at the
epoch-0 watermark, so no row is ever late relative to state eviction and
the emitted inner-join matches are EXACTLY the batch interval join DuckDB
computes — the same move that earned ``stream_available_now`` its oracle.
(The eviction semantics themselves — clicks aging out of state — are
pinned separately by the live-feed pytest in tests/test_streaming.py.)

Scale shape (100 TB/day): both sides shuffle on ``user_id`` into the join
state store; the 10-minute watermark + 30-minute interval bound retained
state to ~40 minutes of clicks per user shard, independent of stream age.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..scratch import fresh


@register(
    "stream_stream_join",
    oracle="""
        SELECT p.event_id AS p_id, p.user_id AS p_user, p.ts AS p_ts,
               p.value AS p_value, c.ts AS c_ts, c.value AS click_value
        FROM events p JOIN events c
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
    """,
)
def stream_stream_join_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7+: stream⋈stream interval join — clicks and purchases split from
    one feed, purchases attributed to clicks by the same user within 30
    minutes, both sides watermarked (bounded state).  Full oracle: the
    pre-staged feed makes the streaming inner join emit exactly the batch
    interval join (module docstring)."""
    from . import streams as S

    feed = S.stage_events_dir(spark, sf_dir, str(fresh("ssj")), n_files=1)
    stream = S.events_stream(spark, feed)
    joined = S.stream_stream_join(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
    )
    return S.drain_to_memory(spark, joined, "append").select(
        "p_id", "p_user", "p_ts", "p_value", "c_ts", "click_value"
    )
