"""Custom stateful sessions with EVENT-TIME TIMEOUT (SURVEY.md §2.9 T3+/T6+).

``stream_session`` uses the built-in ``session_window`` (gap merging done
by Spark); this operator is the HAND-ROLLED version every pipeline needs
the day its session rule stops being "fixed gap": arbitrary per-key state
via ``applyInPandasWithState`` plus ``GroupStateTimeout.EventTimeTimeout``
— the state machine emits a session ONLY when the WATERMARK passes the
session's close time (last event + gap), which is exactly how finalized,
never-amended session records must be produced under late data.

Lifecycle per key and micro-batch (state = ALL open sessions of the key,
as parallel arrays — a user may have several in flight):
- data arrives  → sessionize the events against the open set (extend
  in-gap, open a new session past the gap, merge sessions a late
  bridging event connects), then finalize exactly those sessions whose
  ``last + GAP ≤ watermark`` — the watermark PROVES no legal late event
  can extend or bridge them — and re-arm the timeout at the earliest
  pending close;
- timeout fires → same finalize-what-the-watermark-closed rule, without
  new data.  Either path emits only immutable, never-amended rows.

Spark runs an extra no-data micro-batch when the watermark advances so
armed timeouts fire deterministically; sessions whose close time the
watermark never passes stay open and are never emitted — both behaviors
are pinned by the key's literal-feed oracle (finalized sessions exactly
for users 1, 2, 3; the user-4 session remains open at shutdown).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import register
from ..scratch import fresh

_GAP_MS = 30 * 60 * 1000  # 30 min session gap

_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp,"
    " n_events long, sum_value double"
)
# State holds EVERY open session for the key (parallel arrays): a user can
# legitimately have several sessions in flight — a new event more than GAP
# after the last one opens a SECOND session while the first stays pending
# until the watermark proves no late event can extend it.  A scalar-tuple
# state (one open session) would silently MERGE such sessions.
_STATE_SCHEMA = (
    "starts array<long>, lasts array<long>, ns array<long>, ss array<double>"
)


def _session_fsm(key, pdfs, state: GroupState):
    (user_id,) = key
    wm = state.getCurrentWatermarkMs()
    sessions: list[list] = []
    if state.exists:
        starts, lasts, ns, ss = state.get
        sessions = [list(t) for t in zip(starts, lasts, ns, ss)]
    if not state.hasTimedOut:
        events = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            # normalize whatever datetime64 unit Arrow handed over straight
            # to epoch-ms (astype("int64") alone would be unit-dependent)
            ms = pdf["ts"].to_numpy().astype("datetime64[ms]").astype("int64")
            events.extend(zip(ms.tolist(), pdf["value"].astype(float).tolist()))
        for ts, v in sorted(events):
            for sess in sessions:
                if sess[0] - _GAP_MS <= ts <= sess[1] + _GAP_MS:
                    sess[0] = min(sess[0], ts)
                    sess[1] = max(sess[1], ts)
                    sess[2] += 1
                    sess[3] += v
                    break
            else:
                sessions.append([ts, ts, 1, v])
        # a bridging (late) event can make two open sessions overlap — merge
        sessions.sort()
        merged: list[list] = []
        for sess in sessions:
            if merged and sess[0] <= merged[-1][1] + _GAP_MS:
                m = merged[-1]
                m[1] = max(m[1], sess[1])
                m[2] += sess[2]
                m[3] += sess[3]
            else:
                merged.append(sess)
        sessions = merged
    # finalize exactly the sessions the watermark has PROVABLY closed (no
    # event that could still legally arrive can extend or bridge them);
    # the same rule serves the data call and the timeout call
    done = [s for s in sessions if s[1] + _GAP_MS <= wm]
    keep = [s for s in sessions if s[1] + _GAP_MS > wm]
    if keep:
        state.update(
            (
                [s[0] for s in keep],
                [s[1] for s in keep],
                [s[2] for s in keep],
                [s[3] for s in keep],
            )
        )
        # re-arm at the EARLIEST pending close so no session waits past
        # the watermark that finalizes it
        state.setTimeoutTimestamp(min(s[1] for s in keep) + _GAP_MS)
    else:
        state.remove()
    if done:
        done.sort()
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(done),
                "session_start": [pd.Timestamp(s[0], unit="ms") for s in done],
                "session_end": [pd.Timestamp(s[1], unit="ms") for s in done],
                "n_events": [s[2] for s in done],
                "sum_value": [s[3] for s in done],
            }
        )


@register(
    "stream_session_timeout",
    oracle="""
        SELECT * FROM (VALUES
            (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 10:00:00',
             TIMESTAMP '2024-01-01 10:10:00', CAST(2 AS BIGINT), 3.0),
            (CAST(2 AS BIGINT), TIMESTAMP '2024-01-01 10:05:00',
             TIMESTAMP '2024-01-01 10:05:00', CAST(1 AS BIGINT), 5.0),
            (CAST(3 AS BIGINT), TIMESTAMP '2024-01-01 12:00:00',
             TIMESTAMP '2024-01-01 12:00:00', CAST(1 AS BIGINT), 7.0)
        ) AS t(user_id, session_start, session_end, n_events, sum_value)
    """,
)
def stream_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+/T6+: watermark-finalized custom sessions.  Feed: users 1+2 in
    batch 0; batch 1's 12:00 event advances the watermark past their
    close times → their sessions FINALIZE via timeout; batch 2's 13:30
    event finalizes user 3 the same way; user 4's session is still open
    when the query stops and must NOT appear.  Append mode: each emitted
    row is immutable — the contract downstream ledgers need."""
    from . import streams as S

    feed = str(fresh("sesto"))
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
        [(1, 1, "2024-01-01T10:00:00", "click", 1.0),
         (2, 1, "2024-01-01T10:10:00", "click", 2.0),
         (3, 2, "2024-01-01T10:05:00", "view", 5.0)],
        [(4, 3, "2024-01-01T12:00:00", "click", 7.0)],
        [(5, 4, "2024-01-01T13:30:00", "view", 9.0)],
    ])
    return sink.select(
        "user_id", "session_start", "session_end", "n_events", "sum_value"
    )
