"""Custom stateful streaming via ``applyInPandasWithState``.

The streaming generalization of the reference's Reduce UDAF
(mr/worker.go:146: arbitrary per-key aggregation): user Python holds
per-key state in the state store across micro-batches and emits updated
aggregates. Arrow-batched — the grouped rows arrive as pandas frames,
never row-at-a-time.

Over a drained finite stream the final state equals a batch groupBy, so
the DuckDB oracle applies — a custom stateful operator with a full
correctness oracle, not just a rows-only check.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from minimapreduce_spark.registry import register
from minimapreduce_spark.streaming.source import events_stream, run_to_memory

_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, max_value double"
)
_STATE_SCHEMA = "n bigint, total double, max_v double"


def _user_stats(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows for one user into running (n, total, max)."""
    n, total, max_v = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        if len(pdf):
            n += len(pdf)
            total += float(pdf["value"].sum())
            max_v = max(max_v, float(pdf["value"].max()))
    state.update((n, total, max_v))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total, 2)],
            "max_value": [max_v],
        }
    )


@register(
    "stream_user_stats_stateful",
    oracle="""
    SELECT user_id,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value,
           max(value)           AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_user_stats_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime stats maintained in the state store by a
    Python stateful operator. State is partitioned by user_id across
    executors (RocksDB-backed in production); emission is per-batch
    'update' rows, so the drained result is the final per-user state."""
    sdf = events_stream(spark, sf_dir)
    updates = sdf.groupBy("user_id").applyInPandasWithState(
        _user_stats,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(updates, "update")


# ---------------------------------------------------------------------------
# Timer-finalized sessionization — watermark-contract session closing
# ---------------------------------------------------------------------------

SESSION_GAP_US = 1800 * 1_000_000  # 30 min, µs — the events.py gap
SESSION_WM_DELAY = "2 hours"
_SESS_OUT = (
    "user_id bigint, session_start_us bigint, session_end_us bigint, "
    "n_events bigint, value_c_sum bigint"
)


def _sessions_from(ts_list, vc_list):
    """Sort buffered (ts_us, value_c) events and split into gap
    sessions — pure integer arithmetic."""
    evs = sorted(zip((int(t) for t in ts_list), (int(v) for v in vc_list)))
    sessions: list = []
    for e in evs:
        if sessions and e[0] - sessions[-1][-1][0] <= SESSION_GAP_US:
            sessions[-1].append(e)
        else:
            sessions.append([e])
    return sessions


def _session_close(key, state, new_rows):
    """Shared close step for data batches AND event-time timeouts:
    append new events to the ListState-style buffer, emit every
    session the watermark has made uncontradictable
    (session_end + gap < wm), keep the rest buffered, and arm the
    event-time timeout at the EARLIEST unclosed session's expiry —
    the arm is what guarantees a user whose traffic stops mid-stream
    still emits every closable session in the drain's final
    timeout batch (data-driven closing alone would strand them)."""
    import pandas as pd

    ts_buf, vc_buf = (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
    for t, v in new_rows:
        ts_buf.append(int(t))
        vc_buf.append(int(v))
    sessions = _sessions_from(ts_buf, vc_buf)
    wm_ms = state.getCurrentWatermarkMs()
    wm_us = wm_ms * 1000
    closed = [s for s in sessions if s[-1][0] + SESSION_GAP_US < wm_us]
    rest = [s for s in sessions if s[-1][0] + SESSION_GAP_US >= wm_us]
    if rest:
        state.update(
            ([e[0] for s in rest for e in s], [e[1] for s in rest for e in s])
        )
        # +1 ms: the close rule is strict (<); (end+gap) ≥ wm_us implies
        # the ms-floored expiry + 1 is strictly above the current
        # watermark, which Spark requires for an event-time timeout
        state.setTimeoutTimestamp((rest[0][-1][0] + SESSION_GAP_US) // 1000 + 1)
    else:
        state.remove()
    if not closed:
        return None
    return pd.DataFrame(
        {
            "user_id": [int(key[0])] * len(closed),
            "session_start_us": [s[0][0] for s in closed],
            "session_end_us": [s[-1][0] for s in closed],
            "n_events": [len(s) for s in closed],
            "value_c_sum": [sum(e[1] for e in s) for s in closed],
        }
    )


def _session_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    new: list = []
    if not state.hasTimedOut:
        for pdf in pdfs:
            if len(pdf):
                new.extend(
                    zip(
                        pdf["ts_us"].astype("int64").tolist(),
                        pdf["value_c"].astype("int64").tolist(),
                    )
                )
    out = _session_close(key, state, new)
    if out is not None:
        yield out


@register(
    "stream_sessions_timer_finalized",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CAST(round(value * 10000) AS BIGINT) AS value_c
      FROM events
    ),
    wm AS (
      SELECT ((max(ts_us) // 1000) - 7200000) * 1000 AS wm_us FROM e
    ),
    gaps AS (
      SELECT user_id, ts_us, value_c,
             ts_us - lag(ts_us) OVER (
               PARTITION BY user_id ORDER BY ts_us
             ) AS gap_us
      FROM e
    ),
    sess AS (
      SELECT user_id, ts_us, value_c,
             CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > {SESSION_GAP_US}
                           THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS sid
      FROM gaps
    ),
    rolled AS (
      SELECT user_id,
             min(ts_us) AS session_start_us,
             max(ts_us) AS session_end_us,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(value_c) AS BIGINT) AS value_c_sum
      FROM sess GROUP BY user_id, sid
    )
    SELECT r.user_id, r.session_start_us, r.session_end_us,
           r.n_events, r.value_c_sum
    FROM rolled r, wm
    WHERE r.session_end_us + {SESSION_GAP_US} < wm.wm_us
    """,
)
def stream_sessions_timer_finalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMER-FINALIZED sessionization — the closed-session FEED: a
    session is emitted exactly ONCE, at the moment it becomes
    UNCONTRADICTABLE (the watermark passes session_end + gap, so no
    in-watermark event can extend it). This is the append-mode
    semantics every funnel/abandonment pipeline wants, vs the native
    `session_window` twin (streaming/windows.py) which re-emits merged
    windows per trigger, and it needs arbitrary state + TIMERS: the
    processor buffers events per user and closes sessions on BOTH new
    data and an event-time timeout armed at the earliest unclosed
    session's expiry — the timeout is what guarantees a user whose
    traffic stops mid-stream still emits every closable session during
    the drain's final batch. (Spark 4's `transformWithStateInPandas`
    is this pattern's native API — ListState + registerTimer map 1:1
    onto the buffer and the timeout here — but its Python runner
    requires protobuf, absent in this environment; measured:
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE. The
    `applyInPandasWithState` + EventTimeTimeout form is
    runner-compatible and semantically identical for one state
    variable + one timer per key.)

    The oracle states the emission contract exactly (the outer-join
    discipline): batch gaps-and-islands sessions MINUS those with
    session_end + gap ≥ wm, where wm = (max event time, ms-floored) −
    2 h — Spark computes watermarks in MILLISECONDS, so the oracle
    floors µs→ms before subtracting the delay. Replay is
    `events_stream_time_sliced` (clean, event-time-ordered slices):
    buffering tolerates intra-slice disorder, and slice order honors
    the watermark contract so nothing is late-dropped.

    Exactness: all arithmetic is integer µs / integer 1e-4 currency;
    emission is append-only, once per session (pytest pins the
    once-only property and equality with the batch
    `events_sessionization` restricted to finalized sessions).

    Scale posture: state = per-user buffered events inside the
    watermark horizon (evicted on close) — the same bound the native
    session_window holds; one shuffle on user_id; one armed timeout
    per user. At 100 TB this is the RocksDB-state shape sized by
    events-per-horizon, and the state-partition sizing lesson of
    `stream_exactly_once_watermarked` applies verbatim."""
    from minimapreduce_spark._pickle import register_self_by_value
    from minimapreduce_spark.streaming.source import events_stream_time_sliced

    register_self_by_value()
    sdf = (
        events_stream_time_sliced(spark, sf_dir)
        .withWatermark("ts", SESSION_WM_DELAY)
        .select(
            "user_id",
            "ts",
            F.unix_micros("ts").alias("ts_us"),
            F.round(F.col("value") * 10000).cast("bigint").alias("value_c"),
        )
    )
    out = sdf.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=_SESS_OUT,
        stateStructType="ts_buf array<bigint>, vc_buf array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_to_memory(out, "append")
