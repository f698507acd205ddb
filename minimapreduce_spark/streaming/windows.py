"""Event-time windowed aggregations on the events stream.

Streaming twins of operators/events.py's batch windows. Both carry
full DuckDB oracles: over a finite replay the streaming answer must
equal the batch answer (append-mode caveats sidestepped by complete/
update output — over a drained stream these contain the final state).

Scale posture: state is hash-partitioned by (window, key) across the
cluster; the watermark bounds how long a window's state lives, so state
size is O(active windows × keys), not O(stream length).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minimapreduce_spark.registry import register
from minimapreduce_spark.streaming.source import events_stream, run_to_memory

SESSION_GAP = "30 minutes"
SESSION_GAP_SECONDS = 1800

# State-shuffle width for the benched session-window drain: DERIVED
# from the per-batch volume (the whole events table arrives as one
# availableNow batch here) through the shared ``stream_state_width``
# sizing, not a constant tuned to one fixture; the interleaved width
# curve at sf0.1 is flat across 4-16
# (1.1-1.3 s) and regresses at 32 (1.5-3.6 s) and 2 (1.6-2.8 s), and
# the derivation (~13 at 100k rows) lands inside the flat band.


def _session_state_width(spark, sf_dir: str) -> int:
    from minimapreduce_spark.catalog import parquet_rowcount, table_path
    from minimapreduce_spark.session import stream_state_width

    return stream_state_width(spark, parquet_rowcount(table_path(sf_dir, "events")))


@register(
    "stream_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           count(*)               AS n_events,
           round(sum(value), 2)   AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows with a 1-hour watermark,
    drained with availableNow — must equal the batch twin
    (events_tumbling_hourly) exactly."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        F.col("win.start").cast("timestamp_ntz").alias("hour_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "stream_session_window",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, event_id, ts, value,
             epoch(ts) - lag(epoch(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             CAST(sum(CASE WHEN gap IS NULL OR gap >= {SESSION_GAP_SECONDS} THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM gaps
    )
    SELECT user_id,
           min(ts)                                     AS session_start,
           max(ts) + INTERVAL {SESSION_GAP_SECONDS} SECOND AS session_end,
           count(*)                                    AS n_events,
           round(sum(value), 2)                        AS total_value
    FROM sessions
    GROUP BY user_id, sid
    """,
    bench=True,  # micro-batch overhead regressions must show in BENCH
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (30 min gap) per user — Spark merges
    events whose [ts, ts+gap) intervals overlap; a gap of exactly the
    duration starts a NEW session (half-open interval), which the
    oracle mirrors with ``gap >= 1800``. session_end is last_ts + gap,
    per session_window's contract.

    State sized to per-batch volume via the cached narrow session
    clone (the stream_exactly_once_watermarked discipline): the
    session-window agg commits one state file per state partition per
    micro-batch, so inheriting the batch session's width spends the
    wall on commit fan-out, not sessionization (measured at sf0.1:
    1.8 → 1.6 s at width 8, identical output — state partitioning is
    keyed, partition-count invariant)."""
    from minimapreduce_spark.session import narrow_clone

    sdf = events_stream(narrow_clone(spark, _session_state_width(spark, sf_dir)), sf_dir)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
        F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        "total_value",
    )


@register(
    "stream_sliding_1h_30m",
    oracle="""
    WITH wins AS (
      SELECT event_type, value,
             unnest(ARRAY[
               time_bucket(INTERVAL '30 minutes', ts),
               time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
             ]) AS win_start
      FROM events
    )
    SELECT win_start, event_type,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM wins
    GROUP BY win_start, event_type
    """,
)
def stream_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h length / 30 min slide) on the
    stream: each event feeds exactly two windows' state. Watermark
    bounds live state to the two in-horizon slides per key; over the
    drained replay the result equals the batch twin
    (events_sliding_1h_30m)."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        F.col("win.start").cast("timestamp_ntz").alias("win_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "stream_static_enrich",
    oracle="""
    SELECT c_mktsegment, event_type,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a static
    dimension (customer) that Spark broadcasts per micro-batch — no
    stream-side state, no watermark needed for the join itself. The
    canonical "attach dimensions to a firehose" pattern; rollup by
    segment × event type over the drained replay equals the batch
    join-agg."""
    from minimapreduce_spark.catalog import load_table

    sdf = events_stream(spark, sf_dir)
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    agg = (
        sdf.join(dim, sdf.user_id == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    return run_to_memory(agg, "complete")


@register(
    "stream_tumbling_append_finalized",
    oracle="""
    WITH w AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    m AS (SELECT max(ts) AS mx FROM events)
    SELECT hour_start, event_type, n_events
    FROM w, m
    WHERE hour_start + INTERVAL 1 HOUR <= mx - INTERVAL 30 MINUTE
    """,
)
def stream_tumbling_append_finalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode windowed aggregation — the EXACTLY-ONCE-emission
    semantic the complete/update twins sidestep: a window row is
    emitted only when the watermark passes its end, i.e. it is final
    and will never be retracted — what a downstream append-only sink
    (parquet, Kafka) requires.

    The oracle states the contract precisely: over a drained stream
    the emitted set is every window whose end <= max(event time) −
    watermark delay; the still-open tail windows are withheld BY
    DESIGN (5 rows at sf0.01). Spark's no-data final micro-batch
    flushes windows the last data batch closed — without it the
    emission would lag one trigger.

    Scale posture: identical state bound to the complete twin
    (watermark evicts closed windows); emission timing, not state, is
    what changes.
    """
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_to_memory(agg, "append")
    return out.select(
        F.col("win.start").cast("timestamp_ntz").alias("hour_start"),
        "event_type",
        "n_events",
    )
