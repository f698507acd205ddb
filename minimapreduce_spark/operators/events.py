"""Time-series operators over the ``events`` table (SURVEY §2c, §7.5).

Batch expressions of the streaming-shaped operators: tumbling/sliding
windows, gap-based sessionization, as-of join, and a bounded range join.
The Structured Streaming forms live in minimapreduce_spark/streaming/;
these batch forms carry the DuckDB oracles (the oracle protocol is
batch-only) and share the same semantics.

Scale posture: every operator shuffles once on its natural key
(window bucket / user_id), and the range join uses bucketized
candidate generation (bounded fan-out of 2 buckets per probe row)
instead of an unbounded inequality join — the difference between an
O(n·k) plan and an O(n²) one at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from minimapreduce_spark.catalog import load_table
from minimapreduce_spark.registry import register

SESSION_GAP_SECONDS = 1800  # 30 min


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions over the props column (JVM-side
    get_json_object — no Python in the loop)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg(F.get_json_object("props", "$.k").cast("bigint")), 4).alias("avg_k"),
    )


@register(
    "events_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           count(*)               AS n_events,
           round(sum(value), 2)   AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    bench=True,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows — the batch twin of the streaming
    ``window(ts, '1 hour')`` aggregation."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))


@register(
    "events_sliding_1h_30m",
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
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): each event lands in
    exactly 2 windows. Spark's ``window()`` generates the assignment;
    the oracle enumerates the two window starts explicitly."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n_events", "total_value"
        )
    )


@register(
    "events_sessionization",
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
             CAST(sum(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_SECONDS} THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id,
           min(ts)              AS session_start,
           max(ts)              AS session_end,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    bench=True,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag → new-session flag →
    running sum as session id → per-session rollup. One shuffle on
    user_id serves both windows and the final agg. Streaming twin:
    ``session_window`` in streaming/windows.py."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    # NTZ → LTZ → double epoch-seconds; with the UTC session this equals
    # DuckDB's epoch(ts) (fractional µs included).
    ts_sec = F.col("ts").cast("timestamp").cast("double")
    with_gap = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        (ts_sec - F.lag(ts_sec).over(w)).alias("gap"),
    )
    with_session = with_gap.select(
        "user_id",
        "ts",
        "value",
        F.sum(
            F.when(F.col("gap").isNull() | (F.col("gap") > SESSION_GAP_SECONDS), 1).otherwise(0)
        )
        .over(wrun)
        .cast("bigint")
        .alias("session_id"),
    )
    return with_session.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "events_asof_join",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_id,
           p.ts       AS purchase_ts,
           c.ts       AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY §2c): for each
    purchase, the most recent click by the same user at-or-before it.

    Implemented as union + last(ignorenulls) over a single user_id
    shuffle — O(n log n) per partition and no pairwise blow-up, unlike a
    naive inequality join. Clicks sort before purchases at equal ts so
    "at-or-before" includes ties (matching the oracle's ``>=``)."""
    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("is_purchase"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("is_purchase"),
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_purchase", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tagged = clicks.unionByName(purchases).select(
        "user_id",
        "ts",
        "event_id",
        "is_purchase",
        F.last("click_ts", ignorenulls=True).over(w).alias("last_click_ts"),
    )
    return tagged.where(F.col("is_purchase") == 1).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "last_click_ts",
    )


@register(
    "events_range_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           count(c.event_id) AS n_recent_clicks
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    GROUP BY p.event_id, p.user_id
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks per user within the hour before each purchase.

    Bucketized: probe rows explode to their 2 candidate hour-buckets and
    equi-join on (user_id, bucket) before the range filter — bounded
    fan-out instead of the oracle's unbounded inequality join, which
    would be a per-user cross product at scale."""
    ev = _events(spark, sf_dir)
    # Self-join: rename the click side's key so the equi-join condition
    # can't resolve ambiguously against the shared scan lineage.
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("click_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
        F.date_trunc("hour", "ts").alias("click_bucket"),
    )
    one_hour = F.expr("INTERVAL 1 HOUR")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.date_trunc("hour", "purchase_ts"),
                    F.date_trunc("hour", "purchase_ts") - one_hour,
                )
            ),
        )
    )
    joined = purchases.join(
        clicks,
        on=(
            (F.col("user_id") == F.col("click_user_id"))
            & (F.col("bucket") == F.col("click_bucket"))
            & (F.col("click_ts") >= F.col("purchase_ts") - one_hour)
            & (F.col("click_ts") <= F.col("purchase_ts"))
        ),
        how="left",
    )
    return joined.groupBy("purchase_id", "user_id").agg(
        F.count("click_id").alias("n_recent_clicks")
    )


@register(
    "events_resample_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n,
             round(sum(CAST(round(value * 10000) AS BIGINT))
                   / (10000.0 * count(*)), 6) AS av
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    cal AS (
      SELECT t.event_type, gs.bucket
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT unnest(generate_series((SELECT lo FROM bounds),
                                          (SELECT hi FROM bounds),
                                          INTERVAL 1 HOUR)) AS bucket) gs
    ),
    j AS (
      SELECT c.event_type, c.bucket, coalesce(h.n, 0) AS n_events, h.av
      FROM cal c LEFT JOIN hourly h
        ON h.event_type = c.event_type AND h.bucket = c.bucket
    )
    SELECT event_type, bucket, n_events,
           last_value(av IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_locf
    FROM j
    """,
    bench=True,
)
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style resample: hourly rollup per event_type over a
    DENSE calendar — empty hours appear with n_events = 0 and the avg
    value carried forward (LOCF) from the last observed hour.

    The calendar is generated, not scanned: a single-row min/max agg
    broadcast-crossed with the distinct key set, then one explode of a
    sequence() — O(keys × buckets) rows, never a driver-side loop. The
    left join and LOCF window both shuffle on event_type only. At 100 TB
    the dense frame is bounded by keys × time-range, independent of the
    raw event count.

    Exactness: the hourly average quantizes to 1e-4 fixed point first —
    an order-independent BIGINT sum divided once — because a raw
    avg(value) over doubles is summation-order-dependent and the 6-dp
    round flipped on one bucket at the 40× relational fixture (caught
    by tools/scale_experiment.py --family relational; both engines now
    divide the same two exact integers, which is bit-deterministic)."""
    ev = _events(spark, sf_dir)
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.round(F.col("value") * 10000).cast("bigint"))
                / (F.lit(10000.0) * F.count("*")),
                6,
            ).alias("av"),
        )
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    cal = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("bucket"),
        )
    )
    j = cal.join(hourly, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        "av",
    )
    locf = W.partitionBy("event_type").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, 0
    )
    return j.select(
        "event_type",
        "bucket",
        "n_events",
        F.last("av", ignorenulls=True).over(locf).alias("value_locf"),
    )


FUNNEL_STAGES = ("signup", "view", "click", "purchase")


@register(
    "events_funnel_conversion",
    oracle="""
    WITH w1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM events
    ),
    w2 AS (
      SELECT *, min(CASE WHEN event_type = 'view' AND ts > t1 THEN ts END)
               OVER (PARTITION BY user_id) AS t2 FROM w1
    ),
    w3 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t2 THEN ts END)
               OVER (PARTITION BY user_id) AS t3 FROM w2
    ),
    w4 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t3 THEN ts END)
               OVER (PARTITION BY user_id) AS t4 FROM w3
    ),
    per_user AS (
      SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3, max(t4) AS t4
      FROM w4 GROUP BY user_id
    )
    SELECT count(t1)                                   AS n_signup,
           count(t2)                                   AS n_view,
           count(t3)                                   AS n_click,
           count(t4)                                   AS n_purchase,
           round(count(t4) * 1.0 / count(t1), 6)       AS conversion
    FROM per_user
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: how many users signup, then view AFTER
    the signup, then click AFTER that view, then purchase AFTER that
    click — the sequential-pattern query behind every product-analytics
    dashboard (strict event ordering, not mere co-occurrence).

    The cascade t1 → t2 → t3 → t4 is four window expressions over ONE
    user_id partition: Spark plans a single sort+window stage (one
    shuffle on user_id), then a per-user agg and a tiny global rollup —
    no per-stage join cascade (the naive plan is 4 self-joins = 4 fact
    shuffles). Counts are integers and the final ratio is int/int, so
    the DuckDB hash matches exactly. No reference analog; nearest shape
    is the reduce-side grouping of mr/worker.go:114-130.
    """
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_type")
    by_user = W.partitionBy("user_id")

    def first_after(stage: str, prev):
        cond = F.col("event_type") == stage
        if prev is not None:
            cond = cond & (F.col("ts") > F.col(prev))
        return F.min(F.when(cond, F.col("ts"))).over(by_user)

    staged = (
        ev.withColumn("t1", first_after("signup", None))
        .withColumn("t2", first_after("view", "t1"))
        .withColumn("t3", first_after("click", "t2"))
        .withColumn("t4", first_after("purchase", "t3"))
    )
    per_user = staged.groupBy("user_id").agg(
        *[F.max(t).alias(t) for t in ("t1", "t2", "t3", "t4")]
    )
    return per_user.agg(
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_view"),
        F.count("t3").alias("n_click"),
        F.count("t4").alias("n_purchase"),
        F.round(F.count("t4") * F.lit(1.0) / F.count("t1"), 6).alias("conversion"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_diff('day', f.cohort_week,
                       date_trunc('week', e.ts)) // 7 AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    ),
    counts AS (
      SELECT cohort_week, week_offset, count(*) AS n_active
      FROM activity GROUP BY cohort_week, week_offset
    )
    SELECT cohort_week, week_offset, n_active,
           max(CASE WHEN week_offset = 0 THEN n_active END)
             OVER (PARTITION BY cohort_week) AS cohort_size,
           round(n_active * 1.0 /
                 max(CASE WHEN week_offset = 0 THEN n_active END)
                   OVER (PARTITION BY cohort_week), 6) AS retention
    FROM counts
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by the week of
    their first event; for each (cohort_week, week_offset) the count of
    cohort members active that week and the retention ratio vs the
    cohort's week 0.

    Plan: one shuffle on user_id computes the cohort assignment as a
    window-min (no agg+join-back re-scan of events), a distinct on
    (user, cohort, offset), a partial+final count, and the cohort_size
    denominator as a window over the tiny counts frame. week_offset is
    day-difference DIV 7 (integer), retention int/int — hash-exact vs
    DuckDB. Both engines truncate weeks to ISO Monday.
    """
    ev = _events(spark, sf_dir).select("user_id", "ts")
    by_user = W.partitionBy("user_id")
    with_cohort = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.date_trunc("week", F.min("ts").over(by_user)).alias("cohort_week"),
    )
    activity = with_cohort.select(
        "user_id",
        "cohort_week",
        (F.datediff("week", "cohort_week") / F.lit(7)).cast("bigint").alias("week_offset"),
    ).distinct()
    counts = activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active")
    )
    by_cohort = W.partitionBy("cohort_week")
    cohort_size = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(by_cohort)
    return counts.select(
        "cohort_week",
        "week_offset",
        "n_active",
        cohort_size.alias("cohort_size"),
        F.round(F.col("n_active") * F.lit(1.0) / cohort_size, 6).alias("retention"),
    )


@register(
    "events_attribution_last_touch",
    oracle="""
    WITH touched AS (
      SELECT user_id, event_id, event_type, value,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      FROM events
    )
    SELECT coalesce(touch, 'direct') AS channel,
           count(*) AS n_purchases,
           round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 2)
             AS attributed_value
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY coalesce(touch, 'direct')
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the most recent preceding view/click by the same user (any earlier
    event wins over none — purchases with no prior touch are 'direct'),
    then revenue rolls up per attributed channel.

    One window pass (running last-non-null touch over each user's
    timeline) + one small agg — the same single user_id shuffle as
    sessionization. The running carry-forward is O(1) state per row, so
    the plan is a linear scan at any scale; no self-join of purchases
    against touches (the naive formulation, which is O(n²) per user).
    Purchase values sum as exact fixed-point BIGINT so the per-channel
    totals hash-match DuckDB bit-for-bit.
    """
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type", "value")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("view", "click"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("user_id", "event_id", "event_type", "value", touch.alias("touch"))
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("direct")).alias("channel"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(
                F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0, 2
            ).alias("attributed_value"),
        )
    )


@register(
    "events_rolling_zscore",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 10000) AS BIGINT) AS vc,
             count(*) OVER w AS n,
             sum(CAST(round(value * 10000) AS BIGINT)) OVER w AS s,
             sum(CAST(round(value * 10000) AS BIGINT)
                 * CAST(round(value * 10000) AS BIGINT)) OVER w AS ssq
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT user_id, ts, event_id, vc, n,
             CAST(s AS DOUBLE) / n AS mean,
             sqrt(greatest(
               (CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
               / (n - 1), 0)) AS std
      FROM v WHERE n >= 5
    )
    SELECT user_id, ts, event_id,
           round(vc / 10000.0, 4)                      AS value,
           round(mean / 10000.0, 4)                    AS window_mean,
           round((CAST(vc AS DOUBLE) - mean) / std, 4) AS zscore
    FROM z
    WHERE std > 0 AND abs((CAST(vc AS DOUBLE) - mean) / std) > 2
    """,
)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window anomaly detection: each event's value z-scored
    against that user's trailing window of the 10 PRIOR events (the
    event itself excluded — no self-contamination); emit events more
    than 2σ from their own recent history.

    Cross-engine determinism for a *float* statistic: values are first
    fixed-pointed to exact BIGINT ten-thousandths, the window sum and
    sum-of-squares accumulate as integers (order-independent, exact),
    and only then does ONE double conversion + identical IEEE expression
    shape on both engines produce mean/std/z — so even sqrt and division
    are bit-identical. The generic trick for shipping any
    variance-family metric through the repr-hash oracle gate; see also
    tpch_rest._exact_sum.

    Scale posture: one shuffle on user_id, one sort per partition, O(1)
    state per row (running count/sum/sumsq over a bounded ROWS frame).
    At 100 TB this is the canonical telemetry-anomaly scan: perfectly
    parallel across users, no driver state, no joins. No reference
    analog (§2c window functions are absent there).
    """
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    vc = F.round(F.col("value") * 10000).cast("bigint")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    staged = ev.select(
        "user_id",
        "ts",
        "event_id",
        vc.alias("vc"),
        F.count("value").over(w).alias("n"),
        F.sum(vc).over(w).alias("s"),
        F.sum(vc * vc).over(w).alias("ssq"),
    ).where(F.col("n") >= 5)
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ssq").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    zed = staged.select(
        "user_id",
        "ts",
        "event_id",
        "vc",
        mean.alias("mean"),
        std.alias("std"),
    )
    z = (F.col("vc").cast("double") - F.col("mean")) / F.col("std")
    return zed.where((F.col("std") > 0) & (F.abs(z) > 2)).select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("vc") / 10000.0, 4).alias("value"),
        F.round(F.col("mean") / 10000.0, 4).alias("window_mean"),
        F.round(z, 4).alias("zscore"),
    )


@register(
    "events_attribution_first_touch",
    oracle="""
    WITH touched AS (
      SELECT user_id, event_id, event_type, value,
             first_value(CASE WHEN event_type IN ('view', 'click')
                              THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      FROM events
    )
    SELECT coalesce(touch, 'direct') AS channel,
           count(*) AS n_purchases,
           round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 2)
             AS attributed_value
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY coalesce(touch, 'direct')
    """,
)
def events_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution — the acquisition-credit twin of
    events_attribution_last_touch: each purchase credits the EARLIEST
    view/click in the user's preceding timeline (who brought them in,
    not who closed them). Identical single-window scale posture; only
    the carried value flips from running-last to running-first."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type", "value")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.first(
        F.when(F.col("event_type").isin("view", "click"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_type", "value", touch.alias("touch"))
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("direct")).alias("channel"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(
                F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0, 2
            ).alias("attributed_value"),
        )
    )


@register(
    "cohort_ltv_matrix",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_type, value,
             date_trunc('week', min(ts) OVER (PARTITION BY user_id))
               AS cohort_week
      FROM events
    ),
    wk AS (
      SELECT cohort_week,
             CAST(datediff('day', cohort_week, date_trunc('week', ts)) // 7
                  AS BIGINT) AS week_offset,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 10000) AS BIGINT) ELSE 0 END)
               AS rev_fp
      FROM base GROUP BY 1, 2
    )
    SELECT cohort_week, week_offset,
           round(rev_fp / 10000.0, 4) AS week_revenue,
           round(CAST(sum(rev_fp) OVER (PARTITION BY cohort_week
                   ORDER BY week_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) / 10000.0, 4) AS cum_revenue
    FROM wk
    """,
)
def cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix — the revenue twin of
    events_retention_cohorts: users bucketed by first-event week, and
    for each (cohort, week-offset) cell the cohort's purchase revenue
    that week plus the running cumulative LTV curve.

    Cohort assignment is the same window-min (no agg + join-back
    rescan); revenue accumulates as fixed-point BIGINT through both
    the weekly agg and the cumulative window, so the LTV curve is
    hash-exact. The matrix is |cohorts| × |offsets| — tiny at any
    input scale.

    Scale posture: one shuffle on user_id for cohort assignment, one
    hash agg on (cohort, offset), one window over the matrix.
    """
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_type", "value")
    by_user = W.partitionBy("user_id")
    base = ev.select(
        "ts",
        "event_type",
        "value",
        F.date_trunc("week", F.min("ts").over(by_user)).alias("cohort_week"),
    )
    rev = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 10000).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    offset = (
        F.datediff(
            F.date_trunc("week", "ts").cast("date"), F.col("cohort_week").cast("date")
        )
        / 7
    ).cast("bigint")
    wk = base.groupBy(
        "cohort_week", offset.alias("week_offset")
    ).agg(F.sum(rev).alias("rev_fp"))
    wcum = (
        W.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return wk.select(
        "cohort_week",
        "week_offset",
        F.round(F.col("rev_fp") / 10000.0, 4).alias("week_revenue"),
        F.round(F.sum("rev_fp").over(wcum).cast("bigint") / 10000.0, 4).alias(
            "cum_revenue"
        ),
    )


@register(
    "events_resample_linear",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n,
             round(sum(CAST(round(value * 10000) AS BIGINT))
                   / (count(*) * 10000.0), 6) AS av
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    cal AS (
      SELECT t.event_type, u.bucket
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        FROM bounds
      ) u
    ),
    j AS (
      SELECT c.event_type, c.bucket,
             coalesce(h.n, 0) AS n_events, h.av
      FROM cal c LEFT JOIN hourly h USING (event_type, bucket)
    ),
    ctx AS (
      SELECT event_type, bucket, n_events,
             last_value(av IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN av IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
             first_value(av IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN av IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM j
    )
    SELECT event_type, bucket, n_events,
           round(CASE
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             WHEN nb = pb THEN pv
             ELSE pv + (nv - pv)
                  * (epoch(bucket) - epoch(pb)) / (epoch(nb) - epoch(pb))
           END, 6) AS value_interp
    FROM ctx
    """,
)
def events_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample with LINEAR interpolation — the gap-fill policy for
    continuous gauges where LOCF (events_resample_gapfill) is the wrong
    physics: empty hours take the value on the straight line between
    the surrounding observed hourly means; before the first / after the
    last observation the edge value extends.

    Both engines compute the hourly mean as exact-fixed-point-sum /
    count and the interpolation as ONE identical double expression over
    (prev, next, time fractions) — rounded to 6 dp at the boundary.
    The prev/next context comes from four IGNORE NULLS value windows
    over the dense calendar (window_first_last_nth's machinery applied
    to gap-filling).

    Scale posture: identical to the LOCF twin — generated calendar,
    one event_type shuffle for join + windows; dense-frame size is
    keys × hours, independent of event volume.
    """
    ev = _events(spark, sf_dir)
    vc = F.round(F.col("value") * 10000).cast("bigint")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum(vc) / (F.count("*") * 10000.0), 6).alias("av"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    cal = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
                "bucket"
            ),
        )
    )
    j = cal.join(hourly, ["event_type", "bucket"], "left").select(
        "event_type", "bucket", F.coalesce("n", F.lit(0)).alias("n_events"), "av"
    )
    wp = W.partitionBy("event_type").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wn = W.partitionBy("event_type").orderBy("bucket").rowsBetween(
        W.currentRow, W.unboundedFollowing
    )
    obs_bucket = F.when(F.col("av").isNotNull(), F.col("bucket"))
    ctx = j.select(
        "event_type",
        "bucket",
        "n_events",
        F.last("av", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_bucket, ignorenulls=True).over(wp).alias("pb"),
        F.first("av", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_bucket, ignorenulls=True).over(wn).alias("nb"),
    )
    ep = lambda c: F.unix_timestamp(F.col(c).cast("timestamp")).cast("double")  # noqa: E731
    interp = (
        F.when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .when(F.col("nb") == F.col("pb"), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (ep("bucket") - ep("pb"))
            / (ep("nb") - ep("pb"))
        )
    )
    return ctx.select(
        "event_type", "bucket", "n_events", F.round(interp, 6).alias("value_interp")
    )


SEQ_CONTEXT_K = 2  # context length; fixture sessions max out at 3 events


@register(
    "sessionized_training_examples",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, event_id, ts, event_type,
             epoch(ts) - lag(epoch(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap
      FROM events
    ),
    sessions AS (
      SELECT user_id, event_id, ts, event_type,
             CAST(sum(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_SECONDS} THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM gaps
    ),
    seqs AS (
      SELECT user_id, session_id,
             list(event_type ORDER BY ts, event_id) AS types
      FROM sessions GROUP BY user_id, session_id
    ),
    ex AS (
      SELECT user_id, session_id,
             CAST(i.i AS BIGINT) - 1 AS example_id,
             types[i.i : i.i + {SEQ_CONTEXT_K - 1}] AS context,
             types[i.i + {SEQ_CONTEXT_K}] AS target
      FROM seqs,
           LATERAL (SELECT unnest(generate_series(1, len(types) - {SEQ_CONTEXT_K})) AS i) i
    )
    SELECT user_id, session_id, example_id,
           array_to_string(context, ' ') AS context,
           target
    FROM ex
    """,
)
def sessionized_training_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-dataset construction — the exporter that turns raw
    event logs into next-event-prediction training examples: within
    each 30-minute session, every sliding window of SEQ_CONTEXT_K
    event types becomes a (context, target) example (K=2 here — the
    fixture's sessions max out at 3 events; production raises K). This is the
    behavioral-LM analog of ``doc_chunks`` (which windows documents):
    one row per example, rows-out > rows-in, ready for
    ``assign_training_shards``-style export.

    Determinism contract: the per-session sequence is
    ``array_sort(collect_list(struct(ts, event_id, type)))`` — the
    reference's own fix for non-deterministic reduce-value order
    (mrapps/indexer.go:37; SURVEY §1) — so examples are identical under
    any partitioning; the context is emitted as a space-joined string,
    which both engines order identically.

    Scale posture: one shuffle on user_id feeds the session windows and
    the per-session collect; windowing is a per-row higher-order
    transform over bounded session arrays (sessions are minutes long by
    construction — the 30-min gap bounds them). No pairwise stage.
    """
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ts_sec = F.col("ts").cast("timestamp").cast("double")
    with_gap = ev.select(
        "user_id", "event_id", "ts", "event_type",
        (ts_sec - F.lag(ts_sec).over(w)).alias("gap"),
    )
    with_session = with_gap.select(
        "user_id", "event_id", "ts", "event_type",
        F.sum(
            F.when(F.col("gap").isNull() | (F.col("gap") > SESSION_GAP_SECONDS), 1).otherwise(0)
        )
        .over(wrun)
        .cast("bigint")
        .alias("session_id"),
    )
    seqs = with_session.groupBy("user_id", "session_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ).alias("types")
    )
    k = SEQ_CONTEXT_K
    ex = seqs.where(F.size("types") > k).select(
        "user_id",
        "session_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(types) - {k + 1}), "
                f"i -> struct(CAST(i AS BIGINT) AS example_id, "
                f"            array_join(slice(types, i + 1, {k}), ' ') AS context, "
                f"            types[i + {k}] AS target))"
            )
        ).alias("e"),
    )
    return ex.select(
        "user_id", "session_id", "e.example_id", "e.context", "e.target"
    )


# ---------------------------------------------------------------------------
# Row-pattern matching — the SQL:2016 MATCH_RECOGNIZE capability
# ---------------------------------------------------------------------------

# one char per event type: the pattern alphabet
PATTERN_CODES = {
    "signup": "S",
    "view": "V",
    "click": "C",
    "purchase": "P",
    "error": "E",
}
# clean activation: a signup leading to a purchase with no error (and
# no earlier purchase) between — negation + closure, the pattern class
# a plain funnel cascade cannot express
PATTERN_ACTIVATION = "S[^PE]*P"
# uninterrupted conversion path: view → click → purchase with no error
# anywhere inside and no earlier purchase short-circuiting a stage
PATTERN_FUNNEL_PATH = "V[^CPE]*C[^PE]*P"


@register(
    "events_pattern_match",
    bench=True,
    oracle=f"""
    WITH coded AS (
      SELECT user_id, ts, event_id,
             CASE event_type
               WHEN 'signup' THEN 'S' WHEN 'view' THEN 'V'
               WHEN 'click' THEN 'C' WHEN 'purchase' THEN 'P'
               WHEN 'error' THEN 'E' ELSE 'X' END AS code
      FROM events
    ),
    seqs AS (
      SELECT user_id,
             string_agg(code, '' ORDER BY ts, event_id) AS seq,
             count(*) AS n_events
      FROM coded GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(seq, '{PATTERN_ACTIVATION}'))
                AS BIGINT) AS n_activation,
           CAST(len(regexp_extract_all(seq, '{PATTERN_FUNNEL_PATH}'))
                AS BIGINT) AS n_funnel_path
    FROM seqs
    WHERE len(regexp_extract_all(seq, '{PATTERN_ACTIVATION}')) > 0
       OR len(regexp_extract_all(seq, '{PATTERN_FUNNEL_PATH}')) > 0
    """,
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-PATTERN MATCHING — the SQL:2016 MATCH_RECOGNIZE capability
    (Flink CEP / Oracle MATCH_RECOGNIZE; Spark has no native operator):
    per user, the time-ordered event history is encoded as a one-char-
    per-event string and sequential patterns run as REGULAR EXPRESSIONS
    over it — negation ([^PE]: "no error between"), closure, and
    multi-stage paths, the pattern class `events_funnel_conversion`'s
    window cascade cannot express (a funnel asks "did B happen after
    A"; a pattern asks "did B happen after A with NOTHING disqualifying
    between"). Counted here: clean activations (signup → purchase, no
    error/earlier purchase between) and uninterrupted view → click →
    purchase paths; non-overlapping leftmost-match counts, the shared
    regex semantic of Java regex and RE2 for this backreference-free
    pattern class.

    Exactness: the sequence string is deterministic — events sort by
    the (ts, event_id) total order inside array_sort over packed
    structs (the family's collect_list discipline, SURVEY §1); match
    counts are integers.

    Scale posture: one shuffle on user_id (the groupBy), then per-user
    linear-time regex scans — embarrassingly parallel over users. The
    string is bounded by per-user activity (the events_sessionization
    caveat); a 100 TB deployment windows the history per session/day
    first (the same groupBy with a window key added), which this plan
    inherits unchanged. No reference analog (nearest: the sorted
    per-key value list handed to reducef, mr/worker.go:137)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    code = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in PATTERN_CODES.items() for x in kv]
        ),
        F.col("event_type"),
    )
    coded = ev.select(
        "user_id",
        F.struct(
            F.col("ts").alias("ts"),  # NTZ timestamp sorts natively
            F.col("event_id").alias("eid"),
            F.coalesce(code, F.lit("X")).alias("code"),
        ).alias("s"),
    )
    seqs = coded.groupBy("user_id").agg(
        F.concat_ws(
            "", F.transform(F.array_sort(F.collect_list("s")), lambda s: s["code"])
        ).alias("seq"),
        F.count("*").alias("n_events"),
    )
    out = seqs.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.regexp_count("seq", F.lit(PATTERN_ACTIVATION))
        .cast("bigint")
        .alias("n_activation"),
        F.regexp_count("seq", F.lit(PATTERN_FUNNEL_PATH))
        .cast("bigint")
        .alias("n_funnel_path"),
    )
    return out.where((F.col("n_activation") > 0) | (F.col("n_funnel_path") > 0))


@register(
    "events_pattern_match_windowed",
    bench=True,
    oracle=f"""
    WITH coded AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, ts, event_id,
             CASE event_type
               WHEN 'signup' THEN 'S' WHEN 'view' THEN 'V'
               WHEN 'click' THEN 'C' WHEN 'purchase' THEN 'P'
               WHEN 'error' THEN 'E' ELSE 'X' END AS code
      FROM events
    ),
    seqs AS (
      SELECT user_id, day,
             string_agg(code, '' ORDER BY ts, event_id) AS seq,
             count(*) AS n_events
      FROM coded GROUP BY user_id, day
    )
    SELECT user_id, day,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(seq, '{PATTERN_ACTIVATION}'))
                AS BIGINT) AS n_activation,
           CAST(len(regexp_extract_all(seq, '{PATTERN_FUNNEL_PATH}'))
                AS BIGINT) AS n_funnel_path
    FROM seqs
    WHERE len(regexp_extract_all(seq, '{PATTERN_ACTIVATION}')) > 0
       OR len(regexp_extract_all(seq, '{PATTERN_FUNNEL_PATH}')) > 0
    """,
)
def events_pattern_match_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-PATTERN MATCHING, WINDOWED PER (user, day) — the deployment
    shape `events_pattern_match`'s scale note names, now the verified
    one: the per-user history string there is
    bounded only by per-user activity, so a 100 TB run windows the
    history FIRST — the same groupBy with a calendar-day key added —
    and every state string is bounded by one user-day of events. The
    patterns, encoding, and (ts, event_id) total order are byte-shared
    with the unwindowed twin; only the grouping key differs, which is
    exactly the claim ("this plan inherits unchanged") made verifiable.

    Semantics consequence, pinned in pytest with a planted straddle: a
    match whose span crosses midnight (signup 23:50, purchase 00:10)
    counts in the UNWINDOWED twin but NOT here — windowed
    MATCH_RECOGNIZE is per-window by definition (Flink CEP within-
    window semantics), the price of bounded state; deployments pick
    the window (day/session) to cover the pattern's natural horizon.

    Exactness: the day key is the NTZ timestamp's calendar date as a
    string — both engines derive it from the same wall-clock value
    with no zone arithmetic (the session pins UTC).

    Scale posture: one shuffle on (user_id, day) — finer than the
    twin's user_id, so hot users spread across days; per-group state
    is one bounded day-string; the regex scan stays linear and
    embarrassingly parallel. No reference analog (SURVEY §2c)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    code = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in PATTERN_CODES.items() for x in kv]
        ),
        F.col("event_type"),
    )
    coded = ev.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.struct(
            F.col("ts").alias("ts"),
            F.col("event_id").alias("eid"),
            F.coalesce(code, F.lit("X")).alias("code"),
        ).alias("s"),
    )
    seqs = coded.groupBy("user_id", "day").agg(
        F.concat_ws(
            "", F.transform(F.array_sort(F.collect_list("s")), lambda s: s["code"])
        ).alias("seq"),
        F.count("*").alias("n_events"),
    )
    out = seqs.select(
        "user_id",
        "day",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.regexp_count("seq", F.lit(PATTERN_ACTIVATION))
        .cast("bigint")
        .alias("n_activation"),
        F.regexp_count("seq", F.lit(PATTERN_FUNNEL_PATH))
        .cast("bigint")
        .alias("n_funnel_path"),
    )
    return out.where((F.col("n_activation") > 0) | (F.col("n_funnel_path") > 0))
