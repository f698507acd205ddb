"""Sequence, windowed-statistics, and statistical analytics.

Operators absent from the reference (SURVEY §2c — windows and sequence
analysis don't exist there) that a product-analytics or data-science
user of the engine needs as first-class queries. Families here:

- window statistics Spark lacks natively: rolling median, cumulative
  distinct (first-seen decomposition), bounded-domain distinct-in-frame
  (bit_or bitmask), max drawdown, MAD, equi-depth histograms;
- sequence analytics: Markov transitions, time-weighted averages,
  session path mining, peak session concurrency (sweep-line), OLS
  trends, week-over-week growth, time-series similarity search;
- co-occurrence/statistics: market-basket lift, triangle counting,
  chi-square contingency, arg-extremum aggregates;
- semi-structured: VARIANT shredding, regex fact extraction;
- infrastructure shapes: the two-phase global running sum
  (surrogate keys) reused by pack_token_batches.

The common discipline: one shuffle on the natural key per stage,
map-side-combinable aggregates, bounded per-row state, and the
exactness playbook (README) — fixed-point integers until one final
identical double op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from minimapreduce_spark.catalog import load_table
from minimapreduce_spark.registry import register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@register(
    "window_rolling_median",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 10000) AS BIGINT) AS vc
      FROM events
    ),
    m AS (
      SELECT user_id, ts, event_id, vc,
             count(*)   OVER w AS n,
             median(vc) OVER w AS med
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, ts, event_id,
           round(vc / 10000.0, 4)  AS value,
           round(med / 10000.0, 4) AS rolling_median
    FROM m
    WHERE n = 7
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row median of each user's event value — the robust
    smoother (median filter) used for spike-resistant telemetry
    baselines.

    Spark has no median frame aggregate, so the frame is materialized
    with ``collect_list`` over a bounded 7-row window, ``array_sort``
    ed, and the middle element taken — O(frame log frame) per row with
    a constant 7-element frame, so still O(1) state per row at scale.
    DuckDB's ``median() OVER`` computes the same statistic natively;
    values are fixed-pointed to BIGINT ten-thousandths first so both
    engines select the identical middle element (and an even-count
    mid-average, were the frame even, would be an exact .5 — though
    the n=7 gate keeps frames odd and the median an array member).

    Scale posture: one shuffle on user_id, one sort per partition,
    bounded frame. No reference analog (§2c windows absent).
    """
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    vc = F.round(F.col("value") * 10000).cast("bigint")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    staged = ev.select(
        "user_id",
        "ts",
        "event_id",
        vc.alias("vc"),
        # count(*) over the frame, NOT count(value): the oracle's
        # count(*) counts NULL rows too, so the frame gate must as well
        # or the two engines would pick different 7-row frames.
        F.count(F.lit(1)).over(w).alias("n"),
        F.array_sort(F.collect_list(vc).over(w)).alias("frame"),
    ).where(F.col("n") == 7)
    med = F.element_at("frame", 4).cast("double")
    return staged.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("vc") / 10000.0, 4).alias("value"),
        F.round(med / 10000.0, 4).alias("rolling_median"),
    )


@register(
    "window_cumulative_distinct_users",
    oracle="""
    WITH firsts AS (
      SELECT event_type, user_id, min(date_trunc('day', ts)) AS first_day
      FROM events GROUP BY event_type, user_id
    ),
    new_users AS (
      SELECT event_type, first_day AS day, count(*) AS n_new
      FROM firsts GROUP BY event_type, first_day
    ),
    spine AS (
      SELECT DISTINCT event_type, date_trunc('day', ts) AS day FROM events
    )
    SELECT s.event_type, s.day,
           coalesce(n.n_new, 0) AS n_new,
           CAST(sum(coalesce(n.n_new, 0)) OVER (
             PARTITION BY s.event_type ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM spine s LEFT JOIN new_users n
      ON s.event_type = n.event_type AND s.day = n.day
    """,
)
def window_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — the "total
    audience reached as of day D" growth curve.

    Neither Spark nor DuckDB supports ``COUNT(DISTINCT) OVER (ORDER BY
    ...)``, so both engines use the first-seen decomposition: a user
    contributes exactly once, on their first active day, and the
    cumulative distinct count is the running SUM of per-day first-seen
    counts — turning an unbounded-state distinct window into two
    ordinary hash aggregates plus a running integer sum.

    Scale posture: the min-day agg shuffles on (event_type, user_id) —
    the natural high-cardinality key, map-side partial min applies; the
    day spine and running sum operate on (types × days) rows, tiny at
    any scale. All-integer arithmetic → exact cross-engine.
    """
    ev = _events(spark, sf_dir).select(
        "event_type", "user_id", F.date_trunc("day", "ts").alias("day")
    )
    firsts = ev.groupBy("event_type", "user_id").agg(F.min("day").alias("first_day"))
    new_users = firsts.groupBy("event_type", F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    spine = ev.select("event_type", "day").distinct()
    joined = spine.join(new_users, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n_new", F.lit(0)).alias("n_new")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "event_type", "day", "n_new", F.sum("n_new").over(w).alias("cum_users")
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    pairs AS (
      SELECT src, dst, count(*) AS n
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY src), 6) AS prob
    FROM pairs
    """,
    bench=True,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each ordered (src → dst) event-type pair, the count
    and the conditional probability P(dst | src).

    The sequence pairing is one ``lead`` window per user (the same
    shuffle the funnel/sessionization family already pays), the matrix
    is a hash agg on (src, dst) — bounded by |types|² rows — and the
    row normalization is a window over that tiny matrix. Probability =
    one division of exact BIGINTs, identical on both engines.

    Scale posture: one shuffle on user_id + one on (src, dst) with
    map-side partial counts; output is O(|types|²) regardless of input
    size. The "what do users do next" primitive behind next-action
    prediction and UX-flow mining.
    """
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(wseq).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
    )
    wsrc = W.partitionBy("src")
    return pairs.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wsrc), 6).alias("prob"),
    )


@register(
    "basket_part_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
    part_cnt AS (
      SELECT l_partkey, count(*) AS cnt FROM items GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support_cnt
      FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p1, p2, support_cnt,
           round(support_cnt * 1.0 * n.n_orders / (c1.cnt * c2.cnt), 6) AS lift
    FROM pairs
    JOIN part_cnt c1 ON p1 = c1.l_partkey
    JOIN part_cnt c2 ON p2 = c2.l_partkey
    CROSS JOIN n
    WHERE support_cnt >= 2
    """,
    bench=True,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: pairs of parts co-ordered in >= 2 orders,
    with lift (observed co-occurrence / expected-if-independent) — the
    association-rule primitive behind "frequently bought together".

    The pair generation is a self-join on l_orderkey, so the blow-up is
    bounded by the per-basket item count (TPC-H orders hold <= 7
    lines), never by the catalog size — the same block-bounded O(b²)
    shape as fuzzy_join_blocked. Counts are exact BIGINTs; lift is one
    identical double expression both engines evaluate over them.

    Scale posture: shuffle on l_orderkey (self-join), then hash agg on
    (p1, p2) with map-side partials; part marginals broadcast back in.
    A hot basket (one order with thousands of items) is the one skew
    risk — cap basket size upstream if the domain allows it.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Per-basket pair generation WITHOUT the items self-join (the
    # graph_triangle_degree_oriented restructure): one
    # groupBy(l_orderkey) collects each basket's distinct part set
    # (collect_set partial-aggregates map-side), and the p1 < p2 pairs
    # come from positions i < j of the sorted array — the same pair
    # multiset as distinct ⋈ distinct on l_orderkey, but the items
    # frame crosses the wire once instead of three times (distinct +
    # both self-join sides). Pair volume stays Σ b_i²/2, bounded by the
    # basket size as before. The checkpointed basket frame also feeds
    # the marginals and the order count.
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .localCheckpoint(eager=False)
    )
    n = baskets.select(F.count(F.lit(1)).alias("n_orders"))
    part_cnt = baskets.select(F.explode("ps").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count("*").alias("cnt"))
    ps = F.col("ps")
    pair_arr = F.flatten(
        F.transform(
            ps,
            lambda u, i: F.transform(
                F.slice(ps, i + F.lit(2), F.size(ps)),
                lambda v: F.struct(u.alias("p1"), v.alias("p2")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.p1", "p.p2")
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("support_cnt"))
        .where(F.col("support_cnt") >= 2)
    )
    c1 = part_cnt.select(F.col("l_partkey").alias("p1"), F.col("cnt").alias("cnt1"))
    c2 = part_cnt.select(F.col("l_partkey").alias("p2"), F.col("cnt").alias("cnt2"))
    return (
        pairs.join(c1, "p1")
        .join(c2, "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "support_cnt",
            F.round(
                F.col("support_cnt") * 1.0 * F.col("n_orders")
                / (F.col("cnt1") * F.col("cnt2")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(round(value * 10000) AS BIGINT) AS vc,
             (lead(epoch_us(ts)) OVER w - epoch_us(ts)) // 1000000 AS gap_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           count(*) AS n_intervals,
           round(CAST(sum(vc * gap_s) AS DOUBLE)
                 / (sum(gap_s) * 10000.0), 4) AS twa_value
    FROM seq
    WHERE gap_s IS NOT NULL
    GROUP BY user_id
    HAVING sum(gap_s) > 0
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's event value: every reading
    is held until the next one and weighted by that holding duration —
    the correct mean for irregularly-sampled gauges (plain avg
    over-weights bursts).

    Durations come from one lead() over (user, time); values are
    fixed-pointed to BIGINT ten-thousandths and weighted by whole
    seconds, so the weighted sum and the weight sum are exact integers;
    the final division is one identical double op (see
    events_rolling_zscore for the pattern).

    Scale posture: one shuffle on user_id + per-partition sort, then a
    hash agg on the same key — the second agg is shuffle-free because
    partitioning is preserved. O(1) state per row.
    """
    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 10000).cast("bigint").alias("vc"),
        ((F.lead(us).over(wseq) - us) / F.lit(1000000)).cast("bigint").alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return (
        seq.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum(F.col("vc") * F.col("gap_s")).alias("ws"),
            F.sum("gap_s").alias("w"),
        )
        .where(F.col("w") > 0)
        .select(
            "user_id",
            "n_intervals",
            F.round(F.col("ws").cast("double") / (F.col("w") * 10000.0), 4).alias(
                "twa_value"
            ),
        )
    )


@register(
    "events_variant_shred",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_decile,
           count(*) AS n_events,
           min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 4) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def events_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props pipeline on Spark 4's VARIANT type: parse
    the JSON once into a Variant column, then extract typed fields with
    ``try_variant_get`` — the shredded-access path that replaces
    repeated ``get_json_object`` string re-parsing (each of which
    re-tokenizes the JSON) with one parse + cheap typed reads.

    The aggregation buckets events by decile of the extracted integer;
    sums are exact fixed-point. DuckDB's oracle reads the same fields
    with its native JSON extractors — identical values, engine-specific
    access machinery.

    Scale posture: parse + extract are per-row JVM expressions (no
    Python, no shuffle); one hash agg on the derived bucket. VARIANT
    binary encoding also pushes straight down to parquet at rest in
    Spark 4 — the storage layout multimodal/typed-metadata columns
    want.
    """
    ev = _events(spark, sf_dir)
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    vc = F.round(F.col("value") * 10000).cast("bigint")
    return (
        ev.select(
            F.floor(k / 10).cast("bigint").alias("k_decile"),
            k.alias("k"),
            vc.alias("vc"),
        )
        .groupBy("k_decile")
        .agg(
            F.count("*").alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.sum("vc") / 10000.0, 4).alias("total_value"),
        )
    )


@register(
    "chi2_lang_source",
    oracle="""
    WITH cells AS (
      SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, count(*) AS row_n FROM documents GROUP BY 1),
    ct AS (SELECT source, count(*) AS col_n FROM documents GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    grid AS (
      SELECT rt.lang, ct.source, rt.row_n, ct.col_n, n.n,
             coalesce(c.o, 0) AS o
      FROM rt CROSS JOIN ct CROSS JOIN n
      LEFT JOIN cells c ON rt.lang = c.lang AND ct.source = c.source
    )
    SELECT lang, source, o AS observed,
           round(CAST(row_n AS DOUBLE) * col_n / n, 4) AS expected,
           round(
             (o - CAST(row_n AS DOUBLE) * col_n / n)
             * (o - CAST(row_n AS DOUBLE) * col_n / n)
             / (CAST(row_n AS DOUBLE) * col_n / n), 6) AS contribution
    FROM grid
    """,
)
def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency decomposition of documents over
    (lang × source): per-cell observed count, independence-expected
    count, and the cell's χ² contribution — the drift/dependence test a
    training-data pipeline runs to catch a source suddenly skewing its
    language mix (summing `contribution` gives the χ² statistic with
    (R−1)(C−1) degrees of freedom).

    The full grid is materialized (marginals cross-joined, zero cells
    kept) because empty cells still carry their expected-count
    contribution — dropping them understates the statistic. All counts
    are exact; expected/contribution are one identical double
    expression on both engines.

    Scale posture: one scan feeds three hash aggs (Spark shares the
    scan via exchange reuse); the grid itself is |langs|×|sources| —
    trivially broadcast-sized regardless of corpus scale.
    """
    from minimapreduce_spark.catalog import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rt = docs.groupBy("lang").agg(F.count("*").alias("row_n"))
    ct = docs.groupBy("source").agg(F.count("*").alias("col_n"))
    n = docs.agg(F.count("*").alias("n"))
    grid = (
        rt.crossJoin(ct)
        .crossJoin(F.broadcast(n))
        .join(cells, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "row_n",
            "col_n",
            "n",
            F.coalesce("o", F.lit(0)).alias("o"),
        )
    )
    e = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    return grid.select(
        "lang",
        "source",
        F.col("o").alias("observed"),
        F.round(e, 4).alias("expected"),
        F.round((F.col("o") - e) * (F.col("o") - e) / e, 6).alias("contribution"),
    )


@register(
    "histogram_equidepth_prices",
    bench=True,
    oracle="""
    WITH b AS (
      SELECT o_totalprice,
             ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM b GROUP BY bucket
    """,
)
def histogram_equidepth_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) histogram of order prices with exact
    ntile(8) semantics — the quantile-bucketed complement of the
    fixed-width `histogram_order_prices`; equi-depth bins are what
    optimizers and drift monitors actually want, because every bin
    carries equal evidence.

    NO single-partition ntile window: the bucket is reconstructed
    arithmetically from a two-phase global row number (range-partition
    → local row_number → broadcast per-range offsets; operators/
    ordered.py) and the scalar row count — bit-identical to SQL
    NTILE(8) with the (price, orderkey) tie-break, fully parallel.

    Scale posture: one range shuffle of (price, key) pairs + a
    broadcast of ≤ n_ranges offsets + a 1-row count; the final agg
    shuffles 8 groups.
    """
    from minimapreduce_spark.operators.ordered import (
        ntile_expr,
        with_global_row_number,
        with_scalars,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    rn = with_global_row_number(
        orders, [F.asc("o_totalprice"), F.asc("o_orderkey")], out="rn"
    )
    n = orders.agg(F.count(F.lit(1)).alias("_n"))
    b = with_scalars(rn, n).select(
        "o_totalprice", ntile_expr(F.col("rn"), F.col("_n"), 8).alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "surrogate_keys_documents",
    oracle="""
    SELECT doc_id,
           row_number() OVER (ORDER BY doc_id) AS sk
    FROM documents
    """,
)
def surrogate_keys_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense surrogate-key assignment (1..N in doc_id order) WITHOUT a
    single-partition global window — the scalable two-phase pattern:

    1. range-partition + sort by the business key (a total order,
       since doc_id is unique);
    2. row_number within each partition — parallel, bounded state;
    3. per-partition counts (a tiny agg) → running offsets via a
       window over #partitions rows → broadcast back and add.

    The result equals the oracle's global row_number, but no stage
    ever funnels the table through one task — the difference between
    "works on 60k rows" and "works on 100 TB".
    monotonically_increasing_id is NOT used: its values are
    partition-sparse, not dense, and move with the plan. The pattern
    lives in operators/ordered.py (shared by the equi-depth histogram,
    RFM ntiles, Pareto/Gini/ABC ranks, and the sweep-line running sum),
    including the single-materialization guard against the range
    partitioner's sampled, per-plan boundaries.
    """
    from minimapreduce_spark.operators.ordered import with_global_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return with_global_row_number(docs, [F.asc("doc_id")], out="sk").select(
        "doc_id", "sk"
    )


@register(
    "sessions_peak_concurrency",
    oracle="""
    WITH sessions AS (
      SELECT user_id, session_id,
             min(ts) AS session_start, max(ts) AS session_end
      FROM (
        SELECT user_id, ts,
               sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM (
          SELECT user_id, ts, event_id,
                 epoch(ts) - lag(epoch(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
          FROM events
        )
      )
      GROUP BY user_id, session_id
    ),
    deltas AS (
      SELECT session_start AS t, 1 AS d FROM sessions
      UNION ALL
      SELECT session_end AS t, -1 AS d FROM sessions
    ),
    swept AS (
      SELECT t,
             CAST(sum(sum(d)) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  + sum(CASE WHEN d = -1 THEN 1 ELSE 0 END)
              AS BIGINT) AS peak_at_t
      FROM deltas GROUP BY t
    )
    SELECT date_trunc('day', t) AS day,
           max(peak_at_t) AS peak_concurrent
    FROM swept GROUP BY 1
    """,
)
def sessions_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of simultaneously-open user sessions per day — the
    capacity-planning metric — via the sweep-line decomposition:
    sessionize (the same 30-min gap rule as events_sessionization),
    emit +1 at each session start and −1 at each end, order by time,
    and take the running sum's daily maximum.

    Point events collapse per timestamp BEFORE the running sum (GROUP
    BY t with an inner sum), so tie order can't differ between engines
    — and the instant's peak counts starts BEFORE ends (running net
    sum plus the ends that fired at t), so a single-event session
    (start == end) still registers as live at its instant. All-integer
    deltas → exact.

    Scale posture: sessionization shuffles on user_id; the sweep
    range-partitions the distinct-timestamp axis with per-range
    carry-in offsets (operators/ordered.py two-phase running sum) —
    no single-partition pass even when the timestamp spine is huge.
    """
    from minimapreduce_spark.operators.events import events_sessionization
    from minimapreduce_spark.operators.ordered import with_global_running_sum

    sessions = events_sessionization(spark, sf_dir)
    starts = sessions.select(F.col("session_start").alias("t"), F.lit(1).alias("d"))
    ends = sessions.select(F.col("session_end").alias("t"), F.lit(-1).alias("d"))
    deltas = starts.unionAll(ends)
    per_t = deltas.groupBy("t").agg(
        F.sum("d").alias("dsum"),
        F.sum(F.when(F.col("d") == -1, 1).otherwise(0)).alias("ends"),
    )
    cum = with_global_running_sum(per_t, [F.asc("t")], F.col("dsum"), out="cum_d")
    swept = cum.select(
        "t", (F.col("cum_d") + F.col("ends")).cast("bigint").alias("peak_at_t")
    )
    return swept.groupBy(F.date_trunc("day", "t").alias("day")).agg(
        F.max("peak_at_t").alias("peak_concurrent")
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS support_cnt
      FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    tri AS (
      SELECT e1.u AS p1, e1.v AS p2, e2.v AS p3
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT p1, p2, p3 FROM tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the part co-purchase graph (edges = part pairs
    co-ordered ≥ 2 times, from the basket_part_pairs construction):
    triples of parts that pairwise co-occur — the clique primitive
    behind community detection and recommendation bundles.

    Distributed triangle enumeration in its canonical two-join form:
    orient every edge low→high (kills duplicate rotations AND bounds
    the join fan-out by out-degree), join wedges u→v→w, then close
    each wedge against the edge list. Both joins are plain hash joins
    on part keys.

    Scale posture: wedge count is sum(out_deg²) — the quadratic term
    — so production runs degree-order the orientation (point the edge
    from the lower-degree endpoint) to cap it; the low→high id
    orientation here keeps the oracle simple. Support-thresholded
    edges already prune the hub explosion.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("support_cnt"))
        .where(F.col("support_cnt") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=False)  # read 3x: wedge sides + closer
    )
    e1 = edges.select(F.col("u").alias("p1"), F.col("v").alias("p2"))
    e2 = edges.select(F.col("u").alias("p2"), F.col("v").alias("p3"))
    wedges = e1.join(e2, "p2")
    e3 = edges.select(F.col("u").alias("p1"), F.col("v").alias("p3"))
    return wedges.join(e3, ["p1", "p3"]).select("p1", "p2", "p3")


@register(
    "vocab_growth_curve",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                        w -> w <> '')) AS word
      FROM documents
    ),
    firsts AS (SELECT word, min(doc_id) AS first_doc FROM toks GROUP BY 1),
    new_words AS (
      SELECT first_doc AS doc_id, count(*) AS n_new FROM firsts GROUP BY 1
    ),
    spine AS (SELECT DISTINCT doc_id FROM documents)
    SELECT s.doc_id,
           coalesce(n.n_new, 0) AS n_new_words,
           CAST(sum(coalesce(n.n_new, 0)) OVER (
             ORDER BY s.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS vocab_size
    FROM spine s LEFT JOIN new_words n USING (doc_id)
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps'-law curve): distinct words seen as of
    each document in doc_id order — how fast a corpus stops yielding
    new types, the saturation signal data-curation uses to decide when
    more of a source adds nothing.

    Same first-seen decomposition as window_cumulative_distinct_users,
    on the word axis: a word contributes at its minimum doc_id, per-doc
    first-seen counts are a hash agg, and the curve is a running sum
    over the doc spine. No distinct-state window anywhere — and the
    running sum itself is the two-phase pattern (operators/ordered.py:
    range-partition the spine, local running sums, broadcast per-range
    offsets), so even a billion-document spine never funnels through
    one task.

    Scale posture: tokenize is embarrassingly parallel; the min-doc agg
    shuffles on word (high cardinality, map-side partial min); the
    running sum is one range shuffle of the spine. All-integer → exact.
    """
    from minimapreduce_spark.operators.ordered import with_global_running_sum
    from minimapreduce_spark.operators.text_analysis import _docs, _tokens

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("word"))
    firsts = toks.groupBy("word").agg(F.min("doc_id").alias("doc_id"))
    new_words = firsts.groupBy("doc_id").agg(F.count("*").alias("n_new"))
    spine = docs.select("doc_id").distinct()
    joined = spine.join(new_words, "doc_id", "left").select(
        "doc_id", F.coalesce("n_new", F.lit(0)).alias("n_new_words")
    )
    cum = with_global_running_sum(
        joined, [F.asc("doc_id")], F.col("n_new_words"), out="vocab_size"
    )
    return cum.select(
        "doc_id", "n_new_words", F.col("vocab_size").cast("bigint").alias("vocab_size")
    )


@register(
    "window_max_drawdown",
    oracle="""
    WITH cum AS (
      SELECT user_id, ts, event_id,
             sum(CAST(round(value * 10000) AS BIGINT)) OVER w AS cum_v
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    dd AS (
      SELECT user_id,
             max(cum_v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - cum_v AS drawdown
      FROM cum
    )
    SELECT user_id,
           round(max(drawdown) / 10000.0, 4) AS max_drawdown
    FROM dd GROUP BY user_id
    """,
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative event value: the
    largest peak-to-trough fall of the running total — the
    risk/regression metric for any cumulative series (spend, score,
    PnL).

    Two stacked windows over ONE (user, time) sort: running sum, then
    running max of that sum; drawdown = peak − current, aggregated to
    its per-user max. Fixed-point BIGINT all the way — running sums
    and maxes are exact, so no float drift across engines.

    Scale posture: one shuffle on user_id; both windows and the final
    agg reuse the same partitioning; O(1) state per row.
    """
    ev = _events(spark, sf_dir)
    vc = F.round(F.col("value") * 10000).cast("bigint")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = ev.select("user_id", "ts", "event_id", F.sum(vc).over(w).alias("cum_v"))
    dd = cum.select(
        "user_id", (F.max("cum_v").over(w) - F.col("cum_v")).alias("drawdown")
    )
    return dd.groupBy("user_id").agg(
        F.round(F.max("drawdown") / 10000.0, 4).alias("max_drawdown")
    )


@register(
    "ols_slope_value_vs_time",
    oracle="""
    WITH pts AS (
      SELECT user_id,
             epoch_us(ts) // 1000000 - 1704067200 AS x,
             CAST(round(value * 10000) AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT user_id, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts GROUP BY user_id HAVING count(*) >= 2
    )
    SELECT user_id, n,
           round(
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             * 8.64, 6) AS slope_per_day
    FROM s
    WHERE CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <> 0
    """,
)
def ols_slope_value_vs_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of event value over time (slope in
    value-units per day) — the grouped regression aggregate behind
    metric-trend dashboards and degradation alerts.

    The closed form needs only five decomposable sums (n, Σx, Σy, Σxy,
    Σx²), so it's ONE map-side-combinable hash aggregation — no window,
    no per-group iteration, the textbook "algebraic aggregate" shape.
    x is whole seconds from a fixed epoch (2024-01-01) to keep Σx²
    within BIGINT; y is fixed-point; every sum is exact, and the slope
    is one identical double expression (the ×10⁻⁴ value scale and ×86400
    s/day fold into the single constant 8.64).

    Scale posture: single shuffle on user_id with partial aggregation;
    constant state per group. DuckDB's regr_slope would give the same
    answer — the explicit form keeps both engines byte-identical.
    """
    ev = _events(spark, sf_dir)
    x = (F.unix_micros(F.col("ts").cast("timestamp")) / 1000000).cast("bigint") - 1704067200
    y = F.round(F.col("value") * 10000).cast("bigint")
    s = (
        ev.select("user_id", x.alias("x"), y.alias("y"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .where(F.col("n") >= 2)
    )
    denom = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return s.where(denom != 0).select(
        "user_id",
        "n",
        F.round(num / denom * 8.64, 6).alias("slope_per_day"),
    )


@register(
    "session_top_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT user_id, ts, event_id, event_type,
               epoch(ts) - lag(epoch(ts))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events
      )
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM seq GROUP BY user_id, session_id
    ),
    counted AS (
      SELECT path, count(*) AS n_sessions FROM paths GROUP BY path
    ),
    ranked AS (
      SELECT path, n_sessions,
             row_number() OVER (ORDER BY n_sessions DESC, path) AS rnk
      FROM counted
    )
    SELECT path, n_sessions, rnk FROM ranked WHERE rnk <= 10
    """,
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most common session paths (the ordered sequence of event
    types within a 30-min-gap session, joined with '>') — UX-flow
    mining: which journeys actually happen.

    Path assembly is ordered-deterministic on both engines: Spark
    collects (ts, event_id, event_type) structs, array_sorts (struct
    order = field order, so ties break on event_id exactly like the
    oracle's ORDER BY), then projects and joins; DuckDB uses ordered
    string_agg. Ranking ties break lexicographically.

    Scale posture: one shuffle on user_id for sessionize+collect (the
    per-session array is gap-bounded), one hash agg on path, and a
    top-k over distinct paths. The collect_list is per-session, never
    per-user-history.
    """
    from minimapreduce_spark.operators.events import events_sessionization  # noqa: F401  (same gap rule)

    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ts_sec = F.col("ts").cast("timestamp").cast("double")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (ts_sec - F.lag(ts_sec).over(w)).alias("gap"),
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            F.when(F.col("gap").isNull() | (F.col("gap") > 1800), 1).otherwise(0)
        )
        .over(wrun)
        .alias("session_id"),
    )
    paths = (
        seq.groupBy("user_id", "session_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.transform("evs", lambda s: s["event_type"]), ">"
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    # TakeOrdered top-10 first (parallel per-partition heaps), THEN the
    # 10-row rank window — a global row_number over every distinct path
    # would pull the whole rollup through one partition.
    top = counted.orderBy(F.desc("n_sessions"), F.asc("path")).limit(10)
    from minimapreduce_spark.operators.ordered import with_bounded_rank

    # 10 rows post-limit
    return with_bounded_rank(
        top, F.desc("n_sessions"), F.asc("path"), out="rnk"
    ).select("path", "n_sessions", "rnk")


@register(
    "extract_numbers_table",
    oracle="""
    WITH hits AS (
      SELECT event_type, unnest(regexp_extract_all(props, '[0-9]+')) AS num_str
      FROM events
    )
    SELECT event_type, num_str,
           CAST(num_str AS BIGINT) AS num_val,
           count(*) AS n_occurrences
    FROM hits
    WHERE length(num_str) <= 18
    GROUP BY event_type, num_str
    """,
)
def extract_numbers_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured extraction as a table function: every integer literal
    in the raw ``props`` payload, exploded to one row per (event_type,
    literal) with its parsed value and occurrence count — the
    regexp_extract_all → explode pattern that turns semi-structured
    strings into joinable typed facts WITHOUT a JSON parser (the
    salvage path for malformed payloads that from_json/parse_json
    reject; rows-out > rows-in, the reference's Map-UDTF shape, SURVEY
    §2a#2, with zero Python).

    The length guard keeps the BIGINT cast in range on both engines.

    Scale posture: extraction is embarrassingly parallel JVM regex;
    the only shuffle is the (event_type, literal) count agg.
    """
    ev = _events(spark, sf_dir)
    hits = ev.select(
        "event_type",
        F.explode(F.regexp_extract_all("props", F.lit("[0-9]+"), F.lit(0))).alias(
            "num_str"
        ),
    ).where(F.length("num_str") <= 18)
    return hits.groupBy("event_type", "num_str").agg(
        F.col("num_str").cast("bigint").alias("num_val"),
        F.count("*").alias("n_occurrences"),
    )


@register(
    "agg_mad_user_value",
    oracle="""
    WITH v AS (
      SELECT user_id, CAST(round(value * 10000) AS BIGINT) AS vc FROM events
    ),
    med AS (
      SELECT user_id, quantile_cont(vc, 0.5) AS med FROM v GROUP BY user_id
    )
    SELECT v.user_id,
           round(any_value(med.med) / 10000.0, 4) AS median_value,
           round(quantile_cont(abs(vc - med.med), 0.5) / 10000.0, 4) AS mad
    FROM v JOIN med USING (user_id)
    GROUP BY v.user_id
    """,
)
def agg_mad_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of each user's event values — the
    robust spread estimate that, unlike stddev (events_rolling_zscore's
    denominator), one wild outlier cannot inflate.

    Two-level exact median: values fixed-point to BIGINT, per-user
    median via exact type-7 interpolation (percentile ≡ DuckDB
    quantile_cont — same definition, and on integer inputs the
    interpolated value is an exact binary fraction), deviations |v−med|
    are exact halves, and their median interpolates exactly again.
    Bit-identical cross-engine with NO float accumulation.

    Scale posture: two shuffles on user_id (median, then deviation
    median — the second reuses the partitioning); exact percentile
    sorts within groups. The approx twin at 100 TB is
    approx_percentile on both levels.
    """
    ev = _events(spark, sf_dir)
    vc = F.round(F.col("value") * 10000).cast("bigint")
    v = ev.select("user_id", vc.alias("vc"))
    med = v.groupBy("user_id").agg(F.expr("percentile(vc, 0.5D)").alias("med"))
    dev = v.join(med, "user_id").select(
        "user_id", "med", F.abs(F.col("vc") - F.col("med")).alias("adev")
    )
    return dev.groupBy("user_id").agg(
        F.round(F.any_value("med") / 10000.0, 4).alias("median_value"),
        F.round(F.expr("percentile(adev, 0.5D)") / 10000.0, 4).alias("mad"),
    )


@register(
    "weekly_growth_rate",
    oracle="""
    WITH wk AS (
      SELECT event_type, date_trunc('week', ts) AS week,
             sum(CAST(round(value * 10000) AS BIGINT)) AS rev_fp
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, week,
           round(rev_fp / 10000.0, 4) AS revenue,
           round(
             (rev_fp - lag(rev_fp) OVER w) * 100.0 / lag(rev_fp) OVER w,
             4) AS pct_change
    FROM wk
    WINDOW w AS (PARTITION BY event_type ORDER BY week)
    """,
)
def weekly_growth_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth per event type: weekly fixed-point
    sums (exact), then one lag window for the percent change — the
    KPI-dashboard primitive. First week's change is NULL by definition
    (no prior), which both engines agree on; the division runs on exact
    BIGINTs so the percentage is one identical double op.

    Scale posture: one hash agg shuffle on (type, week), then a window
    over the tiny weekly rollup. The growth never touches row-level
    data.
    """
    ev = _events(spark, sf_dir)
    vc = F.round(F.col("value") * 10000).cast("bigint")
    wk = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").alias("week")
    ).agg(F.sum(vc).alias("rev_fp"))
    w = W.partitionBy("event_type").orderBy("week")
    prev = F.lag("rev_fp").over(w)
    return wk.select(
        "event_type",
        "week",
        F.round(F.col("rev_fp") / 10000.0, 4).alias("revenue"),
        F.round((F.col("rev_fp") - prev) * 100.0 / prev, 4).alias("pct_change"),
    )


@register(
    "ts_similarity_topk",
    oracle="""
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             sum(CAST(round(value * 10000) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2
    ),
    spine AS (SELECT DISTINCT day FROM daily),
    users AS (SELECT DISTINCT user_id FROM daily),
    grid AS (
      SELECT u.user_id, s.day, coalesce(d.v, 0) AS v
      FROM users u CROSS JOIN spine s
      LEFT JOIN daily d ON d.user_id = u.user_id AND d.day = s.day
    ),
    dists AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             sum((a.v - b.v) * (a.v - b.v)) AS d2
      FROM grid a JOIN grid b ON a.day = b.day AND a.user_id < b.user_id
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT user_a, user_b,
             round(sqrt(CAST(d2 AS DOUBLE)) / 10000.0, 4) AS distance,
             row_number() OVER (ORDER BY d2, user_a, user_b) AS rnk
      FROM dists
    )
    SELECT user_a, user_b, distance, rnk FROM ranked WHERE rnk <= 5
    """,
)
def ts_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (the REPOSE/Odyssey problem shape,
    PAPERS.md): the 5 most similar pairs of users by Euclidean distance
    between their aligned daily-value series.

    Alignment maps each user's sparse (day, value) rows onto the day
    spine WITHOUT a dense user × day cross join: days get positional
    indexes (two-phase row_number over the tiny calendar spine), each
    series becomes an index→value map, and one codegen'd transform
    densifies it — absent days are true zeros, so the metric is
    well-defined.

    The pairwise stage is EXACT pivot pruning (the Odyssey
    triangle-inequality shape), not all-pairs:

    1. norm pivot: ‖u‖ lower-bounds every distance —
       |‖a‖−‖b‖| ≤ d(a,b);
    2. seed threshold τ: exact distances of norm-adjacent user pairs
       (a lead window inside each range partition — no global pass);
       the 5th smallest seed distance upper-bounds the true 5th
       smallest overall, because seed pairs are a subset of all pairs;
    3. banded candidate join: users bucket by floor(norm / w), w
       slightly over τ; any pair with d ≤ τ differs by ≤ 1 bucket, so
       joining each user against its own and ±1 buckets (3 emitted
       keys, one equi-join — the minhash banding shape) provably
       contains the true top-5;
    4. exact BIGINT distances on the candidates only, takeOrdered 5.

    Guaranteed identical to the all-pairs oracle — the pruning is
    lossless by the triangle inequality, with the bucket width padded
    1.001× so float rounding of the double norms can never push a
    qualifying pair two buckets apart.

    Scale posture: no cross join, no corpus broadcast, no
    single-partition stage (the final rank window sees exactly 5
    rows). Candidate count is data-dependent (dense norm clusters →
    bigger buckets — the usual LSH skew caveat, mitigated by more
    pivots); every stage is an equi-shuffle or a broadcast of one
    scalar.
    """
    from minimapreduce_spark.operators.ordered import (
        with_global_row_number,
        with_scalars,
    )

    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("v"))
    spine = with_global_row_number(
        daily.select("day").distinct(), [F.asc("day")], out="idx"
    )
    nd = spine.agg(F.count(F.lit(1)).alias("nd"))
    indexed = daily.join(spine, "day").select("user_id", "idx", "v")
    vecs = with_scalars(
        indexed.groupBy("user_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("idx"), F.col("v")))
            ).alias("m")
        ),
        nd,
    ).select(
        "user_id",
        F.transform(
            F.sequence(F.lit(1).cast("bigint"), F.col("nd").cast("bigint")),
            lambda i: F.coalesce(F.element_at("m", i), F.lit(0).cast("bigint")),
        ).alias("vec"),
    )
    sq = lambda va, vb: F.aggregate(  # noqa: E731  exact ∑(x−y)²
        F.zip_with(va, vb, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    norm = F.sqrt(
        F.aggregate(
            "vec", F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
        ).cast("double")
    )
    nv = vecs.select("user_id", "vec", norm.alias("nrm")).localCheckpoint(
        eager=False
    )

    # 2. seed τ from norm-adjacent pairs (partition-local lead is fine:
    # missing boundary pairs only loosen the bound, never break it)
    parted = nv.repartitionByRange(8, "nrm", "user_id").sortWithinPartitions(
        "nrm", "user_id"
    )
    wseed = W.partitionBy(F.spark_partition_id()).orderBy("nrm", "user_id")
    seeds = parted.select(
        sq(F.col("vec"), F.lead("vec").over(wseed)).alias("d2")
    ).where(F.col("d2").isNotNull())
    tau = seeds.orderBy("d2").limit(5).agg(
        # < 5 seed pairs → no valid bound → one huge bucket (tiny data)
        F.when(F.count(F.lit(1)) < 5, F.lit(float(2**62)))
        .otherwise(F.max("d2").cast("double"))
        .alias("tau2")
    ).select((F.sqrt("tau2") * 1.001 + 1e-9).alias("w"))

    # 3. banded candidate join on the norm axis
    withw = with_scalars(nv, tau)
    left = withw.select(
        F.col("user_id").alias("user_a"),
        F.col("vec").alias("va"),
        F.floor(F.col("nrm") / F.col("w")).alias("bkt"),
    )
    right = withw.select(
        F.col("user_id").alias("user_b"),
        F.col("vec").alias("vb"),
        F.explode(
            F.array(
                F.floor(F.col("nrm") / F.col("w")) - 1,
                F.floor(F.col("nrm") / F.col("w")),
                F.floor(F.col("nrm") / F.col("w")) + 1,
            )
        ).alias("bkt"),
    )
    cands = left.join(right, "bkt").where(F.col("user_a") < F.col("user_b"))

    # 4. exact distances on candidates only, parallel top-5
    dists = cands.select("user_a", "user_b", sq(F.col("va"), F.col("vb")).alias("d2"))
    top = dists.orderBy("d2", "user_a", "user_b").limit(5)
    from minimapreduce_spark.operators.ordered import with_bounded_rank

    # 5 rows post-limit
    return with_bounded_rank(top, "d2", "user_a", "user_b", out="rnk").select(
        "user_a",
        "user_b",
        F.round(F.sqrt(F.col("d2").cast("double")) / 10000.0, 4).alias("distance"),
        "rnk",
    )


EVENT_TYPE_BITS = {"click": 1, "error": 2, "purchase": 4, "signup": 8, "view": 16}


@register(
    "window_trailing_distinct_types",
    oracle="""
    WITH m AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                             WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                             WHEN 'view' THEN 16 ELSE 0 END AS mask
      FROM events
    )
    SELECT user_id, ts, event_id,
           bit_count(CAST(bit_or(mask) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT))
             AS n_distinct_types
    FROM m
    """,
)
def window_trailing_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct event types in each user's trailing 10-event window —
    the behavioral-diversity signal — computed with O(1) window state:
    each type maps to one bit of a small-domain bitmask, the frame
    aggregate is bit_or (decomposable, constant-size), and popcount
    reads the distinct count off the accumulated mask.

    The naive form (collect_set over the frame, size()) carries the
    whole set per row; the bitmask form is the standard small-domain
    distinct trick that survives any frame length — and it's exactly
    what a COUNT(DISTINCT) OVER would need Spark/DuckDB don't provide
    (window_cumulative_distinct_users handles the unbounded large-
    domain case; this is the bounded-domain one). Integer-exact.

    Scale posture: one shuffle on user_id, O(1) per-row state, fully
    codegen'd.
    """
    ev = _events(spark, sf_dir)
    mask = F.when(F.col("event_type") == "click", 1)
    for t, b in list(EVENT_TYPE_BITS.items())[1:]:
        mask = mask.when(F.col("event_type") == t, b)
    mask = mask.otherwise(0)
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-9, 0)
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        F.bit_count(F.bit_or(mask.cast("bigint")).over(w)).cast("int").alias(
            "n_distinct_types"
        ),
    )


@register(
    "agg_arg_extremes",
    oracle="""
    WITH keyed AS (
      SELECT l_returnflag, l_orderkey, l_linenumber,
             CAST(round(l_extendedprice * 100) AS BIGINT) * 10000000
               + l_orderkey * 10 + l_linenumber AS price_key,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
      FROM lineitem
    )
    SELECT l_returnflag,
           arg_max(l_orderkey, price_key) AS max_price_orderkey,
           arg_min(l_orderkey, price_key) AS min_price_orderkey,
           round(max(price_c) / 100.0, 2) AS max_price,
           round(min(price_c) / 100.0, 2) AS min_price
    FROM keyed GROUP BY l_returnflag
    """,
)
def agg_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-extremum aggregates (max_by/min_by ≡ DuckDB arg_max/arg_min)
    — "WHICH order had the extreme price", answered in the aggregation
    itself instead of a rank-window + filter (one hash agg, no sort).

    The comparison key is made UNIQUE (price in cents, then orderkey,
    then linenumber packed into one BIGINT) because arg-extremes on a
    tied key are engine-nondeterministic — the same tie-break
    discipline as every rank in this engine, folded into integer
    arithmetic.

    Scale posture: single partial+final hash agg; the packed key adds
    no shuffle width.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    key = price_c * 10000000 + F.col("l_orderkey") * 10 + F.col("l_linenumber")
    keyed = li.select(
        "l_returnflag",
        "l_orderkey",
        key.alias("price_key"),
        price_c.alias("price_c"),
    )
    return keyed.groupBy("l_returnflag").agg(
        F.max_by("l_orderkey", "price_key").alias("max_price_orderkey"),
        F.min_by("l_orderkey", "price_key").alias("min_price_orderkey"),
        F.round(F.max("price_c") / 100.0, 2).alias("max_price"),
        F.round(F.min("price_c") / 100.0, 2).alias("min_price"),
    )


@register(
    "dim_date_generate",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS lo,
             CAST(date_trunc('day', max(ts)) AS DATE) AS hi
      FROM events
    ),
    days AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM bounds
    )
    SELECT CAST(d AS TIMESTAMP) AS date_day,
           CAST(isodow(d) AS BIGINT) AS iso_dow,
           CAST(week(d) AS BIGINT) AS iso_week,
           CAST(month(d) AS BIGINT) AS month,
           CAST(quarter(d) AS BIGINT) AS quarter,
           isodow(d) >= 6 AS is_weekend,
           CAST(date_trunc('month', d) AS TIMESTAMP) AS month_start
    FROM days
    """,
)
def dim_date_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated date dimension over the event range — the warehouse
    utility every star schema joins against: one row per calendar day
    with ISO weekday/week, month, quarter, weekend flag, and month
    anchor. Generated (sequence + explode from a 1-row bounds agg),
    never loaded — the dimension is a pure function of the range.

    Calendar functions are engine-portable as used (ISO weekday
    numbering matches dayofweek-with-Monday=1 via a shift; week() is
    ISO week on both). All-integer output.

    Scale posture: O(days) rows from a broadcast bounds agg; the
    downstream pattern is a broadcast join of facts to this dimension.
    """
    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("date_day")
    )
    d = F.col("date_day").cast("date")
    # Spark dayofweek: Sunday=1..Saturday=7 → ISO Monday=1..Sunday=7
    iso_dow = ((F.dayofweek(d) + 5) % 7) + 1
    return days.select(
        "date_day",
        iso_dow.cast("bigint").alias("iso_dow"),
        F.weekofyear(d).cast("bigint").alias("iso_week"),
        F.month(d).cast("bigint").alias("month"),
        F.quarter(d).cast("bigint").alias("quarter"),
        (iso_dow >= 6).alias("is_weekend"),
        F.date_trunc("month", d).alias("month_start"),
    )


@register(
    "weighted_median_price",
    oracle="""
    WITH v AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(round(l_quantity) AS BIGINT) AS w
      FROM lineitem
    ),
    agg AS (
      SELECT l_returnflag, price_c, sum(w) AS w
      FROM v GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, price_c,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY price_c
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM agg
    )
    SELECT l_returnflag,
           round(min(price_c) / 100.0, 2) AS weighted_median_price
    FROM cum
    WHERE cw * 2 >= tw
    GROUP BY l_returnflag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — "the price of
    the median unit shipped", which an unweighted median misstates
    whenever cheap items ship in bulk. Neither engine has a weighted
    quantile aggregate, so both use the definition: sort by value,
    accumulate weights, first value whose cumulative weight reaches
    half the total (lower weighted median — exact, no interpolation).

    Pre-aggregating (value, weight) pairs BEFORE the cumulative window
    bounds the window input by distinct prices, not row count. All
    integer cents and integer weights — exact.

    Scale posture: hash agg on (flag, price), window over the
    compressed distribution, trivial final agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
        F.round("l_quantity").cast("bigint").alias("w"),
    )
    agg = v.groupBy("l_returnflag", "price_c").agg(F.sum("w").alias("w"))
    wcum = (
        W.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("l_returnflag")
    cum = agg.select(
        "l_returnflag",
        "price_c",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wall).alias("tw"),
    )
    return (
        cum.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.round(F.min("price_c") / 100.0, 2).alias("weighted_median_price"))
    )


@register(
    "events_autocorrelation_lag1",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(round(value * 10000) AS BIGINT) AS y,
             lag(CAST(round(value * 10000) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x
      FROM events
    ),
    s AS (
      SELECT user_id, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM seq WHERE x IS NOT NULL
      GROUP BY user_id HAVING count(*) >= 3
    )
    SELECT user_id, n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 6) AS acf1
    FROM s
    WHERE (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
          * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
    """,
)
def events_autocorrelation_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's value sequence — the
    burstiness/momentum signal (near 0: independent readings; positive:
    persistent regimes; negative: oscillation). Pearson r between the
    series and its one-step shift, computed from SEVEN decomposable
    integer sums (ols_slope_value_vs_time's closed-form discipline,
    plus Σy² for the symmetric denominator) — one lag window, one hash
    agg, one identical double expression.

    Scale posture: one shuffle on user_id serving the lag window and
    the aggregation; O(1) state per row and per group.
    """
    ev = _events(spark, sf_dir)
    vc = F.round(F.col("value") * 10000).cast("bigint")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", vc.alias("y"), F.lag(vc).over(wseq).alias("x")
    ).where(F.col("x").isNotNull())
    s = seq.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).where(F.col("n") >= 3)
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    denx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return s.where(denx * deny > 0).select(
        "user_id", "n", F.round(num / F.sqrt(denx * deny), 6).alias("acf1")
    )


@register(
    "events_user_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT user_id, sum(n) AS tot FROM c GROUP BY 1),
    terms AS (
      SELECT c.user_id,
             CAST(round(
               (CAST(c.n AS DOUBLE) / t.tot) * ln(CAST(c.n AS DOUBLE) / t.tot)
               * 1000000000) AS BIGINT) AS plogp_nf
      FROM c JOIN t USING (user_id)
    )
    SELECT user_id,
           round(-sum(plogp_nf) / 1000000000.0, 6) AS entropy_nats
    FROM terms GROUP BY user_id
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each user's event-type distribution —
    the behavioral-diversity scalar (0: single-action users; ln 5: all
    five types equally). Complements window_trailing_distinct_types:
    entropy weighs HOW EVENLY, not just how many.

    Each p·ln p term is computed from exact integer counts as one
    identical double expression, then quantized to BIGINT nano-nats
    BEFORE the per-user sum — so the summation is order-independent
    even though ln is irrational (the idf-quantization discipline
    applied to an aggregate's terms, not just its weights).

    Scale posture: two hash aggs on (user, type) then user — map-side
    combinable; terms per user bounded by |types|.
    """
    ev = _events(spark, sf_dir)
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    plogp_nf = F.round(p * F.log(p) * 1000000000).cast("bigint")
    terms = c.join(t, "user_id").select("user_id", plogp_nf.alias("plogp_nf"))
    return terms.groupBy("user_id").agg(
        F.round(-F.sum("plogp_nf") / 1000000000.0, 6).alias("entropy_nats")
    )


@register(
    "events_cusum_changepoint",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 10000) AS BIGINT) AS vc
      FROM events
    ),
    tot AS (SELECT user_id, sum(vc) AS total, count(*) AS n FROM v GROUP BY 1),
    cum AS (
      SELECT v.user_id, v.ts, v.event_id, t.total, t.n,
             sum(vc) OVER (PARTITION BY v.user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck,
             row_number() OVER (PARTITION BY v.user_id ORDER BY ts, event_id) AS k
      FROM v JOIN tot t USING (user_id)
    ),
    scored AS (
      SELECT user_id, ts, event_id, n,
             abs(n * ck - k * total) AS dev_n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY abs(n * ck - k * total) DESC, ts, event_id)
               AS rn
      FROM cum
    )
    SELECT user_id, ts AS change_ts, event_id AS change_event_id,
           round(CAST(dev_n AS DOUBLE) / (n * 10000.0), 4) AS cusum_dev
    FROM scored WHERE rn = 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per user: the instant where the
    cumulative deviation from the user's own mean peaks — the standard
    single-changepoint estimator (a mean shift at time τ maximizes
    |Σ_{i≤k}(x_i − x̄)| at k = τ).

    The usual formulation subtracts a float mean per row; multiplying
    through by n instead gives |n·cum_k − k·total| — ALL integer
    arithmetic until one final division, so the argmax (tie-broken on
    time) is exact and cross-engine stable even when two instants tie.

    Scale posture: one shuffle on user_id serving the running sum,
    the rank, and (via join) the per-user totals; O(1) row state.
    """
    ev = _events(spark, sf_dir)
    vc = F.round(F.col("value") * 10000).cast("bigint")
    v = ev.select("user_id", "ts", "event_id", vc.alias("vc"))
    tot = v.groupBy("user_id").agg(
        F.sum("vc").alias("total"), F.count("*").alias("n")
    )
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = wseq.rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = v.join(tot, "user_id").select(
        "user_id",
        "ts",
        "event_id",
        "total",
        "n",
        F.sum("vc").over(wrun).alias("ck"),
        F.row_number().over(wseq).alias("k"),
    )
    dev_n = F.abs(F.col("n") * F.col("ck") - F.col("k") * F.col("total"))
    wrank = W.partitionBy("user_id").orderBy(
        F.desc("dev_n"), F.asc("ts"), F.asc("event_id")
    )
    scored = cum.select(
        "user_id", "ts", "event_id", "n", dev_n.alias("dev_n")
    ).select("*", F.row_number().over(wrank).alias("rn"))
    return scored.where(F.col("rn") == 1).select(
        "user_id",
        F.col("ts").alias("change_ts"),
        F.col("event_id").alias("change_event_id"),
        F.round(F.col("dev_n").cast("double") / (F.col("n") * 10000.0), 4).alias(
            "cusum_dev"
        ),
    )


@register(
    "pareto_revenue_concentration",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT rev_c,
             row_number() OVER (ORDER BY rev_c DESC, o_custkey) AS rn,
             count(*) OVER () AS n_cust,
             sum(rev_c) OVER () AS total_c
      FROM cust
    )
    SELECT CAST(max(n_cust) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_top20,
           round(CAST(sum(rev_c) AS DOUBLE) / max(total_c), 6) AS top20_share
    FROM ranked
    WHERE rn * 5 <= n_cust
    """,
)
def pareto_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 audit: what share of total order revenue the top 20 %
    of customers carry — the concentration scalar behind account
    prioritization and skew forecasts (a high share predicts hot keys
    downstream).

    Customers rank by exact integer revenue (custkey tie-break);
    membership in the top quintile is the integer predicate
    rank×5 ≤ n; the share is one exact-integer ratio.

    Scale posture: one hash agg on custkey; the rank over the rollup
    is the two-phase pattern (operators/ordered.py — range shuffle +
    broadcast offsets, no single-partition window), and the count/total
    constants arrive as a broadcast 1-row agg instead of empty-partition
    windows.
    """
    from minimapreduce_spark.operators.ordered import (
        with_global_row_number,
        with_scalars,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_c")
    )
    rn = with_global_row_number(
        cust, [F.desc("rev_c"), F.asc("o_custkey")], out="rn"
    )
    scalars = cust.agg(
        F.count(F.lit(1)).alias("n_cust"), F.sum("rev_c").alias("total_c")
    )
    ranked = with_scalars(rn, scalars)
    return (
        ranked.where(F.col("rn") * 5 <= F.col("n_cust"))
        .agg(
            F.max("n_cust").cast("bigint").alias("n_customers"),
            F.count("*").cast("bigint").alias("n_top20"),
            F.round(
                F.sum("rev_c").cast("double") / F.max("total_c"), 6
            ).alias("top20_share"),
        )
    )


@register(
    "gini_revenue_inequality",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT rev_c,
             row_number() OVER (ORDER BY rev_c, o_custkey) AS i,
             count(*) OVER () AS n,
             sum(rev_c) OVER () AS total
      FROM cust
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           round(
             2.0 * sum(i * rev_c) / (CAST(max(n) AS DOUBLE) * max(total))
             - (max(n) + 1.0) / max(n), 6) AS gini
    FROM ranked
    """,
)
def gini_revenue_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the inequality scalar
    that pairs with pareto_revenue_concentration (a share says how much
    the top holds; Gini says how skewed the WHOLE curve is, 0 = equal,
    →1 = winner-take-all).

    The rank formulation G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n needs only the
    ascending rank (custkey tie-break) and two integer sums — Σ(i·x)
    stays within BIGINT because ranks are bounded by |customers| —
    then one identical double expression.

    Scale posture: hash agg to the customer rollup; the rank is the
    two-phase pattern (operators/ordered.py) and n/total come from a
    broadcast 1-row agg — no single-partition window anywhere.
    """
    from minimapreduce_spark.operators.ordered import (
        with_global_row_number,
        with_scalars,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_c")
    )
    rn = with_global_row_number(
        cust, [F.asc("rev_c"), F.asc("o_custkey")], out="i"
    )
    scalars = cust.agg(
        F.count(F.lit(1)).alias("n"), F.sum("rev_c").alias("total")
    )
    ranked = with_scalars(rn, scalars)
    n = F.max("n")
    return ranked.agg(
        n.cast("bigint").alias("n_customers"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("rev_c"))
            / (n.cast("double") * F.max("total"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


@register(
    "hhi_supplier_concentration",
    oracle="""
    WITH s AS (
      SELECT n.n_name AS nation, l.l_suppkey,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS rev_c
      FROM lineitem l
      JOIN supplier su ON l.l_suppkey = su.s_suppkey
      JOIN nation n ON su.s_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    t AS (SELECT nation, sum(rev_c) AS tot FROM s GROUP BY 1),
    terms AS (
      SELECT s.nation,
             CAST(round(
               (CAST(s.rev_c AS DOUBLE) / t.tot)
               * (CAST(s.rev_c AS DOUBLE) / t.tot) * 1000000000) AS BIGINT)
               AS share_sq_nf
      FROM s JOIN t USING (nation)
    )
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(sum(share_sq_nf) / 1000000000.0, 6) AS hhi
    FROM terms GROUP BY nation
    """,
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier revenue per nation — the
    per-group concentration measure (gini_revenue_inequality is the
    global curve-shape twin): Σ shareᵢ², 1/n = perfectly competitive,
    1.0 = monopoly. The antitrust-style metric a marketplace pipeline
    tracks per segment.

    Each squared share is one identical double expression over exact
    integer revenues, quantized to BIGINT billionths BEFORE the
    per-nation sum (events_user_entropy's discipline) — the sum is
    order-independent, so the result survives any partitioning.

    Scale posture: fact rollup to (nation, supplier) with broadcast
    dims, then two tiny aggs; terms per nation bounded by suppliers.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    s = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "rev_c"
            )
        )
    )
    t = s.groupBy("nation").agg(F.sum("rev_c").alias("tot"))
    share = F.col("rev_c").cast("double") / F.col("tot")
    share_sq_nf = F.round(share * share * 1000000000).cast("bigint")
    terms = s.join(t, "nation").select("nation", share_sq_nf.alias("share_sq_nf"))
    return terms.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.round(F.sum("share_sq_nf") / 1000000000.0, 6).alias("hhi"),
    )


@register(
    "customer_existence_flags",
    oracle="""
    SELECT c.c_custkey,
           count(o.o_orderkey) > 0 AS has_any_order,
           CAST(count(CASE WHEN o.o_orderpriority = '1-URGENT'
                           THEN 1 END) AS BIGINT) > 0 AS has_urgent,
           CAST(count(CASE WHEN o.o_orderstatus = 'O'
                           THEN 1 END) AS BIGINT) > 0 AS has_open,
           CAST(count(CASE WHEN o.o_orderpriority = '1-URGENT'
                            AND o.o_orderstatus = 'O'
                           THEN 1 END) AS BIGINT) > 0 AS has_open_urgent
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def customer_existence_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four EXISTS-style predicates answered in ONE left join + one
    conditional aggregation — the pattern that replaces N correlated
    EXISTS subqueries (each a separate semi-join scanning the fact
    table again) with a single pass: count(CASE …) > 0 per flag.

    At 100 TB the difference is N fact scans + N shuffles vs exactly
    one of each — the classic "flatten your EXISTS battery" rewrite
    query reviewers look for. Boolean outputs are exact.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", 1)
    open_ = F.when(F.col("o_orderstatus") == "O", 1)
    open_urgent = F.when(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "O"), 1
    )
    return j.groupBy("c_custkey").agg(
        (F.count("o_orderkey") > 0).alias("has_any_order"),
        (F.count(urgent) > 0).alias("has_urgent"),
        (F.count(open_) > 0).alias("has_open"),
        (F.count(open_urgent) > 0).alias("has_open_urgent"),
    )


@register(
    "events_transition_dwell",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER w AS dst,
             (lead(epoch_us(ts)) OVER w - epoch_us(ts)) // 1000000 AS gap_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT src, dst,
           count(*) AS n,
           CAST(quantile_cont(gap_s, 0.5) * 2 AS BIGINT) AS median_gap_2s,
           round(sum(gap_s) / (count(*) * 1.0), 2) AS mean_gap_s
    FROM seq WHERE dst IS NOT NULL
    GROUP BY src, dst
    """,
)
def events_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time per event transition: for each (src → dst) edge of
    the Markov matrix (events_markov_transitions), how LONG users take
    — median and mean whole-second gaps. The timing layer of UX-flow
    mining: a slow view→purchase edge is a checkout problem, a fast
    error→error edge is a retry storm.

    Gaps are exact integer seconds (floor division of exact micros);
    the median is an exact type-7 interpolation over integers — doubled
    into a BIGINT (×2 keeps the possible .5 exact with no float column)
    — and the mean is one identical division of exact sums.

    Scale posture: one user_id shuffle for the lead window, one hash
    agg on the |types|² edge set.
    """
    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(wseq).alias("dst"),
        F.floor((F.lead(us).over(wseq) - us) / 1000000).cast("bigint").alias("gap_s"),
    ).where(F.col("dst").isNotNull())
    return seq.groupBy("src", "dst").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(gap_s, 0.5D)") * 2).cast("bigint").alias(
            "median_gap_2s"
        ),
        F.round(F.sum("gap_s") / (F.count("*") * 1.0), 2).alias("mean_gap_s"),
    )


@register(
    "abc_part_classification",
    oracle="""
    WITH p AS (
      SELECT l_partkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_c
      FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT rev_c,
             sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_c,
             sum(rev_c) OVER () AS total_c
      FROM p
    ),
    classed AS (
      SELECT rev_c,
             CASE WHEN CAST(cum_c AS DOUBLE) / total_c <= 0.8 THEN 'A'
                  WHEN CAST(cum_c AS DOUBLE) / total_c <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             total_c
      FROM ranked
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(rev_c) AS DOUBLE) / max(total_c), 6) AS revenue_share
    FROM classed GROUP BY abc_class
    """,
)
def abc_part_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A
    holds the first 80 % of cumulative revenue, B the next 15 %, C the
    tail — the standard stock-priority segmentation
    (pareto_revenue_concentration's quintile cut generalized to
    cumulative-share bands).

    The cumulative share is one identical double division of exact
    integer cents evaluated against fixed thresholds, with a
    deterministic (revenue desc, partkey) rank order — so class
    boundaries can't wobble between engines or partitionings.

    Scale posture: part rollup, then the cumulative revenue is the
    two-phase running sum (operators/ordered.py — range shuffle +
    broadcast per-range offsets) and the total a broadcast 1-row agg;
    no single-partition window. 3-row output.
    """
    from minimapreduce_spark.operators.ordered import (
        with_global_running_sum,
        with_scalars,
    )

    li = load_table(spark, sf_dir, "lineitem")
    p = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("rev_c")
    )
    cum = with_global_running_sum(
        p,
        [F.desc("rev_c"), F.asc("l_partkey")],
        F.col("rev_c"),
        out="cum_c",
    )
    ranked = with_scalars(
        cum, p.agg(F.sum("rev_c").alias("total_c"))
    ).select("rev_c", "cum_c", "total_c")
    share = F.col("cum_c").cast("double") / F.col("total_c")
    classed = ranked.select(
        "rev_c",
        "total_c",
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(F.sum("rev_c").cast("double") / F.max("total_c"), 6).alias(
            "revenue_share"
        ),
    )


@register(
    "customer_rfm_segments",
    bench=True,
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             datediff('day', max(o_orderdate),
                      (SELECT max(o_orderdate) FROM orders)) AS recency_d,
             count(*) AS frequency,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_c
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY recency_d ASC, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey) AS m_score
      FROM rfm
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the marketing-analytics workhorse: every
    customer scored 1–5 on Recency (days since last order, fresher =
    better), Frequency, and Monetary value via quintile ntiles, rolled
    up to segment cells (5³ max rows). Score 1 = best quintile on each
    axis, so cell (1,1,1) is the champions segment.

    ntile ties break on custkey (the engine's rank discipline) and all
    three metrics are exact integers, so quintile edges are
    deterministic cross-engine. Each quintile score is reconstructed
    arithmetically (ordered.ntile_expr) from a two-phase global row
    number on its axis — three range shuffles, zero single-partition
    windows.

    Scale posture: one custkey hash agg (checkpointed once, so orders
    is scanned once), then ONE two-phase rank over a stacked narrow
    frame — the three axes union into 3N (custkey, axis, enc) rows
    where ``enc`` is the metric negated where the axis sorts
    descending, so one total order (axis, enc, custkey) ranks all
    three axes at once in contiguous N-row blocks; per-axis rank =
    global_rn − axis·N. That is one range shuffle + one checkpoint +
    one offsets broadcast where a chained per-axis form pays three
    of each over an ever-wider frame. Scores reassemble via one
    custkey hash agg; the row count arrives as a broadcast scalar.
    """
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mxd"))
    rfm = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.max("mxd").cast("date"), F.max("o_orderdate").cast("date")
            ).alias("recency_d"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "monetary_c"
            ),
        )
    )
    from minimapreduce_spark.operators.ordered import (
        ntile_expr,
        with_global_row_number,
        with_scalars,
    )

    # one orders scan: the rollup feeds the stacked frame + the count
    rfm = rfm.localCheckpoint(eager=False)
    # scalar N = customer count — aggregate the ROLLUP, not orders again
    n = rfm.agg(F.count(F.lit(1)).alias("_n"))

    # enc: negate where the axis ranks descending, so ASC(enc) is the
    # axis's quintile order everywhere and one total order serves all
    axes = [
        ("r_score", F.col("recency_d").cast("bigint")),
        ("f_score", -F.col("frequency")),
        ("m_score", -F.col("monetary_c")),
    ]
    stacked = None
    for i, (_, enc) in enumerate(axes):
        s = rfm.select(
            "o_custkey", F.lit(i).alias("_ax"), enc.alias("_enc")
        )
        stacked = s if stacked is None else stacked.unionByName(s)
    rk = with_global_row_number(
        stacked, [F.asc("_ax"), F.asc("_enc"), F.asc("o_custkey")], out="_grn"
    )
    # axes are contiguous N-row blocks in the total order
    sc = with_scalars(rk, n).select(
        "o_custkey",
        "_ax",
        ntile_expr(F.col("_grn") - F.col("_ax") * F.col("_n"), F.col("_n"), 5).alias(
            "_score"
        ),
    )
    per_cust = sc.groupBy("o_custkey").agg(
        *[
            F.max(F.when(F.col("_ax") == i, F.col("_score"))).alias(axis)
            for i, (axis, _) in enumerate(axes)
        ]
    )
    return per_cust.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )


@register(
    "category_share_drift",
    oracle="""
    WITH bounds AS (
      SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders
    ),
    facts AS (
      SELECT p.p_type,
             CASE WHEN epoch(o.o_orderdate) * 2 <= epoch(b.lo) + epoch(b.hi)
                  THEN 'early' ELSE 'late' END AS half,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS rev_c
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      CROSS JOIN bounds b
    ),
    agg AS (
      SELECT p_type, half, sum(rev_c) AS rev
      FROM facts GROUP BY 1, 2
    ),
    tot AS (SELECT half, sum(rev) AS t FROM agg GROUP BY 1),
    shares AS (
      SELECT a.p_type, a.half, CAST(a.rev AS DOUBLE) / t.t AS share
      FROM agg a JOIN tot t USING (half)
    )
    SELECT p_type,
           round(coalesce(max(CASE WHEN half = 'early' THEN share END), 0), 6)
             AS early_share,
           round(coalesce(max(CASE WHEN half = 'late' THEN share END), 0), 6)
             AS late_share,
           round(coalesce(max(CASE WHEN half = 'late' THEN share END), 0)
                 - coalesce(max(CASE WHEN half = 'early' THEN share END), 0), 6)
             AS drift
    FROM shares GROUP BY p_type
    """,
)
def category_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-share drift per part category between the early and
    late halves of the order history — the longitudinal mix-shift
    report (chi2_lang_source is the cross-sectional independence test;
    this one says WHICH categories grew). The midpoint split is an
    exact integer epoch comparison, shares are exact-integer ratios,
    and the pivot uses max(CASE) so absent halves coalesce to 0.

    Scale posture: fact joins with broadcast part dim, hash agg to
    (category × 2) cells, trivial pivots. The 1-row bounds broadcast
    decides the split without a second date scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    bounds = orders.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    ep = lambda c: F.unix_timestamp(F.col(c).cast("timestamp"))  # noqa: E731
    facts = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .crossJoin(F.broadcast(bounds))
        .select(
            "p_type",
            F.when(
                ep("o_orderdate") * 2 <= ep("lo") + ep("hi"), "early"
            ).otherwise("late").alias("half"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("rev_c"),
        )
    )
    agg = facts.groupBy("p_type", "half").agg(F.sum("rev_c").alias("rev"))
    tot = agg.groupBy("half").agg(F.sum("rev").alias("t"))
    shares = agg.join(tot, "half").select(
        "p_type", "half", (F.col("rev").cast("double") / F.col("t")).alias("share")
    )
    early = F.coalesce(
        F.max(F.when(F.col("half") == "early", F.col("share"))), F.lit(0.0)
    )
    late = F.coalesce(
        F.max(F.when(F.col("half") == "late", F.col("share"))), F.lit(0.0)
    )
    return shares.groupBy("p_type").agg(
        F.round(early, 6).alias("early_share"),
        F.round(late, 6).alias("late_share"),
        F.round(late - early, 6).alias("drift"),
    )


@register(
    "events_usage_heatmap",
    oracle="""
    SELECT CAST(isodow(ts) AS BIGINT) AS iso_dow,
           CAST(hour(ts) AS BIGINT) AS hour_of_day,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 4)
             AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_usage_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly usage heatmap: activity by (ISO weekday × hour of
    day) with event counts, distinct users, and exact fixed-point value
    totals — the 7×24 grid behind every "when are our users active"
    dashboard and the load profile capacity planning reads.

    Spark's Sunday-first dayofweek shifts to ISO numbering
    (dim_date_generate's convention); distinct users per cell is a
    partial+final distinct agg, never a collect.

    Scale posture: one hash agg onto a 168-cell grid — map-side
    partials absorb everything; output size is constant.
    """
    ev = _events(spark, sf_dir)
    d = F.col("ts").cast("date")
    iso_dow = ((F.dayofweek(d) + 5) % 7) + 1
    vc = F.round(F.col("value") * 10000).cast("bigint")
    return ev.groupBy(
        iso_dow.cast("bigint").alias("iso_dow"),
        F.hour("ts").cast("bigint").alias("hour_of_day"),
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.round(F.sum(vc) / 10000.0, 4).alias("total_value"),
    )


@register(
    "profile_qty_discount_grid",
    oracle="""
    SELECT CAST(round(l_quantity) AS BIGINT) // 10 AS qty_bucket,
           CAST(round(l_discount * 100) AS BIGINT) // 2 AS disc_bucket,
           count(*) AS n_items,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
             AS revenue
    FROM lineitem GROUP BY 1, 2
    """,
)
def profile_qty_discount_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional profiling grid: lineitems bucketed by quantity
    decade × discount band (2-point steps), with counts and exact
    revenue — the pricing-analysis heatmap that shows whether discounts
    actually move volume (and the 2-D histogram primitive
    histogram_order_prices generalizes to).

    Bucket edges are integer floor-divisions of exact fixed-point
    values — no float binning wobble.

    Scale posture: one hash agg onto a bounded grid (≈6×26 cells);
    map-side partials absorb the fact table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty_b = F.floor(F.round("l_quantity").cast("bigint") / 10).cast("bigint")
    disc_b = F.floor(F.round(F.col("l_discount") * 100).cast("bigint") / 2).cast(
        "bigint"
    )
    rev_c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return li.groupBy(
        qty_b.alias("qty_bucket"), disc_b.alias("disc_bucket")
    ).agg(
        F.count("*").alias("n_items"),
        F.round(F.sum(rev_c) / 100.0, 2).alias("revenue"),
    )


@register(
    "events_wau_daily",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ),
    spine AS (SELECT DISTINCT day FROM active),
    expanded AS (
      SELECT s.day, a.user_id
      FROM spine s JOIN active a
        ON a.day <= s.day AND a.day >= s.day - INTERVAL 6 DAY
    )
    SELECT day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM expanded GROUP BY day
    """,
)
def events_wau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (WAU) — THE engagement
    series. A distinct-count over a sliding window has no windowed
    aggregate form, so both engines use the bounded expansion: each
    (user, active-day) row contributes to at most 7 report days (a
    range join with a 6-day band), then an ordinary distinct count per
    day. Fanout is exactly min(7, window), never data-dependent — the
    trick that keeps sliding-distinct linear at 100 TB (the first-seen
    decomposition, window_cumulative_distinct_users, handles the
    UNBOUNDED variant; this is the bounded-window one).

    Scale posture: the (user, day) distinct is the only big shuffle;
    the band join fans out ×7 and re-aggregates with map-side partial
    distincts. All-integer.
    """
    ev = _events(spark, sf_dir)
    active = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    spine = active.select("day").distinct().select(F.col("day").alias("report_day"))
    expanded = active.join(
        spine,
        (F.col("day") <= F.col("report_day"))
        & (F.col("day") >= F.col("report_day") - F.expr("interval 6 days")),
    )
    return expanded.groupBy(F.col("report_day").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )


@register(
    "customer_reorder_intervals",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             datediff('day',
                      lag(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey),
                      o_orderdate) AS gap_d
      FROM orders
    ),
    gaps AS (SELECT gap_d FROM seq WHERE gap_d IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(quantile_cont(gap_d, 0.5) * 2 AS BIGINT) AS median_gap_2d,
           CAST(quantile_cont(gap_d, 0.9) * 10 AS BIGINT) AS p90_gap_10d,
           round(sum(gap_d) / (count(*) * 1.0), 4) AS mean_gap_d
    FROM gaps
    """,
)
def customer_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The purchase-cycle profile: distribution of day-gaps between each
    customer's consecutive orders — median, p90, and mean reorder
    interval, the numbers replenishment forecasting and churn-risk
    cutoffs ("no order for > p90 days") are built on.

    Gaps are exact integer days from one lag window; the exact type-7
    percentiles scale into BIGINTs (×2 for the median's possible .5,
    ×10 for p90's tenths — events_transition_dwell's doubled-median
    trick generalized to the quantile's denominator) so no float
    column survives to the hash; the mean is one identical division.

    Scale posture: one custkey shuffle for the lag, one global agg of
    integer gaps (percentile state is the sorted gap multiset — at
    extreme scale swap in approx_percentile).
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    gaps = orders.select(
        F.datediff(d, F.lag(d).over(w)).alias("gap_d")
    ).where(F.col("gap_d").isNotNull())
    return gaps.agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.round(F.expr("percentile(gap_d, 0.5D)") * 2).cast("bigint").alias(
            "median_gap_2d"
        ),
        F.round(F.expr("percentile(gap_d, 0.9D)") * 10).cast("bigint").alias(
            "p90_gap_10d"
        ),
        F.round(F.sum("gap_d") / (F.count("*") * 1.0), 4).alias("mean_gap_d"),
    )


@register(
    "basket_size_histogram",
    oracle="""
    WITH sizes AS (
      SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1
    ),
    n AS (SELECT count(*) AS n_orders FROM sizes)
    SELECT s.n_items,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(count(*) * 1.0 / max(n.n_orders), 6) AS share
    FROM sizes s CROSS JOIN n
    GROUP BY s.n_items
    """,
)
def basket_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size distribution: how many lineitems a basket holds, with
    each size's share of all orders — the input-shape profile join
    planners and batch sizers read (basket_part_pairs' O(b²) bound IS
    this histogram's tail).

    Exact counts; share is one identical division against the
    broadcast total.

    Scale posture: one orderkey hash agg, one tiny histogram agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(F.count("*").alias("n_items"))
    n = sizes.agg(F.count("*").alias("n_orders"))
    return (
        sizes.crossJoin(F.broadcast(n))
        .groupBy("n_items")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.count("*") * 1.0 / F.max("n_orders"), 6).alias("share"),
        )
    )


@register(
    "events_value_boxplot",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 10000) AS BIGINT) AS vc
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           min(vc) AS min_fp,
           CAST(quantile_cont(vc, 0.25) * 4 AS BIGINT) AS q1_4fp,
           CAST(quantile_cont(vc, 0.5) * 2 AS BIGINT) AS median_2fp,
           CAST(quantile_cont(vc, 0.75) * 4 AS BIGINT) AS q3_4fp,
           max(vc) AS max_fp
    FROM v GROUP BY event_type
    """,
)
def events_value_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-number summary (boxplot statistics) of event value per
    type: min, quartiles, max over fixed-point integers. Type-7
    quartile interpolation lands on quarters, so Q1/Q3 scale ×4 and
    the median ×2 into exact BIGINTs — the whole summary ships through
    the hash gate with zero float columns (percentile_quantity's exact
    twin, generalized to the full box).

    Scale posture: one hash agg per type; exact percentile state is
    the per-group sorted multiset — approx_percentile is the swap-in
    at extreme group sizes.
    """
    ev = _events(spark, sf_dir)
    vc = F.round(F.col("value") * 10000).cast("bigint")
    v = ev.select("event_type", vc.alias("vc"))
    return v.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("vc").alias("min_fp"),
        F.round(F.expr("percentile(vc, 0.25D)") * 4).cast("bigint").alias("q1_4fp"),
        F.round(F.expr("percentile(vc, 0.5D)") * 2).cast("bigint").alias("median_2fp"),
        F.round(F.expr("percentile(vc, 0.75D)") * 4).cast("bigint").alias("q3_4fp"),
        F.max("vc").alias("max_fp"),
    )


@register(
    "customer_360_overlap",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS k, count(*) AS n_orders,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1
    ),
    e AS (
      SELECT user_id AS k, count(*) AS n_events FROM events GROUP BY 1
    ),
    j AS (
      SELECT coalesce(o.k, e.k) AS k,
             CASE WHEN o.k IS NULL THEN 'events_only'
                  WHEN e.k IS NULL THEN 'orders_only'
                  ELSE 'both' END AS presence,
             coalesce(o.n_orders, 0) AS n_orders,
             coalesce(o.rev_c, 0) AS rev_c,
             coalesce(e.n_events, 0) AS n_events
      FROM o FULL OUTER JOIN e ON o.k = e.k
    )
    SELECT presence,
           CAST(count(*) AS BIGINT) AS n_entities,
           CAST(sum(n_orders) AS BIGINT) AS total_orders,
           round(sum(rev_c) / 100.0, 2) AS total_revenue,
           CAST(sum(n_events) AS BIGINT) AS total_events
    FROM j GROUP BY presence
    """,
)
def customer_360_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer-360 identity overlap: entities rolled up from the
    TRANSACTIONAL system (orders, by custkey) full-outer-joined with
    the BEHAVIORAL system (events, by user_id, sharing the key domain)
    and segmented into orders-only / events-only / both — the coverage
    report every identity-stitching project starts from, with each
    segment's order, revenue, and event volume.

    One full-outer join of two pre-aggregated per-key frames (never
    raw fact × raw fact) and exact integer measures throughout.

    Scale posture: two independent hash aggs shrink each system to its
    entity rollup before the join — the join input is |entities|, not
    |facts|; coalesce-based presence classification is null-safe by
    construction.
    """
    orders = load_table(spark, sf_dir, "orders")
    ev = _events(spark, sf_dir)
    o = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_c"),
    )
    e = ev.groupBy(F.col("user_id").alias("k")).agg(F.count("*").alias("n_events"))
    j = o.withColumnRenamed("k", "ok").join(
        e.withColumnRenamed("k", "ek"), F.col("ok") == F.col("ek"), "full_outer"
    )
    presence = (
        F.when(F.col("ok").isNull(), "events_only")
        .when(F.col("ek").isNull(), "orders_only")
        .otherwise("both")
    )
    return (
        j.select(
            presence.alias("presence"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("rev_c", F.lit(0)).alias("rev_c"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
        .groupBy("presence")
        .agg(
            F.count("*").cast("bigint").alias("n_entities"),
            F.sum("n_orders").cast("bigint").alias("total_orders"),
            F.round(F.sum("rev_c") / 100.0, 2).alias("total_revenue"),
            F.sum("n_events").cast("bigint").alias("total_events"),
        )
    )


PSI_BINS = 10


@register(
    "psi_value_drift",
    oracle=f"""
    WITH e AS (
      SELECT epoch_us(ts) AS tus, CAST(round(value * 10000) AS BIGINT) AS vc
      FROM events
    ),
    s AS (
      SELECT min(tus) AS tmin, max(tus) AS tmax,
             min(vc) AS vmin, max(vc) AS vmax
      FROM e
    ),
    binned AS (
      SELECT (e.vc - s.vmin) * {PSI_BINS} // (s.vmax - s.vmin + 1) AS bin,
             CASE WHEN e.tus * 2 <= s.tmin + s.tmax THEN 1 ELSE 0 END AS early
      FROM e, s
    ),
    counts AS (
      SELECT b.bin,
             CAST(coalesce(sum(early), 0) AS BIGINT)     AS n_early,
             CAST(coalesce(sum(1 - early), 0) AS BIGINT) AS n_late
      FROM (SELECT unnest(generate_series(0, {PSI_BINS - 1})) AS bin) b
      LEFT JOIN binned USING (bin)
      GROUP BY b.bin
    ),
    tot AS (SELECT sum(n_early) AS ne, sum(n_late) AS nl FROM counts)
    SELECT CAST(counts.bin AS BIGINT) AS bin, n_early, n_late,
           round(((n_early + 1.0) / (tot.ne + {PSI_BINS})
                  - (n_late + 1.0) / (tot.nl + {PSI_BINS}))
                 * ln(((n_early + 1.0) / (tot.ne + {PSI_BINS}))
                      / ((n_late + 1.0) / (tot.nl + {PSI_BINS}))), 6) AS psi_term
    FROM counts, tot
    """,
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution,
    early half vs late half of the stream — the standard drift monitor
    between a training window and a serving window (PSI > 0.2 = act).
    Output: one row per fixed-width value bin with early/late counts
    and the additive PSI term (Laplace-smoothed so empty bins are
    defined); Σ psi_term is the index.

    Exactness: values quantize to 1e-4 fixed point; bin edges and the
    time split are pure integer arithmetic over driver-free 1-row
    scalars (epoch-micros midpoint as t·2 ≤ tmin+tmax — no halving, no
    rounding question); the single ln() differs at most in the last
    ulp, absorbed by the 6-dp round. Empty bins are generated by a
    10-row range outer join so the histogram shape is total.

    Scale posture: one scan → 1-row bounds agg (broadcast back) → one
    10-group hash agg; the bin frame and totals are
    constant-size broadcasts. Linear at any event volume.
    """
    from minimapreduce_spark.operators.ordered import with_scalars

    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.round(F.col("value") * 10000).cast("bigint").alias("vc"),
    )
    s = ev.agg(
        F.min("tus").alias("_tmin"), F.max("tus").alias("_tmax"),
        F.min("vc").alias("_vmin"), F.max("vc").alias("_vmax"),
    )
    e = with_scalars(ev, s)
    from minimapreduce_spark.operators.ordered import exact_floor_div

    # exact integer floor matching the oracle's `//` even when the
    # numerator nears 2^53: propose-and-correct, not a
    # truncated double quotient. Valid to 2^62 — far past any 1e-4
    # fixed-point value span times 10 bins.
    bin_col = exact_floor_div(
        (F.col("vc") - F.col("_vmin")) * PSI_BINS,
        F.col("_vmax") - F.col("_vmin") + 1,
    )
    early = (F.col("tus") * 2 <= F.col("_tmin") + F.col("_tmax")).cast("int")
    binned = e.select(bin_col.alias("bin"), early.alias("early"))
    counted = binned.groupBy("bin").agg(
        F.sum("early").alias("ne_raw"), F.sum(1 - F.col("early")).alias("nl_raw")
    )
    bins = spark.range(PSI_BINS).select(F.col("id").alias("bin"))
    counts = (
        bins.join(counted, "bin", "left")
        .select(
            "bin",
            F.coalesce("ne_raw", F.lit(0)).cast("bigint").alias("n_early"),
            F.coalesce("nl_raw", F.lit(0)).cast("bigint").alias("n_late"),
        )
    )
    tot = counts.agg(F.sum("n_early").alias("_ne"), F.sum("n_late").alias("_nl"))
    p = (F.col("n_early") + 1.0) / (F.col("_ne") + PSI_BINS)
    q = (F.col("n_late") + 1.0) / (F.col("_nl") + PSI_BINS)
    return with_scalars(counts, tot).select(
        F.col("bin").cast("bigint").alias("bin"),
        "n_early",
        "n_late",
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# A/B experiment readout: Welch's t-test from decomposable moments
# ---------------------------------------------------------------------------

# Shared expression text (valid in BOTH Spark SQL and DuckDB), evaluated
# over the six exact integers (sa, qa, na, sb, qb, nb): identical IEEE
# trees => identical doubles => the t statistic and df hash-compare.
_AB_VAR = (
    "((CAST({q} AS DOUBLE) - CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE)"
    " / {n}) / ({n} - 1))"
)
_AB_SE2 = (
    f"({_AB_VAR.format(q='qa', s='sa', n='na')} / na"
    f" + {_AB_VAR.format(q='qb', s='sb', n='nb')} / nb)"
)
_AB_T = (
    f"((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)"
    f" / sqrt({_AB_SE2}))"
)
_AB_DF = (
    f"({_AB_SE2} * {_AB_SE2} / ("
    f"{_AB_VAR.format(q='qa', s='sa', n='na')} / na"
    f" * ({_AB_VAR.format(q='qa', s='sa', n='na')} / na) / (na - 1)"
    f" + {_AB_VAR.format(q='qb', s='sb', n='nb')} / nb"
    f" * ({_AB_VAR.format(q='qb', s='sb', n='nb')} / nb) / (nb - 1)))"
)
_AB_OUT = (
    "event_type",
    "CAST(na AS BIGINT) AS n_a",
    "CAST(nb AS BIGINT) AS n_b",
    "round(CAST(sa AS DOUBLE) / na / 10000, 6) AS mean_a",
    "round(CAST(sb AS DOUBLE) / nb / 10000, 6) AS mean_b",
    f"round({_AB_T}, 6) AS t_stat",
    f"round({_AB_DF}, 2) AS welch_df",
    f"abs({_AB_T}) > 1.96 AS significant",
)


@register(
    "ab_welch_ttest",
    bench=True,  # the experiment readout must stay visible in BENCH
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             sum(CASE WHEN user_id % 2 = 0
                      THEN CAST(round(value * 10000) AS BIGINT) END) AS sa,
             sum(CASE WHEN user_id % 2 = 0
                      THEN CAST(round(value * 10000) AS BIGINT)
                           * CAST(round(value * 10000) AS BIGINT) END) AS qa,
             count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS na,
             sum(CASE WHEN user_id % 2 = 1
                      THEN CAST(round(value * 10000) AS BIGINT) END) AS sb,
             sum(CASE WHEN user_id % 2 = 1
                      THEN CAST(round(value * 10000) AS BIGINT)
                           * CAST(round(value * 10000) AS BIGINT) END) AS qb,
             count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS nb
      FROM events GROUP BY event_type
    )
    SELECT {", ".join(_AB_OUT)} FROM m
    """,
)
def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B EXPERIMENT READOUT — Welch's unequal-variance t-test per
    event_type, with assignment by the standard deterministic hash
    bucket (user_id parity here; production uses a salted hash of the
    unit id — same property: stable, uniform, assignment-time-free).
    This is the missing READOUT rung of the product-analytics family
    (funnel/retention/attribution measure behavior; this decides
    whether variant B moved the metric): difference of means over the
    1e-4 grid, Welch standard error, the Welch–Satterthwaite df, and a
    |t| > 1.96 significance flag.

    Exactness: the six per-group inputs (Σc, Σc², n per variant) are
    exact BIGINT grid moments computed by ONE conditional aggregation
    (Σc² stays double-side exact: both factors ≤ 2²⁶, products ≤ 2⁵²);
    every downstream number is the SAME expression text parsed by both
    engines (`_AB_T`/`_AB_DF` — the quality_linear_probe shared-text
    discipline), so t, df, means, and the flag hash-match DuckDB. On
    the fixture the parity split is a true A/A test — t hovers near 0
    and nothing is significant, which the pytest pins along with a
    planted-effect positive control.

    Scale posture: one partial+final hash aggregation to 6 numbers per
    (event_type, variant) — the cheapest possible experiment readout
    at any corpus size; CUPED or stratified variants add more moment
    columns to the same single pass. No reference analog."""
    ev = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 10000).cast("bigint")
    is_a = F.col("user_id") % 2 == 0
    m = ev.groupBy("event_type").agg(
        F.sum(F.when(is_a, c)).alias("sa"),
        F.sum(F.when(is_a, c * c)).alias("qa"),
        F.count(F.when(is_a, F.lit(1))).alias("na"),
        F.sum(F.when(~is_a, c)).alias("sb"),
        F.sum(F.when(~is_a, c * c)).alias("qb"),
        F.count(F.when(~is_a, F.lit(1))).alias("nb"),
    )
    return m.selectExpr(*_AB_OUT)


# ---------------------------------------------------------------------------
# Skyline (Pareto-dominance) query
# ---------------------------------------------------------------------------


@register(
    "skyline_price_size",
    bench=True,  # the classic OLAP operator families lack — frontier extraction
    oracle="""
    SELECT a.p_partkey AS part_key,
           a.p_retailprice AS retail_price,
           CAST(a.p_size AS INT) AS size_units
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice
        AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
    """,
)
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE / PARETO-DOMINANCE query (Borzsony, Kossmann, Stocker,
    ICDE 2001) — the classic operator relational engines bolt on as
    SKYLINE OF: the set of parts no other part beats on BOTH axes
    (cheaper-or-equal price AND bigger-or-equal size, one strict) —
    the "cheapest for its size class" procurement frontier. The same
    shape ranks training corpora (quality vs token cost), hardware
    (price vs throughput), or dedup candidates (similarity vs length).

    The plan dodges the naive O(n²) dominance join with the 2-D
    sort-sweep decomposition, all in relational algebra: (1) one agg
    to the DISTINCT-PRICE frame (price → max size); (2) the strictly-
    cheaper prefix max over that frame via the two-phase range-
    partitioned pattern (``with_global_prefix_max`` — no single-
    partition window); (3) a part sits on the frontier iff its size
    equals its price's max AND strictly beats every cheaper price's
    max (NULL prefix max ⇒ globally cheapest price ⇒ kept); (4) one
    equi-join back to part on (price, size) to emit all tied frontier
    rows. The oracle runs the textbook NOT EXISTS dominance anti-join
    — quadratic, fine at test scale — so the sweep construction is
    verified against the definition itself, not a re-derivation.

    Exactness: price/size are compared and equi-joined, never
    arithmetic'd — no float computation anywhere. Scale posture: the
    dominance work runs on the distinct-price frame (|prices| ≪ rows;
    1000 vs 2000 parts at sf0.01, far steeper at 100 TB where the
    price domain is fixed), partial aggregation combines map-side, and
    the join back is a hash join on the shrunken frontier frame.
    Reference anchor: none — the reference has no inequality-predicate
    surface at all (mr/worker.go:136-157 is its only aggregation)."""
    from minimapreduce_spark.operators.ordered import with_global_prefix_max

    part = load_table(spark, sf_dir, "part")
    best = part.groupBy("p_retailprice").agg(F.max("p_size").alias("best_size"))
    pm = with_global_prefix_max(
        best, [F.col("p_retailprice")], F.col("best_size"), out="m_lt"
    )
    frontier = (
        pm.where(F.col("m_lt").isNull() | (F.col("best_size") > F.col("m_lt")))
        .select(
            F.col("p_retailprice").alias("f_price"),
            F.col("best_size").alias("f_size"),
        )
    )
    return (
        part.join(
            frontier,
            (F.col("p_retailprice") == F.col("f_price"))
            & (F.col("p_size") == F.col("f_size")),
        )
        .select(
            F.col("p_partkey").alias("part_key"),
            F.col("p_retailprice").alias("retail_price"),
            F.col("p_size").cast("int").alias("size_units"),
        )
    )
