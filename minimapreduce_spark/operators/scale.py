"""Skew- and shuffle-management operators (100 TB posture).

The reference has no skew handling at all — one hot key means one slow
reduce task (SURVEY §4 "Skew handling: None"). At 100 TB a hot key is
the norm, not the exception, so the engine exposes the two standard
mitigations as first-class, oracle-checked operators:

- **salted aggregation** — two-stage decomposable aggregation: stage 1
  groups by (key, salt) so a hot key's rows spread over ``n_salts``
  reducers and combine map-side; stage 2 merges the partials by key.
  Semantically identical to a plain groupBy (the oracle proves it).
- **salted join** — replicate the small/hot-key side ``n_salts`` ways,
  salt the big side deterministically, join on (key, salt): a hot join
  key's probe rows land on ``n_salts`` tasks instead of one.

Salts are derived from ``xxhash64`` of high-cardinality columns, never
``rand()`` — deterministic input → deterministic output, so retried
tasks (the reference's whole fault-tolerance story, SURVEY §2a#10)
recompute identical results.

Spark's AQE (``spark.sql.adaptive.skewJoin``) does split skewed SMJ
partitions at runtime; explicit salting remains the portable fix for
skewed *aggregations* and for engines/joins AQE doesn't cover, and
makes the technique visible to the plan tests.

Also here: bucketed co-located joins (``bucketed_join``) — pre-bucket
both fact tables on the join key at write time so repeated joins run
with ZERO shuffle exchanges (the reference's nReduce-bucket intermediate
files, mr/worker.go:94-101, are exactly this idea persisted).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from minimapreduce_spark.catalog import fan_out, load_table
from minimapreduce_spark.operators.money import exact_revenue_sum, exact_sum, grid_c
from minimapreduce_spark.registry import register

N_SALTS = 16


def salt_col(n_salts: int, *entropy_cols: str) -> Column:
    """Deterministic salt in [0, n_salts): hash of high-cardinality
    columns (NOT rand() — task retries must be idempotent)."""
    return F.pmod(F.xxhash64(*entropy_cols), F.lit(n_salts)).cast("int")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    salt: Column,
    partials: dict[str, Column],
    finals: dict[str, Column],
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``partials`` are stage-1 aggregates over (keys..., salt);
    ``finals`` are stage-2 merges over keys referencing stage-1 names.
    Only decomposable aggregates qualify (sum/count/min/max and
    anything derivable from them, e.g. avg = sum/count).
    """
    stage1 = (
        df.withColumn("_salt", salt % n_salts)
        .groupBy(*keys, "_salt")
        .agg(*[c.alias(name) for name, c in partials.items()])
    )
    return stage1.groupBy(*keys).agg(*[c.alias(name) for name, c in finals.items()])


@register(
    "agg_salted_skew",
    oracle="""
    SELECT l_returnflag,
           round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 2)
             AS sum_qty,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
             AS sum_base_price,
           round(sum(CAST(round(l_discount * 10000) AS BIGINT))
                 / (10000.0 * count(*)), 6) AS avg_disc,
           max(l_quantity)                AS max_qty,
           count(*)                       AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over a 3-value key (l_returnflag — maximal skew: the
    whole table funnels into 3 groups) via salted two-stage agg. The
    oracle is the PLAIN group-by: salting must be invisible in the
    result. avg is recombined exactly as sum-of-sums / sum-of-counts.

    Exactness: sums run over fixed-point BIGINTs (cents / 1e-4 for the
    discount) so partial order — which salting deliberately scrambles —
    cannot move a rounded result; at 40× the raw double version
    crossed a 6-dp boundary against DuckDB (the same
    class as events_resample_gapfill's fix). Both engines then divide
    the same two exact integers — bit-deterministic.

    (For built-in aggregates Spark's partial+final hash agg already
    spreads this load; the operator exists for aggregation pipelines —
    e.g. collect_list-based or applyInPandas UDAFs — where the partial
    step would otherwise concentrate a hot key on one task.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = F.round(F.col("l_quantity") * 100).cast("bigint")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_q = F.round(F.col("l_discount") * 10000).cast("bigint")
    return salted_agg(
        li,
        keys=["l_returnflag"],
        salt=salt_col(N_SALTS, "l_orderkey", "l_linenumber"),
        partials={
            "p_sum_qty": F.sum(qty_c),
            "p_sum_price": F.sum(price_c),
            "p_sum_disc": F.sum(disc_q),
            "p_max_qty": F.max("l_quantity"),
            "p_n": F.count("*"),
        },
        finals={
            "sum_qty": F.round(F.sum("p_sum_qty") / 100.0, 2),
            "sum_base_price": F.round(F.sum("p_sum_price") / 100.0, 2),
            "avg_disc": F.round(
                F.sum("p_sum_disc") / (F.lit(10000.0) * F.sum("p_n")), 6
            ),
            "max_qty": F.max("p_max_qty"),
            "n_rows": F.sum("p_n"),
        },
    )


@register(
    "join_salted_suppliers",
    oracle="""
    SELECT s_suppkey, s_name,
           round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * CAST(100 - round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000, 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_suppkey, s_name
    """,
)
def join_salted_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact→dim join via salting: every supplier key is hot
    (lineitem/supplier ≈ 600:1), so a plain shuffle join gives each
    reducer one giant probe group. The dim side is exploded ×N_SALTS,
    the fact side salted deterministically, and the join key becomes
    (suppkey, salt) → each hot key spreads over N_SALTS tasks. A merge
    hint forces the shuffle path (a 100-row dim would otherwise
    broadcast, hiding the pattern under test); the oracle is the plain
    join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount", "l_orderkey", "l_linenumber"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sup_rep = sup.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)])))
    li_salted = li.withColumn("_salt", salt_col(N_SALTS, "l_orderkey", "l_linenumber"))
    joined = li_salted.hint("merge").join(
        sup_rep,
        (li_salted.l_suppkey == sup_rep.s_suppkey) & (li_salted._salt == sup_rep._salt),
    )
    return (
        joined.groupBy("s_suppkey", "s_name")
        .agg(
            F.round(exact_revenue_sum(), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): per-priority,
    per-status, and grand-total aggregates in ONE pass over orders —
    Catalyst expands the sets into a single Expand+hash-agg plan, so
    the fact table is scanned once, not once per set."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            # exact grid sum (money.py): the () grand-total set
            # aggregates the whole fact table — maximal q1-class risk
            F.round(exact_sum(grid_c("o_totalprice"), 100), 2).alias("total_price"),
            F.count("*").alias("n_orders"),
        )
    )


KMV_K = 32  # bottom-K size; rsd ≈ 1/sqrt(K-2) ≈ 18%
KMV_BUCKETS = 8  # phase-1 hash-space split (∝ N/K at true scale)
_KMV_HASH60 = "CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"


def kmv_hash60(col: Column) -> Column:
    """Portable 60-bit key hash (15 md5 hex chars), identical in Spark
    and DuckDB — the value space every KMV sketch in the family draws
    from."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")


def kmv_sketch(hashed: DataFrame, groups: list[str], k: int = KMV_K) -> DataFrame:
    """(groups..., ks: array<bigint>, n_exact): bounded-state bottom-K
    distinct sketch per group over a (groups..., h) frame.

    Two-phase decomposition — the MERGEABILITY structure itself: phase
    1 takes bottom-K per (group, h % KMV_BUCKETS) sub-stream (buckets
    partition the hash space, so the union of per-bucket bottom-Ks is
    a superset of the global bottom-K), phase 2 merges the ≤ B×K
    survivors per group. Merging two groups' sketches = union the
    arrays, re-take bottom-K — exactly phase 2, which the mergeability
    pytest exercises on disjoint event shards. Phase-2 state is B×K
    longs per group by construction; at 100 TB you size B ∝ N/K so
    phase-1 groups stay small, and only sketch-sized rows ever cross
    the wire after the first distinct."""
    per_bucket = (
        hashed.distinct()
        .groupBy(*groups, (F.col("h") % KMV_BUCKETS).alias("_b"))
        .agg(
            F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("ks"),
            F.count("*").alias("nb"),
        )
    )
    return per_bucket.groupBy(*groups).agg(
        F.slice(F.sort_array(F.flatten(F.collect_list("ks"))), 1, k).alias("ks"),
        F.sum("nb").cast("bigint").alias("n_exact"),
    )


@register(
    "sketch_kmv_distinct_users",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT event_type, {_KMV_HASH60} AS h FROM events
    ),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM d
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(least(count(*), {KMV_K}) AS BIGINT) AS n_retained,
           round(CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS DOUBLE)
                      ELSE ({KMV_K} - 1.0) * 1152921504606846976.0
                           / max(CASE WHEN rn = {KMV_K} THEN h END)
                 END, 4) AS kmv_est
    FROM r GROUP BY event_type
    """,
)
def sketch_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-REPRODUCIBLE mergeable distinct-count sketch: per
    event_type, the bottom-KMV_K 60-bit md5 hashes of the distinct
    user set, estimator (K-1)·2^60 / h_(K) (the K-minimum-values
    sketch of Bar-Yossef et al.), falling back to the exact retained
    count when a group holds fewer than K distinct keys (both paths
    exercised: sf0.001 groups have 15 distinct users, sf0.01 150).

    Why next to ``agg_approx_sketch``: HLL/quantile sketch ESTIMATES
    are engine-internal, so that query's oracle can only band them.
    KMV over a portable hash is deterministic end-to-end — the
    ESTIMATE itself hash-matches DuckDB exactly, while keeping the
    incremental-stats posture that matters at 100 TB: sketches are
    tiny (K longs), merge by union+rebottom (the pytest proves
    merge(sketch(A), sketch(B)) == sketch(A ∪ B) on disjoint event
    shards), so per-shard profiles roll up to corpus profiles without
    rescanning — the same algebraic-maintenance contract as
    ``incremental_rollup_merge``, extended to distinct counts.

    Exactness: hashes and bottom-K are integers; the estimator is one
    division of exact doubles ((K-1)·2^60 is 5+60 bits — exactly
    representable) rounded to 4 dp, identical on both engines."""
    ev = load_table(spark, sf_dir, "events")
    hashed = ev.select("event_type", kmv_hash60(F.col("user_id")).alias("h"))
    sk = kmv_sketch(hashed, ["event_type"])
    est = F.when(
        F.size("ks") < KMV_K, F.size("ks").cast("double")
    ).otherwise(
        (F.lit(float(KMV_K) - 1.0) * F.lit(1152921504606846976.0))
        / F.element_at("ks", KMV_K)
    )
    return sk.select(
        "event_type",
        "n_exact",
        F.least(F.size("ks"), F.lit(KMV_K)).cast("bigint").alias("n_retained"),
        F.round(est, 4).alias("kmv_est"),
    )


@register(
    "agg_approx_sketch",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           (abs(approx_count_distinct(l_orderkey)
                - count(DISTINCT l_orderkey))
              <= 0.05 * count(DISTINCT l_orderkey)) AS hll_within_5pct,
           (approx_quantile(l_extendedprice, 0.5)
              BETWEEN quantile_cont(l_extendedprice, 0.40)
                  AND quantile_cont(l_extendedprice, 0.60)) AS p50_banded,
           (approx_quantile(l_extendedprice, 0.95)
              BETWEEN quantile_cont(l_extendedprice, 0.90)
                  AND quantile_cont(l_extendedprice, 0.999)) AS p95_banded
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates for 100 TB interactive profiling:
    HyperLogLog++ distinct counts and quantile sketches over lineitem,
    grouped by return flag. Sketches are mergeable across partitions
    (constant memory per group, single shuffle of sketch bytes — never
    the rows).

    Sketch ESTIMATES are engine-specific by construction, so the
    cross-engine oracle is BANDED: each engine checks its own sketch
    against its own exact statistics and emits booleans (HLL within 5%
    of the exact distinct count — rsd is 2% — and approx quantiles
    inside generous exact-quantile bands), while the group keys, exact
    row counts, and exact distinct counts hash-compare exactly. A
    sketch regression on either engine flips a boolean and fails the
    value hash; tighter error-bound assertions live in pytest."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("_hll"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("_ap50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("_ap95"),
        F.expr("percentile(l_extendedprice, 0.40D)").alias("_e40"),
        F.expr("percentile(l_extendedprice, 0.60D)").alias("_e60"),
        F.expr("percentile(l_extendedprice, 0.90D)").alias("_e90"),
        F.expr("percentile(l_extendedprice, 0.999D)").alias("_e999"),
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        "exact_orders",
        (
            F.abs(F.col("_hll") - F.col("exact_orders"))
            <= 0.05 * F.col("exact_orders")
        ).alias("hll_within_5pct"),
        F.col("_ap50").between(F.col("_e40"), F.col("_e60")).alias("p50_banded"),
        F.col("_ap95").between(F.col("_e90"), F.col("_e999")).alias("p95_banded"),
    )


@register(
    "join_bloom_pruned_revenue",
    oracle="""
    SELECT l_orderkey,
           round(sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) / 10000.0, 2)
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_orderkey
    """,
)
def join_bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning: per-order lineitem revenue for
    urgent orders, shaped so Catalyst's InjectRuntimeFilter rewrites the
    fact side to ``might_contain(bloom_filter_agg(o_orderkey), ...)`` —
    the selective dim predicate prunes lineitem rows BEFORE the
    aggregation shuffle, not after the join.

    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling the ~20% that can possibly match: the bloom
    filter (a few MB of bits) ships to every scan task, while the
    default thresholds (application side > 10 GB, creation side <
    100 MB) ensure the rewrite only fires when it pays. Locally the
    application-side threshold is dropped for the duration of plan
    optimization (the QueryExecution caches the injected plan; the
    session conf is restored before returning) so the plan shape is
    testable at sf0.01 — asserted in tests/test_plans.py.

    The merge hint pins the dim side to a shuffle join: broadcast would
    also be correct (and AQE may pick it at this scale), but the bloom
    pattern under test only applies to shuffle joins.
    """
    key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    rev = li.groupBy("l_orderkey").agg(
        (F.sum(F.round(F.col("l_extendedprice") * 10000).cast("long")) / 10000.0).alias(
            "_rev"
        )
    )
    df = rev.join(o.hint("merge"), rev.l_orderkey == o.o_orderkey).select(
        "l_orderkey", F.round("_rev", 2).alias("revenue")
    )
    old = spark.conf.get(key)
    spark.conf.set(key, "1KB")
    try:
        # Force optimization NOW so the injected bloom plan is cached in
        # this DataFrame's QueryExecution, then restore the threshold so
        # other queries in the session keep the at-scale default.
        df._jdf.queryExecution().optimizedPlan()
    finally:
        spark.conf.set(key, old)
    return df


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist a frame bucketed+sorted by the join key. At 100 TB this
    is the write-once/join-many contract: both sides bucketed the same
    way join with no exchange (only per-bucket sorts if needed).
    ``path`` pins the table data to an explicit location (external
    table) — the registered query uses a /tmp staging root so a driver
    running from an arbitrary (possibly read-only) cwd never depends on
    the default cwd-relative warehouse."""
    import os
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # an in-memory catalog forgets tables between sessions but leaves the
    # warehouse directory behind; clear the orphan so overwrite succeeds
    if path is None:
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        loc = os.path.join(warehouse.removeprefix("file:"), table)
    else:
        loc = path
    if os.path.isdir(loc):
        shutil.rmtree(loc)
    w = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


@register(
    "join_bucketed_smb",
    oracle="""
    SELECT o_orderpriority,
           round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total_price,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> DataFrame:
    """SORT-MERGE-BUCKET JOIN — THE 100 TB fact⋈fact strategy, now a
    registered query under the driver's hard signal (it was previously
    only a plan-asserted helper): orders ⋈ lineitem with both sides
    pre-bucketed+sorted on the order key, so the join itself has ZERO
    shuffle exchanges — tests/test_plans.py pins no hashpartitioning on
    either key and exactly one exchange total (the final groupBy's).
    Write once, join many: every subsequent join on the bucket key
    reads co-located buckets instead of re-shuffling 100 TB — the
    contract behind Hive/Iceberg bucket layouts and Spark's own
    bucketed tables. The bucketed data lands under an explicit staging
    root in ``artifacts.engine_root()`` (external table), so a driver
    running from any cwd exercises the same plan.

    Exactness: revenue is the money-grid BIGINT sum (``exact_sum`` —
    int128 emulation, order-free), so total_price hash-matches DuckDB
    at any scale, unlike a float sum whose accumulation-order noise
    reaches the 2-dp boundary at ~1e11 sums (the 160× q1 lesson).

    Scale posture: the one-time bucketed write is the only shuffle of
    the fact tables; n_buckets scales with cluster width (8 here, ~2-4k
    at 100 TB). AQE never coalesces bucket reads, and the sortBy makes
    the merge side zero-sort. Reference anchor: the reference
    co-locates by nReduce partitioning only (mr/worker.go:40-44) —
    every job re-partitions; bucketing is the persisted generalization
    it cannot express."""
    import os

    from minimapreduce_spark.artifacts import engine_root

    # per-session staging root (keyed by spark.app.id) — a fixed shared
    # path would let two concurrent sessions rmtree each other's tables
    # mid-query
    base = os.path.join(
        engine_root(),
        f"minimapreduce_spark_bucketed_{spark.sparkContext.applicationId}",
    )
    write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        "orders_b",
        "o_orderkey",
        n_buckets,
        path=os.path.join(base, "orders_b"),
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        ),
        "lineitem_b",
        "l_orderkey",
        n_buckets,
        path=os.path.join(base, "lineitem_b"),
    )
    o = spark.table("orders_b")
    li = spark.table("lineitem_b")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(exact_sum(grid_c("l_extendedprice"), 100), 2).alias(
                "total_price"
            ),
            F.count("*").alias("n_items"),
        )
    )

# ---------------------------------------------------------------------------
# Z-order (Morton) clustering — multi-dimensional data skipping
# ---------------------------------------------------------------------------

ZORDER_BITS = 16


def zorder_col(x: Column, y: Column, bits: int = ZORDER_BITS) -> Column:
    """Morton/Z-order interleave of two non-negative integer columns
    (low ``bits`` bits each) into one locality-preserving sort key.

    Sorting by this key clusters rows that are close in BOTH dimensions
    into the same files/row-groups, so parquet min-max statistics can
    prune scans for predicates on EITHER column — the layout trick
    single-column sorting (sorted-write in sources/formats) only offers
    its leading column. Pure shiftright/and/shiftleft/or column
    arithmetic: whole-stage-codegen'd, no UDF.

    Inputs must already be normalized to comparable ranges (see
    ``normalized_dim``): interleaving raw values whose magnitudes
    differ by orders of magnitude degenerates into a single-column
    sort, because the wider dimension owns all the high bits.
    """
    import functools

    # bigint lanes: bit 2*bits-1 of the interleave would land on an
    # int32 sign bit (DuckDB computes the oracle in BIGINT).
    mask = F.lit((1 << bits) - 1).cast("long")
    x, y = x.cast("long").bitwiseAND(mask), y.cast("long").bitwiseAND(mask)
    parts = []
    for i in range(bits):
        xbit = F.shiftright(x, i).bitwiseAND(F.lit(1))
        ybit = F.shiftright(y, i).bitwiseAND(F.lit(1))
        parts.append(F.shiftleft(xbit, 2 * i + 1))
        parts.append(F.shiftleft(ybit, 2 * i))
    return functools.reduce(lambda a, b: a.bitwiseOR(b), parts)


def zorder_sql(x: str, y: str, bits: int = ZORDER_BITS) -> str:
    """The identical interleave as ANSI/DuckDB SQL text (for oracles)."""
    xm, ym = f"({x} & {(1 << bits) - 1})", f"({y} & {(1 << bits) - 1})"
    parts = []
    for i in range(bits):
        parts.append(f"((({xm} >> {i}) & 1) << {2 * i + 1})")
        parts.append(f"((({ym} >> {i}) & 1) << {2 * i})")
    return " | ".join(parts)


def normalized_dim(col: Column, lo: Column, hi: Column, bits: int = ZORDER_BITS) -> Column:
    """Linearly rescale ``col`` from [lo, hi] onto the full [0, 2^bits)
    grid — exact BIGINT arithmetic, identical cross-engine.

    Every real Z-order implementation normalizes dimensions before
    interleaving (lakehouse OPTIMIZE ZORDER uses range-partition ids);
    min-max scaling is the cheap variant (one tiny agg, broadcast) and
    is what ``write_zordered`` applies. For heavily skewed columns,
    substitute quantile-rank normalization — the interleave is
    unchanged.

    EXACT floor division for 64-bit dimensions: with epoch-micros-scale
    spans, pos × 65535 exceeds both 2^53 (double mantissa) and 2^63
    (bigint), so the product runs in DECIMAL(38,0). Spark's decimal
    division still rounds its quotient at scale ≥ 6 — enough to cross
    an integer boundary when num ≈ k·span — so the candidate floor is
    corrected with an exact decimal remainder check (off by at most one
    by construction; one ±1 adjustment restores 0 ≤ r < span). Result
    is bit-identical to the oracle's integer ``//`` over the full
    bigint range.
    """
    span = F.greatest(hi.cast("bigint") - lo.cast("bigint"), F.lit(1))
    pos = col.cast("bigint") - lo.cast("bigint")
    mask = (1 << bits) - 1

    # Fast path — span ≤ 2^31: pos·mask ≤ 2^47 is double-exact and the
    # quotient's distance to the next integer (≥ 1/span ≥ 2^-31) dwarfs
    # its ulp (~2^-36 at q≈65535), so floor(double) IS the exact floor.
    fast = F.floor(
        (pos * mask).cast("double") / span.cast("double")
    ).cast("bigint")

    dec = "decimal(38,0)"
    numd = pos.cast(dec) * F.lit(mask).cast(dec)
    spand = span.cast(dec)
    q0 = F.floor(numd / spand).cast(dec)
    r = numd - q0 * spand
    slow = (
        q0
        + F.when(r < 0, F.lit(-1))
        .when(r >= spand, F.lit(1))
        .otherwise(F.lit(0))
        .cast(dec)
    ).cast("bigint")
    return F.when(span <= F.lit(1 << 31), fast).otherwise(slow)


def collect_minmax_bounds(df: DataFrame, x: str, y: str) -> tuple[int, int, int, int]:
    """Driver-side (xlo, xhi, ylo, yhi) of two columns — ONE row from a
    full min/max aggregate, the analysis phase every lakehouse OPTIMIZE
    ZORDER runs before rewriting files. Collecting it (instead of
    broadcasting a 1-row frame into the main plan) lets the caller pick
    the exact normalization arithmetic in Python while the spans are
    known scalars — see ``normalized_dim_lit`` for why that halves the
    per-row cost. Bounded by contract: always exactly one row, four
    ints. Empty input degenerates to a [0, 0] span."""
    row = df.agg(
        F.min(x).alias("xlo"), F.max(x).alias("xhi"),
        F.min(y).alias("ylo"), F.max(y).alias("yhi"),
    ).head()
    return tuple(0 if v is None else int(v) for v in row)  # type: ignore[return-value]


def normalized_dim_lit(col: Column, lo: int, hi: int, bits: int = ZORDER_BITS) -> Column:
    """``normalized_dim`` with SCALAR bounds: rescale ``col`` from
    [lo, hi] onto [0, 2^bits) by exact floor division, the arithmetic
    path chosen at PLAN TIME from the known span.

    Why this exists (a bench regression, zorder_tile_stats +14%):
    the column-bounds version must carry BOTH the double fast path and
    the decimal exact path under a per-row ``When`` — and whole-stage
    codegen's subexpression elimination hoists the shared subtrees out
    of the branches and evaluates them EAGERLY, so every row paid the
    decimal(38,0) division even when the 2^31 gate chose the double
    path. With the span known driver-side the choice happens once,
    here, in Python:

    - span·mask < 2^62 — pos·mask fits a long exactly; one double
      division proposes the quotient and an exact long remainder check
      corrects ±1 (the proposal is off by < 1: pos ≤ span bounds the
      quotient by mask, so the relative double error never reaches an
      integer boundary uncorrected). All-long per-row cost, no decimal
      anywhere in the plan.
    - larger spans (epoch-micros scale) — the same corrected floor in
      decimal(38,0), now unconditionally, because it is genuinely
      needed. Bit-identical to the oracle's integer ``//`` either way.
    """
    span = max(hi - lo, 1)
    mask = (1 << bits) - 1
    pos = col.cast("bigint") - F.lit(lo).cast("bigint")
    if span * mask < (1 << 62):
        a = pos * F.lit(mask)
        qd = F.floor(a.cast("double") / F.lit(float(span))).cast("bigint")
        r = a - qd * F.lit(span)
        return qd + (
            F.when(r < 0, F.lit(-1)).when(r >= F.lit(span), F.lit(1)).otherwise(F.lit(0))
        )
    dec = "decimal(38,0)"
    numd = pos.cast(dec) * F.lit(mask).cast(dec)
    spand = F.lit(span).cast(dec)
    q0 = F.floor(numd / spand).cast(dec)
    r = numd - q0 * spand
    return (
        q0
        + F.when(r < 0, F.lit(-1)).when(r >= spand, F.lit(1)).otherwise(F.lit(0)).cast(dec)
    ).cast("bigint")


def normalized_dim_sql(col: str, lo: str, hi: str, bits: int = ZORDER_BITS) -> str:
    return (
        f"((CAST({col} AS BIGINT) - CAST({lo} AS BIGINT)) * {(1 << bits) - 1})"
        f" // greatest(CAST({hi} AS BIGINT) - CAST({lo} AS BIGINT), 1)"
    )


def write_zordered(
    df: DataFrame, path: str, x: str, y: str, n_files: int, bits: int = ZORDER_BITS
) -> None:
    """Write ``df`` as parquet clustered on the Z-order of (x, y):
    min-max normalize both dimensions onto the same 2^bits grid,
    range-partition on the interleaved key (equal-size output files via
    sampled range boundaries, same mechanism as the sorted-write
    layout), sort within partitions, drop the transient key.

    Each output file then covers one tight 2-D tile, and its parquet
    footer min/max for BOTH x and y are narrow — readers skip files for
    any box predicate. This is the standard lakehouse OPTIMIZE ZORDER
    layout, built from plain repartitionByRange + sortWithinPartitions.
    """
    xlo, xhi, ylo, yhi = collect_minmax_bounds(df, x, y)
    xn = normalized_dim_lit(F.col(x), xlo, xhi, bits).cast("int")
    yn = normalized_dim_lit(F.col(y), ylo, yhi, bits).cast("int")
    (
        df.withColumn("_z", zorder_col(xn, yn, bits))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


_Z_DAY = "datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))"
_Z_XN = normalized_dim_sql("o_custkey", "b.xlo", "b.xhi")
_Z_YN = normalized_dim_sql("day", "b.ylo", "b.yhi")


@register(
    "zorder_tile_stats",
    oracle=f"""
    WITH d AS (
      SELECT o_custkey, {_Z_DAY} AS day FROM orders
    ),
    b AS (
      SELECT min(o_custkey) AS xlo, max(o_custkey) AS xhi,
             min(day) AS ylo, max(day) AS yhi
      FROM d
    ),
    z AS (
      SELECT o_custkey, day,
             ({zorder_sql(_Z_XN, _Z_YN)}) >> 26 AS tile
      FROM d, b
    )
    SELECT tile, count(*) AS n_orders,
           min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
           min(day) AS min_day, max(day) AS max_day
    FROM z GROUP BY tile
    """,
    bench=True,
)
def zorder_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile statistics of the Z-order clustering of orders on
    (o_custkey, o_orderdate-as-day): both dimensions are min-max
    normalized onto the same 2^16 grid, Morton-interleaved, and the top
    6 bits name one of 64 2-D tiles. The min/max spread of BOTH
    dimensions inside a tile is what a parquet footer advertises after
    ``write_zordered`` — narrow on both, so box predicates on either
    column prune files.

    The interleave is 64 shift/and/or terms of exact integer column
    arithmetic — fully codegen'd, bit-identical cross-engine. The 1-row
    bounds aggregate is collected driver-side (the OPTIMIZE-ZORDER
    analysis phase) so the normalization arithmetic is chosen from the
    known span at plan time — see ``normalized_dim_lit`` for the
    +14% regression this removes; the data path is one scan + one
    hash-agg shuffle on tile id.
    """
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    )
    d = orders.select("o_custkey", day.alias("day"))
    xlo, xhi, ylo, yhi = collect_minmax_bounds(d, "o_custkey", "day")
    xn = normalized_dim_lit(F.col("o_custkey"), xlo, xhi).cast("int")
    yn = normalized_dim_lit(F.col("day"), ylo, yhi).cast("int")
    z = d.select(
        "o_custkey", "day", F.shiftright(zorder_col(xn, yn), 26).alias("tile")
    )
    return z.groupBy("tile").agg(
        F.count("*").alias("n_orders"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
    )


@register(
    "agg_heavy_hitters_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def agg_heavy_hitters_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k sketch: per order status, the
    most frequent order priorities with counts, computed by a mergeable
    frequency sketch instead of a (group, item)-keyed aggregation.

    Scale posture — why a sketch at 100 TB: the naive plan shuffles one
    (group, item) row per distinct pair; the sketch path keeps a
    constant-size summary per group per partition and shuffles ONE
    sketch blob per group per map task (same shape as HLL in
    agg_approx_sketch). Here the item domain (5 priorities) is far
    below the sketch's tracked capacity, so the estimates are provably
    exact and the output hash-matches a plain GROUP BY oracle — the
    operator is demonstrated, and its accuracy contract (exact under
    capacity, approximate above) is documented rather than hidden.
    The exploded result re-sorts deterministically; sketch item order
    is not part of the contract.
    """
    orders = load_table(spark, sf_dir, "orders")
    sk = orders.groupBy("o_orderstatus").agg(
        F.expr("approx_top_k(o_orderpriority, 10, 10000)").alias("tk")
    )
    return sk.select(
        "o_orderstatus", F.explode("tk").alias("e")
    ).select(
        "o_orderstatus",
        F.col("e.item").alias("o_orderpriority"),
        F.col("e.count").cast("bigint").alias("cnt"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch — bounded-memory frequency estimation
# ---------------------------------------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 64  # counters per row — deliberately << |users| so collisions
#             are real at fixture scale and the one-sided error shows
CMS_TOP = 20

_CMS_BUCKET_SQL = (
    "CAST(('0x' || substr(md5('cms' || d.d || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    f" % {CMS_W}"
)


def cms_bucket(d: Column, key: Column) -> Column:
    """Portable CMS bucket: row-salted 60-bit md5 hash mod W, identical
    in Spark and DuckDB (the ``kmv_hash60`` discipline; hash is
    non-negative so ``%`` == ``pmod`` on both engines)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("cms"), d.cast("string"), F.lit(":"), key.cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % CMS_W
    )


def cms_pairs(ec: DataFrame) -> DataFrame:
    """(user_id, cnt, d, bucket): each key hashed into its D sketch
    cells."""
    return ec.select(
        "user_id",
        "cnt",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("d"),
    ).withColumn("bucket", cms_bucket(F.col("d"), F.col("user_id")))


def cms_counters(ec: DataFrame) -> DataFrame:
    """The sketch itself: D×W BIGINT counters, one map-side-combinable
    agg. Merging shards = adding counters cell-wise (pytest-proven)."""
    return cms_pairs(ec).groupBy("d", "bucket").agg(F.sum("cnt").alias("counter"))


def cms_estimates(ec: DataFrame) -> DataFrame:
    """(user_id, cnt, cms_est): point-query every key against the
    broadcast sketch; est = min over the D row counters."""
    return (
        cms_pairs(ec)
        .join(F.broadcast(cms_counters(ec)), ["d", "bucket"])
        .groupBy("user_id", "cnt")
        .agg(F.min("counter").alias("cms_est"))
    )


@register(
    "sketch_cms_heavy_hitters",
    oracle=f"""
    WITH ec AS MATERIALIZED (
      SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
    ),
    pairs AS MATERIALIZED (
      SELECT user_id, cnt, d.d, {_CMS_BUCKET_SQL} AS bucket
      FROM ec, (SELECT unnest(generate_series(0, {CMS_D - 1})) AS d) d
    ),
    counters AS MATERIALIZED (
      SELECT d, bucket, sum(cnt) AS counter FROM pairs GROUP BY 1, 2
    ),
    est AS (
      SELECT p.user_id, p.cnt, min(c.counter) AS cms_est
      FROM pairs p JOIN counters c ON p.d = c.d AND p.bucket = c.bucket
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT user_id, cnt, cms_est,
             row_number() OVER (ORDER BY cnt DESC, user_id) AS rnk
      FROM est
    )
    SELECT user_id,
           CAST(cnt AS BIGINT)           AS exact_cnt,
           CAST(cms_est AS BIGINT)       AS cms_est,
           CAST(cms_est - cnt AS BIGINT) AS overest,
           CAST(rnk AS INT)              AS rnk
    FROM ranked WHERE rnk <= {CMS_TOP}
    """,
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-REPRODUCIBLE Count-Min sketch: heavy-hitter frequency
    estimation under D×W bounded state (the KMV family's missing
    sibling — KMV answers "how many distinct", CMS answers "how often
    is THIS key", both mergeable by construction: two shards' sketches
    merge by adding counters cell-wise, pytest-proven). Output: the
    top-20 users by exact event count with their CMS estimate
    and the one-sided overestimate (est ≥ exact ALWAYS — the CMS
    theorem, asserted over every key in pytest).

    Like the KMV query, the sketch uses a portable row-salted md5
    hash so the ESTIMATES THEMSELVES hash-match DuckDB exactly —
    integer counters, integer min, no float anywhere.

    Scale posture: the sketch is D×W = 4×64 BIGINT counters
    REGARDLESS of key cardinality, built by one map-side-combinable
    aggregation; the estimate join broadcasts the sketch (it is always
    tiny by construction). The exact-count side exists to measure the
    guarantee in-engine — at 100 TB you'd keep only the sketch and
    probe it with a candidate stream; here the exact twin is what
    makes the overestimate column (and the oracle comparison)
    meaningful. W is sized below the fixture's key cardinality on
    purpose: collisions are the behavior under test, not an accident."""
    from minimapreduce_spark.operators.ordered import with_bounded_rank

    ev = load_table(spark, sf_dir, "events")
    ec = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    est = cms_estimates(ec)
    top = est.orderBy(F.desc("cnt"), F.asc("user_id")).limit(CMS_TOP)
    return with_bounded_rank(top, F.desc("cnt"), F.asc("user_id"), out="rnk").select(
        "user_id",
        F.col("cnt").cast("bigint").alias("exact_cnt"),
        F.col("cms_est").cast("bigint").alias("cms_est"),
        (F.col("cms_est") - F.col("cnt")).cast("bigint").alias("overest"),
        "rnk",
    )


# ---------------------------------------------------------------------------
# Equi-width histogram quantile sketch — bounded-memory distribution summary
# ---------------------------------------------------------------------------

QSK_B = 128  # histogram buckets — the sketch's whole state
QSK_PCTS = (1, 5, 25, 50, 75, 90, 99)


@register(
    "sketch_quantile_prices",
    oracle=f"""
    WITH c AS MATERIALIZED (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem
    ),
    b AS (SELECT min(cents) AS lo, max(cents) AS hi, count(*) AS n FROM c),
    pcts(pct) AS (VALUES {", ".join(f"({p})" for p in QSK_PCTS)}),
    sk AS (
      SELECT ((cents - lo) * {QSK_B}) // (hi - lo + 1) AS bucket,
             count(*) AS cnt
      FROM c, b GROUP BY 1
    ),
    cdf AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM sk),
    targets AS (
      SELECT pct, (pct * n + 99) // 100 AS target, n, lo, hi FROM pcts, b
    ),
    est AS (
      SELECT t.pct, t.n, t.target, t.lo, t.hi, min(cdf.bucket) AS bucket
      FROM targets t JOIN cdf ON cdf.cum >= t.target
      GROUP BY 1, 2, 3, 4, 5
    ),
    vals AS (SELECT cents, count(*) AS vcnt FROM c GROUP BY 1),
    vcdf AS (SELECT cents, sum(vcnt) OVER (ORDER BY cents) AS cum FROM vals),
    exact AS (
      SELECT t.pct, min(v.cents) AS exact_cents
      FROM targets t JOIN vcdf v ON v.cum >= t.target GROUP BY 1
    )
    SELECT CAST(e.pct AS INT) AS pct,
           CAST(e.n AS BIGINT) AS n,
           CAST(e.target AS BIGINT) AS target_rank,
           CAST(x.exact_cents AS BIGINT) AS exact_cents,
           CAST(e.bucket AS INT) AS bucket,
           CAST(e.lo + (e.bucket * (e.hi - e.lo + 1)) // {QSK_B} AS BIGINT)
             AS est_lo_cents,
           CAST(e.lo + ((e.bucket + 1) * (e.hi - e.lo + 1)) // {QSK_B} - 1
                AS BIGINT) AS est_hi_cents
    FROM est e JOIN exact x USING (pct)
    """,
    bench=True,
)
def sketch_quantile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-REPRODUCIBLE quantile sketch — the distribution member of
    the mergeable-sketch triad (KMV: how many distinct; CMS: how often
    is this key; THIS: where do the values sit): an equi-width
    128-bucket integer histogram over l_extendedprice in cents,
    queried for p{1,5,25,50,75,90,99} with each estimate's GUARANTEED bracket
    [est_lo, est_hi] (one bucket wide — the sketch's error bound is the
    bucket width, by construction) alongside the exact quantile so the
    guarantee is measured in-engine, CMS-style.

    Every number is integer arithmetic end to end: cents via the
    money-grid recovery (``grid_c``: round(price×100) — the price
    column's native exact grid), bucket = (cents−lo)·B DIV span
    (exact floor on both engines), counts, ceil-rank targets
    (p·n+99) DIV 100, and bucket bounds back in cents — so the sketch
    AND its estimates hash-match DuckDB, the family discipline.

    Scale posture: the sketch is 128 BIGINT counters REGARDLESS of
    row count, built from ONE scan of the fact
    table: a (value, count) agg first, then bounds (a driver-side 1-row
    collect, the zorder_tile_stats analysis-phase pattern), histogram,
    and exact CDF all run on that distinct-value frame; shard sketches
    merge by adding counters cell-wise (pytest-proven). The quantile probe is a broadcast of
    7 targets against the 128-row CDF (bounded
    window). The exact twin aggregates per distinct value then takes
    one two-phase running sum over the (value, count) frame — far
    smaller than the data and never single-partition; at 100 TB you
    would keep only the sketch and skip the twin, which exists to
    measure the bracket guarantee, not to serve queries.
    """
    from minimapreduce_spark.operators.ordered import (
        bounded_ordered,
        with_global_running_sum,
    )
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(grid_c("l_extendedprice").alias("cents"))
    # (Measured: fanning the 3-split scan out by the agg key made
    # the vals agg alone faster, 0.84 → 0.48 s, but the whole query
    # SLOWER, 1.9 → 2.7 s — a user repartition is exempt from AQE
    # coalescing, so every downstream stage on the checkpointed vals
    # frame inherited 32 near-empty partitions. Left as-is.)
    # ONE pass over the fact table: everything downstream — bounds,
    # histogram, exact CDF — runs on the distinct-value frame, which is
    # bounded by the price grid, not the row count (the 40x run spent
    # 2/3 of its wall re-scanning lineitem for bounds + histogram + CDF
    # before this restructure).
    vals = c.groupBy("cents").agg(F.count("*").alias("vcnt")).localCheckpoint(
        eager=False
    )
    row = vals.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi"),
        F.sum("vcnt").alias("n"),
    ).head()
    # Degenerate-input policy (tests/test_empty_inputs.py): an empty
    # fact table yields NULL bounds — coalesce to 0 like
    # collect_minmax_bounds and return the (empty) result frame instead
    # of crashing at plan-build time.
    lo = 0 if row.lo is None else int(row.lo)
    hi = 0 if row.hi is None else int(row.hi)
    n = 0 if row.n is None else int(row.n)
    if n == 0:
        return spark.createDataFrame(
            [],
            "pct int, n bigint, target_rank bigint, exact_cents bigint, "
            "bucket int, est_lo_cents bigint, est_hi_cents bigint",
        )
    span = hi - lo + 1

    sk = vals.groupBy(
        F.expr(f"(cents - {lo}L) * {QSK_B} DIV {span}L").alias("bucket")
    ).agg(F.sum("vcnt").alias("cnt"))
    one, w = bounded_ordered(sk, "bucket")
    cdf = one.select(
        "bucket",
        F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum"),
    )

    targets = spark.createDataFrame(
        [(p, (p * n + 99) // 100) for p in QSK_PCTS], "pct: int, target: bigint"
    )
    est = (
        cdf.join(F.broadcast(targets), F.col("cum") >= F.col("target"))
        .groupBy("pct", "target")
        .agg(F.min("bucket").alias("bucket"))
    )

    vcdf = with_global_running_sum(vals, [F.col("cents")], F.col("vcnt"), out="cum")
    exact = (
        vcdf.join(F.broadcast(targets), F.col("cum") >= F.col("target"))
        .groupBy("pct")
        .agg(F.min("cents").alias("exact_cents"))
    )

    return (
        est.join(exact, "pct")
        .select(
            F.col("pct").cast("int").alias("pct"),
            F.lit(n).cast("bigint").alias("n"),
            F.col("target").cast("bigint").alias("target_rank"),
            F.col("exact_cents").cast("bigint").alias("exact_cents"),
            F.col("bucket").cast("int").alias("bucket"),
            F.expr(f"{lo}L + bucket * {span}L DIV {QSK_B}").cast("bigint").alias("est_lo_cents"),
            F.expr(f"{lo}L + (bucket + 1) * {span}L DIV {QSK_B} - 1").cast("bigint").alias("est_hi_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout — the locality-superior sibling of Z-order
# ---------------------------------------------------------------------------

HILBERT_BITS = 8  # 2^8 × 2^8 grid → d ∈ [0, 65536)
HILBERT_TILE_SHIFT = 10  # top 6 bits of d → 64 tiles


def _hilbert_round_sql(s: int, n: int) -> tuple[str, str, str]:
    """One xy2d round (grid mask ``s``) as engine-shared SQL over carry
    columns (hx, hy, hd): quadrant digit d += s²·((3rx) XOR ry) with the
    XOR written as exact arithmetic (3rx + ry − 2·rx·ry — identical on
    {0,1}), then the canonical reflect-and-swap rotation. The snippet is
    valid in BOTH Spark SQL and DuckDB (CASE, &, integer arithmetic)."""
    rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
    d = f"hd + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})"
    x = (
        f"CASE WHEN {ry} = 1 THEN hx "
        f"WHEN {rx} = 1 THEN {n - 1} - hy ELSE hy END"
    )
    y = (
        f"CASE WHEN {ry} = 1 THEN hy "
        f"WHEN {rx} = 1 THEN {n - 1} - hx ELSE hx END"
    )
    return d, x, y


def hilbert_d_frame(grid: DataFrame, bits: int = HILBERT_BITS) -> DataFrame:
    """(xn, yn, hd): Hilbert index of every distinct grid cell, computed
    by ``bits`` chained rounds of the xy2d state machine over named
    carry columns — one bounded frame (≤ 4^bits rows BY CONSTRUCTION,
    the curve's whole domain), so the unrolled expression chain never
    touches fact-table volume and the result broadcast-joins back to
    the data. A mid-chain localCheckpoint stops Catalyst's projection
    collapse from inlining the rounds into one exponential expression
    tree (each round references its predecessor's columns ~4×)."""
    n = 1 << bits
    df = grid.selectExpr(
        "xn", "yn",
        "CAST(xn AS BIGINT) AS hx", "CAST(yn AS BIGINT) AS hy",
        "CAST(0 AS BIGINT) AS hd",
    )
    for i, s in enumerate(1 << b for b in range(bits - 1, -1, -1)):
        d_e, x_e, y_e = _hilbert_round_sql(s, n)
        df = df.selectExpr(
            "xn", "yn",
            f"CAST(({x_e}) AS BIGINT) AS hx",
            f"CAST(({y_e}) AS BIGINT) AS hy",
            f"CAST(({d_e}) AS BIGINT) AS hd",
        )
        if i == bits // 2 - 1:
            df = df.localCheckpoint(eager=False)
    return df.select("xn", "yn", "hd")


def _hilbert_chain_cte(bits: int = HILBERT_BITS) -> str:
    """The same rounds as chained DuckDB CTEs h1..h{bits} over the
    distinct grid CTE ``g`` (CTE boundaries are the oracle's natural
    anti-collapse barriers)."""
    n = 1 << bits
    parts = [
        "h0 AS (SELECT xn, yn, CAST(xn AS BIGINT) AS hx,"
        " CAST(yn AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM g)"
    ]
    for i, s in enumerate(1 << b for b in range(bits - 1, -1, -1)):
        d_e, x_e, y_e = _hilbert_round_sql(s, n)
        parts.append(
            f"h{i + 1} AS MATERIALIZED (SELECT xn, yn,"
            f" CAST(({x_e}) AS BIGINT) AS hx,"
            f" CAST(({y_e}) AS BIGINT) AS hy,"
            f" CAST(({d_e}) AS BIGINT) AS hd FROM h{i})"
        )
    return ",\n    ".join(parts)


@register(
    "hilbert_tile_stats",
    oracle=f"""
    WITH d AS (
      SELECT o_custkey, {_Z_DAY} AS day FROM orders
    ),
    b AS (
      SELECT min(o_custkey) AS xlo, max(o_custkey) AS xhi,
             min(day) AS ylo, max(day) AS yhi
      FROM d
    ),
    pts AS MATERIALIZED (
      SELECT o_custkey, day,
             ({normalized_dim_sql("o_custkey", "b.xlo", "b.xhi", HILBERT_BITS)}) AS xn,
             ({normalized_dim_sql("day", "b.ylo", "b.yhi", HILBERT_BITS)}) AS yn
      FROM d, b
    ),
    g AS MATERIALIZED (SELECT DISTINCT xn, yn FROM pts),
    {_hilbert_chain_cte()},
    curve AS (SELECT xn, yn, hd FROM h{HILBERT_BITS})
    SELECT hd >> {HILBERT_TILE_SHIFT} AS tile,
           count(*) AS n_orders,
           min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
           min(day) AS min_day, max(day) AS max_day
    FROM pts JOIN curve USING (xn, yn)
    GROUP BY 1
    """,
    bench=True,
)
def hilbert_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile statistics of the HILBERT-curve clustering of orders on
    (o_custkey, o_orderdate-as-day) — the locality-superior sibling of
    `zorder_tile_stats` (same inputs, same output frame, same 64-tile
    cut, directly comparable): consecutive Hilbert indices are always
    unit Manhattan steps (Z-order takes long diagonal jumps at quadrant
    boundaries) — the property modern lakehouse clustering
    (liquid/OPTIMIZE) buys with this curve, pinned exhaustively in
    pytest against an independent reference AND against Z-order's
    step distribution. Honesty note: at this query's coarse 64-tile
    cut the two curves' tile bounding boxes measure statistically
    identical on the fixture (0.248 vs 0.248 mean normalized
    semi-perimeter) — the Hilbert win materializes at file-level
    granularity (many small files ≈ fine tiles), not at 1024-cell
    tiles; the step-level superiority is where the guarantee lives.

    Exactness: the xy2d state machine is 8 unrolled rounds
    of pure integer CASE/bitmask arithmetic — one engine-shared SQL
    snippet per round, bit-identical on both engines; the quadrant XOR
    is written as exact {{0,1}} arithmetic. Bijectivity and the
    unit-step property are pinned against an independent Python
    reference exhaustively in pytest.

    Scale posture: the curve is evaluated on the DISTINCT grid frame —
    ≤ 4^8 rows BY CONSTRUCTION regardless of table size —
    then broadcast-joined back to the facts, so the fact path costs one
    normalization projection + one broadcast join + the tile hash-agg
    (the zorder plan plus one bounded join; at petabyte scale the curve
    table is a write-once artifact, exactly like `write_zordered`'s
    layout pass).
    """
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    )
    d = orders.select("o_custkey", day.alias("day"))
    xlo, xhi, ylo, yhi = collect_minmax_bounds(d, "o_custkey", "day")
    pts = d.select(
        "o_custkey",
        "day",
        normalized_dim_lit(F.col("o_custkey"), xlo, xhi, HILBERT_BITS).alias("xn"),
        normalized_dim_lit(F.col("day"), ylo, yhi, HILBERT_BITS).alias("yn"),
    )
    curve = hilbert_d_frame(pts.select("xn", "yn").distinct())
    return (
        pts.join(F.broadcast(curve), ["xn", "yn"])
        .groupBy(F.shiftright(F.col("hd"), HILBERT_TILE_SHIFT).alias("tile"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
    )


# ---------------------------------------------------------------------------
# Salting under a PLANTED 90%-hot key — the skew ladder demonstrated
# ---------------------------------------------------------------------------

HOTKEY_SALTS = 16  # reducers a hot key's rows spread over
HOTKEY_COLD = 97   # cold-key cardinality alongside the hot key


def planted_hotkey(col: Column) -> Column:
    """Deterministic 90%-hot key derivation: rows whose ``col % 10 < 9``
    (90% by construction on a dense-ish key) collapse onto ONE key;
    the rest spread over HOTKEY_COLD cold keys. Engine-shared
    arithmetic (`%` on BIGINT), so the oracle derives the identical
    key column."""
    return (
        F.when(col % 10 < 9, F.lit("HOT"))
        .otherwise(F.concat(F.lit("cold_"), (col % HOTKEY_COLD).cast("string")))
    )


@register(
    "agg_salted_hotkey_planted",
    bench=True,  # the planted-skew mitigation must stay visible in BENCH
    oracle=f"""
    SELECT hot_key,
           count(*) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_c_sum,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty
    FROM (
      SELECT CASE WHEN l_orderkey % 10 < 9 THEN 'HOT'
                  ELSE 'cold_' || CAST(l_orderkey % {HOTKEY_COLD} AS VARCHAR)
             END AS hot_key,
             l_extendedprice, l_quantity
      FROM lineitem
    )
    GROUP BY hot_key
    """,
)
def agg_salted_hotkey_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted aggregation under a PLANTED 90%-hot key:
    `agg_salted_skew` demonstrates the two-stage shape on a
    natural 3-value key; THIS query plants the adversarial case — one
    synthetic key owning 90% of the fact table (l_orderkey % 10 < 9),
    the load profile where an unsalted shuffle funnels 90% of the scan
    into ONE reducer task. Stage 1 groups by (hot_key, salt) with the
    salt drawn from xxhash64 of the row identity (deterministic —
    retried tasks recompute identical partials), so the hot key's rows
    spread over HOTKEY_SALTS=16 reducers; stage 2 merges 16 partials
    per key. The oracle is the PLAIN group-by over the identically
    derived key: salting must be invisible in the result.

    Sums run on the cents grid (BIGINT) so partial order — which
    salting deliberately scrambles — cannot move a result; min/max and
    count are order-free. The bounded-per-task contract is pinned in
    pytest arithmetically: the stage-1 frame must contain all 16
    (HOT, salt) groups and the largest group may exceed the ideal
    hot_rows/16 split by at most 2x (xxhash64 uniformity on ~90% of
    the fixture's rows), i.e. no reducer sees more than ~1/8 of the
    hot key's volume instead of all of it.

    Scale posture: at 100 TB this IS the mitigation for skewed
    aggregation pipelines whose partial step cannot map-side-combine
    (collect_list / UDAF states); for built-in sums Spark's
    partial+final agg already spreads the load, which is why the
    planted key, not the machinery, is the point of this query.
    Reference anchor: the reference has no skew story at all — one hot
    key = one slow reduce task (mr/worker.go:40-44 FNV partitioner,
    SURVEY §4 'Skew handling: None').
    """
    li = load_table(spark, sf_dir, "lineitem")
    # group on an INTEGER surrogate (-1 = HOT, else the cold residue)
    # and render the string key only on the ≤98 final rows: at the 640×
    # octave the per-row string concat was ~1/3 of the wall (44.8 s →
    # grouping 384M strings), pure overhead the aggregation never needed
    ikey = F.when(F.col("l_orderkey") % 10 < 9, F.lit(-1).cast("bigint")).otherwise(
        (F.col("l_orderkey") % HOTKEY_COLD).cast("bigint")
    )
    keyed = li.select(
        ikey.alias("ik"),
        grid_c("l_extendedprice").alias("price_c"),
        F.col("l_quantity"),
        "l_orderkey", "l_linenumber",
    )
    agged = salted_agg(
        keyed,
        keys=["ik"],
        salt=salt_col(HOTKEY_SALTS, "l_orderkey", "l_linenumber"),
        partials={
            "p_n": F.count("*"),
            "p_price": F.sum("price_c"),
            "p_min_qty": F.min("l_quantity"),
            "p_max_qty": F.max("l_quantity"),
        },
        finals={
            "n_rows": F.sum("p_n"),
            "price_c_sum": F.sum("p_price"),
            "min_qty": F.min("p_min_qty"),
            "max_qty": F.max("p_max_qty"),
        },
        n_salts=HOTKEY_SALTS,
    )
    return agged.select(
        F.when(F.col("ik") == -1, F.lit("HOT"))
        .otherwise(F.concat(F.lit("cold_"), F.col("ik").cast("string")))
        .alias("hot_key"),
        "n_rows", "price_c_sum", "min_qty", "max_qty",
    )


@register(
    "sketch_kmv_set_ops",
    bench=True,  # bounded-state set-ops: sketch build + 10-pair compose
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT event_type, {_KMV_HASH60} AS h FROM events
    ),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM d
    ),
    ks AS (SELECT event_type, h FROM r WHERE rn <= {KMV_K}),
    tn AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, a.n AS n_a,
             b.event_type AS type_b, b.n AS n_b
      FROM tn a JOIN tn b ON a.event_type < b.event_type
    ),
    u AS (
      SELECT p.type_a, p.type_b, k.h
      FROM pairs p JOIN ks k ON k.event_type IN (p.type_a, p.type_b)
      GROUP BY 1, 2, 3
    ),
    ur AS (
      SELECT type_a, type_b, h,
             row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
      FROM u
    ),
    theta AS (
      SELECT type_a, type_b,
             max(CASE WHEN rn = {KMV_K} THEN h END) AS th,
             count(*) AS usz
      FROM ur GROUP BY 1, 2
    ),
    common AS (
      SELECT p.type_a, p.type_b, ka.h
      FROM pairs p
      JOIN ks ka ON ka.event_type = p.type_a
      JOIN ks kb ON kb.event_type = p.type_b AND kb.h = ka.h
    ),
    cb AS (
      SELECT c.type_a, c.type_b,
             count(*) FILTER (WHERE c.h < t.th) AS below,
             count(*) AS common_all
      FROM common c JOIN theta t USING (type_a, type_b)
      GROUP BY 1, 2
    ),
    ei AS (
      SELECT p.type_a, p.type_b, count(*) AS exact_inter
      FROM pairs p
      JOIN d da ON da.event_type = p.type_a
      JOIN d db ON db.event_type = p.type_b AND db.h = da.h
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(p.n_a AS BIGINT) AS n_a, CAST(p.n_b AS BIGINT) AS n_b,
           CAST(p.n_a + p.n_b - coalesce(ei.exact_inter, 0) AS BIGINT)
             AS exact_union,
           CAST(coalesce(ei.exact_inter, 0) AS BIGINT) AS exact_inter,
           round(CASE WHEN t.usz < {KMV_K} THEN CAST(t.usz AS DOUBLE)
                      ELSE ({KMV_K} - 1.0) * 1152921504606846976.0 / t.th
                 END, 4) AS union_est,
           round(CASE WHEN t.usz < {KMV_K}
                        THEN CAST(coalesce(cb.common_all, 0) AS DOUBLE)
                      ELSE coalesce(cb.below, 0) * 1152921504606846976.0 / t.th
                 END, 4) AS inter_est,
           round(CASE WHEN t.usz < {KMV_K}
                        THEN CAST(coalesce(ei.exact_inter, 0) AS DOUBLE)
                             / (p.n_a + p.n_b - coalesce(ei.exact_inter, 0))
                      ELSE CAST(coalesce(cb.below, 0) AS DOUBLE) / ({KMV_K} - 1)
                 END, 4) AS jaccard_est
    FROM pairs p
    JOIN theta t USING (type_a, type_b)
    LEFT JOIN cb USING (type_a, type_b)
    LEFT JOIN ei USING (type_a, type_b)
    """,
)
def sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET OPERATIONS on KMV sketches — the theta-sketch composition
    (Dasgupta et al., "Theta Sketch Framework") that completes the
    mergeable-sketch family: KMV answers "how many distinct", CMS "how
    often", the quantile sketch "where do values sit"; THIS answers
    "how do two distinct sets RELATE" (union, intersection, Jaccard)
    from two bounded sketches alone — audience-overlap over every pair
    of event types, without ever materializing a user set.

    The theta trick, and why it stays EXACT w.r.t. the sketches: for a
    pair (A, B), θ = the K-th smallest of ks_A ∪ ks_B. Because the
    union of bottom-Ks contains ALL of ks_A, θ ≤ θ_A (and ≤ θ_B), so
    every true A∩B member hashing below θ is RETAINED in both arrays —
    the common-below count is exact, not sampled-from-a-sample. Then
    |union| ≈ (K−1)·2⁶⁰/θ, |inter| ≈ below·2⁶⁰/θ, Jaccard ≈
    below/(K−1). Groups under K distinct fall back to the exact
    retained values (sf0.001 exercises the fallback, sf0.01 the
    estimator — the `sketch_kmv_distinct_users` discipline).

    Exactness: hashes, bottom-Ks, θ, and the below/common counts are
    integers; each estimate is ONE division of exact doubles rounded
    to 4 dp — the whole row hash-matches DuckDB. The exact union/inter
    columns are the measured-guarantee twin (the quantile sketch's
    bracket discipline): at 100 TB you keep only the sketch columns.

    Scale posture: the per-type sketch build is `kmv_sketch` (two-phase
    bucketed bottom-K, B×K longs of state); the pair stage is a
    self-join of 5 sketch ROWS (T types → T(T−1)/2 pairs of K-long
    arrays) — driver-trivial at any corpus size. The exact twin joins
    distinct-hash frames (bounded by true cardinality, dropped in
    production). Reference anchor: the reference cannot express ANY
    of this — its only aggregation is the sorted-run reduce
    (mr/worker.go:136-157)."""
    ev = load_table(spark, sf_dir, "events")
    hashed = ev.select("event_type", kmv_hash60(F.col("user_id")).alias("h"))
    sk = kmv_sketch(hashed, ["event_type"]).localCheckpoint(eager=False)
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("ks").alias("ks_a"),
        F.col("n_exact").alias("n_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("ks").alias("ks_b"),
        F.col("n_exact").alias("n_b"),
    )
    dist = hashed.distinct().localCheckpoint(eager=False)
    ei = (
        dist.alias("da")
        .join(
            dist.alias("db"),
            (F.col("da.h") == F.col("db.h"))
            & (F.col("da.event_type") < F.col("db.event_type")),
        )
        .groupBy(
            F.col("da.event_type").alias("type_a"),
            F.col("db.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("exact_inter"))
    )
    two60 = 1152921504606846976.0
    paired = (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .join(ei, ["type_a", "type_b"], "left")
        .withColumn("exact_inter", F.coalesce("exact_inter", F.lit(0)).cast("bigint"))
        .withColumn(
            "uks",
            F.slice(F.array_sort(F.array_union("ks_a", "ks_b")), 1, KMV_K),
        )
        .withColumn("usz", F.size(F.array_distinct(F.array_union("ks_a", "ks_b"))))
        .withColumn("th", F.try_element_at("uks", F.lit(KMV_K)))
        .withColumn(
            "below",
            F.when(
                F.col("th").isNotNull(),
                F.size(
                    F.filter(
                        F.array_intersect("ks_a", "ks_b"), lambda x: x < F.col("th")
                    )
                ),
            ).otherwise(F.lit(0)),
        )
        .withColumn("common_all", F.size(F.array_intersect("ks_a", "ks_b")))
    )
    est_path = F.col("usz") >= KMV_K
    return paired.select(
        "type_a",
        "type_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        (F.col("n_a") + F.col("n_b") - F.col("exact_inter"))
        .cast("bigint")
        .alias("exact_union"),
        "exact_inter",
        F.round(
            F.when(est_path, F.lit(KMV_K - 1.0) * F.lit(two60) / F.col("th"))
            .otherwise(F.col("usz").cast("double")),
            4,
        ).alias("union_est"),
        F.round(
            F.when(est_path, F.col("below") * F.lit(two60) / F.col("th"))
            .otherwise(F.col("common_all").cast("double")),
            4,
        ).alias("inter_est"),
        F.round(
            F.when(
                est_path, F.col("below").cast("double") / F.lit(float(KMV_K - 1))
            ).otherwise(
                F.col("exact_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("exact_inter"))
            ),
            4,
        ).alias("jaccard_est"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog: the register-form distinct sketch, exactly reproducible
# ---------------------------------------------------------------------------

HLL_P = 6  # 2^6 = 64 registers; rse ≈ 1.04/sqrt(64) ≈ 13%
HLL_M = 64
_HLL_HASH60 = "CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"

# Shared estimator text (parsed by BOTH engines over the exact BIGINT
# columns v_zero / z_reg): raw HLL estimate alpha_64 * m^2 * 2^55 / Z
# (0.709 * 4096 * 2^55 = 0.709 * 2^67; the 2^67 literal is a power of
# two, exactly representable), with Flajolet's small-range linear-
# counting correction m * ln(m / V) when the raw estimate <= 2.5m and
# empty registers remain. The ln() site is midpoint-margin-pinned over
# its ENTIRE 64-value input domain by test_hll_small_range_margins.
_HLL_RAW = "(0.709 * 147573952589676412928.0 / CAST(z_reg AS DOUBLE))"
_HLL_EST = (
    f"(CASE WHEN v_zero > 0 AND {_HLL_RAW} <= 160.0"
    f" THEN 64.0 * ln(64.0 / v_zero) ELSE {_HLL_RAW} END)"
)


def hll_rho(h: Column) -> Column:
    """Rank of the first 1-bit in the 54-bit suffix of a 60-bit hash
    (register update value), via length(bin(w)) — identical string
    semantics in Spark and DuckDB (both strip leading zeros)."""
    w = F.shiftright(h, HLL_P)
    return F.when(w == 0, F.lit(55)).otherwise(F.lit(55) - F.length(F.bin(w)))


def hll_registers(hashed: DataFrame, groups: list[str]) -> DataFrame:
    """(groups..., j, mj, nb): the HLL register frame over a
    (groups..., h) hash frame — register j in [0, HLL_M) holds the max
    first-1-bit rank of the distinct hashes routed to it; nb carries
    the exact per-register distinct count for the measured twin.

    This IS the mergeable state: merging two shards' register frames is
    an element-wise max (plus nb sum when shards are hash-disjoint),
    which test_hll_registers_merge_equals_whole proves equals sketching
    the union. Per group the state is <= HLL_M tiny integers regardless
    of cardinality — at 100 TB only register rows cross the wire after
    the first distinct, and partial aggregation combines map-side."""
    return (
        hashed.distinct()
        .groupBy(*groups, (F.col("h") % HLL_M).alias("j"))
        .agg(F.max(hll_rho(F.col("h"))).alias("mj"), F.count("*").alias("nb"))
    )


@register(
    "sketch_hll_distinct_users",
    bench=True,  # the register-form sketch completes the mergeable family
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT event_type, {_HLL_HASH60} AS h FROM events
    ),
    p AS (
      SELECT event_type, h % {HLL_M} AS j,
             max(CASE WHEN (h >> {HLL_P}) = 0 THEN 55
                      ELSE 55 - length(bin(h >> {HLL_P})) END) AS mj,
             count(*) AS nb
      FROM d GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type,
             CAST(sum(nb) AS BIGINT) AS n_exact,
             CAST({HLL_M} - count(*) AS BIGINT) AS v_zero,
             CAST(sum(CAST(pow(2.0, 55 - mj) AS BIGINT))
                  + ({HLL_M} - count(*)) * 36028797018963968 AS BIGINT)
               AS z_reg,
             CAST(sum(mj) AS BIGINT) AS sum_rho
      FROM p GROUP BY 1
    )
    SELECT event_type, n_exact, v_zero, sum_rho, z_reg,
           round({_HLL_EST}, 4) AS hll_est
    FROM g
    """,
)
def sketch_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-REPRODUCIBLE HyperLogLog (Flajolet et al. 2007) — the
    REGISTER-form distinct sketch that completes the mergeable family:
    KMV keeps the K smallest hash VALUES (state = K longs, merge =
    union + re-bottom-K); HLL keeps only the max first-1-bit RANK per
    hash bucket (state = m 6-bit registers, merge = element-wise max)
    — the form every production engine ships (Spark's own
    approx_count_distinct is HLL++), here rebuilt over the portable
    60-bit md5 hash so the ESTIMATE ITSELF hash-matches DuckDB instead
    of being banded like ``agg_approx_sketch``'s engine-internal one.

    Per event_type: route each distinct user hash to register
    j = h mod 64, update the register to the max rank of the first
    1-bit of the 54-bit suffix (rho, via length(bin(w)) — both engines
    strip leading zeros), then estimate alpha_64·m²/Z with
    Z = Σ 2^(−M_j). Z is carried as the EXACT integer
    Z·2^55 = Σ 2^(55−M_j) (each term ≤ 2^54, 64 terms — order-free
    BIGINT sum, immune to float accumulation order), so the only
    doubles are one shared-text division and, in the small range, the
    linear-counting correction m·ln(m/V) whose 64-value input domain
    test_hll_small_range_margins pins clear of rounding midpoints.
    sf0.001 (15 distinct users/type) exercises the corrected path,
    larger sfs the raw path; both appear at sf0.01 (~150/type, the
    2.5m crossover).

    Scale posture: distinct → one partial+final agg to ≤ 64 register
    rows per group → one agg to a 5-number row. Register rows combine
    map-side (max/count are algebraic), so post-distinct traffic is
    O(groups × 64) at ANY corpus size; the mergeability pytest proves
    shard register frames element-wise-max to the whole. n_exact/nb
    are the measured-guarantee twin, dropped in production. Reference
    anchor: the reference's only aggregate is the sorted-run reduce
    (mr/worker.go:136-157) — no sketch surface at all."""
    ev = load_table(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("hll:"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    regs = hll_registers(hashed, ["event_type"])
    roll = regs.groupBy("event_type").agg(
        F.sum("nb").cast("bigint").alias("n_exact"),
        F.count("*").alias("nj"),
        F.sum(F.expr("CAST(pow(2.0, 55 - mj) AS BIGINT)")).alias("zp"),
        F.sum("mj").cast("bigint").alias("sum_rho"),
    )
    return roll.select(
        "event_type",
        "n_exact",
        (F.lit(HLL_M) - F.col("nj")).cast("bigint").alias("v_zero"),
        "sum_rho",
        (
            F.col("zp")
            + (F.lit(HLL_M) - F.col("nj")) * F.lit(36028797018963968)
        )
        .cast("bigint")
        .alias("z_reg"),
    ).selectExpr(
        "event_type",
        "n_exact",
        "v_zero",
        "sum_rho",
        "z_reg",
        f"round({_HLL_EST}, 4) AS hll_est",
    )


# ---------------------------------------------------------------------------
# AMS (Tug-of-War) F2 sketch — join/self-join size estimation
# ---------------------------------------------------------------------------

AMS_D = 8  # independent sign bits; rse of the mean ≈ sqrt(2/D) ≈ 50%

_AMS_HASH60 = (
    "CAST(('0x' || substr(md5('ams:' || CAST(l_orderkey AS VARCHAR)), 1, 15))"
    " AS BIGINT)"
)


def ams_sign(d: int, h: Column) -> Column:
    """Portable AMS sign d: ±1 from BIT d of the per-key 60-bit md5
    hash — ONE hash per row feeds all D counters (a first cut salted
    the hash per d, which put 8 md5s on every row and made the scan
    md5-bound: 34 s → ~1 scan at the 40× octave; md5's bits are
    pairwise independent to the precision the F₂ variance argument
    needs, the same trust the CMS row-salt construction already
    places in md5's avalanche)."""
    return F.lit(1) - F.lit(2) * F.shiftright(h, d).bitwiseAND(F.lit(1))


@register(
    "sketch_ams_f2_join_size",
    oracle=f"""
    WITH h AS (
      SELECT l_returnflag, {_AMS_HASH60} AS h FROM lineitem
    ),
    sk AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n_rows,
             {", ".join(f"CAST(sum(1 - 2 * ((h >> {d}) & 1)) AS BIGINT) AS x{d}" for d in range(AMS_D))}
      FROM h GROUP BY 1
    ),
    ex AS (
      SELECT l_returnflag, CAST(sum(c * c) AS BIGINT) AS f2_exact
      FROM (SELECT l_returnflag, l_orderkey, count(*) AS c
            FROM lineitem GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT sk.l_returnflag, sk.n_rows, ex.f2_exact,
           CAST({" + ".join(f"x{d} * x{d}" for d in range(AMS_D))} AS BIGINT)
             AS ams_sum,
           round(CAST({" + ".join(f"x{d} * x{d}" for d in range(AMS_D))}
                      AS DOUBLE) / {AMS_D}, 2) AS f2_est
    FROM sk JOIN ex USING (l_returnflag)
    """,
)
def sketch_ams_f2_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE ESTIMATION — the AMS / Tug-of-War second-moment sketch
    (Alon, Matias, Szegedy 1996), the member of the mergeable family
    the others can't replace: KMV counts distinct keys, CMS point-
    queries frequencies, HLL counts cheaply; THIS estimates
    F₂ = Σ_k c_k² — the SELF-JOIN SIZE on the key, the number a
    cost-based optimizer needs BEFORE running a join (|A ⋈_k A| = F₂;
    for two relations the same sketches inner-product to Σ a_k·b_k).
    Per returnflag over lineitem's order key: D = 8 sign-hash counters
    X_d = Σ_rows s_d(key), estimate = mean of X_d² — E[X_d²] = F₂
    exactly (pairwise-independent signs cancel cross terms).

    Exactness as always: signs are bits of the per-key portable hash
    (ONE md5 per row serves all D counters — see ``ams_sign``), X_d
    and Σ X_d² are BIGINT (X_d² ≤ ~10¹⁶ at 640×, inside the envelope),
    and the single estimate division is shared text — sketch AND
    estimate hash-match DuckDB. The exact F₂ twin (Σ c² via one
    per-key agg) is the measured-guarantee column, dropped in
    production. Mergeability is literal addition: X_d of a union is
    the sum of shard X_d's (pytest, with the parity invariant
    X_d ≡ n_rows mod 2 pinning the sign algebra).

    Scale posture: D longs of state per group at ANY key cardinality;
    ONE map-side-combinable agg over the rows — no row multiplication
    (the D counters are D aggregate columns of one scan), and no
    per-key grouping: unlike the exact twin, the sketch NEVER shuffles
    on the key. The rse dial is D (∝ 1/√D). Reference anchor: none —
    the reference has no cardinality-estimation surface at all."""
    li = load_table(spark, sf_dir, "lineitem")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ams:"), F.col("l_orderkey").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    hashed = li.select("l_returnflag", "l_orderkey", h.alias("h"))
    sk = hashed.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        *[
            F.sum(ams_sign(d, F.col("h"))).cast("bigint").alias(f"x{d}")
            for d in range(AMS_D)
        ],
    )
    ex = (
        li.groupBy("l_returnflag", "l_orderkey")
        .agg(F.count("*").alias("c"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2_exact"))
    )
    sq = " + ".join(f"x{d} * x{d}" for d in range(AMS_D))
    return (
        sk.join(ex, "l_returnflag")
        .selectExpr(
            "l_returnflag",
            "n_rows",
            "f2_exact",
            f"CAST({sq} AS BIGINT) AS ams_sum",
            f"round(CAST({sq} AS DOUBLE) / {AMS_D}, 2) AS f2_est",
        )
    )


# ---------------------------------------------------------------------------
# Bloom filter — mergeable membership sketch, exactly reproducible
# ---------------------------------------------------------------------------

BLOOM_WORDS = 16       # bitset = 16 BIGINT words
BLOOM_WORD_BITS = 62   # usable bits per word (DuckDB's checked << caps at 61)
BLOOM_M = BLOOM_WORDS * BLOOM_WORD_BITS  # 992 positions
BLOOM_K = 4            # positions per key — 4 disjoint 15-bit hash fields
BLOOM_GHOSTS = 200     # disjoint non-member probe set (measures FPR)

_BLOOM_HASH60 = (
    "CAST(('0x' || substr(md5('bloom:' || k), 1, 15)) AS BIGINT)"
)
# position i = the i-th 15-bit field of the ONE 60-bit hash, mod M
# (the AMS lesson: one md5 per key serves all K positions)
_BLOOM_IDX = "(((h >> (15 * i.i)) & 32767) % 992)"


def bloom_positions() -> Column:
    """Position i in [0, BLOOM_M) from the shared 60-bit hash — reads
    the columns ``h`` and ``i`` (F.shiftright only takes a literal
    shift, so the column-shift goes through expression text)."""
    return F.expr(f"(shiftright(h, CAST(i * 15 AS INT)) & 32767) % {BLOOM_M}")


@register(
    "sketch_bloom_membership",
    oracle=f"""
    WITH keys AS (
      SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS k FROM events
    ),
    kh AS (SELECT event_type, k, {_BLOOM_HASH60} AS h FROM keys),
    ii AS (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS i),
    pos AS (
      SELECT event_type, {_BLOOM_IDX} AS idx FROM kh, ii i
    ),
    sk AS (
      SELECT event_type, idx // {BLOOM_WORD_BITS} AS word,
             bit_or(1::BIGINT << (idx % {BLOOM_WORD_BITS})) AS bits
      FROM pos GROUP BY 1, 2
    ),
    stats AS (
      SELECT s.event_type, n.n_keys,
             CAST(sum(bit_count(s.bits)) AS BIGINT) AS bits_set
      FROM sk s JOIN (SELECT event_type, count(*) AS n_keys
                      FROM keys GROUP BY 1) n USING (event_type)
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT event_type, k, 1 AS is_member FROM keys
      WHERE CAST(k AS BIGINT) % 29 = 0
      UNION ALL
      SELECT t.event_type, 'ghost:' || g.g AS k, 0 AS is_member
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT unnest(generate_series(0, {BLOOM_GHOSTS - 1})) AS g) g
    ),
    ppos AS (
      SELECT p.event_type, p.k, p.is_member,
             {_BLOOM_IDX} AS idx
      FROM (SELECT event_type, k, is_member, {_BLOOM_HASH60} AS h
            FROM probes) p, ii i
    ),
    ptest AS (
      SELECT p.event_type, p.k, p.is_member,
             min(CASE WHEN s.bits IS NOT NULL
                       AND (s.bits & (1::BIGINT
                            << (p.idx % {BLOOM_WORD_BITS}))) <> 0
                      THEN 1 ELSE 0 END) AS hit
      FROM ppos p LEFT JOIN sk s
        ON s.event_type = p.event_type
       AND s.word = p.idx // {BLOOM_WORD_BITS}
      GROUP BY 1, 2, 3
    )
    SELECT st.event_type,
           st.n_keys,
           st.bits_set,
           CAST(sum(CASE WHEN t.is_member = 1 THEN 1 END) AS BIGINT)
             AS n_member_probes,
           CAST(sum(CASE WHEN t.is_member = 1 AND t.hit = 1 THEN 1 END)
                AS BIGINT) AS members_found,
           CAST(sum(CASE WHEN t.is_member = 0 AND t.hit = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS ghost_fp,
           round(CAST(sum(CASE WHEN t.is_member = 0 AND t.hit = 1
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / {BLOOM_GHOSTS}, 6) AS fpr
    FROM ptest t JOIN stats st USING (event_type)
    GROUP BY 1, 2, 3
    """,
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM FILTER as a first-class mergeable sketch (Bloom 1970) —
    the membership member of the family: KMV/HLL answer "how many
    distinct", CMS "how often", AMS "how big a join", the quantile
    histogram "where do values sit"; THIS answers "might key x be in
    the set" from BLOOM_WORDS BIGINTs per group, with NO false
    negatives (the theorem) and a measured false-positive rate. The
    100 TB uses are everywhere in this repo's domain: semijoin pruning
    before a shuffle (`join_bloom_pruned_revenue` uses Catalyst's
    internal one — this is the portable, cross-engine-exact form),
    "have we crawled this URL" pre-filters in incremental dedup, and
    shard-level key membership for partition pruning.

    Construction, exactly reproducible end to end: per event_type the
    DISTINCT user keys each set BLOOM_K = 4 positions — the 4 disjoint
    15-bit fields of ONE 60-bit md5 (the AMS one-hash lesson) mod
    BLOOM_M = 992; the bitset is 16 62-bit words (62, not 64: DuckDB's
    checked shift caps at 1<<61) built by bit_or — a bitwise OR is
    order-free and IS the Bloom merge, which the shard pytest proves
    word by word. Probes: every true member with user_id ≡ 0 (mod 29)
    (all must hit — no-false-negative, pinned) and 200 disjoint
    'ghost:i' keys (hits = measured FPR, reported alongside the
    sketch's fill ratio bits_set/992; with n≈150 keys per type, fill
    ≈ 45% and expected FPR ≈ fill^4 ≈ 4% — the pytest bands the
    measurement against the formula).

    Scale posture: build = one distinct + one 4-way position explode +
    a bit_or agg to ≤ groups×16 words (map-side-combinable); probes
    join against the broadcast word frame. Everything integer/boolean
    except the one shared-text FPR division. Reference anchor: none —
    the reference has no membership surface."""
    ev = load_table(spark, sf_dir, "events")
    keys = ev.select(
        "event_type", F.col("user_id").cast("string").alias("k")
    ).distinct().localCheckpoint(eager=False)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("bloom:"), F.col("k"))), 1, 15), 16, 10
    ).cast("bigint")
    kh = keys.select("event_type", "k", h.alias("h"))
    pos = kh.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i"),
        "h",
    ).select("event_type", bloom_positions().alias("idx"))
    sk = (
        pos.groupBy(
            "event_type", (F.col("idx") / BLOOM_WORD_BITS).cast("bigint").alias("word")
        )
        .agg(
            F.bit_or(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(idx % {BLOOM_WORD_BITS} AS INT))")
            ).alias("bits")
        )
        .localCheckpoint(eager=False)
    )
    stats = (
        sk.groupBy("event_type")
        .agg(F.sum(F.bit_count("bits")).cast("bigint").alias("bits_set"))
        .join(
            keys.groupBy("event_type").agg(F.count("*").alias("n_keys")),
            "event_type",
        )
    )
    members = keys.where(F.col("k").cast("bigint") % 29 == 0).select(
        "event_type", "k", F.lit(1).alias("is_member")
    )
    ghosts = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(BLOOM_GHOSTS).select(
                F.concat(F.lit("ghost:"), F.col("id").cast("string")).alias("k")
            )
        )
        .select("event_type", "k", F.lit(0).alias("is_member"))
    )
    probes = members.unionByName(ghosts)
    ptest = (
        probes.select(
            "event_type", "k", "is_member",
            h.alias("h"),
        )
        .select(
            "event_type", "k", "is_member",
            F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i"),
            "h",
        )
        .select(
            "event_type", "k", "is_member", bloom_positions().alias("idx")
        )
        .withColumn("word", (F.col("idx") / BLOOM_WORD_BITS).cast("bigint"))
        .join(F.broadcast(sk), ["event_type", "word"], "left")
        .withColumn(
            "bit_hit",
            F.when(
                F.col("bits").isNotNull()
                & (
                    F.col("bits").bitwiseAND(
                        F.expr(
                            f"shiftleft(CAST(1 AS BIGINT), CAST(idx % {BLOOM_WORD_BITS} AS INT))"
                        )
                    )
                    != 0
                ),
                1,
            ).otherwise(0),
        )
        .groupBy("event_type", "k", "is_member")
        .agg(F.min("bit_hit").alias("hit"))
    )
    agg = ptest.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_member") == 1, 1)).cast("bigint").alias("n_member_probes"),
        F.sum(F.when((F.col("is_member") == 1) & (F.col("hit") == 1), 1))
        .cast("bigint")
        .alias("members_found"),
        F.sum(F.when((F.col("is_member") == 0) & (F.col("hit") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("ghost_fp"),
    )
    return (
        stats.join(agg, "event_type")
        .selectExpr(
            "event_type",
            "CAST(n_keys AS BIGINT) AS n_keys",
            "bits_set",
            "n_member_probes",
            "members_found",
            "ghost_fp",
            f"round(CAST(ghost_fp AS DOUBLE) / {BLOOM_GHOSTS}, 6) AS fpr",
        )
    )


# ---------------------------------------------------------------------------
# Catalog statistics — the ANALYZE TABLE surface
# ---------------------------------------------------------------------------

# (output column, canonical BIGINT expression SQL) — doubles land on
# their native cents grid, the timestamp on epoch days; strings carry
# no numeric canon (min/max NULL) and hash raw
_CSTAT_NUMERIC = [
    ("l_orderkey", "CAST(l_orderkey AS BIGINT)"),
    ("l_partkey", "CAST(l_partkey AS BIGINT)"),
    ("l_suppkey", "CAST(l_suppkey AS BIGINT)"),
    ("l_linenumber", "CAST(l_linenumber AS BIGINT)"),
    ("l_quantity", "CAST(round(l_quantity * 100) AS BIGINT)"),
    ("l_extendedprice", "CAST(round(l_extendedprice * 100) AS BIGINT)"),
    ("l_discount", "CAST(round(l_discount * 100) AS BIGINT)"),
    ("l_tax", "CAST(round(l_tax * 100) AS BIGINT)"),
    ("l_shipdate", "CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT)"),
]
_CSTAT_STRINGS = ["l_returnflag", "l_linestatus"]


def _cstat_oracle() -> str:
    melts = [
        f"SELECT '{name}' AS col, {canon} AS v, CAST({canon} AS VARCHAR) AS s"
        f" FROM lineitem"
        for name, canon in _CSTAT_NUMERIC
    ] + [
        f"SELECT '{name}', CAST(NULL AS BIGINT), {name} FROM lineitem"
        for name in _CSTAT_STRINGS
    ]
    melt = "\n      UNION ALL ".join(melts)
    return f"""
    WITH m AS ({melt}),
    base AS (
      SELECT col, count(*) AS n_rows, count(s) AS nn,
             min(v) AS min_v, max(v) AS max_v
      FROM m GROUP BY col
    ),
    d AS (
      SELECT DISTINCT col,
             CAST(('0x' || substr(md5('kmv:' || s), 1, 15)) AS BIGINT) AS h
      FROM m WHERE s IS NOT NULL
    ),
    r AS (
      SELECT col, h, row_number() OVER (PARTITION BY col ORDER BY h) AS rn
      FROM d
    ),
    k AS (
      SELECT col, count(*) AS nd,
             max(CASE WHEN rn = {KMV_K} THEN h END) AS hk
      FROM r GROUP BY col
    )
    SELECT base.col AS column_name,
           CAST(n_rows AS BIGINT)          AS n_rows,
           CAST(n_rows - nn AS BIGINT)     AS n_nulls,
           CAST(nd AS BIGINT)              AS n_distinct,
           round(CASE WHEN nd < {KMV_K} THEN CAST(nd AS DOUBLE)
                      ELSE ({KMV_K} - 1.0) * 1152921504606846976.0 / hk
                 END, 4)                   AS ndv_kmv_est,
           min_v, max_v
    FROM base JOIN k USING (col)
    """


def _cstat_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANALYZE lanes' fact input: project lineitem to exactly the
    11 profiled columns (l_comment never crosses an exchange — guide
    §2.3) and fan the scan out to the session's parallelism keyed on
    the (l_orderkey, l_linenumber) PK. At sf0.1 the table arrives as 3
    input splits, so without the fan-out the 11× melt + per-value
    hashing + partial aggregation — the whole CPU cost of ANALYZE —
    ran on 3 of 32 cores (measured at sf0.1: prod lane 3.9 → 2.2 s,
    md5 lane ~7 s of melt+hash alone → 2.3 s total, combined with the
    one-pass restructure); at real scale the scan already has ≥
    parallelism splits and fan_out is a no-op."""
    cols = [n for n, _ in _CSTAT_NUMERIC] + list(_CSTAT_STRINGS)
    li = load_table(spark, sf_dir, "lineitem").select(*cols)
    return fan_out(spark, li, keys=["l_orderkey", "l_linenumber"])


def _cstat_melt(li: DataFrame) -> DataFrame:
    """The 11-column lineitem melt — (col, canonical BIGINT v, hash
    string s) rows via ONE explode of a struct array, shared by the
    portable-md5 and production-xxhash ANALYZE lanes so the two can
    never drift on canonicalization."""
    structs = [
        F.struct(
            F.lit(name).alias("col"),
            F.expr(canon).alias("v"),
            F.expr(canon).cast("string").alias("s"),
        )
        for name, canon in [
            (n, c.replace("epoch(l_shipdate)",
                          "CAST(CAST(l_shipdate AS TIMESTAMP) AS DOUBLE)"))
            for n, c in _CSTAT_NUMERIC
        ]
    ] + [
        F.struct(
            F.lit(name).alias("col"),
            F.lit(None).cast("bigint").alias("v"),
            F.col(name).alias("s"),
        )
        for name in _CSTAT_STRINGS
    ]
    return li.select(F.explode(F.array(*structs)).alias("x")).select("x.*")


def _cstat_melt_prod(li: DataFrame) -> DataFrame:
    """(col, v, h) melt for the production-hash ANALYZE lane: numeric
    columns hash their canonical BIGINT directly with the JVM xxhash64
    (fixed-width input, no stringification — the swap that
    removes ~9/11 of the melt's 73M-per-6.6M-row string casts), string
    columns hash raw. Shares _CSTAT_NUMERIC's canon expressions with
    the md5 lane so canonicalization can never drift; NULL values get
    NULL h (xxhash64 would otherwise fold NULL to the seed), the
    nullness contract _cstat_onepass counts nulls by. Distinct-v ⟺
    distinct-s for every numeric canon (the string form is injective
    on the BIGINT grid), so n_distinct is unchanged up to 60-bit hash
    collisions — verified hash-equal to DuckDB's exact count at every
    fixture SF, like the md5 lane."""
    structs = [
        F.struct(
            F.lit(name).alias("col"),
            F.expr(canon).alias("v"),
            F.lit(None).cast("string").alias("s"),
        )
        for name, canon in [
            (n, c.replace("epoch(l_shipdate)",
                          "CAST(CAST(l_shipdate AS TIMESTAMP) AS DOUBLE)"))
            for n, c in _CSTAT_NUMERIC
        ]
    ] + [
        F.struct(
            F.lit(name).alias("col"),
            F.lit(None).cast("bigint").alias("v"),
            F.col(name).alias("s"),
        )
        for name in _CSTAT_STRINGS
    ]
    m = li.select(F.explode(F.array(*structs)).alias("x")).select("x.*")
    h_raw = F.when(F.col("v").isNotNull(), F.xxhash64("v")).otherwise(
        F.when(F.col("s").isNotNull(), F.xxhash64("s"))
    )
    return m.select("col", "v", F.shiftrightunsigned(h_raw, 4).alias("h"))


def _cstat_onepass(melt_h: DataFrame, k: int) -> DataFrame:
    """Single-pass ANALYZE core over a (col, v, h) frame: per-column
    row/null counts, canonical min/max, exact NDV and the bottom-K KMV
    sketch — all from ONE scan of the melt (guide §2.3/§2.4). The
    previous shape scanned the melt twice (base
    agg + hash distinct), paying the 11× explode and the per-value
    hashing twice.

    Structure: ``groupBy(col, h)`` collapses duplicate values first
    (partial aggregation runs map-side, so the one real exchange
    carries at most distinct-(col, value) rows) while carrying count /
    min / max as re-aggregable partials; then the family's two-phase
    bucketed bottom-K merge (``kmv_sketch``'s discipline) folds the
    base stats along with the sketch. ``h`` must be NULL exactly when
    the melted value is NULL — that is what makes
    n_nulls = n_rows − Σ(non-null-h counts) exact."""
    g1 = melt_h.groupBy("col", "h").agg(
        F.count("*").alias("c"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    g2 = g1.groupBy("col", (F.col("h") % KMV_BUCKETS).alias("_b")).agg(
        F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("ks"),
        F.count("h").alias("nb"),
        F.sum("c").alias("rows_b"),
        F.sum(F.when(F.col("h").isNotNull(), F.col("c")).otherwise(F.lit(0))).alias(
            "nn_b"
        ),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    return g2.groupBy("col").agg(
        F.sum("rows_b").cast("bigint").alias("n_rows"),
        (F.sum("rows_b") - F.sum("nn_b")).cast("bigint").alias("n_nulls"),
        F.min("mn").alias("min_v"),
        F.max("mx").alias("max_v"),
        F.slice(F.sort_array(F.flatten(F.collect_list("ks"))), 1, k).alias("ks"),
        F.sum("nb").cast("bigint").alias("n_exact"),
    )


@register("catalog_stats_lineitem", oracle=_cstat_oracle())
def catalog_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATALOG STATISTICS — the ANALYZE TABLE surface: per-column row
    count, null count, exact distinct count, a MERGEABLE KMV NDV
    estimate, and canonical min/max, for every lineitem column, in ONE
    fact scan + one shuffle. These are the statistics a cost-based
    optimizer (and a data-quality monitor) feeds on — Spark's own
    `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` computes exactly
    this set; here it is expressed as a query so the numbers are
    oracle-checkable and the sketch is the engine's own exactly-
    reproducible KMV (`kmv_sketch` — the estimate itself hash-matches
    DuckDB, unlike an opaque HLL, and per-shard sketches merge by
    union + re-bottom-K for incremental stats maintenance).

    Plan shape: the table MELTS to (column, canonical BIGINT value,
    hash string) rows via one explode of an 11-element struct array —
    one scan covers every column — then a single groupBy(col) pipeline
    computes counts/min/max while the KMV bottom-K runs on the same
    melt (doubles canonicalized to their native cents grid, the
    timestamp to epoch days, strings hashing raw with NULL numeric
    bounds). At 100 TB: the melt is a projection (×11 narrow rows, no
    data written), the shuffle carries only per-(column, bucket)
    sketch rows, and per-partition/per-day stats roll up by sketch
    merge instead of rescans — the incremental-stats posture
    (`incremental_rollup_merge`'s argument, applied to NDV).

    No reference analog (the reference has no schema at all —
    SURVEY §1); this is §2c 'scalar fn library / profiling' made a
    first-class engine surface."""
    li = _cstat_input(spark, sf_dir)
    melt = _cstat_melt(li)
    # Cost note (profiled at sf0.1): the wall is the PORTABLE md5 over
    # the 11×-melt — the cross-engine-exactness tax this harness pays
    # so the NDV estimate itself hash-matches DuckDB. The production
    # ANALYZE is `catalog_stats_lineitem_prod` below — the same
    # one-pass plan with the JVM-side xxhash64 and a self-checking
    # oracle. kmv_hash60(NULL) is NULL (concat/md5/conv all propagate),
    # which is the nullness contract _cstat_onepass needs.
    stats = _cstat_onepass(
        melt.select("col", "v", kmv_hash60(F.col("s")).alias("h")), KMV_K
    )
    est = (
        "round(CASE WHEN n_exact < {k} THEN CAST(n_exact AS DOUBLE) "
        "ELSE ({k} - 1.0) * 1152921504606846976.0 / element_at(ks, {k}) END, 4)"
    ).format(k=KMV_K)
    return (
        stats
        .selectExpr(
            "col AS column_name",
            "n_rows",
            "n_nulls",
            "CAST(n_exact AS BIGINT) AS n_distinct",
            f"{est} AS ndv_kmv_est",
            "min_v",
            "max_v",
        )
    )


# The production lane uses a bigger sketch than the family's teaching
# K=32: K=256 → rsd ≈ 1/sqrt(K-2) ≈ 6.3%, so the 25% band is ~4σ. The
# xxhash estimates are DETERMINISTIC per fixture (no RNG), so the band
# is a fixed property, not a flake — measured worst column across the
# three fixture SFs with the BIGINT-canon hash: 17.0%
# (sf0.001 l_orderkey; 14.3% / 11.7% at sf0.01 / sf0.1 — vs 68% worst
# at K=32, which is why the teaching K is too small to band tightly).
# State is still trivially bounded: 256 longs per column.
CSTAT_KMV_K = 256
CSTAT_NDV_REL_TOL = 0.25


def _cstat_prod_oracle() -> str:
    melts = [
        f"SELECT '{name}' AS col, {canon} AS v, CAST({canon} AS VARCHAR) AS s"
        f" FROM lineitem"
        for name, canon in _CSTAT_NUMERIC
    ] + [
        f"SELECT '{name}', CAST(NULL AS BIGINT), {name} FROM lineitem"
        for name in _CSTAT_STRINGS
    ]
    melt = "\n      UNION ALL ".join(melts)
    return f"""
    WITH m AS ({melt})
    SELECT col AS column_name,
           CAST(count(*) AS BIGINT)            AS n_rows,
           CAST(count(*) - count(s) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT s) AS BIGINT)   AS n_distinct,
           TRUE                                AS ndv_within_tol,
           min(v) AS min_v, max(v) AS max_v
    FROM m GROUP BY col
    """


@register("catalog_stats_lineitem_prod", oracle=_cstat_prod_oracle(), bench=True)
def catalog_stats_lineitem_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATALOG STATISTICS, PRODUCTION HASH LANE — the plan a deployment
    actually ships: identical melt, identical
    exact half (row/null counts, canonical min/max, exact NDV), but the
    KMV sketch draws from JVM-side ``xxhash64`` (whole-stage-codegen,
    zero string md5) instead of the portable-md5 `kmv_hash60` — the
    swap `catalog_stats_lineitem`'s cost note documents, now a
    registered, benched query instead of a comment. The 64-bit hash is
    shifted into the family's 60-bit nonneg value space so the
    estimator constant (K−1)·2⁶⁰ is shared.

    The xxhash estimate cannot hash-match DuckDB (no xxhash64 there),
    so the oracle is SELF-CHECKING — the `agg_approx_sketch` protocol:
    every exact column (n_rows, n_nulls, n_distinct, min, max)
    hash-compares exactly, and the estimate is emitted as the boolean
    ``ndv_within_tol`` = |est − exact| ≤ CSTAT_NDV_REL_TOL·exact, which
    the oracle pins to TRUE — a drifting estimator flips the bit and
    fails the hash. The estimate itself is deterministic per fixture
    (fixed hash, no RNG), so the band is a property, not a flake; the
    md5 twin keeps the hard cross-engine signal on the estimator
    formula itself.

    n_distinct here is the distinct count of 60-bit hashes — exact up
    to hash collisions (expected ≈ n²/2⁶¹; ~1e-7 at sf0.1 scale, and
    deterministic: verified hash-equal to DuckDB's exact count at
    every fixture SF).

    Scale posture: identical to the md5 twin (one melt scan, sketch
    rows only past the first exchange, per-shard sketches merge by
    union+re-bottom-K) minus the md5 tax — measured ~3× cheaper at
    sf0.1, which is why THIS lane is the benched one."""
    li = _cstat_input(spark, sf_dir)
    stats = _cstat_onepass(_cstat_melt_prod(li), CSTAT_KMV_K)
    est = (
        "CASE WHEN n_exact < {k} THEN CAST(n_exact AS DOUBLE) "
        "ELSE ({k} - 1.0) * 1152921504606846976.0 / element_at(ks, {k}) END"
    ).format(k=CSTAT_KMV_K)
    return (
        stats
        .selectExpr(
            "col AS column_name",
            "n_rows",
            "n_nulls",
            "CAST(n_exact AS BIGINT) AS n_distinct",
            f"abs(({est}) - n_exact) <= {CSTAT_NDV_REL_TOL} * n_exact"
            " AS ndv_within_tol",
            "min_v",
            "max_v",
        )
    )


SKEW_TOP_N = 5


@register(
    "join_skew_diagnosis",
    oracle=f"""
    WITH per_key AS (
      SELECT l_partkey AS join_key, count(*) AS cnt
      FROM lineitem GROUP BY 1
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS total_rows,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM per_key
    ),
    top AS (
      SELECT join_key, CAST(cnt AS BIGINT) AS cnt,
             row_number() OVER (ORDER BY cnt DESC, join_key) AS rnk
      FROM per_key
    )
    SELECT t.rnk, t.join_key, t.cnt,
           CAST((CAST(t.cnt AS HUGEINT) * 1000000) // g.total_rows AS BIGINT)
             AS share_ppm,
           g.n_keys, g.total_rows, g.max_cnt,
           CAST((CAST(g.max_cnt AS HUGEINT) * g.n_keys * 100) // g.total_rows
                AS BIGINT) AS skew_ratio_x100,
           CAST((CAST(g.max_cnt AS HUGEINT) * g.n_keys + g.total_rows - 1)
                // g.total_rows AS BIGINT) AS recommended_salt
    FROM top t, g WHERE t.rnk <= {SKEW_TOP_N}
    """,
)
def join_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKEW DIAGNOSIS — the detection side of the skew story whose
    treatment side the engine already ships (`agg_salted_skew` /
    `agg_salted_hotkey_planted` salting, AQE skew-join config): one
    aggregation over the fact's join key (l_partkey) produces the
    report a 100 TB job plans with BEFORE a shuffle goes sideways —
    the top-N heaviest keys with their exact ppm share, the key-space
    census (n_keys, total, max), the max/mean skew ratio, and the
    salt factor that equalizes the hottest key to the mean
    (ceil(max·n_keys/total) — exactly the replication the salted-agg
    twins apply).

    Exactness: everything is integer — per-key counts, integer-division
    ppm shares and ×100 ratios ((a·b) DIV c on both engines), ceil via
    the (a+b−1) DIV b identity, (cnt DESC, key) total-order top-N.

    Scale posture: ONE partial+final count aggregation over the fact
    (map-side combine collapses to the key domain), a 3-number global
    frame broadcast onto the bounded top-N rows; nothing else moves.
    The same two aggregations a cost-based engine runs for join-size
    estimation — compare `sketch_ams_f2_join_size`, which answers the
    F₂ half with bounded state. No reference analog (the reference's
    skew story is one hot reduce bucket stalling a worker,
    mr/worker.go:114-130 — this is the query that would have warned)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_partkey").alias("join_key")).agg(
        F.count("*").alias("cnt")
    )
    g = per_key.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    from minimapreduce_spark.operators.ordered import with_bounded_rank

    # global top-N = sort+limit (TakeOrderedAndProject — no
    # single-partition window over the key-domain-scale frame), then
    # rank the provably bounded N rows
    top = with_bounded_rank(
        per_key.orderBy(F.desc("cnt"), F.asc("join_key")).limit(SKEW_TOP_N),
        F.desc("cnt"),
        F.asc("join_key"),
        out="rnk",
    )
    return (
        top.crossJoin(F.broadcast(g))
        .selectExpr(
            # wide intermediates in DECIMAL(38,0)/HUGEINT: max_cnt ×
            # n_keys × 100 overflows BIGINT exactly in the extreme-skew
            # regime this query diagnoses; the
            # QUOTIENTS fit BIGINT by construction (ratio ≤ 100·n_keys,
            # salt ≤ n_keys)
            "CAST(rnk AS BIGINT) AS rnk",
            "join_key",
            "CAST(cnt AS BIGINT) AS cnt",
            "CAST((CAST(cnt AS DECIMAL(38,0)) * 1000000) DIV total_rows"
            " AS BIGINT) AS share_ppm",
            "n_keys",
            "total_rows",
            "max_cnt",
            "CAST((CAST(max_cnt AS DECIMAL(38,0)) * n_keys * 100)"
            " DIV total_rows AS BIGINT) AS skew_ratio_x100",
            "CAST((CAST(max_cnt AS DECIMAL(38,0)) * n_keys + total_rows - 1)"
            " DIV total_rows AS BIGINT) AS recommended_salt",
        )
    )
