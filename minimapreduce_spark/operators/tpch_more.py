"""Deeper TPC-H-shaped relational coverage (SURVEY §2c).

The reference expresses any of these only through its Map/Reduce UDF
surface (SURVEY §2 intro); here each is a declarative Catalyst plan.
Shapes covered beyond operators/relational.py: conditional semi-join
(Q4), pure scan-agg with tight pushdown (Q6), join + top-k on an agg
(Q10), join with conditional counts (Q12), broadcast join with a ratio
agg (Q14), HAVING-driven semi-join on a fact self-agg (Q18), and
disjunctive multi-predicate broadcast join (Q19), plus rank-family and
RANGE-frame windows, pivot/unpivot, and higher-order array functions.

Scale posture: fact tables only ever shuffle on their join/agg keys;
every dimension side is broadcast; rank windows partition on
high-cardinality keys; RANGE frames avoid self-joins for trailing
aggregates (one shuffle + one in-partition sort instead of an O(n²)
range join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from minimapreduce_spark.catalog import load_table
from minimapreduce_spark.operators.money import exact_revenue_sum, exact_sum, grid_c
from minimapreduce_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated inequality — a left-semi
    join whose condition spans both sides (l_shipdate > o_orderdate), so
    it cannot be pre-filtered; Spark plans a shuffled semi join on
    orderkey with the inequality as a join residual."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000, 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
    """,
    bench=True,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pushdown showcase — scan + 4 pushed predicates
    + global agg, no shuffle beyond the single-row final agg. At 100 TB
    this is bounded by parquet row-group skipping, which the pushed
    min/max filters enable."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        # exact grid sum (money.py): a single-group sum over the fact
        # table is the maximal q1-class float-boundary exposure
        F.round(
            exact_sum(grid_c("l_extendedprice") * grid_c("l_discount"), 10_000), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns, top 20 customers.
    lineitem is pre-filtered to returnflag='R' (pushed to the scan);
    customer and nation broadcast; the only fact shuffle is the
    orderkey join + the custkey agg."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q12_priority_by_linestatus",
    oracle="""
    SELECT l_linestatus,
           count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))     AS high_line_count,
           count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode → linestatus, our schema has no
    shipmode): fact-fact join then conditional counts — the filter lives
    in the aggregate, not a second scan."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(is_high, True)).alias("high_line_count"),
            F.count(F.when(~is_high, True)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue_share",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
                   / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-06-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share. part broadcasts (it's a dim)
    so the filtered fact side never shuffles; the ratio is one global
    agg with a conditional numerator."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-06-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_share_pct")
        )
    )


@register(
    "q18_large_volume_orders",
    bench=True,
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           round(o_totalprice, 2)  AS total_price,
           round(sum_qty, 2)       AS sum_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    ) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a fact self-aggregate, then join the
    tiny qualifying set back to orders/customer. The aggregate runs
    first so the join input is already reduced — at 100 TB the HAVING
    output is the broadcast side, not lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .where(F.col("raw_qty") > 250)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"),
            F.round("raw_qty", 2).alias("sum_qty"),
        )
    )


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * CAST(100 - round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000, 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity <= 15)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 25)
       OR (p_brand = 'Brand#3' AND l_quantity >= 20)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs spanning both join sides. The join key
    stays a clean equi-join (partkey) with the disjunction as a residual
    filter — NOT a cross join with a giant predicate. part broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") <= 15)
    ) | (
        (F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 25)
    ) | (
        (F.col("p_brand") == "Brand#3") & (F.col("l_quantity") >= 20)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(
            F.round(exact_revenue_sum(), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "window_rank_family",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           rank()         OVER w                    AS rnk,
           dense_rank()   OVER w                    AS drnk,
           ntile(4)       OVER w                    AS quartile,
           round(percent_rank() OVER w, 6)          AS pct_rank,
           round(cume_dist()    OVER w, 6)          AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking family in one window: rank / dense_rank /
    ntile(4) / percent_rank / cume_dist. Unique (totalprice, orderkey)
    ordering makes every function deterministic."""
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "window_trailing_30d_spend",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100, 2) AS trailing_30d_spend,
           count(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ) AS trailing_30d_orders
    FROM orders
    """,
)
def window_trailing_30d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-day spend per customer via a RANGE frame over day
    numbers — the scalable form of a self range-join: one shuffle on
    custkey + one in-partition sort instead of an O(n²) interval join.
    (Order dates are midnight-aligned, so day granularity is exact.)"""
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-30, 0)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(
            F.sum(grid_c("o_totalprice")).over(w).cast("double") / 100, 2
        ).alias("trailing_30d_spend"),
        F.count("*").over(w).alias("trailing_30d_orders"),
    )


@register(
    "pivot_status_revenue",
    oracle="""
    SELECT o_orderpriority,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) / 100, 2) AS status_f,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) / 100, 2) AS status_o,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) / 100, 2) AS status_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with explicit values — pinning the pivot values
    skips the extra distinct-collection job Spark otherwise runs, which
    at 100 TB is a full scan you don't want."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(exact_sum(grid_c("o_totalprice"), 100), 2))
        .withColumnsRenamed({"F": "status_f", "O": "status_o", "P": "status_p"})
    )


@register(
    "unpivot_returnflag_metrics",
    oracle="""
    WITH agg AS (
      SELECT l_returnflag,
             round(CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE), 2) AS sum_qty,
             round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS sum_price,
             round(CAST(sum(CAST(round(l_tax * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS sum_tax
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty'  AS metric, sum_qty   AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_tax'  AS metric, sum_tax   AS value FROM agg
    """,
)
def unpivot_returnflag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot (melt): wide per-flag aggregates → long (flag, metric,
    value) rows. Runs after the aggregate, so the melt touches only the
    tiny agg output."""
    agg = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(exact_sum(grid_c("l_quantity", 1), 1), 2).alias("sum_qty"),
            F.round(exact_sum(grid_c("l_extendedprice"), 100), 2).alias("sum_price"),
            F.round(exact_sum(grid_c("l_tax"), 100), 2).alias("sum_tax"),
        )
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)        AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4)  AS covar_qty_price,
           round(var_samp(l_discount), 8)                     AS var_discount,
           round(var_pop(l_tax), 8)                           AS varp_tax
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates (corr / covar_samp / var) — all
    decomposable into partial moments, so Spark plans partial+final agg
    like any sum: one shuffle of O(groups) moment tuples."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
            F.round(F.var_samp("l_discount"), 8).alias("var_discount"),
            F.round(F.var_pop("l_tax"), 8).alias("varp_tax"),
        )
    )


@register(
    "array_hof_embedding_stats",
    oracle="""
    SELECT vec_id, label,
           len(embedding) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4)   AS l2_norm,
           round(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE))) / len(embedding), 6)       AS mean_val,
           round(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))), 6)                   AS max_abs
    FROM embeddings
    """,
)
def array_hof_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions entirely JVM-side: transform +
    aggregate + array_max over the embedding column — no Python UDF, no
    explode/re-group shuffle. This is the per-vector feature path the
    ANN operators build on."""
    emb = _t(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    sq_sum = F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x * x)
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
        F.round(
            F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x) / F.size("embedding"), 6
        ).alias("mean_val"),
        F.round(F.array_max(F.transform(as_double, F.abs)), 6).alias("max_abs"),
    )
