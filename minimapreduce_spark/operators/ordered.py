"""Scalable global-order analytics: two-phase rank / running-sum / ntile.

The anti-pattern these helpers replace is ``W.orderBy(...)`` with no
``partitionBy`` — a window that funnels the WHOLE input through one
task. It works on 60k rows and dies at 100 TB. The reference never hits
this (its only global sort is the sequential oracle,
main/mrsequential.go:59); a Spark engine must solve it properly.

The replacement is the classic two-phase decomposition (the same shape
as ``surrogate_keys_documents``):

1. ``repartitionByRange`` on the order keys — Spark's range partitioner
   gives partition i everything that sorts before partition i+1 — then
   sort within each partition. Parallel, spill-safe.
2. Compute the running quantity (row_number / running sum) WITHIN each
   partition: a window partitioned by ``spark_partition_id()`` —
   bounded state, parallel.
3. Aggregate one row per partition (count / sum) — #partitions rows —
   take a running total over THAT (the only remaining "global" window,
   over ≤ n_ranges rows), and broadcast the per-partition offsets back.

The order keys MUST form a total order (include a unique tie-break
column); otherwise ties split across range boundaries could be numbered
differently from a single-sort engine.

``ntile_expr`` reconstructs SQL NTILE(k) arithmetically from the global
row number and the total count, matching the standard semantics: the
first ``n % k`` buckets get ``ceil(n/k)`` rows, the rest ``floor(n/k)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# Range-partition fan-out for phase 1: None → the session's
# spark.sql.shuffle.partitions, so the ranked stage parallelizes like
# every other shuffle instead of capping at a constant (at 100 TB an
# 8-way ceiling here would be the new bottleneck). The offset table
# stays tiny either way: one row per RANGE, not per data row.
DEFAULT_RANGES = None

_PID = "__tp_pid"
_LOCAL = "__tp_local"
_OFF = "__tp_off"


def bounded_ordered(df: DataFrame, *order_cols: Column | str):
    """(coalesce(1) df, WindowSpec) for a PROVABLY BOUNDED input (a
    post-``limit`` top-k frame, a per-range offset table, a K-row seed
    list). The window partitions by ``spark_partition_id()``, which
    after ``coalesce(1)`` is the constant 0 — same single-task
    evaluation an unpartitioned window would do (fine for ≤ a few dozen
    rows), but the partition spec is non-empty AND non-foldable
    (a literal key gets constant-folded out of the spec), so WindowExec
    never logs "No Partition Defined" and a real data-scale
    unpartitioned window can't hide among benign ones. Never use this
    on data-scale inputs: that is what the two-phase helpers are for."""
    return df.coalesce(1), W.partitionBy(F.spark_partition_id()).orderBy(*order_cols)


def with_bounded_rank(
    df: DataFrame, *order_cols: Column | str, out: str = "rnk"
) -> DataFrame:
    """df + 1-based rank column over a provably bounded input — see
    ``bounded_ordered`` for why this shape (and not a bare
    ``W.orderBy``) is used."""
    one, w = bounded_ordered(df, *order_cols)
    return one.withColumn(out, F.row_number().over(w))


def _staged(df: DataFrame, order_cols: list[Column], n_ranges: int | None) -> DataFrame:
    if n_ranges is None:
        n_ranges = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    parted = df.repartitionByRange(n_ranges, *order_cols).sortWithinPartitions(
        *order_cols
    )
    return parted.withColumn(_PID, F.spark_partition_id())


def _offsets(staged: DataFrame, local_total: Column) -> DataFrame:
    """One row per range partition: sum of ``local_total`` in all EARLIER
    partitions. The window here runs over ≤ n_ranges rows — bounded by
    the partition count, not the data — which is what makes the whole
    construction scale-safe."""
    counts = staged.groupBy(_PID).agg(local_total.alias("_n"))
    one, w = bounded_ordered(counts, _PID)
    wf = w.rowsBetween(W.unboundedPreceding, -1)
    return one.select(
        _PID, F.coalesce(F.sum("_n").over(wf), F.lit(0)).alias(_OFF)
    )


def with_global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out: str = "rn",
    n_ranges: int | None = DEFAULT_RANGES,
) -> DataFrame:
    """df + a column ``out`` = 1-based global row number in the total
    order of ``order_cols``, computed without any single-partition pass
    over the data."""
    staged = _staged(df, order_cols, n_ranges)
    local = F.row_number().over(W.partitionBy(_PID).orderBy(*order_cols))
    # localCheckpoint: the offsets branch and the join-probe branch MUST
    # see the SAME range boundaries — RangePartitioner samples with a
    # per-plan seed, so recomputing the exchange in each branch can
    # assign rows to different pids and corrupt every offset.
    staged = staged.withColumn(_LOCAL, local).localCheckpoint(eager=False)
    offs = _offsets(staged, F.count(F.lit(1)))
    return (
        staged.join(F.broadcast(offs), _PID)
        .withColumn(out, (F.col(_OFF) + F.col(_LOCAL)).cast("bigint"))
        .drop(_PID, _LOCAL, _OFF)
    )


def with_global_running_sum(
    df: DataFrame,
    order_cols: list[Column],
    value: Column,
    out: str = "cum",
    n_ranges: int | None = DEFAULT_RANGES,
) -> DataFrame:
    """df + a column ``out`` = running sum of ``value`` over the total
    order of ``order_cols`` (frame: unbounded preceding .. current row),
    two-phase — no single-partition window over the data."""
    staged = _staged(df, order_cols, n_ranges).withColumn("__tp_v", value)
    wloc = (
        W.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # Same single-materialization discipline as with_global_row_number.
    staged = staged.withColumn(_LOCAL, F.sum("__tp_v").over(wloc)).localCheckpoint(
        eager=False
    )
    offs = _offsets(staged, F.sum("__tp_v"))
    return (
        staged.join(F.broadcast(offs), _PID)
        .withColumn(out, F.col(_OFF) + F.col(_LOCAL))
        .drop(_PID, _LOCAL, _OFF, "__tp_v")
    )


def with_scalars(df: DataFrame, agg_df: DataFrame) -> DataFrame:
    """Attach the 1-row aggregate ``agg_df`` (totals, counts, maxima) to
    every row via crossJoin(broadcast(...)) — the scale-safe replacement
    for ``expr OVER (PARTITION BY)`` empty-partition windows, which
    squeeze the whole input through one task to compute a constant."""
    return df.crossJoin(F.broadcast(agg_df))


def exact_floor_div(num: Column, den: Column) -> Column:
    """Exact integer ``num // den`` (den > 0) with COLUMN operands, via
    a TWO-STAGE propose-and-correct floor (the plan-time-scalar variant
    in ``scale.normalized_dim_lit`` gets away with one stage because it
    proves its quotient small): stage 1's double division can miss by
    up to ~2^11 when |num| nears 2^62 (double(num) itself rounds by up
    to 2^9, and a large quotient adds |q|·2^-52), so the EXACT long
    residual r1 = num − q1·den re-proposes a second quotient — now
    |r1/den| ≲ 2^12, where the double proposal is within 1 — and one
    final remainder check corrects ±1. Valid for |num| < 2^62 and
    0 < den < 2^50 (keeps |r1| inside long); matches DuckDB's integer
    ``//`` bit-for-bit where a bare ``(num / den).cast('bigint')``
    truncates a rounded double quotient the wrong way past 2^53
    (which is how psi_value_drift's bins went wrong). The single-stage version
    shipped first and was wrong from quotients ≈ 2^53 up — caught by
    the hypothesis property test sweeping the full contracted range."""
    q1 = F.floor(num.cast("double") / den.cast("double")).cast("bigint")
    r1 = num - q1 * den
    q2 = F.floor(r1.cast("double") / den.cast("double")).cast("bigint")
    r2 = r1 - q2 * den
    return (
        q1
        + q2
        + F.when(r2 < 0, F.lit(-1)).when(r2 >= den, F.lit(1)).otherwise(F.lit(0))
    )


def ntile_expr(rn: Column, n: Column, k: int) -> Column:
    """SQL NTILE(k) from a 1-based global row number ``rn`` and total
    row count ``n``: first n%k buckets hold ceil(n/k) rows, the rest
    floor(n/k). Pure integer arithmetic — evaluates identically on any
    engine, no window required."""
    # cast-after-divide floors for nonnegative inputs; exact while
    # counts stay under 2^53 (double's integer range) — 9e15 rows.
    q = (n / k).cast("bigint")
    r = n - q * k
    big = (q + 1) * r  # rows covered by the ceil-sized buckets
    # greatest(q, 1): when n < k, q = 0 and every row satisfies
    # rn <= big, so the otherwise-branch is dead — but its divisor must
    # still be total so correctness never depends on lazy branch
    # evaluation (ANSI mode / future refactors).
    return (
        F.when(rn <= big, ((rn - 1) / (q + 1)).cast("bigint") + 1)
        .otherwise(r + ((rn - big - 1) / F.greatest(q, F.lit(1))).cast("bigint") + 1)
        .cast("int")
    )


def with_global_prefix_max(
    df: DataFrame,
    order_cols: list[Column],
    value: Column,
    out: str = "pmax",
    n_ranges: int | None = DEFAULT_RANGES,
) -> DataFrame:
    """df + a column ``out`` = max of ``value`` over all STRICTLY
    EARLIER rows in the total order of ``order_cols`` (frame: unbounded
    preceding .. 1 preceding; NULL for the global first row), two-phase
    — no single-partition window over the data. The max member of the
    running-quantity family: phase 1 takes the local prefix max within
    each range partition, the offset table carries one per-partition
    max prefix-maxed over ≤ n_ranges rows, and the global value is
    greatest(local, offset) (both engines' greatest skips NULLs, so
    partition 0 / first-row NULLs compose correctly)."""
    staged = _staged(df, order_cols, n_ranges).withColumn("__tp_v", value)
    wloc = (
        W.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    staged = staged.withColumn(_LOCAL, F.max("__tp_v").over(wloc)).localCheckpoint(
        eager=False
    )
    counts = staged.groupBy(_PID).agg(F.max("__tp_v").alias("_n"))
    one, w = bounded_ordered(counts, _PID)
    wf = w.rowsBetween(W.unboundedPreceding, -1)
    offs = one.select(_PID, F.max("_n").over(wf).alias(_OFF))
    return (
        staged.join(F.broadcast(offs), _PID)
        .withColumn(out, F.greatest(F.col(_LOCAL), F.col(_OFF)))
        .drop(_PID, _LOCAL, _OFF, "__tp_v")
    )
