"""Streaming drift monitor: live PSI against a static reference
distribution — the serving-side twin of the batch ``psi_value_drift``.

Production shape: the REFERENCE histogram (the training window's value
distribution) is computed once, batch-side, and broadcast; the event
stream accumulates live bin counts across micro-batches (a streaming
aggregation whose state is B bins per — here — global key, bounded by
construction); each trigger can emit the current PSI. Here the stream
is drained with availableNow through REAL multiple micro-batches, so
the final PSI equals the batch computation over the same data — which
is exactly what the DuckDB oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minimapreduce_spark.catalog import load_table
from minimapreduce_spark.operators.ordered import exact_floor_div
from minimapreduce_spark.registry import register
from minimapreduce_spark.streaming.source import events_stream_sharded, run_to_memory

PSI_STREAM_BINS = 10


@register(
    "stream_psi_drift",
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
    ref AS (
      SELECT (e.vc - s.vmin) * {PSI_STREAM_BINS} // (s.vmax - s.vmin + 1) AS bin,
             count(*) AS n_ref
      FROM e, s WHERE e.tus * 2 <= s.tmin + s.tmax
      GROUP BY 1
    ),
    live AS (
      SELECT (e.vc - s.vmin) * {PSI_STREAM_BINS} // (s.vmax - s.vmin + 1) AS bin,
             count(*) AS n_live
      FROM e, s
      GROUP BY 1
    ),
    bins AS (SELECT unnest(generate_series(0, {PSI_STREAM_BINS - 1})) AS bin),
    counts AS (
      SELECT bins.bin,
             CAST(coalesce(ref.n_ref, 0) AS BIGINT)   AS n_ref,
             CAST(coalesce(live.n_live, 0) AS BIGINT) AS n_live
      FROM bins LEFT JOIN ref USING (bin) LEFT JOIN live USING (bin)
    ),
    tot AS (SELECT sum(n_ref) AS tr, sum(n_live) AS tl FROM counts)
    SELECT CAST(counts.bin AS BIGINT) AS bin, n_ref, n_live,
           round(((n_live + 1.0) / (tot.tl + {PSI_STREAM_BINS})
                  - (n_ref + 1.0) / (tot.tr + {PSI_STREAM_BINS}))
                 * ln(((n_live + 1.0) / (tot.tl + {PSI_STREAM_BINS}))
                      / ((n_ref + 1.0) / (tot.tr + {PSI_STREAM_BINS}))), 6)
             AS psi_term
    FROM counts, tot
    """,
)
def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of the LIVE stream's value distribution against a STATIC
    reference (the first half of history by time — the "training
    window"), with the live histogram accumulated by a streaming
    aggregation across real micro-batches. The deployment pattern for
    input-drift alerts on a model-serving event stream.

    Mechanics: bin edges and the reference histogram are computed
    batch-side from the source table (one 1-row bounds agg + one
    10-group agg — at 100 TB this is the training job's
    artifact, loaded, not recomputed); the stream groups by the SAME
    integer bin expression (a broadcast-joined bounds row keeps the
    arithmetic identical) and counts — per-bin streaming state is one
    long. After the availableNow drain the accumulated live counts
    join the reference and emit per-bin Laplace-smoothed PSI terms —
    bit-matching the batch oracle because binning is exact integer
    arithmetic and the single ln() is absorbed by the 6-dp round.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.round(F.col("value") * 10000).cast("bigint").alias("vc"),
    )
    s = ev.agg(
        F.min("tus").alias("_tmin"), F.max("tus").alias("_tmax"),
        F.min("vc").alias("_vmin"), F.max("vc").alias("_vmax"),
    ).localCheckpoint(eager=True)
    # exact integer floor matching the oracle's `//`: propose-and-
    # correct, never a truncated double quotient, which rounds the
    # wrong way once the numerator nears 2^53.
    bin_of = lambda vc: exact_floor_div(
        (vc - F.col("_vmin")) * PSI_STREAM_BINS,
        F.col("_vmax") - F.col("_vmin") + 1,
    )

    ref = (
        ev.crossJoin(F.broadcast(s))
        .where(F.col("tus") * 2 <= F.col("_tmin") + F.col("_tmax"))
        .groupBy(bin_of(F.col("vc")).alias("bin"))
        .agg(F.count("*").alias("n_ref"))
    )

    sdf = events_stream_sharded(spark, sf_dir, n_shards=4)
    live_stream = (
        sdf.select(F.round(F.col("value") * 10000).cast("bigint").alias("vc"))
        .crossJoin(F.broadcast(s))
        .groupBy(bin_of(F.col("vc")).alias("bin"))
        .agg(F.count("*").alias("n_live"))
    )
    live = run_to_memory(live_stream, "complete")

    bins = spark.range(PSI_STREAM_BINS).select(F.col("id").alias("bin"))
    counts = (
        bins.join(ref, "bin", "left")
        .join(live, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce("n_live", F.lit(0)).cast("bigint").alias("n_live"),
        )
    )
    tot = counts.agg(F.sum("n_ref").alias("_tr"), F.sum("n_live").alias("_tl"))
    p = (F.col("n_live") + 1.0) / (F.col("_tl") + PSI_STREAM_BINS)
    q = (F.col("n_ref") + 1.0) / (F.col("_tr") + PSI_STREAM_BINS)
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("bigint").alias("bin"),
        "n_ref",
        "n_live",
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )
