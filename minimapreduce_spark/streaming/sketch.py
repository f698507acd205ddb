"""Streaming mergeable sketches: bounded-state summaries accumulated
across real micro-batches whose DRAINED state equals the batch sketch
bit-for-bit — the property that makes a sketch deployable on a stream
at all (state is D×W counters regardless of key cardinality, and the
drain can be checked against the batch twin exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minimapreduce_spark.catalog import load_table
from minimapreduce_spark.operators.scale import (
    CMS_D,
    CMS_TOP,
    KMV_K,
    cms_bucket,
    cms_pairs,
)
from minimapreduce_spark.registry import REGISTRY, register
from minimapreduce_spark.streaming.source import events_stream_sharded, run_to_memory

# identical output contract → identical oracle: the streaming sum over
# micro-batches IS the batch sum (exactly-once availableNow drain), so
# the batch CMS oracle checks the streaming twin unchanged.
_CMS_ORACLE = REGISTRY["sketch_cms_heavy_hitters"].oracle


@register("stream_cms_heavy_hitters", oracle=_CMS_ORACLE)
def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Count-Min sketch: the D×W counter table is accumulated
    by a streaming aggregation across real micro-batches (the sharded
    replay source: 4 single-file triggers), then drained and probed
    exactly like the batch ``sketch_cms_heavy_hitters`` — same
    row-salted portable hash, same integer counters, same top-20
    output, same DuckDB oracle. The point is the deployment shape: a
    frequency monitor on a live event stream carries 4×64 longs
    of streaming state REGARDLESS of how many distinct users flow by
    (contrast stream_user_stats_stateful, whose state is per-key), and
    because counter accumulation is cell-wise addition — the
    mergeability theorem — the drained stream state is BIT-IDENTICAL
    to the batch sketch over the same events, which the pytest asserts
    cell by cell and the shared oracle hash-checks end to end.

    Scale posture: streaming state bounded at D×W longs by
    construction; each micro-batch contributes a map-side-combined
    partial; the estimate probe broadcasts the drained sketch. The
    exact-count side exists (as in the batch twin) to measure the
    one-sided guarantee in-engine; a production monitor keeps only the
    sketch and probes candidates.
    """
    from minimapreduce_spark.operators.ordered import with_bounded_rank

    sdf = events_stream_sharded(spark, sf_dir, n_shards=4)
    counters_stream = (
        sdf.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("d"),
        )
        .withColumn("bucket", cms_bucket(F.col("d"), F.col("user_id")))
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("counter"))
    )
    counters = run_to_memory(counters_stream, "complete")

    ev = load_table(spark, sf_dir, "events")
    ec = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    est = (
        cms_pairs(ec)
        .join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("user_id", "cnt")
        .agg(F.min("counter").alias("cms_est"))
    )
    top = est.orderBy(F.desc("cnt"), F.asc("user_id")).limit(CMS_TOP)
    return with_bounded_rank(top, F.desc("cnt"), F.asc("user_id"), out="rnk").select(
        "user_id",
        F.col("cnt").cast("bigint").alias("exact_cnt"),
        F.col("cms_est").cast("bigint").alias("cms_est"),
        (F.col("cms_est") - F.col("cnt")).cast("bigint").alias("overest"),
        "rnk",
    )


# ---------------------------------------------------------------------------
# Streaming KMV — bounded per-group distinct sketch in the state store
# ---------------------------------------------------------------------------

_KMV_OUT_SCHEMA = "event_type string, n_retained bigint, h_k bigint, n_rows bigint"
_KMV_STATE_SCHEMA = "ks array<bigint>, n_rows bigint"


def _kmv_update_factory(k: int):
    """applyInPandasWithState kernel: per-group state is the bottom-k
    DISTINCT portable hashes (union + re-bottom — the KMV mergeability
    operation itself, applied per micro-batch) plus a strictly
    increasing processed-row counter used to select the FINAL emission
    batch-side. All-integer state; no floats anywhere."""

    def update(key, pdfs, state):
        import pandas as pd

        ks, n_rows = (list(state.get[0]), int(state.get[1])) if state.exists else ([], 0)
        seen = set(ks)
        for pdf in pdfs:
            n_rows += len(pdf)
            seen.update(int(h) for h in pdf["h"])
        ks = sorted(seen)[:k]
        state.update((ks, n_rows))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_retained": [len(ks)],
                "h_k": [ks[k - 1] if len(ks) >= k else None],
                "n_rows": [n_rows],
            }
        )

    return update


@register(
    "stream_kmv_distinct_users",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events
    ),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM d
    )
    SELECT event_type,
           CAST(least(count(*), {KMV_K}) AS BIGINT) AS n_retained,
           round(CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS DOUBLE)
                      ELSE ({KMV_K} - 1.0) * 1152921504606846976.0
                           / max(CASE WHEN rn = {KMV_K} THEN h END)
                 END, 4) AS kmv_est
    FROM r GROUP BY event_type
    """,
)
def stream_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING K-minimum-values distinct sketch: per event_type, the
    bottom-32 distinct portable hashes live in the state store and
    are folded across real micro-batches by union + re-bottom — the KMV
    mergeability operation itself, so the drained state is BIT-IDENTICAL
    to the batch `sketch_kmv_distinct_users` sketch over the same
    events (pytest asserts the hash lists element-wise). State is ≤K
    longs per group REGARDLESS of how many distinct users flow by — the
    distinct-count companion to `stream_cms_heavy_hitters`' frequency
    monitor, and the custom-state counterpart of its built-in streaming
    aggregation (CMS state fits a groupBy-sum; bottom-K needs
    `applyInPandasWithState`).

    The kernel emits only integers (retained count, the K-th smallest
    hash, a strictly-increasing row counter); the estimator division —
    (K−1)·2⁶⁰ / h₍K₎, exact-double, the batch twin's arithmetic — runs
    JVM-side AFTER the drain, on each group's final emission (selected
    by max row-counter over the ≤4 per-group update rows). The oracle
    is the batch KMV SQL minus its n_exact column — the one number a
    bounded sketch, by design, cannot know.

    Scale posture: state ≤ K longs per group; each micro-batch ships
    one Arrow frame per group per batch; the estimator join is over
    |groups| rows. Production sinks would emit the running estimate per
    trigger — the ``run_to_memory`` drain here exists to compare against
    the batch oracle exactly.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window as W

    from minimapreduce_spark.operators.scale import kmv_hash60

    sdf = events_stream_sharded(spark, sf_dir, n_shards=4)
    hashed = sdf.select("event_type", kmv_hash60(F.col("user_id")).alias("h"))
    updates = hashed.groupBy("event_type").applyInPandasWithState(
        _kmv_update_factory(KMV_K),
        outputStructType=_KMV_OUT_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = run_to_memory(updates, "update")
    w = W.partitionBy("event_type").orderBy(F.desc("n_rows"))
    final = (
        drained.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "n_rows")
    )
    est = F.when(
        F.col("n_retained") < KMV_K, F.col("n_retained").cast("double")
    ).otherwise(
        (F.lit(float(KMV_K) - 1.0) * F.lit(1152921504606846976.0)) / F.col("h_k")
    )
    return final.select(
        "event_type",
        F.col("n_retained").cast("bigint").alias("n_retained"),
        F.round(est, 4).alias("kmv_est"),
    )


# ---------------------------------------------------------------------------
# Streaming HLL — 64 registers per group in the state store
# ---------------------------------------------------------------------------

def _stream_hll_oracle() -> str:
    from minimapreduce_spark.operators.scale import (
        _HLL_EST,
        _HLL_HASH60,
        HLL_M,
        HLL_P,
    )

    return f"""
    WITH d AS (
      SELECT DISTINCT event_type, {_HLL_HASH60} AS h FROM events
    ),
    p AS (
      SELECT event_type, h % {HLL_M} AS j,
             max(CASE WHEN (h >> {HLL_P}) = 0 THEN 55
                      ELSE 55 - length(bin(h >> {HLL_P})) END) AS mj
      FROM d GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type,
             CAST({HLL_M} - count(*) AS BIGINT) AS v_zero,
             CAST(sum(mj) AS BIGINT) AS sum_rho,
             CAST(sum(CAST(pow(2.0, 55 - mj) AS BIGINT))
                  + ({HLL_M} - count(*)) * 36028797018963968 AS BIGINT)
               AS z_reg
      FROM p GROUP BY 1
    )
    SELECT event_type, v_zero, sum_rho, z_reg,
           round({_HLL_EST}, 4) AS hll_est
    FROM g
    """


@register("stream_hll_distinct_users", oracle=_stream_hll_oracle())
def stream_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING HyperLogLog: the 64 registers per event_type live in
    STREAMING-AGGREGATION state — register update is max(rho) per
    (group, register), and max is algebraic, so the built-in streaming
    agg IS the HLL merge. (A first cut used an applyInPandasWithState
    kernel; profiling the 160× octave showed its wall was Arrow-
    shipping every row to Python, and the kernel was pure max — so the
    custom-state lane is reserved for state built-ins can't express,
    KMV's bottom-K, and HLL rides the CMS lane: 42 s → built-in.) The
    drained register frame is BIT-IDENTICAL to the batch
    ``sketch_hll_distinct_users`` registers over the same events
    (pytest asserts register by register), and the rollup + shared
    estimator text read the same numbers off either engine.

    Everything is integer until the post-drain shared-text division
    (and the margin-pinned small-range ln). The oracle is the batch
    HLL SQL minus its n_exact column — the number a bounded sketch
    cannot know (same honesty as the KMV twin).

    Scale posture: streaming state = ≤64 tiny rows per group at ANY
    cardinality, map-side-combined per micro-batch — jointly with the
    streaming CMS the cheapest stateful operator in the module; the
    rollup and estimator run over |groups|×64 drained rows. Production
    emits the running estimate per trigger; the ``run_to_memory`` drain
    exists to compare against the batch oracle exactly."""
    from minimapreduce_spark.operators.scale import _HLL_EST, HLL_M, hll_rho

    sdf = events_stream_sharded(spark, sf_dir, n_shards=4)
    hashed = sdf.select(
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
    regs_stream = (
        hashed.select(
            "event_type",
            (F.col("h") % HLL_M).alias("j"),
            hll_rho(F.col("h")).alias("rho"),
        )
        .groupBy("event_type", "j")
        .agg(F.max("rho").alias("mj"))
    )
    regs = run_to_memory(regs_stream, "complete")
    roll = regs.groupBy("event_type").agg(
        F.count("*").alias("nj"),
        F.sum(F.expr("CAST(pow(2.0, 55 - mj) AS BIGINT)")).alias("zp"),
        F.sum("mj").cast("bigint").alias("sum_rho"),
    )
    return roll.select(
        "event_type",
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
        "v_zero",
        "sum_rho",
        "z_reg",
        f"round({_HLL_EST}, 4) AS hll_est",
    )


# ---------------------------------------------------------------------------
# Streaming AMS F2 — D sign counters per group via built-in streaming agg
# ---------------------------------------------------------------------------

_SAMS_HASH60 = (
    "CAST(('0x' || substr(md5('ams:' || CAST(user_id AS VARCHAR)), 1, 15))"
    " AS BIGINT)"
)


def _stream_ams_oracle() -> str:
    from minimapreduce_spark.operators.scale import AMS_D

    sq = " + ".join(f"x{d} * x{d}" for d in range(AMS_D))
    xs = ", ".join(
        f"CAST(sum(1 - 2 * ((h >> {d}) & 1)) AS BIGINT) AS x{d}"
        for d in range(AMS_D)
    )
    return f"""
    WITH h AS (
      SELECT event_type, user_id, {_SAMS_HASH60} AS h FROM events
    ),
    sk AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows, {xs}
      FROM h GROUP BY 1
    ),
    ex AS (
      SELECT event_type, CAST(sum(c * c) AS BIGINT) AS f2_exact
      FROM (SELECT event_type, user_id, count(*) AS c
            FROM events GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT sk.event_type, sk.n_rows, ex.f2_exact,
           CAST({sq} AS BIGINT) AS ams_sum,
           round(CAST({sq} AS DOUBLE) / {AMS_D}, 2) AS f2_est
    FROM sk JOIN ex USING (event_type)
    """


@register("stream_ams_f2_user_pairs", oracle=_stream_ams_oracle())
def stream_ams_f2_user_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING AMS F₂: the D = 8 sign counters accumulate by a plain
    streaming aggregation across real micro-batches — X_d is a SUM, so
    the built-in agg IS the merge (the CMS twin's deployment shape; no
    custom state needed), and the drained counters are bit-identical
    to the batch sketch over the same events. Estimates the self-join
    size of the user column per event type on a live stream — Σ c_u²,
    the number that prices any downstream per-user pairing
    (sessionization, same-user joins) BEFORE running it. With this the
    whole mergeable family carries a streaming twin: CMS, AMS, and the
    HLL register max fold by built-in streaming aggregation, KMV by
    custom bounded state (bottom-K is not a built-in aggregate).

    Kernel all-integer (ONE md5 per row, signs from 8 hash bits —
    `ams_sign`); the estimate division and the exact-F₂ twin (the
    per-key number a bounded sketch cannot know) run batch-side after
    the drain, mirroring the KMV/HLL twins' honesty about what the
    sketch alone provides. State: 1 + D longs per group at ANY user
    cardinality — the joint-cheapest stateful shape in the module
    alongside the batch CMS row.

    Scale posture: each micro-batch contributes map-side-combined
    partials; complete-mode output is |groups| rows per trigger.
    Production emits the running estimate per trigger; the drain
    exists for the exact batch-oracle compare."""
    from minimapreduce_spark.operators.scale import AMS_D, ams_sign

    sdf = events_stream_sharded(spark, sf_dir, n_shards=4)
    hashed = sdf.select(
        "event_type",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ams:"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    counters = hashed.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        *[
            F.sum(ams_sign(d, F.col("h"))).cast("bigint").alias(f"x{d}")
            for d in range(AMS_D)
        ],
    )
    drained = run_to_memory(counters, "complete")

    ev = load_table(spark, sf_dir, "events")
    ex = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("c"))
        .groupBy("event_type")
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2_exact"))
    )
    sq = " + ".join(f"x{d} * x{d}" for d in range(AMS_D))
    return (
        drained.join(ex, "event_type")
        .selectExpr(
            "event_type",
            "n_rows",
            "f2_exact",
            f"CAST({sq} AS BIGINT) AS ams_sum",
            f"round(CAST({sq} AS DOUBLE) / {AMS_D}, 2) AS f2_est",
        )
    )


# ---------------------------------------------------------------------------
# Streaming quantile sketch — declared-grid histogram in streaming state
# ---------------------------------------------------------------------------

SQ_B = 128            # histogram buckets (state bound, as in the batch twin)
SQ_LO_U = 0           # DECLARED grid lower bound (1e-4 dollar units)
SQ_SPAN_U = 10_000_000  # DECLARED span: $0 .. $1000 in 1e-4 units
SQ_PCTS = (1, 5, 25, 50, 75, 90, 99)

# Spark parses DIV, DuckDB //; both floor on the nonnegative operands
# that survive the clamp (for negative out-of-range units the two
# differ — trunc vs floor — but greatest(..., 0) collapses both to
# bucket 0, so the clamped results are identical by construction).
_SQ_BUCKET_SPARK = (
    f"least(greatest((CAST(round(value * 10000) AS BIGINT) - {SQ_LO_U})"
    f" * {SQ_B} DIV {SQ_SPAN_U}, 0), {SQ_B - 1})"
)


def _stream_quantile_oracle() -> str:
    return f"""
    WITH u AS (
      SELECT CAST(round(value * 10000) AS BIGINT) AS units FROM events
    ),
    n AS (SELECT count(*) AS n FROM u),
    pcts(pct) AS (VALUES {", ".join(f"({p})" for p in SQ_PCTS)}),
    sk AS (
      SELECT least(greatest((units - {SQ_LO_U}) * {SQ_B} // {SQ_SPAN_U}, 0),
                   {SQ_B - 1}) AS bucket,
             count(*) AS cnt
      FROM u GROUP BY 1
    ),
    cdf AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM sk),
    targets AS (SELECT pct, (pct * n.n + 99) // 100 AS target, n.n FROM pcts, n),
    est AS (
      SELECT t.pct, t.n, t.target, min(cdf.bucket) AS bucket
      FROM targets t JOIN cdf ON cdf.cum >= t.target
      GROUP BY 1, 2, 3
    ),
    vals AS (SELECT units, count(*) AS vcnt FROM u GROUP BY 1),
    vcdf AS (SELECT units, sum(vcnt) OVER (ORDER BY units) AS cum FROM vals),
    exact AS (
      SELECT t.pct, min(v.units) AS exact_units
      FROM targets t JOIN vcdf v ON v.cum >= t.target GROUP BY 1
    )
    SELECT CAST(e.pct AS INT) AS pct,
           CAST(e.n AS BIGINT) AS n,
           CAST(e.target AS BIGINT) AS target_rank,
           CAST(x.exact_units AS BIGINT) AS exact_units,
           CAST(e.bucket AS INT) AS bucket,
           CAST({SQ_LO_U} + e.bucket * {SQ_SPAN_U} // {SQ_B} AS BIGINT)
             AS est_lo_units,
           CAST({SQ_LO_U} + (e.bucket + 1) * {SQ_SPAN_U} // {SQ_B} - 1
                AS BIGINT) AS est_hi_units
    FROM est e JOIN exact x USING (pct)
    """


@register("stream_quantile_event_values", oracle=_stream_quantile_oracle())
def stream_quantile_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quantile sketch — the LAST member of the mergeable
    family to get its streaming twin (CMS/AMS/HLL fold by built-in
    streaming aggregation, KMV by custom bounded state; a histogram is
    again a built-in streaming count per bucket): event values bucketed on a DECLARED
    integer grid ($0..$1000 in 1e-4 units, {SQ_B} buckets) accumulate
    in streaming state across real micro-batches, and the drained
    ≤{SQ_B}-row histogram answers p1..p99 with the batch twin's
    guaranteed one-bucket brackets.

    The DECLARED grid is the one honest difference from the batch
    `sketch_quantile_prices`, and it is the production difference: a
    stream cannot peek min/max before choosing bounds, so the grid is
    part of the monitor's contract and out-of-range values CLAMP into
    the edge buckets (both engines share the clamp text; the bracket
    guarantee holds for in-range data — the fixture is fully in-range,
    which the pytest asserts along with the bracket theorem per pct).
    Estimates, targets (ceil-rank), bucket edges: all integer; the
    exact-quantile twin runs batch-side (two-phase running sum over
    the distinct-value frame) as the measured-guarantee column the
    sketch alone cannot know.

    Scale posture: streaming state ≤ {SQ_B} longs per (implicit
    global) group — groupable by any key at the same bound; per-trigger
    output is the histogram row set; the quantile probe is a
    ≤{SQ_B}-row bounded computation after the drain."""
    from minimapreduce_spark.operators.ordered import (
        bounded_ordered,
        with_global_running_sum,
    )
    from pyspark.sql.window import Window as W

    sdf = events_stream_sharded(spark, sf_dir, n_shards=4)
    counters_stream = (
        sdf.selectExpr(f"{_SQ_BUCKET_SPARK} AS bucket")
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )
    sk = run_to_memory(counters_stream, "complete")

    ev = load_table(spark, sf_dir, "events")
    vals = (
        ev.selectExpr("CAST(round(value * 10000) AS BIGINT) AS units")
        .groupBy("units")
        .agg(F.count("*").alias("vcnt"))
        .localCheckpoint(eager=False)
    )
    # n from the DRAINED histogram, not a batch re-read of events —
    # the readout must be self-consistent with the streamed state it
    # indexes into even if the replay dropped/duplicated rows;
    # bounded: ≤ SQ_B rows aggregated.
    n_row = sk.agg(F.sum("cnt").alias("n")).head()
    n = 0 if n_row.n is None else int(n_row.n)
    if n == 0:
        return spark.createDataFrame(
            [],
            "pct int, n bigint, target_rank bigint, exact_units bigint, "
            "bucket int, est_lo_units bigint, est_hi_units bigint",
        )
    one, w = bounded_ordered(sk, "bucket")
    cdf = one.select(
        "bucket",
        F.sum("cnt")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
    )
    targets = spark.createDataFrame(
        [(p, (p * n + 99) // 100) for p in SQ_PCTS], "pct: int, target: bigint"
    )
    est = (
        cdf.join(F.broadcast(targets), F.col("cum") >= F.col("target"))
        .groupBy("pct", "target")
        .agg(F.min("bucket").alias("bucket"))
    )
    vcdf = with_global_running_sum(vals, [F.col("units")], F.col("vcnt"), out="cum")
    exact = (
        vcdf.join(F.broadcast(targets), F.col("cum") >= F.col("target"))
        .groupBy("pct")
        .agg(F.min("units").alias("exact_units"))
    )
    return est.join(exact, "pct").select(
        F.col("pct").cast("int").alias("pct"),
        F.lit(n).cast("bigint").alias("n"),
        F.col("target").cast("bigint").alias("target_rank"),
        F.col("exact_units").cast("bigint").alias("exact_units"),
        F.col("bucket").cast("int").alias("bucket"),
        F.expr(f"{SQ_LO_U}L + bucket * {SQ_SPAN_U}L DIV {SQ_B}")
        .cast("bigint")
        .alias("est_lo_units"),
        F.expr(f"{SQ_LO_U}L + (bucket + 1) * {SQ_SPAN_U}L DIV {SQ_B} - 1")
        .cast("bigint")
        .alias("est_hi_units"),
    )


# ---------------------------------------------------------------------------
# Streaming Bloom filter — bitset words per group via built-in bit_or agg
# ---------------------------------------------------------------------------


def _stream_bloom_oracle() -> str:
    from minimapreduce_spark.operators.scale import (
        BLOOM_GHOSTS,
        BLOOM_K,
        BLOOM_M,
        BLOOM_WORD_BITS,
    )

    hash60 = "CAST(('0x' || substr(md5('bloom:' || k), 1, 15)) AS BIGINT)"
    idx = f"(((h >> (15 * i.i)) & 32767) % {BLOOM_M})"
    return f"""
    WITH keys AS (
      SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS k FROM events
    ),
    kh AS (SELECT event_type, k, {hash60} AS h FROM keys),
    ii AS (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS i),
    pos AS (SELECT event_type, {idx} AS idx FROM kh, ii i),
    sk AS (
      SELECT event_type, idx // {BLOOM_WORD_BITS} AS word,
             bit_or(1::BIGINT << (idx % {BLOOM_WORD_BITS})) AS bits
      FROM pos GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, CAST(sum(bit_count(bits)) AS BIGINT) AS bits_set
      FROM sk GROUP BY 1
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
      SELECT p.event_type, p.k, p.is_member, {idx} AS idx
      FROM (SELECT event_type, k, is_member, {hash60} AS h FROM probes) p, ii i
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
    GROUP BY 1, 2
    """


@register("stream_bloom_membership", oracle=_stream_bloom_oracle())
def stream_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Bloom filter: the bitset words accumulate by a plain
    streaming bit_or aggregation — OR is the Bloom merge AND it is
    IDEMPOTENT, so unlike every other twin this one needs no distinct
    and no dedup state at all: every event just sets its key's bits,
    repeats are absorbed, and the drained words are BIT-IDENTICAL to
    the batch sketch built on the distinct key set (pytest, word by
    word). This is the live form of the crawl-frontier / "seen this
    key" membership monitor, at BLOOM_WORDS longs per group forever.

    Probes (the batch twin's: every 29th true member must hit —
    no-false-negative — plus 200 disjoint ghosts for the measured FPR)
    run batch-side against the drained broadcast words; the oracle is
    the batch Bloom SQL minus its n_keys column — the count a bitset
    cannot know (the KMV/HLL honesty discipline).

    Scale posture: streaming state ≤ 16 longs per group at ANY key
    cardinality — with CMS/AMS/HLL the fourth member on the built-in
    aggregation lane (KMV alone needs custom state); per-batch
    map-side combine ORs partials before the shuffle."""
    from minimapreduce_spark.operators.scale import (
        BLOOM_GHOSTS,
        BLOOM_K,
        BLOOM_WORD_BITS,
        bloom_positions,
    )

    sdf = events_stream_sharded(spark, sf_dir, n_shards=4)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("bloom:"), F.col("k"))), 1, 15), 16, 10
    ).cast("bigint")
    pos_stream = (
        sdf.select(
            "event_type", F.col("user_id").cast("string").alias("k")
        )
        .select("event_type", "k", h.alias("h"))
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i"),
            "h",
        )
        .select("event_type", bloom_positions().alias("idx"))
        .groupBy(
            "event_type",
            (F.col("idx") / BLOOM_WORD_BITS).cast("bigint").alias("word"),
        )
        .agg(
            F.bit_or(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(idx % {BLOOM_WORD_BITS} AS INT))"
                )
            ).alias("bits")
        )
    )
    sk = run_to_memory(pos_stream, "complete")
    stats = sk.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("bits_set")
    )

    ev = load_table(spark, sf_dir, "events")
    keys = ev.select(
        "event_type", F.col("user_id").cast("string").alias("k")
    ).distinct()
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
    ptest = (
        members.unionByName(ghosts)
        .select("event_type", "k", "is_member", h.alias("h"))
        .select(
            "event_type", "k", "is_member",
            F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i"),
            "h",
        )
        .select("event_type", "k", "is_member", bloom_positions().alias("idx"))
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
    return stats.join(agg, "event_type").selectExpr(
        "event_type",
        "bits_set",
        "n_member_probes",
        "members_found",
        "ghost_fp",
        f"round(CAST(ghost_fp AS DOUBLE) / {BLOOM_GHOSTS}, 6) AS fpr",
    )
