"""Streaming CDC-style upsert: foreachBatch MERGE into a keyed state
table.

The production pattern this demonstrates: a stream of events
continuously upserts a "latest value per key" serving table. Without a
table format (Delta/Iceberg) the merge is MERGE-ON-READ: each
micro-batch publishes its own latest-per-key delta once
(``source.publish_batch``), nothing rewrites the state, and a read
folds the same latest-per-key aggregation over the union of the
deltas. A micro-batch replayed after a crash-restart gets its published
delta back — the sink half of exactly-once on top of the checkpoint
WAL's source half. With a table format the body becomes one MERGE
INTO; every other line stays.

The replay is forced through MULTIPLE micro-batches (the staged events
split into shards + ``maxFilesPerTrigger=1``) so the merge runs for
real, not as one degenerate batch; the final state is independent of
batch arrival order and of how the deltas are grouped, because
"latest by (ts, event_id)" is an associative, commutative fold.

The other drains here write their per-batch outputs through the same
sink, so each is idempotent per ``batch_id`` too.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minimapreduce_spark.catalog import fan_out, load_table, parquet_rowcount, table_path
from minimapreduce_spark.operators.dedup import (
    _JACCARD_ORACLE,
    INCR_BATCH_MOD,
    MINHASH_SHINGLE_SCHEMA,
    MINHASH_THRESHOLD,
    SHINGLE_K,
    minhash_band_buckets,
    minhash_index_build,
    minhash_signatures,
    probe_band_index,
    read_band_index,
    shingle_hashes,
)
from minimapreduce_spark.operators.relational import (
    IVM_UPSERTS_ORACLE,
    IVM_VIEW_SCHEMA,
    dim_changed,
    dim_changes,
    dim_end_of_day,
    dim_insert_rows,
    join_view_build,
    join_view_fold_in,
    maintained_view,
    read_join_view,
    untombstoned,
)
from minimapreduce_spark.operators.similarity import (
    _grid,
    _ivfpq_oracle,
    _ivfpq_serve,
    _queries,
    ivfpq_index_build,
    read_ivfpq_index,
)
from minimapreduce_spark.registry import register
from minimapreduce_spark.session import narrow_clone, stream_state_width
from minimapreduce_spark.streaming.source import (
    _drain,
    batch_ids,
    events_stream_sharded,
    events_stream_time_sliced,
    publish_batch,
    read_batches,
    table_stream_sharded,
)

STATE_SCHEMA = "user_id bigint, last_ts timestamp, last_event_id bigint, last_value double"

# Shards in the staged CDC replay (events_stream_sharded's n_shards
# below) — one micro-batch each under maxFilesPerTrigger=1.
UPSERT_N_SHARDS = 4


def _upsert_state_width(spark, sf_dir: str) -> int:
    """Merge-shuffle width DERIVED from per-batch volume (~25k rows at
    sf0.1) through the shared ``stream_state_width`` sizing, not a
    constant tuned to one fixture. The interleaved width curve at sf0.1
    is flat across 1-16 (best 2.0-2.1 s each), so the derived width
    (~4) sits safely inside that band."""
    rows = parquet_rowcount(table_path(sf_dir, "events"))
    return stream_state_width(spark, rows // UPSERT_N_SHARDS)


def _latest_per_user(df: DataFrame) -> DataFrame:
    """Deterministic latest row per user: max (ts, event_id) pair —
    an aggregation (max of a packed struct), not a rank window, so it
    needs one shuffle and O(1) state per key."""
    return df.groupBy("user_id").agg(
        F.max(F.struct("last_ts", "last_event_id", "last_value")).alias("m")
    ).select(
        "user_id",
        F.col("m.last_ts").alias("last_ts"),
        F.col("m.last_event_id").alias("last_event_id"),
        F.col("m.last_value").alias("last_value"),
    )


@register(
    "stream_upsert_latest_state",
    oracle="""
    SELECT user_id, last_ts, last_event_id, last_value FROM (
      SELECT user_id,
             ts AS last_ts,
             event_id AS last_event_id,
             round(value, 4) AS last_value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    bench=True,  # times the full 4-micro-batch CDC MERGE replay
)
def stream_upsert_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-merged serving table: for every user, the latest
    event (by ts, event_id tie-break) after replaying the event stream
    through 4 micro-batches of foreachBatch MERGE. Equals the batch
    "latest row per key" query — the oracle — whatever order the
    batches land in.

    Scale posture: merge-on-read. Each micro-batch shuffles only its
    own updates on user_id and publishes their latest-per-key delta
    (≤ |keys| rows); the state is never rewritten, so a batch costs
    O(batch), not O(state). The read folds the deltas, O(total
    updates) — the merge-on-read a table format does between
    compactions; with Delta/Iceberg the body becomes MERGE INTO and the
    streaming plan is unchanged.
    """
    with tempfile.TemporaryDirectory(
        prefix="minimapreduce_upsert_", ignore_cleanup_errors=True
    ) as work:
        state_dir = os.path.join(work, "state")
        ckpt = os.path.join(work, "ckpt")

        # Size the per-batch merge shuffle to the per-batch volume
        # (_upsert_state_width), not the session's batch-shuffle width
        # (the stream_exactly_once_watermarked discipline): each
        # micro-batch pays one shuffle + one parquet write PER PARTITION,
        # so a 4-batch replay at width 32 spends most of its wall on 128
        # shuffle-write/commit fan-outs for ~25k-row batches (measured at
        # sf0.1: 2.9 → 2.4 s at width 8, identical output — the merge is
        # a keyed agg, partition-count invariant by the repo-wide pytest).
        s2 = narrow_clone(spark, _upsert_state_width(spark, sf_dir))
        sdf = events_stream_sharded(s2, sf_dir, n_shards=UPSERT_N_SHARDS).select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.round("value", 4).alias("last_value"),
        )

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            publish_batch(state_dir, batch_id, _latest_per_user(batch_df))

        _drain(sdf, merge_batch, ckpt, "append")
        state = read_batches(s2, state_dir, STATE_SCHEMA)
        return _latest_per_user(state).localCheckpoint(eager=True)


@register(
    "stream_ann_serve_ivfpq",
    # drained union over independent per-batch scoring ≡ one batch
    # serve, so the oracle IS the batch served twin's
    oracle=_ivfpq_oracle(),
)
def stream_ann_serve_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE ANN SERVING — the query-stream half of the index
    lifecycle (build → serve → append → SERVE ONLINE): query vectors
    arrive as a real multi-micro-batch stream, and each micro-batch is
    routed/LUT-built/ADC-scored against the PERSISTED IVF-PQ artifact
    (`ivfpq_index_build`) inside ``foreachBatch`` — the streaming
    pattern for per-batch logic that needs rank windows (unsupported
    in pure append streams), and exactly how a micro-batch vector
    search tier works: the index is the static side, queries are the
    stream, scoring is stateless per batch.

    Each query lives in exactly one shard and scoring is
    query-independent, so the drained union over batches equals the
    batch served twin row-for-row — the oracle is `_ivfpq_oracle`
    verbatim (shared with `ann_ivfpq_served_topk`), and the pytest
    additionally pins the multi-batch replay really happened (>1
    non-empty micro-batch) and frame-equality with the batch twin.

    Scale posture: per trigger, work = |batch queries| routed cells
    scanned from the CELL-PARTITIONED codes artifact + bounded
    broadcast codebook/centroid joins; no streaming state at all
    (stateless enrichment — the serving tier's whole point); each
    batch's results are published once. Latency is the micro-batch
    trigger, capacity is executors × cells-per-second — both
    independent of index build."""
    result_schema = "q_vec_id bigint, neighbor_id bigint, ivfpq_sim double, rn int"
    if parquet_rowcount(table_path(sf_dir, "embeddings")) == 0:
        # Degenerate-input policy: no corpus → no index, no queries
        return spark.createDataFrame([], result_schema)
    cg, cb, code_arr = read_ivfpq_index(spark, ivfpq_index_build(spark, sf_dir))

    with tempfile.TemporaryDirectory(
        prefix="minimapreduce_ann_serve_", ignore_cleanup_errors=True
    ) as work:
        out_dir = os.path.join(work, "results")
        ckpt = os.path.join(work, "ckpt")

        qstream = _queries(
            table_stream_sharded(spark, sf_dir, "embeddings", n_shards=4),
            qe=_grid("embedding"),
        )

        def serve_batch(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.head(1):
                return
            res = _ivfpq_serve(
                batch_df.sparkSession,
                sf_dir,
                cg,
                cb,
                code_arr,
                nprobe=1,
                query_frame=batch_df,
            )
            publish_batch(out_dir, batch_id, res)

        _drain(qstream, serve_batch, ckpt, "append")
        stream_ann_serve_ivfpq.last_nonempty_batches = len(batch_ids(out_dir))
        return read_batches(spark, out_dir, result_schema).localCheckpoint(eager=True)


@register(
    "stream_minhash_index_probe",
    # drained union over slice probes ≡ one batch probe, so the oracle
    # IS the batch index-probe twin's (restricted exact-Jaccard SQL)
    oracle="SELECT * FROM ("
    + _JACCARD_ORACLE.format(kminus1=SHINGLE_K - 1, threshold=MINHASH_THRESHOLD)
    + f") WHERE doc_a % {INCR_BATCH_MOD} = 0 OR doc_b % {INCR_BATCH_MOD} = 0",
)
def stream_minhash_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE INCREMENTAL DEDUP — the arrival-stream rung of the dedup
    index lifecycle (build → probe → PROBE ONLINE), mirroring what
    `stream_ann_serve_ivfpq` is to the ANN lifecycle: the day's
    arrival batch (doc_id % INCR_BATCH_MOD == 0) lands as a real
    multi-micro-batch document STREAM, and each micro-batch is
    shingled/signed/banded and probed inside ``foreachBatch`` against
    the PERSISTED corpus band index (`minhash_index_build`) PLUS the
    arrivals that preceded it — the honest online-ingestion contract:
    every arriving document is checked against the index AND every
    earlier arrival, so cross-micro-batch batch-internal near-dup
    pairs are found exactly once, when their LATER side arrives (the
    earlier side is already in the arrived store; within-slice pairs
    fall out of the slice's own band join).

    The drained append feed therefore equals the batch twin
    `dedup_minhash_index_probe` row-for-row — the oracle is the same
    exact-Jaccard SQL restricted to batch-touching pairs, and the
    pytest additionally pins frame-equality with the batch twin and
    that >1 non-empty micro-batch really replayed.

    Scale posture: per trigger, work ∝ |slice| — slice shingling is a
    linear pass, candidates come from slice-buckets ⋈ (index ∪
    arrived ∪ slice) on (band, bh) so the corpus/arrived sides never
    self-join, and verification is candidate-driven. The arrived
    store grows only with the day's batch (bounded by contract), not
    the corpus; the corpus side stays the write-once artifact. No
    streaming state store at all — the arrived store IS the state, one
    published parquet directory per batch, and a slice probes only the
    batches below its own ``batch_id``, so a replayed slice reproduces
    its output exactly: how a restartable ingest tier keeps it
    (re-deriving from the checkpoint offsets on recovery)."""
    if parquet_rowcount(table_path(sf_dir, "documents")) == 0:
        # Degenerate-input policy: empty corpus → no index, no arrivals
        return spark.createDataFrame(
            [], "doc_a bigint, doc_b bigint, n_common bigint, jaccard double"
        )
    root = minhash_index_build(spark, sf_dir)
    # size the per-slice shuffle/commit width to slice volume, scoped
    # to the CACHED per-(context, width) clone (the exactly-once
    # state-sizing lesson: a ~hundred-doc slice under the session's
    # 32-wide shuffle pays pure file/commit fan-out per micro-batch;
    # the cache stops repeated invocations leaking a session each;
    # the cross-session frame-mixing contract is documented at
    # session.narrow_clone)
    spark = narrow_clone(spark, 8)
    idx_buckets, idx_shingles = read_band_index(spark, root)

    with tempfile.TemporaryDirectory(
        prefix="minimapreduce_dedup_probe_", ignore_cleanup_errors=True
    ) as work:
        out_dir = os.path.join(work, "results")
        arrived_b = os.path.join(work, "arrived_buckets")
        arrived_s = os.path.join(work, "arrived_shingles")
        ckpt = os.path.join(work, "ckpt")
        arrived_bucket_schema = "doc_id bigint, band int, bh bigint"
        pair_schema = "doc_a bigint, doc_b bigint, n_common bigint, jaccard double"

        arrivals = table_stream_sharded(spark, sf_dir, "documents", n_shards=4).where(
            F.col("doc_id") % INCR_BATCH_MOD == 0
        ).select("doc_id", "text")

        def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.head(1):
                return
            s = batch_df.sparkSession
            base_s = shingle_hashes(
                s, sf_dir, distinct=False, docs=fan_out(s, batch_df)
            ).localCheckpoint(eager=False)
            buckets_s = minhash_band_buckets(
                minhash_signatures(s, sf_dir, shingles=base_s)
            ).localCheckpoint(eager=True)
            sh_s = base_s.distinct().localCheckpoint(eager=True)
            pairs = probe_band_index(
                s,
                sf_dir,
                batch_buckets=buckets_s,
                batch_shingles=sh_s,
                index_buckets=idx_buckets,
                index_shingles=idx_shingles,
                # the slices before this one only: every cross-slice pair
                # emits once, when its later side arrives
                prior_buckets=read_batches(
                    s, arrived_b, arrived_bucket_schema, below=batch_id
                ),
                prior_shingles=read_batches(
                    s, arrived_s, MINHASH_SHINGLE_SCHEMA, below=batch_id
                ),
            )
            publish_batch(out_dir, batch_id, pairs)
            publish_batch(arrived_b, batch_id, buckets_s.select("doc_id", "band", "bh"))
            publish_batch(arrived_s, batch_id, sh_s)

        _drain(arrivals, probe_batch, ckpt, "append")
        stream_minhash_index_probe.last_nonempty_batches = len(batch_ids(out_dir))
        return read_batches(spark, out_dir, pair_schema).localCheckpoint(eager=True)


# SCD2 band thresholds on the exact ten-thousandths grid (value is a
# double; round(value·10⁴) is the family's money-grid recovery)
SCD2_HI_C = 50_0000  # value ≥ 50.0
SCD2_MID_C = 20_0000  # value ≥ 20.0
_SCD2_BAND_SQL = (
    "CASE WHEN CAST(round(value * 10000) AS BIGINT) >= {hi} THEN 'high' "
    "WHEN CAST(round(value * 10000) AS BIGINT) >= {mid} THEN 'mid' "
    "ELSE 'low' END"
)


def _scd2_islands(ev: DataFrame) -> DataFrame:
    """(user_id, band, valid_from, valid_to, is_current): collapse the
    (ts, event_id)-ordered per-user band sequence into SCD2 validity
    islands — consecutive equal bands merge; valid_to = the next
    island's valid_from (NULL on the open row). The shared island
    kernel of the batch oracle and the per-micro-batch apply."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "chg",
        F.when(
            F.lag("band").over(w).isNull()
            | (F.lag("band").over(w) != F.col("band")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("grp", F.sum("chg").over(w.rowsBetween(W.unboundedPreceding, 0)))
    isl = flagged.groupBy("user_id", "grp").agg(
        F.first("band").alias("band"), F.min("ts").alias("valid_from")
    )
    w2 = W.partitionBy("user_id").orderBy("valid_from")
    return isl.select(
        "user_id",
        "band",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


@register(
    "stream_scd2_band_history",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id,
             {_SCD2_BAND_SQL.format(hi=SCD2_HI_C, mid=SCD2_MID_C)} AS band
      FROM events
    ),
    ord AS (
      SELECT user_id, ts, event_id, band,
             lag(band) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM e
    ),
    isl AS (
      SELECT user_id, ts, event_id, band,
             sum(CASE WHEN prev IS NULL OR prev <> band THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS grp
      FROM ord
    ),
    hist AS (
      SELECT user_id, any_value(band) AS band, min(ts) AS valid_from
      FROM isl GROUP BY user_id, grp
    )
    SELECT user_id, band, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             IS NULL AS is_current
    FROM hist
    """,
)
def stream_scd2_band_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD TYPE-2 HISTORY MAINTENANCE — the CDC rung between
    `stream_upsert_latest_state` (type-1: keep latest, history
    discarded) and the batch SCD2 pair (`scd2_customer_tier_history` /
    `scd2_asof_lookup`, which rebuild history from scratch): a
    time-ordered event stream continuously maintains a type-2 history
    table (user_id, band, valid_from, valid_to, is_current) inside
    ``foreachBatch`` — when a user's value band changes, the open row
    CLOSES (valid_to = the new island's start) and a new current row
    opens; consecutive equal bands extend the open row. This is what
    MERGE-based SCD2 maintenance does on a lakehouse table, expressed
    as read-island-merge-publish over two per-batch parquet sinks: each
    batch publishes the rows it closed, and the open set after it (one
    row per active user, the bounded working state). The open state a
    batch starts from is the last open set published below its
    ``batch_id``, read from disk, so a replayed batch reproduces its
    output exactly.

    The per-batch apply re-runs the island kernel (`_scd2_islands`)
    over (each user's open row as a pseudo-event at its valid_from) ∪
    (the batch's events): an extension island keeps the open row's
    valid_from (min ts of the merged island), a band change closes it
    exactly at the new start — so after draining N time-ordered slices
    the closed ∪ open union is IDENTICAL to the batch island
    computation over all events, which is the oracle (and the pytest
    pins the multi-batch replay really happened).

    Correctness needs per-key time-ordered arrival (real CDC streams
    are per-key ordered; the time-sliced source is globally ordered)
    — a late event would need the bitemporal correction pattern, out
    of scope and documented.

    Scale posture: per trigger, work ∝ |slice| + |touched open rows|
    (the pseudo-event union joins only users present in state; the
    island window partitions by user); closed history is published once
    per batch (never rewritten); the open set is ≤ |active users| rows.
    No reference analog (nearest: the reduce-side key grouping of
    mr/worker.go:136-157)."""
    if parquet_rowcount(table_path(sf_dir, "events")) == 0:
        return spark.createDataFrame(
            [],
            "user_id bigint, band string, valid_from timestamp_ntz,"
            " valid_to timestamp_ntz, is_current boolean",
        )
    # per-slice island windows under a slice-sized shuffle width,
    # scoped to the cached per-(context, width) clone (the
    # exactly-once state-sizing lesson; session.narrow_clone)
    spark = narrow_clone(spark, 8)

    band = (
        F.when(
            F.round(F.col("value") * 10000).cast("bigint") >= SCD2_HI_C, "high"
        )
        .when(F.round(F.col("value") * 10000).cast("bigint") >= SCD2_MID_C, "mid")
        .otherwise("low")
    )
    sdf = events_stream_time_sliced(spark, sf_dir).select(
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "event_id",
        band.alias("band"),
    )

    with tempfile.TemporaryDirectory(
        prefix="minimapreduce_scd2_", ignore_cleanup_errors=True
    ) as work:
        closed_dir = os.path.join(work, "closed")
        open_dir = os.path.join(work, "open")
        ckpt = os.path.join(work, "ckpt")
        closed_schema = (
            "user_id bigint, band string, valid_from timestamp_ntz,"
            " valid_to timestamp_ntz"
        )
        open_schema = "user_id bigint, band string, valid_from timestamp_ntz"

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.head(1):
                return
            s = batch_df.sparkSession
            open_rows = read_batches(s, open_dir, open_schema, below=batch_id, last=True)
            pseudo = open_rows.select(
                "user_id",
                F.col("valid_from").alias("ts"),
                F.lit(-1).cast("bigint").alias("event_id"),
                "band",
            )
            merged = pseudo.unionByName(
                batch_df.select("user_id", "ts", "event_id", "band")
            )
            isl = _scd2_islands(merged).localCheckpoint(eager=True)
            cur = F.col("is_current")
            publish_batch(closed_dir, batch_id, isl.where(~cur).drop("is_current"))
            publish_batch(open_dir, batch_id, isl.where(cur).drop("is_current", "valid_to"))

        _drain(sdf, apply_batch, ckpt, "append")
        stream_scd2_band_history.last_nonempty_batches = len(batch_ids(open_dir))
        open_rows = read_batches(spark, open_dir, open_schema, last=True)
        return (
            read_batches(spark, closed_dir, closed_schema)
            .withColumn("is_current", F.lit(False))
            .unionByName(
                open_rows.select(
                    "user_id",
                    "band",
                    "valid_from",
                    F.lit(None).cast("timestamp_ntz").alias("valid_to"),
                    F.lit(True).alias("is_current"),
                )
            )
            .localCheckpoint(eager=True)
        )


@register("stream_incremental_join_view", oracle=IVM_UPSERTS_ORACLE)
def stream_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING IVM — the CDC rung that joins the engine's two
    maintenance stories: `incremental_join_view_upserts` proves the
    tombstone algebra in ONE batch; this query maintains the same
    materialized orders⋈customer view as the dimension's CDC feed
    arrives in MICRO-BATCHES (hash-sharded customer deltas,
    ``maxFilesPerTrigger=1``), the shape a lakehouse reporting view
    actually lives in: dim churn streams in all day, fact arrivals
    land on the append-only fact pipeline, readers see
    base ∖ tombstones ∪ maintained-deltas at any moment. The change
    set, the delta terms and the composition are the batch twin's own
    (`operators/relational.py`), applied per micro-batch.

    Per micro-batch (inside ``foreachBatch``, frames built on the
    micro-batch session, so no frame of another session's plan is
    mixed into the batch's), `dim_changes` over the batch's changed
    rows gives:
      - the DELETE + UPDATE keys, published to the tombstone log;
      - the insert-set (updated rows' new versions ∪ onboards), which
        probes the base facts ONCE with the ≤|batch| dim rows
        broadcast (`dim_insert_rows`); the produced view rows go to
        the delta log — the A⋈Δ⁺B term paid incrementally, ∝ batch
        dim churn.
    Each log is one directory per micro-batch, published once
    (``publish_batch``) and never touched by another batch — which is
    what makes the at-least-once foreachBatch contract safe: a batch
    replayed after a failed drain gets its published directories back
    instead of double-appending view rows. The per-key-once
    property of a dim CDC feed (each customer key changes at most once
    per day; hash shards preserve it) is what makes the accumulated
    logs batch-order-independent: joins distribute over the union of
    disjoint broadcast sides, so drained-log state ≡ the single-batch
    twin's terms exactly.

    The final read composes the drained logs (`untombstoned`,
    `maintained_view`): base-view-anti-tombstones ∪ delta log ∪ (fact arrivals ⋈ dim
    end-of-day state) — the same three-term partition as the batch
    twin, same oracle (full recompute against the dim's final state):
    streaming-maintain ≡ batch-maintain ≡ recompute, each link under
    the driver hash, the first additionally pytest-pinned
    frame-by-frame with a real multi-batch replay.

    Scale posture: per trigger, work ∝ |batch dim churn| (tombstone
    publish is a key-list write; the fact probe broadcasts the batch
    rows and at 100 TB prunes by bucketed join key —
    `join_bucketed_smb`'s layout); the logs grow ∝ total churn, reset
    by the nightly `stream_join_view_rebuild` fold-in. State never
    lives in the stream engine — the logs ARE the state, so a
    crash-restart replays idempotently from the checkpoint WAL."""
    if any(parquet_rowcount(table_path(sf_dir, t)) == 0 for t in ("orders", "customer")):
        # Degenerate-input policy: no facts or no dims → empty view
        return spark.createDataFrame([], IVM_VIEW_SCHEMA)

    spark = narrow_clone(spark, 8)
    base_view = read_join_view(spark, join_view_build(spark, sf_dir))

    with tempfile.TemporaryDirectory(
        prefix="minimapreduce_stream_ivm_", ignore_cleanup_errors=True
    ) as work:
        tombs_dir = os.path.join(work, "tombs")
        delta_dir = os.path.join(work, "delta")
        ckpt = os.path.join(work, "ckpt")

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            changed = batch_df.where(dim_changed()).localCheckpoint(eager=True)
            if not changed.head(1):
                return
            tombs, plus = dim_changes(changed)
            publish_batch(tombs_dir, batch_id, tombs)
            orders = load_table(changed.sparkSession, sf_dir, "orders")
            publish_batch(delta_dir, batch_id, dim_insert_rows(orders, plus))

        _drain(
            table_stream_sharded(spark, sf_dir, "customer"), apply_batch, ckpt, "append"
        )
        stream_incremental_join_view.last_nonempty_batches = len(batch_ids(tombs_dir))

        tombs = read_batches(spark, tombs_dir, "c_custkey bigint")
        insert_rows = read_batches(spark, delta_dir, IVM_VIEW_SCHEMA)
        cust_final = dim_end_of_day(load_table(spark, sf_dir, "customer"))
        orders = load_table(spark, sf_dir, "orders")
        live = untombstoned(base_view, tombs)
        return maintained_view(live, insert_rows, orders, cust_final).localCheckpoint(
            eager=True
        )


def stream_join_view_rebuild(
    spark: SparkSession, sf_dir: str, root: str | None = None
) -> str:
    """NIGHTLY FOLD OF THE STREAM-DRAINED LOGS — the copy-on-write half
    of the streaming IVM cycle: `stream_incremental_join_view` drains
    the day's dim CDC into tombstone + delta logs and composes the
    maintained view; `join_view_fold_in` materializes that composition
    into a FRESH base-view artifact at ``<base root>_stream_rebuilt``,
    after which the logs are obsolete — the next day's CDC maintains
    against the new base with an empty tombstone set. Idempotent: an
    existing published root is returned untouched."""
    return join_view_fold_in(
        spark, sf_dir, stream_incremental_join_view, "stream_rebuilt", root
    )


@register("stream_incremental_join_view_rebuild", oracle=IVM_UPSERTS_ORACLE)
def stream_incremental_join_view_rebuild(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE FULL DAY-NIGHT MAINTENANCE CYCLE, END TO END — the
    composition the streaming IVM story promised: the dim CDC feed
    drains through real micro-batches into the tombstone/delta logs
    (`stream_incremental_join_view`, the DAY path), the nightly rebuild
    folds the drained logs into a fresh base-view artifact
    (`stream_join_view_rebuild`, the NIGHT path), and this query
    answers from that artifact ALONE: ONE parquet scan, zero joins,
    zero anti-joins (plan-pinned) — where the day path composes an
    anti-join and two delta unions at every read. Same oracle as every
    IVM lane (`IVM_UPSERTS_ORACLE`, the full recompute against the
    dim's end-of-day state), closing the chain
    stream-maintain ≡ batch-maintain ≡ rebuild-read ≡ recompute with
    each link under the driver hash. Once the root is published, a
    call costs a stat and the scan: `artifacts.publish` returns the
    root untouched, and the day path (empty-input guard included)
    does not run.

    Scale posture: the day path's read cost grows with the drained
    logs (tombstone anti-join + delta union at every read); the fold-in
    pays one maintained-view scan + write offline and resets that cost
    to a bare partition-prunable artifact scan — exactly the nightly
    materialized-view refresh a 100 TB lakehouse schedules. The stream
    checkpoint and the artifact publish are independent atomic
    mechanisms, so a crash between them replays the drain idempotently
    (per-batch published logs + WAL) and the rename either happened or the
    stage directory is garbage — never a half-published base."""
    return read_join_view(spark, stream_join_view_rebuild(spark, sf_dir))
