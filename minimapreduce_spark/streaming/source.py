"""Streaming source + sink plumbing.

``events_stream`` turns the static events parquet into a bona-fide
streaming DataFrame (file-stream source). ``run_to_memory`` drains a
streaming plan with an ``availableNow`` trigger into a memory sink and
hands back the materialized result — the bridge that lets streaming
queries participate in the batch oracle protocol.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile
import time

# A repair lockfile older than this is a crashed repairer's corpse and
# may be broken by the next repairer (see _publish_shards).
_REPAIR_LOCK_STALE_S = 300.0

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minimapreduce_spark.artifacts import publish
from minimapreduce_spark.catalog import content_fingerprint, table_path

_SINK_IDS = itertools.count()


def _publish_shards(spark: SparkSession, src_path: str, d: str, n_shards: int) -> None:
    """Shared shard publish for the two staged stream sources: write
    ``n_shards`` parquet files and publish them at ``d`` with
    `artifacts.publish`, so racing sessions share one shard set and a
    reader never observes a half-written one.

    Self-repair (a pre-atomic-publish crash leaves ``d`` without
    _SUCCESS, making the rename fail forever): repair is SERIALIZED by
    an O_EXCL lockfile next to ``d`` (round-10 ADVICE — the unlocked
    version had a residual window where a concurrently published valid
    shard set could be moved aside under a draining reader, and its
    re-publish would arrive as new-named part files a file-stream
    reader treats as duplicate arrivals). Under the lock _SUCCESS is
    re-checked and only then is the corpse renamed ASIDE to a junk
    path (never rmtree'd in place); a contender that cannot take the
    lock skips repair entirely, and its publish below returns the
    winner's shard set if one has landed by its rename, or raises. A
    lockfile older than ``_REPAIR_LOCK_STALE_S`` is treated as a
    crashed repairer's corpse and removed. Junk directories are cleaned up once ``d`` is
    published (they were only kept so a mid-window move-aside could
    never destroy data)."""
    os.makedirs(os.path.dirname(d), exist_ok=True)
    if os.path.exists(os.path.join(d, "_SUCCESS")):
        return  # a racer finished the publish between check and repair
    junk = None
    if os.path.exists(d):
        lock = d + ".repair_lock"
        try:
            if (
                os.path.exists(lock)
                and time.time() - os.stat(lock).st_mtime > _REPAIR_LOCK_STALE_S
            ):
                os.unlink(lock)  # crashed repairer's lock
        except OSError:
            pass
        fd = None
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except OSError:
            pass  # another session holds the repair lock: skip repair
        if fd is not None:
            try:
                # re-check under the lock: a racer may have published
                if not os.path.exists(os.path.join(d, "_SUCCESS")) and os.path.exists(d):
                    junk = tempfile.mkdtemp(
                        prefix="corpse_", dir=os.path.dirname(d)
                    )
                    try:
                        os.rename(d, os.path.join(junk, "moved"))
                    except OSError:
                        pass  # racer's publish beat ours; fall through
            finally:
                os.close(fd)
                try:
                    os.unlink(lock)
                except OSError:
                    pass
    publish(
        d,
        "_SUCCESS",
        lambda stage: spark.read.parquet(src_path)
        .repartition(n_shards)
        .write.mode("overwrite")
        .parquet(stage),
    )
    if junk is not None and os.path.exists(os.path.join(d, "_SUCCESS")):
        shutil.rmtree(junk, ignore_errors=True)  # publish done: corpse obsolete


def _stage_dir(parquet_file: str) -> str:
    """Spark's file-stream source monitors a DIRECTORY; the test tables
    are bare parquet files. Stage a stable per-source directory under
    the system tmpdir containing a link to the file (copy if the
    filesystem refuses links). Production streams read real directories
    (or Kafka) and skip this entirely."""
    key = os.path.abspath(parquet_file).strip(os.sep).replace(os.sep, "_")
    d = os.path.join(tempfile.gettempdir(), "minimapreduce_stream", key)
    target = os.path.join(d, os.path.basename(parquet_file))
    if not os.path.exists(target):
        os.makedirs(d, exist_ok=True)
        try:
            os.symlink(parquet_file, target)
        except OSError:
            shutil.copy2(parquet_file, target)
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.readStream`` over the events parquet.

    The file carries ``ts`` as either TIMESTAMP(NANOS) — which Spark's
    parquet reader only accepts as raw int64 (legacy nanosAsLong flag —
    same handling as the batch path in catalog._load_events; ns → µs
    uses integer DIV to keep full precision) — or plain
    TIMESTAMP(MICROS). ``ts`` lands as TIMESTAMP (UTC session) because
    watermarks operate on event-time timestamps.
    """
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    schema = spark.read.parquet(path).schema  # one footer read; stream needs explicit schema
    sdf = spark.readStream.schema(schema).parquet(_stage_dir(path))
    if isinstance(schema["ts"].dataType, LongType):
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def events_stream_sharded(
    spark: SparkSession, sf_dir: str, n_shards: int = 4
) -> DataFrame:
    """``events_stream`` variant that replays through MULTIPLE
    micro-batches: the table is staged once as ``n_shards`` parquet
    files and the file source is capped at one file per trigger, so an
    availableNow drain runs ``n_shards`` real batches — exercising
    cross-batch state (upsert merges, stateful aggs) instead of one
    degenerate batch. Production streams get this for free from
    continuous file/Kafka arrival."""
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    # The staging key includes the source's content fingerprint so a
    # regenerated fixture at the same path can never silently replay
    # stale shards from a previous run.
    key = (
        f"{os.path.abspath(path).strip(os.sep).replace(os.sep, '_')}"
        f"_{content_fingerprint(path)}"
    )
    d = os.path.join(
        tempfile.gettempdir(), "minimapreduce_stream_sharded", f"{key}_{n_shards}"
    )
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        # Atomic publish + crash-corpse self-repair, TOCTOU-safe
        _publish_shards(spark, path, d, n_shards)
    schema = spark.read.parquet(d).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    if isinstance(schema["ts"].dataType, LongType):
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def events_stream_redelivered(
    spark: SparkSession, sf_dir: str, n_shards: int = 4, redeliver_mod: int = 13
) -> DataFrame:
    """``events_stream_sharded`` variant that simulates AT-LEAST-ONCE
    delivery: rows hash into ``n_shards`` single-file micro-batches as
    usual, but every row with ``event_id % redeliver_mod == 0`` is
    written into EVERY shard — the redelivery a real queue produces on
    consumer retry/failover. A downstream exactly-once consumer must
    collapse those copies on the idempotency key; anything that merely
    counts rows overcounts by exactly the planted redelivery volume
    (which tests/test_streaming.py asserts is nonzero)."""
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    key = (
        f"{os.path.abspath(path).strip(os.sep).replace(os.sep, '_')}"
        f"_{content_fingerprint(path)}"
    )
    d = os.path.join(
        tempfile.gettempdir(),
        "minimapreduce_stream_redelivered",
        f"{key}_{n_shards}_{redeliver_mod}",
    )

    # The shard loop appends n_shards times, so an interrupted build
    # that a retry appended onto would duplicate rows beyond the planted
    # redelivery; `artifacts.publish` builds each attempt in a fresh
    # stage, so ``d`` exists complete (with _DONE) or not at all.
    def write(stage: str) -> None:
        base = spark.read.parquet(path)
        for i in range(n_shards):
            shard = base.where(
                (F.col("event_id") % n_shards == i)
                | (F.col("event_id") % redeliver_mod == 0)
            )
            shard.coalesce(1).write.mode("append").parquet(stage)
        open(os.path.join(stage, "_DONE"), "w").close()

    os.makedirs(os.path.dirname(d), exist_ok=True)
    publish(d, "_DONE", write)
    schema = spark.read.parquet(d).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    if isinstance(schema["ts"].dataType, LongType):
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def events_stream_time_sliced_redelivered(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 10,
    redeliver_mod: int = 13,
    files_per_trigger: int = 1,
) -> DataFrame:
    """AT-LEAST-ONCE replay with a TIME-BOUNDED redelivery horizon
    (round-4 verdict item 7): events sort by event time into
    ``n_slices`` contiguous time slices, one single-file micro-batch
    each (strictly increasing file mtimes, so the file-stream source
    replays them in time order), and every row with ``event_id %
    redeliver_mod == 0`` in slice i is ALSO written into slice i+1 —
    the redelivery a real queue produces on retry, but bounded: a copy
    arrives at most one slice width (30/n_slices days of the fixture's
    30-day span) after its original. That bound is
    the contract that lets an exactly-once consumer hold dedup state
    for only a watermark horizon (``dropDuplicatesWithinWatermark``)
    instead of a forever-ledger — the state posture a 100 TB stream
    needs (the hash-sharded sibling ``events_stream_redelivered``
    models the UNBOUNDED-horizon source, which forces the full-ledger
    consumer). Built with pyarrow (slices are verbatim row copies, the
    parquet schema survives bit-for-bit) and published by
    `artifacts.publish` like the sibling."""
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    key = (
        f"{os.path.abspath(path).strip(os.sep).replace(os.sep, '_')}"
        f"_{content_fingerprint(path)}"
    )
    d = os.path.join(
        tempfile.gettempdir(),
        "minimapreduce_stream_timesliced",
        f"{key}_{n_slices}_{redeliver_mod}",
    )

    def write(stage: str) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(path)
        t = t.take(
            pc.sort_indices(
                t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
            )
        )
        ts = t["ts"].to_numpy().astype("int64")  # µs-or-ns ticks; units cancel
        ids = t["event_id"].to_numpy()
        span = max(int(ts[-1] - ts[0]), 1)
        # integer slice index in [0, n_slices-1]; the max-ts row clamps
        sl = np.minimum((ts - ts[0]) * n_slices // span, n_slices - 1)
        for i in range(n_slices):
            parts = [t.filter(pa.array(sl == i))]
            if i > 0 and redeliver_mod:
                parts.append(
                    t.filter(pa.array((sl == i - 1) & (ids % redeliver_mod == 0)))
                )
            f = os.path.join(stage, f"slice{i:02d}.parquet")
            pq.write_table(pa.concat_tables(parts), f)
            # deterministic strictly-increasing mtimes = replay order
            os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
        open(os.path.join(stage, "_DONE"), "w").close()

    os.makedirs(os.path.dirname(d), exist_ok=True)
    publish(d, "_DONE", write)
    schema = spark.read.parquet(os.path.join(d, "slice00.parquet")).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(d)
    )
    if isinstance(schema["ts"].dataType, LongType):
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def run_to_memory(sdf: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink and return it.

    ``availableNow`` processes everything currently in the source then
    stops — deterministic, so the result is comparable to a batch oracle.
    The sink name is uniquified per call; the memory sink is a test/
    bridge device only (production sinks: kafka/parquet/delta via
    ``writeStream`` on the same plan).
    """
    spark = sdf.sparkSession
    sink = f"{name}_{next(_SINK_IDS)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def run_to_parquet(
    sdf: DataFrame, out_dir: str, checkpoint_dir: str, output_mode: str = "append"
) -> None:
    """Drain a streaming DataFrame into a parquet directory via
    ``foreachBatch`` with exactly-once restart semantics.

    Each micro-batch overwrites its own ``batch_id=<n>`` partition
    directory (dynamic partition overwrite), so a batch replayed after
    a crash-restart rewrites the same files instead of appending
    duplicates — idempotence is the sink half of Structured Streaming's
    exactly-once contract (the checkpoint's WAL is the source half).
    This is the production-sink twin of ``run_to_memory``; works for
    any output mode whose batches are self-contained (append/update).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                batch_df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .partitionBy("batch_id")
                .parquet(out_dir)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    q = (
        sdf.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def events_stream_time_sliced(
    spark: SparkSession, sf_dir: str, n_slices: int = 10
) -> DataFrame:
    """Clean (exactly-once) time-ordered replay: the redelivered
    builder with redelivery disabled — ``n_slices`` contiguous
    time slices, one micro-batch each, arriving in event-time order.
    The source shape for operators whose STATE depends on event-time
    progression (timer-driven sessionization): slices respect the
    watermark contract by construction, so nothing is late-dropped."""
    return events_stream_time_sliced_redelivered(
        spark, sf_dir, n_slices=n_slices, redeliver_mod=0
    )


def table_stream_sharded(
    spark: SparkSession, sf_dir: str, table: str, n_shards: int = 4
) -> DataFrame:
    """Generic multi-micro-batch replay of ANY fixture table — the
    ``events_stream_sharded`` staging discipline (hash shards, one file
    per trigger, mtime/size-keyed staging) without the events-specific
    timestamp handling. Used by the online ANN serving path to replay
    the query vectors as a real query STREAM."""
    path = table_path(sf_dir, table)
    key = (
        f"{os.path.abspath(path).strip(os.sep).replace(os.sep, '_')}"
        f"_{content_fingerprint(path)}"
    )
    d = os.path.join(
        tempfile.gettempdir(), "minimapreduce_stream_tbl", f"{key}_{n_shards}"
    )
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        # Atomic publish (the ivfpq_index_build discipline) + TOCTOU-
        # safe crash-corpse self-repair — see _publish_shards
        _publish_shards(spark, path, d, n_shards)
    schema = spark.read.parquet(d).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
