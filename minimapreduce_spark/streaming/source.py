"""Streaming source + sink plumbing.

The fixture tables are bare parquet files, while Spark's file-stream
source monitors a DIRECTORY, so every stream source here is a staged
replay directory under ``artifacts.engine_root()``. ``_stream_source``
names it, publishes it once through ``artifacts.publish`` (a reader
sees the whole directory or none of it, and racing sessions share one)
and opens it as a file stream at the replay's trigger size;
``_events`` adds the events table's ``ts`` handling. Production streams
read real directories (or Kafka) and skip the staging.

Every drain goes through ``_drain``: one ``foreachBatch`` query with a
checkpoint (the caller's, or Spark's temporary one) and an
``availableNow`` trigger, waited on to the end.
``run_to_memory`` keeps each batch as a local checkpoint and hands back
their union — the bridge that lets streaming queries participate in
the batch oracle protocol. Every drain that writes its batches out
uses the one per-batch sink here: ``publish_batch`` publishes a
batch's frame once as ``<out_dir>/batch_id=<n>`` and ``read_batches``
reads the published batches back, so a replayed ``batch_id`` leaves
one output. ``run_to_parquet`` is that sink on its own. Checkpoints
are local, and ``get_spark`` writes their files through
``FileSystemBasedCheckpointFileManager``.
"""

from __future__ import annotations

import functools
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from minimapreduce_spark.artifacts import engine_root, publish
from minimapreduce_spark.catalog import content_fingerprint, table_path


def _stream_source(
    spark: SparkSession,
    family: str,
    path: str,
    marker: str,
    write: Callable[[str], None],
    files_per_trigger: int,
    *params,
) -> DataFrame:
    """Stage a replay of the parquet file ``path`` at
    ``engine_root()/family/<name>`` and open it as a file stream that
    reads ``files_per_trigger`` files a micro-batch.

    ``<name>`` is the source path; a replay shaped by ``params`` copies
    the data, so its name also carries the source's content fingerprint
    and the params, and a regenerated fixture at the same path never
    replays stale shards. ``write`` fills a private stage and leaves
    ``marker`` in it; `artifacts.publish` moves it into place."""
    name = os.path.abspath(path).strip(os.sep).replace(os.sep, "_")
    if params:
        name = "_".join([name, content_fingerprint(path), *map(str, params)])
    d = os.path.join(engine_root(), family, name)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    publish(d, marker, write)
    # one footer read: a file stream needs an explicit schema
    return (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(d)
    )


def _events(
    spark: SparkSession, sf_dir: str, stage: Callable[[str], DataFrame]
) -> DataFrame:
    """The events table as a stream, ``stage(path)`` opening the staged
    replay of its parquet file.

    The file carries ``ts`` as either TIMESTAMP(NANOS) — which Spark's
    parquet reader only accepts as raw int64 (legacy nanosAsLong flag —
    same handling as the batch path in catalog._load_events; ns → µs
    uses integer DIV to keep full precision) — or plain
    TIMESTAMP(MICROS). ``ts`` lands as TIMESTAMP (UTC session) because
    watermarks operate on event-time timestamps."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sdf = stage(table_path(sf_dir, "events"))
    if isinstance(sdf.schema["ts"].dataType, LongType):
        return sdf.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return sdf.withColumn("ts", F.col("ts").cast("timestamp"))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A file stream over the events parquet: one micro-batch over a
    staged directory holding a link to the file (a copy if the
    filesystem refuses links)."""

    def stage(path: str) -> DataFrame:
        link = os.path.basename(path)

        def write(d: str) -> None:
            try:
                os.symlink(path, os.path.join(d, link))
            except OSError:
                shutil.copy2(path, os.path.join(d, link))

        return _stream_source(spark, "minimapreduce_stream", path, link, write, 1)

    return _events(spark, sf_dir, stage)


def events_stream_sharded(
    spark: SparkSession, sf_dir: str, n_shards: int = 4
) -> DataFrame:
    """``events_stream`` variant that replays through MULTIPLE
    micro-batches: the table is staged once as ``n_shards`` parquet
    files (``table_stream_sharded``) and the file source is capped at
    one file per trigger, so an availableNow drain runs ``n_shards``
    real batches — exercising cross-batch state (upsert merges,
    stateful aggs) instead of one degenerate batch. Production streams
    get this for free from continuous file/Kafka arrival."""
    return _events(
        spark, sf_dir, lambda _: table_stream_sharded(spark, sf_dir, "events", n_shards)
    )


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

    def stage(path: str) -> DataFrame:
        # The shard loop appends n_shards times; `artifacts.publish`
        # builds each attempt in a fresh stage, so an interrupted build
        # can never leave a retry appending onto its partial shards.
        def write(d: str) -> None:
            base = spark.read.parquet(path)
            for i in range(n_shards):
                shard = base.where(
                    (F.col("event_id") % n_shards == i)
                    | (F.col("event_id") % redeliver_mod == 0)
                )
                shard.coalesce(1).write.mode("append").parquet(d)
            open(os.path.join(d, "_DONE"), "w").close()

        return _stream_source(
            spark, "minimapreduce_stream_redelivered", path, "_DONE", write, 1,
            n_shards, redeliver_mod,
        )

    return _events(spark, sf_dir, stage)


def events_stream_time_sliced_redelivered(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 10,
    redeliver_mod: int = 13,
    files_per_trigger: int = 1,
) -> DataFrame:
    """AT-LEAST-ONCE replay with a TIME-BOUNDED redelivery horizon:
    events sort by event time into ``n_slices`` contiguous time
    slices, one single-file micro-batch each (strictly increasing file
    mtimes, so the file-stream source
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

    def stage(path: str) -> DataFrame:
        def write(d: str) -> None:
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
                f = os.path.join(d, f"slice{i:02d}.parquet")
                pq.write_table(pa.concat_tables(parts), f)
                # deterministic strictly-increasing mtimes = replay order
                os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
            open(os.path.join(d, "_DONE"), "w").close()

        return _stream_source(
            spark, "minimapreduce_stream_timesliced", path, "_DONE", write,
            files_per_trigger, n_slices, redeliver_mod,
        )

    return _events(spark, sf_dir, stage)


def run_to_memory(sdf: DataFrame, output_mode: str) -> DataFrame:
    """Drain a streaming DataFrame through ``_drain`` and return what a
    sink in ``output_mode`` holds at the end.

    ``availableNow`` processes everything currently in the source then
    stops — deterministic, so the result is comparable to a batch oracle.
    Each micro-batch is eagerly ``localCheckpoint``ed; ``complete`` mode
    keeps the last batch, ``append`` and ``update`` keep every batch (a
    replayed ``batch_id`` replaces its first run), and the kept batches
    are unioned. Nothing is registered on the session, and the frames
    belong to the query's session clone (AQE off for stateful queries).
    """
    kept: dict[int, DataFrame] = {}

    def keep(batch_df: DataFrame, batch_id: int) -> None:
        if output_mode == "complete":
            kept.clear()
        kept[batch_id] = batch_df.localCheckpoint(eager=True)

    _drain(sdf, keep, None, output_mode)
    if not kept:
        return sdf.sparkSession.createDataFrame([], sdf.schema)
    return functools.reduce(DataFrame.union, kept.values())


def run_to_parquet(
    sdf: DataFrame, out_dir: str, checkpoint_dir: str, output_mode: str = "append"
) -> None:
    """Drain a streaming DataFrame into a parquet directory via
    ``foreachBatch`` with exactly-once restart semantics.

    Each micro-batch is published once as ``out_dir/batch_id=<n>``
    (``publish_batch``), so a batch replayed after a crash-restart gets
    its published directory back instead of appending duplicates, and
    ``spark.read.parquet(out_dir)`` sees ``batch_id`` as a partition
    column. Works for any output mode whose batches are self-contained
    (append/update).
    """
    _drain(
        sdf,
        lambda batch_df, batch_id: publish_batch(out_dir, batch_id, batch_df),
        checkpoint_dir,
        output_mode,
    )


def publish_batch(out_dir: str, batch_id: int, df: DataFrame) -> str:
    """Publish ``df`` as the parquet directory ``out_dir/batch_id=<n>``
    through ``artifacts.publish``, with ``_SUCCESS`` as the marker, and
    return it. A replayed ``batch_id`` gets the published directory
    back untouched, which makes a sink built on this idempotent per
    ``batch_id``: the sink half of exactly-once, the checkpoint's offset
    log being the source half."""
    os.makedirs(out_dir, exist_ok=True)
    return publish(
        os.path.join(out_dir, f"batch_id={batch_id}"),
        "_SUCCESS",
        lambda stage: df.write.mode("overwrite").parquet(stage),
    )


def batch_ids(out_dir: str, below: int | None = None) -> list[int]:
    """The ids of the batches published under ``out_dir``, ascending;
    only those under ``below`` when it is given."""
    try:
        names = os.listdir(out_dir)
    except FileNotFoundError:
        return []
    ids = sorted(int(n[len("batch_id="):]) for n in names if n.startswith("batch_id="))
    return [b for b in ids if below is None or b < below]


def read_batches(
    spark: SparkSession,
    out_dir: str,
    schema: str,
    below: int | None = None,
    last: bool = False,
) -> DataFrame:
    """The batches published under ``out_dir`` as one frame with
    ``schema``: only the batches under ``below`` when it is given, only
    the newest of those when ``last`` is set, and an empty frame when
    there are none."""
    ids = batch_ids(out_dir, below)
    if last:
        ids = ids[-1:]
    if not ids:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *(os.path.join(out_dir, f"batch_id={b}") for b in ids)
    )


def _drain(
    sdf: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None,
    output_mode: str,
) -> None:
    """Run ``batch_fn(batch_df, batch_id)`` on every micro-batch of
    ``sdf`` available now and return when the query has finished. The
    checkpoint's offset log at ``checkpoint_dir`` is the source half of
    exactly-once; ``batch_fn`` must be idempotent per ``batch_id`` for
    the sink half, which every drain that writes its batches out gets
    from ``publish_batch``. ``checkpoint_dir=None`` sets no location:
    Spark uses a temporary one (``java.io.tmpdir/temporary-*``) that it
    deletes when the query stops cleanly, and at JVM exit. An exception in
    ``batch_fn`` fails the query and is raised here.

    Every checkpoint file is written as a hidden temp file and renamed
    into place with ``rename(2)``. Offset and commit entries are
    created with ``createAtomic(overwriteIfPossible=False)``, which
    checks that the target does not exist and then renames: two steps,
    not one. That is safe only because each drain owns its checkpoint
    directory and no second query writes to it at the same time;
    nothing enforces this yet (an exclusive ``flock`` on keyed drain
    directories would)."""
    writer = sdf.writeStream.foreachBatch(batch_fn).outputMode(output_mode)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.trigger(availableNow=True).start().awaitTermination()


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
    """Multi-micro-batch replay of ANY fixture table: staged once as
    ``n_shards`` hash shards (content-keyed), one file per trigger.
    ``events_stream_sharded`` is this plus the events ``ts`` handling;
    the online ANN serving path uses it to replay the query vectors as
    a real query STREAM."""
    path = table_path(sf_dir, table)
    return _stream_source(
        spark,
        "minimapreduce_stream_tbl",
        path,
        "_SUCCESS",
        lambda d: spark.read.parquet(path)
        .repartition(n_shards)
        .write.mode("overwrite")
        .parquet(d),
        1,
        n_shards,
    )
