"""SparkSession factory with the engine's scale-posture defaults.

The reference engine's only tunables were ``nReduce`` (shuffle width,
mr/master.go:305-345) and a 10 s straggler timeout (mr/master.go:240).
Spark subsumes both: shuffle width is ``spark.sql.shuffle.partitions``
(+ AQE coalescing at runtime) for DataFrames and Spark's default reduce
width for ``run_job``'s RDD shuffle (mapreduce.py says why), and
straggler recovery is speculation / task retry config. Everything here
is config, not code — per SURVEY §4 no custom scheduler is needed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "minimapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local mode is the test harness; on a real cluster the same configs
    hold except ``master`` and memory sizing come from the submitter.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 4)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Shuffle width ~ cores locally; AQE coalesces small partitions and
        # splits skewed ones at runtime, so this is a ceiling not a law.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Oracle comparison (DuckDB) is UTC-naive; pin the session TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Streaming state store: RocksDB + changelog checkpointing.
        # It beat the HDFS-backed default on both stateful headliners at
        # sf0.1 (SCALING.md, "RocksDB state store": exactly-once
        # 6.3 -> 4.7 s, timer sessions 22.4 -> 19.4 s), and each commit
        # uploads the batch's changelog rather than a full snapshot, so
        # commit cost follows per-batch updates, not total state.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        # Checkpoint files (offsets, commits, sources, state) go through
        # FileSystem.rename: a hidden temp file, then one rename(2) on the
        # local filesystem, which is where every checkpoint of this
        # engine lives (engine_root(), TemporaryDirectory, Spark's
        # java.io.tmpdir/temporary-*). The default FileContext manager
        # calls Hadoop's FileUtil.readLink on every rename of a file:
        # path, which forks a `readlink` (~1.4 ms each) that always
        # fails: ~408 forks per perfbench ingest_maintain pass, none
        # with this manager. The `chmod` forks RawLocalFileSystem makes
        # per create and mkdir without NativeIO (~150 a pass) remain;
        # the .crc checksum files are kept.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Straggler / failure posture ~= the reference's 10 s reschedule +
        # zombie eviction (mr/master.go:220-279), expressed as config.
        .config("spark.speculation", "true")
        .config("spark.task.maxFailures", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# State shards hold ~this many rows each (a few MB at the fixture's row
# widths): small enough that a shard's per-batch state-store commit is
# amortized by real update work, large enough that shard count grows
# linearly with streaming throughput instead of sitting at a constant.
# Basis (CHANGES.md, "Stream drain width measurements"): every drain's
# wall is FLAT across a wide width band at fixture volume
# (session-window 4-16 at ~100k rows/batch, upsert 1-16 at ~25k,
# exactly-once 4-8 at ~20k) and regresses outside it, so the
# derivation only needs to land inside the band — 8k rows/shard puts
# all three drains there.
STREAM_STATE_ROWS_PER_SHARD = 8_000


def stream_state_width(spark: SparkSession, batch_rows: int) -> int:
    """State-shard count for a streaming drain, derived from per-batch
    volume rather than fixed (a hard-coded width only fits the fixture
    it was tuned on): ceil(batch_rows / STREAM_STATE_ROWS_PER_SHARD),
    floored at 2 (state stays distributed even for tiny replays) and
    clamped to the session's shuffle width — at production batch
    volumes the clamp binds and state shards = cluster width, the
    standard posture; below it, shards track throughput so per-batch
    commit fan-out never dwarfs the update work. Semantics are
    partition-count invariant (keyed state; pytest-pinned repo-wide),
    so this is sizing, never meaning."""
    import math

    session_width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    width = max(2, math.ceil(max(0, batch_rows) / STREAM_STATE_ROWS_PER_SHARD))
    return max(1, min(width, session_width))


_NARROW_CLONES: dict[tuple[str, int], SparkSession] = {}


def narrow_clone(spark: SparkSession, shuffle_partitions: int) -> SparkSession:
    """ONE cached narrowed-shuffle-width session clone per
    (SparkContext, width) — the streaming queries that size their
    state/commit fan-out to per-batch volume (exactly-once ingest,
    SCD2 history, streaming index probe) share a clone instead of
    each invocation leaking a fresh ``newSession()`` into a
    long-lived driver. The clone shares the SparkContext but has an
    isolated SQLConf, so the narrow width can never bleed into the
    caller's session mid-drain; context-level settings such as the
    state-store provider and the checkpoint file manager carry over.

    Cross-session frame-mixing note for callers: DataFrames built on
    the clone (e.g. artifact index frames) may be combined inside a
    ``foreachBatch`` body with the micro-batch frame, which technically
    belongs to the streaming runtime's own session — legal because
    both resolve against the same SparkContext/catalog, an assumption
    current Spark upholds for same-context sessions."""
    key = (spark.sparkContext.applicationId, shuffle_partitions)
    s = _NARROW_CLONES.get(key)
    if s is None:
        s = spark.newSession()
        s.conf.set("spark.sql.session.timeZone", "UTC")
        s.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        _NARROW_CLONES[key] = s
    return s
