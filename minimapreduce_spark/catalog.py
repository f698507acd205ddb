"""Table catalog over the driver-generated parquet test data.

The reference's "catalog" was a CLI file list — one text file per map
split (mr/master.go:327-338). Here sources are real columnar tables with
schemas; ``spark.read.parquet`` gives partition-pruned, column-pruned,
filter-pushed scans for free.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region/nation are fixed-size; supplier/part/customer grow with SF but
# stay dims relative to lineitem/orders facts).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def content_fingerprint(path: str) -> str:
    """Cheap content fingerprint for artifact-root keys (the
    write-once index/view caches): for a bare parquet file,
    ``mtime_ns|size``; for a DIRECTORY table (Spark writes tables as
    directories whose top-level stat's st_size reflects the dirent,
    not the data), the file count, total byte size
    and max mtime_ns over the contained data files, so rewriting any
    data file in place rotates every derived artifact root."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return f"{st.st_mtime_ns}|{st.st_size}"
    n, total, mt = 0, 0, 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue  # _SUCCESS / hidden CRCs carry no content
            fst = os.stat(os.path.join(dirpath, f))
            n += 1
            total += fst.st_size
            mt = max(mt, fst.st_mtime_ns)
    return f"d{n}|{total}|{mt}"


# Rows a driver-local twin of a distributed loop may collect: BPE's
# (word, freq, seg) vocabulary (~100k rows is a few MB, the bound real
# tokenizer trainers collect word counts under) or Lloyd's grid points
# (100k points × 64 ints ≈ 50 MB). Gates read it at call time; above it
# the distributed loops run unchanged (the 100 TB path).
DRIVER_LOCAL_ROWS_MAX = 100_000

_ROWCOUNT_CACHE: dict[tuple[str, str], int] = {}


def parquet_rowcount(path: str) -> int:
    """Row count of a parquet file/directory from FOOTER METADATA only
    (no data pages read, no Spark job) — the volume hint behind
    scale-adaptive sizing decisions (streaming state width, Python-lane
    fan-out). Memoized per (path, content fingerprint) so a regenerated
    fixture invalidates; a decision hint, never a result."""
    key = (os.path.abspath(path), content_fingerprint(path))
    if key not in _ROWCOUNT_CACHE:
        import pyarrow.parquet as pq

        p = key[0]
        if os.path.isdir(p):
            total = 0
            for dirpath, _dirs, files in os.walk(p):
                for f in files:
                    if f.endswith(".parquet") and not f.startswith((".", "_")):
                        total += pq.ParquetFile(
                            os.path.join(dirpath, f)
                        ).metadata.num_rows
            _ROWCOUNT_CACHE[key] = total
        else:
            _ROWCOUNT_CACHE[key] = pq.ParquetFile(p).metadata.num_rows
    return _ROWCOUNT_CACHE[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Keep this the single entry point for scans so the
    whole engine inherits any source-level change (format, bucketing,
    partition layout) in one place."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # ts as TIMESTAMP_NTZ, the type of the other tables and the oracle
        return read_events(spark, sf_dir, spark.read.parquet, "timestamp_ntz")
    return spark.read.parquet(table_path(sf_dir, name))


def read_events(
    spark: SparkSession, sf_dir: str, read: Callable[[str], DataFrame], ts_type: str
) -> DataFrame:
    """The events table as ``read(path)`` opens it — a batch scan or a
    stream over a staged replay — with ``ts`` decoded to ``ts_type``.

    Driver-generated data has carried ``ts`` as either parquet
    TIMESTAMP(NANOS) — which Spark's reader rejects outright
    ([PARQUET_TYPE_ILLEGAL]) unless the legacy nanosAsLong flag maps it
    to raw int64 — or as plain TIMESTAMP(MICROS). Handle both: when the
    column arrives as a long it is nanos and we convert ns → µs with
    integer DIV (a double division would lose precision above 2^53 ns);
    when it is already a timestamp it is only cast."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read(table_path(sf_dir, "events"))
    if isinstance(df.schema["ts"].dataType, LongType):
        ts = F.timestamp_micros(F.expr("ts DIV 1000"))
    else:
        ts = F.col("ts")
    return df.withColumn("ts", ts.cast(ts_type))


def fan_out(
    spark: SparkSession,
    df: DataFrame,
    keys: list[str] | None = None,
) -> DataFrame:
    """Repartition a *small* scan up to the session's core count before
    an expensive per-row derivation (shingling, tokenizing, regex
    extraction, wide melts).

    A single small parquet file arrives as ONE input split, so everything
    computed before the first exchange runs on one core — measured at
    sf0.1, 5-gram shingling of ``documents`` takes 4.5 s single-threaded
    vs 0.4 s after this repartition (the shuffled text is only a few MB).
    At real scale the scan already has >= parallelism splits and this is
    a no-op, so no extra exchange ever reaches a 100 TB plan. Only worth
    it when the per-row work dominates the one-pass shuffle of the input
    rows — text pipelines yes, plain column aggs no.

    ``keys``: hash-partition on these columns instead of round-robin.
    Every keyless ``repartition(n)`` first pays a local sort of its
    input (spark.sql.execution.sortBeforeRepartition, on by default so
    task retries reproduce the same row placement — guide §2.5); a
    hash repartition on a high-cardinality deterministic key skips
    that sort and is retry-safe by construction. Prefer keys whenever
    the frame has a natural unique key.
    """
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    if keys:
        from pyspark.sql import functions as F

        return df.repartition(n, *[F.col(k) for k in keys])
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register temp views so SQL-form operators can run against them."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
