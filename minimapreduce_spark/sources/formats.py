"""Format-dispatched readers and writers.

One entry point per direction so the rest of the engine never touches
``spark.read`` directly for non-catalog data — format choices, schema
enforcement, and scale-relevant options live here.
"""

from __future__ import annotations

import math
import re
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

READ_FORMATS = ("parquet", "orc", "csv", "json", "text")
WRITE_FORMATS = ("parquet", "orc", "csv", "json", "text")


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Read ``path`` in ``fmt``.

    For csv/json, pass ``schema`` in production: schema inference is a
    full extra pass over the data (at 100 TB, a full extra job). It is
    only acceptable here for tests and exploration.
    """
    if fmt not in READ_FORMATS:
        raise ValueError(f"unknown source format {fmt!r}; known: {READ_FORMATS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt == "csv":
        options.setdefault("inferSchema", "true")
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.format(fmt).options(**options).load(path)


def whole_text_files(spark: SparkSession, glob: str, min_partitions: int = 2) -> DataFrame:
    """The reference's exact input model (one whole file = one record =
    one split) as a DataFrame of (path, content).

    Scale caveat (SURVEY §7 hard-part a): a record per FILE means a
    task must hold a whole file in memory — fine for documents, wrong
    for huge files; chunk-split sources (read_source with 'text') are
    the 100 TB path."""
    rdd = spark.sparkContext.wholeTextFiles(glob, minPartitions=min_partitions)
    return spark.createDataFrame(rdd, schema="path string, content string")


def write_sink(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Write ``df`` to ``path`` in ``fmt``.

    ``partition_by`` produces hive-style directory partitioning —
    the coarse pruning lever for 100 TB tables (readers skip whole
    directories; combine with in-file row-group pruning via sorted
    writes). 'text' expects a single string column."""
    if fmt not in WRITE_FORMATS:
        raise ValueError(f"unknown sink format {fmt!r}; known: {WRITE_FORMATS}")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        options.setdefault("header", "true")
    writer.format(fmt).options(**options).save(path)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int = 4,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write with a range-partitioned, within-file-sorted layout.

    ``repartitionByRange`` gives each output file a disjoint key range
    and ``sortWithinPartitions`` orders rows inside it, so every parquet
    row group carries tight min/max stats on ``sort_cols``. A reader
    filtering on those columns then skips whole files (range pruning)
    and whole row groups (footer stats) instead of scanning — the
    in-file complement to hive-style directory partitioning, and the
    difference between touching ~1/N and all of a 100 TB table for a
    range predicate."""
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .format(fmt)
        .save(path)
    )


def compact_small_files(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Compact a directory of many small parquet files into ~target-size
    ones; returns the output file count.

    The small-files problem is the silent killer of 100 TB tables:
    every file costs a scan task, a footer read, and a catalog entry,
    so a table of 10 KB files is bottlenecked on task scheduling, not
    IO. Compaction sizes the output from the actual input bytes and
    uses ``coalesce`` — a narrow, shuffle-free merge of input splits
    into fewer tasks — so rewriting N small files moves each byte
    exactly once. (Trade-off vs ``repartition``: coalesce preserves
    input clustering per merged group but not a global balance; for a
    strict size/sort layout use write_sorted instead.)
    """
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(in_dir)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(in_dir).coalesce(n_files).write.mode("overwrite").parquet(out_dir)
    return n_files


def publish_atomic(df, final_dir: str, fmt: str = "parquet") -> None:
    """All-or-nothing batch publish: write to a staging sibling, then
    rename into place — a reader that has already resolved ``final_dir``
    sees the old complete dataset or the new complete dataset, never a
    half-written mix.

    Spark's own output committer makes ONE write atomic per directory,
    but overwrite-in-place still exposes a window where the old data is
    deleted and the new not yet committed; staging + rename closes it.
    Precisely: the swap is two renames (final→old, staging→final), so
    there IS a brief window where ``final_dir`` does not exist and a
    brand-new open() fails with ENOENT — a visible-but-safe outcome
    (retry), never a partial dataset. A crash inside that window leaves
    no live ``final_dir``; recovery = rename ``<final>.old`` or
    ``<final>.staging`` back by hand. A single-syscall directory
    EXCHANGE (renameat2 RENAME_EXCHANGE) would close even that window
    but has no portable Python surface. On object stores substitute the
    table format's metadata commit, which is this same idea one level
    down. The previous version is left as ``<final>.old`` for one-step
    rollback.

    Local-filesystem only BY CONSTRUCTION: the swap uses os.rename, so
    a non-local URI (hdfs://, s3a://) is rejected up front rather than
    written via Spark and then mangled by local-path syscalls.

    No engine code calls it any more; it stays only because
    ``perfbench/probes.py`` ``WRAPPED`` names it, and goes together with
    that entry once perfbench reads engine-native trace events.
    """
    import os
    import shutil

    if re.match(r"^[a-z][a-z0-9+.-]*://", final_dir) or final_dir.startswith("file:"):
        raise ValueError(
            f"publish_atomic swaps directories with os.rename and only "
            f"supports local filesystem paths, got {final_dir!r}; on "
            f"HDFS/object stores use the storage layer's own atomic "
            f"rename/commit instead"
        )

    staging = final_dir.rstrip("/") + ".staging"
    backup = final_dir.rstrip("/") + ".old"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    df.write.format(fmt).save(staging)
    if not os.path.exists(os.path.join(staging, "_SUCCESS")):
        raise RuntimeError(f"staging write incomplete: no _SUCCESS in {staging}")
    if os.path.exists(backup):
        shutil.rmtree(backup)
    if os.path.exists(final_dir):
        os.rename(final_dir, backup)
    os.rename(staging, final_dir)
