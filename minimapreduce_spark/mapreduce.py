"""MapReduce-compat layer: the reference's exact job model on Spark.

The reference runs one Map stage + one Reduce stage with a hard shuffle
barrier (mr/master.go:170-189): read whole files → user
``mapf(name, contents) -> [(k, v)]`` (mr/worker.go:55-109) →
FNV-hash-partition into ``nReduce`` buckets (mr/worker.go:40-44,94-101) →
per-partition sort → streaming run-detection grouping
(mr/worker.go:132-157) → user ``reducef(key, values) -> str`` →
``"key value"`` text lines (mr/worker.go:159-174).

``run_job`` reproduces that contract on Spark primitives:

- map           → ``rdd.flatMap(mapf)``
- hash shuffle  → ``repartitionAndSortWithinPartitions(n_reduce,
                  portable_hash)``. The exact hash differs (FNV vs
                  Python's portable hash) — the contract is only "same
                  key → same partition", which both satisfy.
- nReduce       → Spark's default reduce width unless the caller pins
                  one: ``spark.default.parallelism`` if set, else the
                  map side's partition count, which Spark sizes from
                  the input (R follows the data, Dean & Ghemawat, OSDI
                  2004, §3.5). The reference's constant nReduce=10
                  (main/mrmaster.go:23) is not copied: each reduce
                  partition is a Python task with a fixed set-up cost
                  that no amount of data amortizes, so a width wider
                  than the data only adds tasks.
- sorted group  → ``itertools.groupby`` over the partition iterator:
                  the same single-pass run detection as the reference,
                  but streaming — it never materializes a whole bucket
                  (the reference reads the full bucket into memory,
                  mr/worker.go:114-130, and would OOM first).
- reduce        → ``reducef(key, values)`` per run.
- fault tolerance / stragglers / barrier → Spark scheduler config
                  (SURVEY §2a#9-10); nothing to implement.

Scale note (SURVEY §7 "hard parts"): whole-file-per-record matches the
reference (one file = one split, mr/master.go:327-338) and is fine for
book-sized inputs, but wrong for 100 TB; ``source_mode="lines"`` reads
line-split records instead so map tasks scale with bytes, not files;
with the default width the reduce side then scales with them too.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.rdd import portable_hash
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MapF = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceF = Callable[[str, list[str]], str]


def _glob(spark: SparkSession, pattern: str) -> list[str]:
    """The paths a Hadoop glob matches, listed through the JVM's
    ``FileSystem`` so every scheme Spark can read works. Handing
    ``spark.read.text`` the concrete paths keeps it from probing
    ``<glob>/_spark_metadata``, which logs a FileNotFoundException
    stack trace on every read of a glob."""
    path = spark._jvm.org.apache.hadoop.fs.Path(pattern)
    matches = path.getFileSystem(spark._jsc.hadoopConfiguration()).globStatus(path)
    if not matches:
        raise FileNotFoundError(f"no input matches {pattern!r}")
    return [m.getPath().toString() for m in matches]


def read_lines(spark: SparkSession, patterns: list[str]) -> DataFrame:
    """(name, value) per line of every file the globs match: the
    lines-mode input. The reference ALWAYS hands mapf the real input
    filename (mr/worker.go:68); input_file_name() preserves that
    contract for line-split records too (the URI scheme prefix is
    stripped so names match the whole-file mode)."""
    paths = [p for pattern in patterns for p in _glob(spark, pattern)]
    return spark.read.text(paths).select(
        F.regexp_replace(F.input_file_name(), r"^file:/*", "/").alias("name"),
        F.col("value"),
    )


def _source_rdd(spark: SparkSession, source, source_mode: str):
    """Normalize the input to RDD[(name, contents)].

    Accepts a path/glob (the reference's CLI file list), a two-column
    DataFrame (name-ish, content), or a list of (name, contents) pairs.
    """
    sc = spark.sparkContext
    if isinstance(source, str):
        if source_mode == "whole_files":
            return sc.wholeTextFiles(source)
        return read_lines(spark, [source]).rdd.map(tuple)
    if isinstance(source, DataFrame):
        c0, c1 = source.columns[:2]
        return source.select(
            F.col(c0).cast("string").alias("name"), F.col(c1).cast("string").alias("contents")
        ).rdd.map(tuple)
    return sc.parallelize(list(source))


def run_job(
    spark: SparkSession,
    source,
    mapf: MapF,
    reducef: ReduceF,
    n_reduce: int | None = None,
    source_mode: str = "whole_files",
) -> DataFrame:
    """Run a reference-style MapReduce job; returns DataFrame(key, value).

    ``n_reduce=None`` lets Spark pick the reduce width: the session's
    ``spark.default.parallelism`` if set, else the number of map
    partitions. Each reduce partition is a Python task with a fixed
    start-up cost, so the width follows the input rather than a
    constant. An explicit ``n_reduce`` (floored at 1) pins it.

    Output is partition-count invariant: any ``n_reduce`` yields the same
    (key, value) set, exactly as the reference's output is invariant to
    nReduce (main/test-mr.sh compares sorted concatenation).
    """
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()  # user mapf/reducef may live in our modules
    records = _source_rdd(spark, source, source_mode)
    kvs = records.flatMap(lambda nc: mapf(nc[0], nc[1]))
    parted = kvs.repartitionAndSortWithinPartitions(
        numPartitions=None if n_reduce is None else max(int(n_reduce), 1),
        partitionFunc=portable_hash,
        ascending=True,
    )

    def reduce_partition(it: Iterator[tuple[str, str]]):
        import itertools

        for key, group in itertools.groupby(it, key=lambda kv: kv[0]):
            yield key, reducef(key, [v for _, v in group])

    out = parted.mapPartitions(reduce_partition, preservesPartitioning=True)
    return spark.createDataFrame(out, schema="key string, value string")


def run_job_sequential(source: Iterable[tuple[str, str]], mapf: MapF, reducef: ReduceF) -> list[tuple[str, str]]:
    """The correctness oracle: the reference's single-threaded engine
    (main/mrsequential.go:25-87) — map all, global sort, group, reduce.
    Used by tests to golden-diff the distributed path, mirroring
    main/test-mr.sh:59-67."""
    import itertools

    kvs: list[tuple[str, str]] = []
    for name, contents in source:
        kvs.extend(mapf(name, contents))
    kvs.sort(key=lambda kv: kv[0])
    return [
        (key, reducef(key, [v for _, v in group]))
        for key, group in itertools.groupby(kvs, key=lambda kv: kv[0])
    ]


def write_text_output(df: DataFrame, out_dir: str) -> None:
    """The reference's sink: ``"key value"`` lines, one file per reduce
    partition (mr/worker.go:159-174; Spark writes part-* files per
    partition, the same layout as mr-out-<i>)."""
    df.select(F.concat_ws(" ", F.col("key"), F.col("value")).alias("value")).write.mode(
        "overwrite"
    ).text(out_dir)
