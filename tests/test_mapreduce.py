"""Compat-layer tests, mirroring main/test-mr.sh's protocol:
distributed output must equal the sequential oracle, order-insensitively;
plus parallelism and sink-layout checks."""

from __future__ import annotations

import glob
import os

from minimapreduce_spark import mrapps
from minimapreduce_spark.catalog import load_table
from minimapreduce_spark.mapreduce import run_job, run_job_sequential, write_text_output

from tests.conftest import SF_DIR

SMALL_CORPUS = [
    ("doc-a", "the quick brown fox"),
    ("doc-b", "the lazy dog and the fox"),
    ("doc-c", "Dog dog DOG; 42 foxes!"),
]


def _distributed(spark, app_map, app_reduce, n_reduce=5):
    df = run_job(spark, SMALL_CORPUS, app_map, app_reduce, n_reduce=n_reduce)
    return sorted(map(tuple, df.collect()))


def test_wc_matches_sequential_oracle(spark):
    got = _distributed(spark, mrapps.wc_map, mrapps.wc_reduce)
    want = sorted(run_job_sequential(SMALL_CORPUS, mrapps.wc_map, mrapps.wc_reduce))
    assert got == want
    assert ("the", "3") in got and ("dog", "2") in got  # case-sensitive: Dog != dog != DOG


def test_indexer_matches_sequential_oracle(spark):
    got = _distributed(spark, mrapps.indexer_map, mrapps.indexer_reduce)
    want = sorted(run_job_sequential(SMALL_CORPUS, mrapps.indexer_map, mrapps.indexer_reduce))
    assert got == want
    assert ("fox", "2 doc-a,doc-b") in got


def test_crash_agg_matches_sequential_oracle(spark):
    got = _distributed(spark, mrapps.crash_map, mrapps.crash_reduce)
    want = sorted(run_job_sequential(SMALL_CORPUS, mrapps.crash_map, mrapps.crash_reduce))
    assert got == want
    assert ("d", "xyzzy xyzzy xyzzy") in got


def test_n_reduce_invariance(spark):
    """Same (key, value) set for any shuffle width — the reference's
    nReduce-invariance (output compared as sorted concatenation)."""
    results = {
        n: _distributed(spark, mrapps.wc_map, mrapps.wc_reduce, n_reduce=n)
        for n in (1, 3, 7, None)
    }
    assert results[1] == results[3] == results[7] == results[None]


def test_default_width_follows_the_input(spark):
    """With no n_reduce the reduce side is as wide as the map side (the
    test session sets no spark.default.parallelism), not a constant."""
    assert not spark.sparkContext.getConf().contains("spark.default.parallelism")
    docs = spark.createDataFrame(SMALL_CORPUS, "name string, contents string")
    for width in (1, 3):
        source = docs.repartition(width)
        df = run_job(spark, source, mrapps.wc_map, mrapps.wc_reduce)
        assert df.rdd.getNumPartitions() == source.rdd.getNumPartitions() == width


def test_reduce_parallelism(spark):
    """rtiming analog: reduce work is spread over >=2 partitions."""
    df = run_job(spark, SMALL_CORPUS, mrapps.wc_map, mrapps.wc_reduce, n_reduce=4)
    nonempty = (
        df.rdd.mapPartitionsWithIndex(lambda i, it: [(i, sum(1 for _ in it))])
        .filter(lambda x: x[1] > 0)
        .count()
    )
    assert df.rdd.getNumPartitions() == 4
    assert nonempty >= 2


def test_text_sink_layout(spark, tmp_path):
    """Sink writes 'key value' lines, one file set per partition
    (mr-out-<i> analog); sorted concatenation equals the oracle."""
    df = run_job(spark, SMALL_CORPUS, mrapps.wc_map, mrapps.wc_reduce, n_reduce=3)
    out = str(tmp_path / "mr-out")
    write_text_output(df, out)
    lines = []
    for f in glob.glob(os.path.join(out, "part-*")):
        with open(f) as fh:
            lines.extend(line.rstrip("\n") for line in fh if line.strip())
    want = sorted(f"{k} {v}" for k, v in run_job_sequential(SMALL_CORPUS, mrapps.wc_map, mrapps.wc_reduce))
    assert sorted(lines) == want


def test_whole_files_source(spark, tmp_path):
    """Path/glob source: one whole text file per record, the reference's
    exact input model (mr/master.go:327-338)."""
    for name, contents in SMALL_CORPUS:
        (tmp_path / f"{name}.txt").write_text(contents)
    df = run_job(spark, str(tmp_path / "*.txt"), mrapps.wc_map, mrapps.wc_reduce, n_reduce=3)
    got = sorted((k, v) for k, v in map(tuple, df.collect()))
    want = sorted(run_job_sequential(SMALL_CORPUS, mrapps.wc_map, mrapps.wc_reduce))
    assert got == want


def test_mr_path_equals_dataframe_path(spark, duck):
    """The compat engine and the DataFrame-native engine agree on the
    documents table (distributed-vs-oracle diff at test scale)."""
    from tests.conftest import run_and_compare

    run_and_compare(spark, duck, "mr_wordcount")
    run_and_compare(spark, duck, "mr_inverted_index")


def test_cli_distributed_matches_sequential(spark, tmp_path):
    """The reference's core test (main/test-mr.sh:31-67): run the CLI in
    distributed and sequential mode over the same files; the sorted
    concatenation of output lines must be identical."""
    from minimapreduce_spark.__main__ import main

    data = tmp_path / "books"
    data.mkdir()
    for name, contents in SMALL_CORPUS:
        (data / f"pg-{name}.txt").write_text(contents)

    for app in ("wc", "indexer", "nocrash"):
        dist, seq = tmp_path / f"out-{app}", tmp_path / f"seq-{app}"
        assert main([app, str(dist), str(data / "pg-*.txt")], spark=spark) == 0
        assert main(["--sequential", app, str(seq), str(data / "pg-*.txt")]) == 0
        dist_lines = sorted(
            line
            for p in glob.glob(str(dist / "part-*"))
            for line in open(p).read().splitlines()
            if line
        )
        seq_lines = sorted((seq / "mr-out-0").read_text().splitlines())
        assert dist_lines == seq_lines, app


def test_cli_lines_mode_takes_several_inputs(spark, tmp_path):
    """Lines mode over two files given as two arguments reads both (each
    argument is expanded as its own glob) and matches --sequential."""
    from minimapreduce_spark.__main__ import main

    inputs = []
    for name, contents in SMALL_CORPUS[:2]:
        p = tmp_path / f"pg-{name}.txt"
        p.write_text(contents)
        inputs.append(str(p))
    dist, seq = tmp_path / "out", tmp_path / "seq"
    assert main(["--source-mode", "lines", "wc", str(dist), *inputs], spark=spark) == 0
    assert main(["--sequential", "wc", str(seq), *inputs]) == 0
    dist_lines = sorted(
        line
        for p in glob.glob(str(dist / "part-*"))
        for line in open(p).read().splitlines()
        if line
    )
    assert dist_lines == sorted((seq / "mr-out-0").read_text().splitlines())


def test_partition_invariance(spark):
    """The n_reduce contract generalized: shuffle width must never change
    results. Run shuffle-heavy queries at 2 and 32 shuffle partitions."""
    from minimapreduce_spark import queries as q

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n in ("2", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            for name in ("wordcount", "q1_pricing_summary", "dedup_minhash"):
                rows = sorted(map(tuple, q.queries()[name](spark, SF_DIR).collect()))
                results.setdefault(name, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for name, (a, b) in results.items():
        assert a == b, f"{name}: results depend on shuffle partition count"


# ---------------------------------------------------------------------------
# Property-based: the distributed engine must equal the sequential oracle
# for ANY corpus and ANY shuffle width — the reference's test protocol
# (main/test-mr.sh golden diff) generalized from 8 fixed books to
# generated inputs.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_contents = st.text(
    alphabet="abAB xyZ.,;\n\t0-", min_size=0, max_size=200
)
_corpus = st.lists(
    st.tuples(st.sampled_from(["d1", "d2", "d3", "d4"]), _contents),
    min_size=1,
    max_size=4,
    unique_by=lambda nc: nc[0],
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_corpus, n_reduce=st.sampled_from([1, 3, 10, None]))
def test_runjob_equals_sequential_for_any_corpus(spark, corpus, n_reduce):
    for mapf, reducef in (
        (mrapps.wc_map, mrapps.wc_reduce),
        (mrapps.indexer_map, mrapps.indexer_reduce),
    ):
        got = sorted(
            map(tuple, run_job(spark, corpus, mapf, reducef, n_reduce=n_reduce).collect())
        )
        want = sorted(run_job_sequential(corpus, mapf, reducef))
        assert got == want


def test_mr_reduce_side_join_matches_oracle(spark, duck):
    from tests.conftest import run_and_compare

    run_and_compare(spark, duck, "mr_reduce_side_join")


def test_task_retry_recovers_injected_crash(tmp_path):
    """The reference's crash test (main/test-mr.sh:156-203 with
    mrapps/crash.go): workers die mid-task and the job must still finish
    with correct output. Spark's analog is task re-execution
    (spark.task.maxFailures), which local mode only enables via the
    master string local[N, maxFailures] — hence a subprocess with its
    own session. The flaky map raises on every partition's first
    attempt; retries must complete the wordcount correctly."""
    import subprocess
    import sys
    import textwrap

    script = tmp_path / "crash_job.py"
    script.write_text(
        textwrap.dedent(
            """
            import sys
            sys.path.insert(0, "/root/repo")
            from pyspark import TaskContext
            from pyspark.sql import SparkSession

            from minimapreduce_spark import mrapps
            from minimapreduce_spark.mapreduce import run_job, run_job_sequential

            spark = (
                SparkSession.builder.master("local[4, 3]")
                .appName("crash-recovery")
                .config("spark.sql.shuffle.partitions", "4")
                .config("spark.ui.enabled", "false")
                .getOrCreate()
            )
            CORPUS = [("d1", "a b a"), ("d2", "b c"), ("d3", "a a c c")]

            def flaky_map(name, contents):
                ctx = TaskContext.get()
                if ctx is not None and ctx.attemptNumber() == 0:
                    raise RuntimeError("injected crash (mrapps/crash.go analog)")
                return mrapps.wc_map(name, contents)

            got = sorted(
                map(tuple, run_job(spark, CORPUS, flaky_map, mrapps.wc_reduce, n_reduce=3).collect())
            )
            want = sorted(run_job_sequential(CORPUS, mrapps.wc_map, mrapps.wc_reduce))
            assert got == want, (got, want)
            print("CRASH-RECOVERY-OK")
            """
        )
    )
    out = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=300
    )
    assert "CRASH-RECOVERY-OK" in out.stdout, out.stderr[-2000:]


def test_keys_and_values_with_spaces_survive(spark):
    """SURVEY §1 divergence, pinned: the reference corrupts any key or
    value containing a space (mr/worker.go:196-202 re-parses its
    intermediate text lines by splitting on ONE space, keeping only
    kv[0]/kv[1]). This engine carries (key, value) as typed columns
    end-to-end, so embedded spaces — multi-word keys, sentence values
    — survive the full distributed pipeline bit-for-bit."""

    def mapf(name, contents):
        # multi-word keys AND multi-word values
        return [
            ("New York", "Empire State of Mind"),
            ("New York", "album  double-space"),
            ("San Francisco", contents),
        ]

    def reducef(key, values):
        return " | ".join(sorted(values))

    corpus = [("doc1", "full text body"), ("doc2", "x y z")]
    got = sorted(map(tuple, run_job(spark, corpus, mapf, reducef, n_reduce=3).collect()))
    want = sorted(run_job_sequential(corpus, mapf, reducef))
    assert got == want
    keys = {k for k, _ in got}
    assert keys == {"New York", "San Francisco"}
    ny = dict(got)["New York"]
    assert "Empire State of Mind" in ny and "album  double-space" in ny


def test_cli_user_app_plugin(spark, tmp_path):
    """The reference loads arbitrary user Map/Reduce plugins at run time
    (mrworker wc.so — main/mrworker.go:36-55). The CLI analog accepts
    path/to/module.py (exported names Map/Reduce, like the Go plugin)
    or module.py:mapf:reducef; both must run through the distributed
    AND sequential engines with identical output."""
    from minimapreduce_spark.__main__ import main

    data = tmp_path / "books"
    data.mkdir()
    for name, contents in SMALL_CORPUS:
        (data / f"pg-{name}.txt").write_text(contents)

    plugin = tmp_path / "vowelcount.py"
    plugin.write_text(
        "def Map(name, contents):\n"
        "    return [(c, '1') for c in contents if c in 'aeiou']\n"
        "def Reduce(key, values):\n"
        "    return str(len(values))\n"
        "def alt_reduce(key, values):\n"
        "    return 'x' + str(len(values))\n"
    )

    for spec in (str(plugin), f"{plugin}:Map:alt_reduce"):
        tag = "default" if ":" not in spec else "named"
        dist, seq = tmp_path / f"out-{tag}", tmp_path / f"seq-{tag}"
        assert main([spec, str(dist), str(data / "pg-*.txt")], spark=spark) == 0
        assert main(["--sequential", spec, str(seq), str(data / "pg-*.txt")]) == 0
        dist_lines = sorted(
            line
            for p in glob.glob(str(dist / "part-*"))
            for line in open(p).read().splitlines()
            if line
        )
        seq_lines = sorted((seq / "mr-out-0").read_text().splitlines())
        assert dist_lines == seq_lines and dist_lines, spec


def test_cli_unknown_app_rejected(tmp_path):
    from minimapreduce_spark.__main__ import load_app

    import pytest

    with pytest.raises(SystemExit):
        load_app("no_such_app")
    with pytest.raises(SystemExit):
        load_app(str(tmp_path / "missing.py"))


def test_cli_crash_loop_e2e(tmp_path):
    """Faithful port of the reference's crash scenario
    (main/test-mr.sh:156-203 + mrapps/crash.go:20-32): the crash app
    randomly os._exit(1)s or stalls inside map AND reduce UDFs; the
    engine's retry machinery (master local[4,16]) must still finish,
    and the output must cmp-equal the nocrash sequential golden —
    exactly the script's protocol. Runs in a subprocess because
    maxFailures is a SparkContext-level setting."""
    import subprocess
    import sys
    import textwrap

    data = tmp_path / "books"
    data.mkdir()
    for name, contents in SMALL_CORPUS:
        (data / f"pg-{name}.txt").write_text(contents)

    script = tmp_path / "crash_loop.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import glob, os, sys
            sys.path.insert(0, "/root/repo")
            os.environ["MR_CRASH_MAX_SLEEP"] = "0.5"
            from minimapreduce_spark.__main__ import main

            dist, seq = {str(tmp_path / 'out-crash')!r}, {str(tmp_path / 'seq-golden')!r}
            pat = {str(data / 'pg-*.txt')!r}
            assert main(["crash", dist, pat, "--master", "local[4,16]",
                         "--n-reduce", "5"]) == 0
            # golden: sequential nocrash (test-mr.sh builds it the same way)
            assert main(["--sequential", "nocrash", seq, pat]) == 0
            dist_lines = sorted(
                line
                for p in glob.glob(os.path.join(dist, "part-*"))
                for line in open(p).read().splitlines()
                if line
            )
            seq_lines = sorted(open(os.path.join(seq, "mr-out-0")).read().splitlines())
            assert dist_lines == seq_lines and dist_lines, (dist_lines[:3], seq_lines[:3])
            print("CRASH-LOOP-OK")
            """
        )
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=300,  # the reference allots 180 s per job
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert "CRASH-LOOP-OK" in out.stdout, out.stderr[-3000:]


def test_line_mode_passes_real_filenames(spark, tmp_path):
    """mr/worker.go:68 always hands mapf the real input filename; the
    line-split source must preserve that (a first cut passed a
    synthetic "line" constant)."""
    from minimapreduce_spark.mapreduce import run_job

    data = tmp_path / "txt"
    data.mkdir()
    (data / "alpha.txt").write_text("a b\nc\n")
    (data / "beta.txt").write_text("d\n")

    def name_map(name, contents):
        return [(name, "1")]

    def count_reduce(key, values):
        return str(len(values))

    for mode, expected_counts in (
        ("whole_files", {"alpha.txt": "1", "beta.txt": "1"}),
        ("lines", {"alpha.txt": "2", "beta.txt": "1"}),
    ):
        rows = run_job(
            spark, str(data / "*.txt"), name_map, count_reduce,
            n_reduce=3, source_mode=mode,
        ).collect()
        got = {os.path.basename(r.key): r.value for r in rows}
        assert got == expected_counts, (mode, rows)
        # full paths, not synthetic constants
        assert all(r.key.endswith((".txt",)) and "/" in r.key for r in rows), rows


def test_line_mode_glob_without_matches_raises(spark, tmp_path):
    """An empty lines-mode glob is an error, not an empty result."""
    import pytest

    with pytest.raises(FileNotFoundError, match="no input matches"):
        run_job(
            spark, str(tmp_path / "*.txt"), mrapps.wc_map, mrapps.wc_reduce, source_mode="lines"
        )
