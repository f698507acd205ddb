#!/usr/bin/env python3
"""Closed-loop benchmark of the minimapreduce_spark engine.

    python3 perfbench/run.py --workload <mr_jobs|ingest_maintain>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One driver process on
``local[nproc]`` is the only client: it submits each job when the
previous one has finished. A run is

1. set-up: imports, staging the fixture (and, for ``mr_jobs``,
   generating the seeded corpus), ``get_spark``, base artifact builds,
   and one or two untimed warm-up passes, the first of which collects
   every job's output for the check;
2. timed passes over the workload's jobs, in a seeded order, each job
   executed through the noop sink: as many whole passes as ``--seconds``
   holds at the workload's nominal pass time, and at least two;
3. the check: every job's warm-up output against its oracle (DuckDB
   over the same fixture, or the sequential MapReduce engine).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. A traced
run interleaves untraced and traced passes: per-layer numbers come from
the traced ones, ``trace.overhead_frac`` from the ratio of the two.
The line before it records the run's environment and per-job results.

Every file the engine, Spark and the Python workers write goes to a
private root under ``.perfbench_tmp/``, deleted at exit. Write-path
passes (``ingest_maintain``) each start from a fresh root seeded, by
hardlinks, with only what the engine memoizes from the fixture alone.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import jobs as J  # noqa: E402
import probes as P  # noqa: E402

SCALES = {
    # fixture, corpus files, words per corpus file
    "bench": ("sf0.01", 8, 20_000),
    "tiny": ("sf0.001", 2, 2_000),
}
UUID_DIR = re.compile(r"^[0-9a-f]{32}$")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(J.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench")
    ap.add_argument("--spans", metavar="FILE", default=None,
                    help="with --trace 1, write every traced pass's spans to FILE as JSON")
    ap.add_argument("--plant-wrong-hash", metavar="JOB", default=None,
                    help="replace JOB's expected hash (self-test of the check)")
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ isolation


def memo_entries(tmp: str) -> list[str]:
    """Top-level engine entries derived from the fixture alone: base
    index/view roots and staged stream slices. Roots that claim a
    parent (appends, compactions, rebuilds) are left out, so every pass
    does its own per-arrival write."""
    from minimapreduce_spark.artifacts import PARENT_MARKER

    return sorted(
        n for n in os.listdir(tmp)
        if n.startswith("minimapreduce_")
        and not os.path.exists(os.path.join(tmp, n, PARENT_MARKER))
    )


def seed_root(src: str, names: list[str], dest: str) -> set[tuple[int, int]]:
    """Hardlink the memoized entries into a fresh root; returns their inodes."""
    os.makedirs(dest)
    for n in names:
        s, d = os.path.join(src, n), os.path.join(dest, n)
        if os.path.isdir(s) and not os.path.islink(s):
            shutil.copytree(s, d, symlinks=True, copy_function=os.link,
                            ignore=lambda _d, fs: [f for f in fs if UUID_DIR.match(f)])
        else:
            os.link(s, d, follow_symlinks=False)
    return {k for k, _ in _files(dest)}


def _files(root: str):
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                st = os.lstat(os.path.join(dirpath, f))
            except OSError:
                continue
            yield (st.st_dev, st.st_ino), st.st_size


def new_bytes(root: str, seeded: set) -> tuple[int, int]:
    """(bytes, files) written under ``root`` since it was seeded."""
    seen, total = set(), 0
    for key, size in _files(root):
        if key not in seeded and key not in seen:
            seen.add(key)
            total += size
    return total, len(seen)


# -------------------------------------------------------------- the run


class Bench:
    def __init__(self, args, priv: str):
        self.a = args
        self.priv = priv
        self.n = nproc()
        self.tracer = P.Tracer() if args.trace else None
        self.failed: dict[str, int] = {}
        self.attempted = 0
        self.spark = None
        self.rng = random.Random(args.seed)
        self.written: list[int] = []
        self.span_log: list[list] = []
        self.steal0 = P.steal_s()
        self.writes = args.workload == "ingest_maintain"

    def fail(self, name: str, why: str) -> None:
        self.failed[name] = self.failed.get(name, 0) + 1
        print(f"[perfbench] FAIL {name}: {why}", file=sys.stderr)
        if sys.exc_info()[0] is not None:
            traceback.print_exc(file=sys.stderr)

    # ---- set-up

    def start(self) -> None:
        a, priv = self.a, self.priv
        self.tmp = os.path.join(priv, "tmp")
        for d in ("tmp", "jvm", "local", "warehouse"):
            os.makedirs(os.path.join(priv, d))
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(priv, "local")
        # no hsperfdata under /tmp and no crash log in the checkout: every
        # JVM writes only inside the root
        jvm_dir = os.path.join(priv, "jvm")
        jvm_opts = (f"-Djava.io.tmpdir={jvm_dir} -XX:-UsePerfData"
                    f" -XX:ErrorFile={os.path.join(jvm_dir, 'hs_err_pid%p.log')}")
        os.environ["SPARK_LAUNCHER_OPTS"] = f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} {jvm_opts}"
        tempfile.tempdir = self.tmp
        sys.path.insert(0, ROOT)
        if self.tracer:
            self.tracer.install()
        self.prepare_inputs()
        if self.tracer:
            self.tracer.rebind()
        from minimapreduce_spark import session

        t = time.perf_counter()
        # The JVM inherits fd 1; it gets stderr instead, so nothing it
        # prints (a native crash at JVM exit has written its report to
        # stdout) can land among the result lines.
        sys.stdout.flush()
        stdout = os.dup(1)
        os.dup2(2, 1)
        try:
            self.spark = session.get_spark(
                app_name=f"perfbench-{a.workload}",
                master=f"local[{self.n}]",
                shuffle_partitions=self.n,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": os.path.join(priv, "local"),
                    "spark.sql.warehouse.dir": os.path.join(priv, "warehouse"),
                    "spark.driver.extraJavaOptions": jvm_opts,
                },
            )
        finally:
            os.dup2(stdout, 1)
            os.close(stdout)
        self.session_start_s = time.perf_counter() - t
        self.sampler = P.ProcSampler()

        t = time.perf_counter()
        J.prebuild(a.workload, self.spark, self.sf_dir)
        self.artifacts_build_s = time.perf_counter() - t

        # untimed warm-up passes: the cold JVM, codegen and memoized
        # artifacts settle here; the outputs collected in the first are
        # what the check compares
        t = time.perf_counter()
        self.outputs, self.collect_s, hash_s = {}, {}, 0.0
        for job in self.jobs:
            self.attempted += 1
            try:
                j = time.perf_counter()
                pdf = job.build(self.spark).toPandas()
            except Exception as e:  # noqa: BLE001 — every failure is counted
                self.fail(job.name, f"{type(e).__name__}: {e}")
                continue
            h = time.perf_counter()
            self.collect_s[job.name] = round(h - j, 3)
            self.outputs[job.name] = (J.value_hash(pdf), len(pdf), sorted(pdf.columns))
            hash_s += time.perf_counter() - h
        self.memo = memo_entries(self.tmp) if self.writes else []
        for k in range(1, J.WORKLOADS[a.workload].warmup):
            self.run_pass(f"w{k}", traced=False)
        self.warmup_s = time.perf_counter() - t - hash_s
        self.sampler.sample()
        self.setup_s = time.perf_counter() - T0 - hash_s

    def prepare_inputs(self) -> None:
        import minimapreduce_spark.queries  # noqa: F401

        fixture, n_files, words = SCALES[self.a.scale]
        self.sf_dir = J.stage_fixture(fixture, os.path.join(self.priv, "fixture"))
        corpus = []
        if self.a.workload == "mr_jobs":
            corpus = J.make_corpus(os.path.join(self.priv, "corpus"), self.a.seed, n_files, words)
        self.jobs = J.jobs_for(self.a.workload, self.sf_dir, corpus)
        self.fixture_digest = J.file_digest(
            [os.path.join(self.sf_dir, f"{t}.parquet") for t in J.TABLES])
        self.corpus_digest = J.file_digest(corpus) if corpus else None

    # ---- timed passes

    def run_one(self, job, traced: bool, acc: dict) -> float | None:
        tr = self.tracer if traced else None
        if tr:
            tr.job = job.name
            jobs0 = self.counters.jobs()

        def span(name, layer):
            return tr.span(name, layer) if tr and layer else contextlib.nullcontext()

        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with span(job.name, "bench"):
                with span(job.name, job.layer):
                    df = job.build(self.spark)
                t1 = time.perf_counter()
                with span("noop_sink", "exec"):
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001
            self.fail(job.name, f"{type(e).__name__}: {e}")
            return None
        if tr:
            acc["operators.build_s"] += t1 - t0
            acc["exec.sink_s"] += t2 - t1
            acc["operators.build_jobs"] += self.counters.jobs() - jobs0
        return t2 - t0

    def run_pass(self, tag: str, traced: bool) -> tuple[float, float, dict, dict]:
        """One pass over the jobs in seeded order: (wall, cpu, job times, layer counters)."""
        seeded = None
        if self.writes:
            root = os.path.join(self.priv, f"pass-{tag}")
            seeded = seed_root(self.tmp, self.memo, root)
            tempfile.tempdir = root
        acc = {"operators.build_s": 0.0, "exec.sink_s": 0.0, "operators.build_jobs": 0}
        times = {}
        if traced:
            self.begin_trace()
        cpu0 = self.sampler.cpu_s()
        t = time.perf_counter()
        for job in self.rng.sample(self.jobs, len(self.jobs)):
            dt = self.run_one(job, traced, acc)
            if dt is not None:
                times[job.name] = dt
        wall = time.perf_counter() - t
        cpu = self.sampler.sample() - cpu0
        if traced:
            acc.update(self.end_trace(wall))
        if seeded is not None:
            b, f = new_bytes(root, seeded)
            self.written.append(b)
            acc["artifacts.bytes_written"], acc["artifacts.files_written"] = b, f
            if b == 0:
                self.fail("ingest_pass", f"pass {tag} wrote no artifact bytes")
            tempfile.tempdir = self.tmp
            shutil.rmtree(root, ignore_errors=True)
        return wall, cpu, times, acc

    def timed_passes(self) -> None:
        a = self.a
        steal0 = P.steal_s()
        self.pass_s, self.cpu_pass_s, self.job_s = [], [], {j.name: [] for j in self.jobs}
        self.traced_pass_s, self.layer_acc = [], []
        # As many whole passes as --seconds holds at the workload's
        # nominal pass time, and at least two. The count does not come
        # from the clock, so it cannot jump between runs when a pass
        # happens to cross a boundary. A traced run makes twice as many,
        # untraced and traced in the order u t t u, u t t u, ...: passes
        # still speed up as the JIT settles, and this order gives both
        # kinds the same mean position, so trace.overhead_frac does not
        # pick up that trend.
        n = max(2, int(a.seconds // J.WORKLOADS[a.workload].pass_s)) * (1 + a.trace)
        for k in range(n):
            traced = bool(self.tracer) and k % 4 in (1, 2)
            wall, cpu, times, acc = self.run_pass(str(k), traced)
            if traced:
                self.traced_pass_s.append(wall)
                self.layer_acc.append(acc)
                continue
            self.pass_s.append(wall)
            self.cpu_pass_s.append(cpu)
            for name, dt in times.items():
                self.job_s[name].append(dt)
        self.timed_steal_s = P.steal_s() - steal0

    # ---- tracing hooks around one traced pass

    def begin_trace(self) -> None:
        from minimapreduce_spark import session

        if not hasattr(self, "counters"):
            self.counters = P.SparkCounters(self.spark)
            self.listener = P.stream_listener_class()()
        self.counters.advance()
        self.listener.batches = []
        self.tracer.spans = []
        self.listen_on = {id(s): s for s in [self.spark, *session._NARROW_CLONES.values()]}
        for s in self.listen_on.values():
            s.streams.addListener(self.listener)
        self.tracer.enabled = True

    def end_trace(self, wall: float) -> dict:
        tr = self.tracer
        tr.enabled = False
        st = self.counters.advance()
        for s in self.listen_on.values():
            s.streams.removeListener(self.listener)
        b = self.listener.batches
        run_s = st["executorRunTime"] / 1e3
        cpu_s = st["executorCpuTime"] / 1e9
        tasks = st["numCompleteTasks"] + st["numFailedTasks"]
        calls, load_s = tr.layer_totals("catalog")
        out = {
            "catalog.load_table_calls": calls,
            "catalog.load_table_s": load_s,
            "scan.input_bytes": st["inputBytes"],
            "scan.input_records": st["inputRecords"],
            "exec.stages": st["stages"],
            "exec.tasks": tasks,
            "exec.task_run_s": run_s,
            "exec.task_cpu_s": cpu_s,
            "exec.task_wait_s": run_s - cpu_s,
            "exec.busy_frac": run_s / (wall * self.n),
            "exec.gc_s": st["jvmGcTime"] / 1e3,
            "exec.tasks_failed": st["numFailedTasks"],
            "exec.task_success_ratio": st["numCompleteTasks"] / tasks if tasks else 1.0,
            "shuffle.write_bytes": st["shuffleWriteBytes"],
            "shuffle.read_bytes": st["shuffleReadBytes"],
            "shuffle.write_records": st["shuffleWriteRecords"],
            "spill.disk_bytes": st["diskBytesSpilled"],
            "streaming.batches": len(b),
            "streaming.batch_p50_ms": statistics.median([x["ms"] for x in b]) if b else 0.0,
            "streaming.input_rows": sum(x["rows"] for x in b),
            "streaming.state_rows": _final_state_rows(b),
            "streaming.state_commit_ms": sum(x["commit_ms"] for x in b),
        }
        self.span_log.append(tr.spans)
        for layer, v in tr.self_times().items():
            out[f"self_s.{layer}"] = v
        return out

    # ---- the check

    def check(self) -> None:
        t = time.perf_counter()
        self._check()
        self.check_s = time.perf_counter() - t

    def _check(self) -> None:
        for job in self.jobs:
            got = self.outputs.get(job.name)
            if got is None:
                continue  # already counted as failed
            try:
                want = job.oracle()
            except Exception as e:  # noqa: BLE001
                self.fail(job.name, f"oracle {type(e).__name__}: {e}")
                continue
            exp = (J.value_hash(want), len(want), sorted(want.columns))
            if job.name == self.a.plant_wrong_hash:
                exp = ("0" * 16,) + exp[1:]
            if got != exp:
                self.fail(job.name, f"output {got} != oracle {exp}")

    # ---- report

    def end_to_end(self) -> dict:
        samples = sorted(x for v in self.job_s.values() for x in v)
        q = statistics.quantiles(samples, n=10, method="inclusive") if len(samples) > 1 else samples * 9
        return {
            "setup_s": (self.setup_s, "s"),
            "pass_s": (statistics.median(self.pass_s), "s"),
            "job_p50_s": (statistics.median(samples), "s"),
            "job_p90_s": (q[8], "s"),
            "cpu_s": (statistics.median(self.cpu_pass_s), "s"),
        }

    def per_layer(self) -> dict:
        acc = self.layer_acc
        mean = {k: statistics.fmean(float(a.get(k, 0.0)) for a in acc) for k in acc[0]} if acc else {}
        out = {k: (mean.get(k, 0.0), u) for k, u in LAYER_UNITS.items()}
        for layer in P.LAYERS:
            out[f"self_s.{layer}"] = (mean.get(f"self_s.{layer}", 0.0), "s")
        out["session.start_s"] = (self.session_start_s, "s")
        out["artifacts.build_s"] = (self.artifacts_build_s, "s")
        out["setup.warmup_s"] = (self.warmup_s, "s")
        if mean.get("scan.input_bytes"):
            out["artifacts.write_amp"] = (mean.get("artifacts.bytes_written", 0.0) / mean["scan.input_bytes"], "ratio")
        mr = [j for j in self.jobs if "map_pairs" in j.meta]
        if mr:
            pairs = sum(j.meta["map_pairs"] for j in mr)
            dist = sum(statistics.median(self.job_s[j.name]) for j in mr if self.job_s[j.name])
            out["mapreduce.map_pairs"] = (pairs, "count")
            out["mapreduce.reduce_keys"] = (sum(j.meta["reduce_keys"] for j in mr), "count")
            out["mapreduce.pairs_per_s"] = (pairs / dist if dist else 0.0, "1/s")
            seq = sum(j.meta["sequential_s"] for j in mr)
            out["mapreduce.speedup_vs_sequential"] = (seq / dist if dist else 0.0, "ratio")
        pk = self.sampler.peak_by_kind
        out["proc.driver_rss_mb"] = (pk["driver"], "MB")
        out["proc.jvm_rss_mb"] = (pk["jvm"], "MB")
        out["proc.pyworker_rss_mb"] = (pk["pyworker"], "MB")
        if self.traced_pass_s and self.pass_s:
            out["trace.overhead_frac"] = (
                statistics.median(self.traced_pass_s) / statistics.median(self.pass_s) - 1, "ratio")
        return out

    def info(self) -> dict:
        import pyspark

        jvm = self.spark._jvm.java.lang.System
        failed = sum(self.failed.values())
        return {
            "workload": self.a.workload, "seed": self.a.seed, "trace": self.a.trace,
            "nproc": self.n, "master": self.spark.sparkContext.master,
            "spark": pyspark.__version__, "java": str(jvm.getProperty("java.version")),
            "python": platform.python_version(),
            "fixture": SCALES[self.a.scale][0], "fixture_digest": self.fixture_digest,
            "corpus_digest": self.corpus_digest,
            "untimed_passes": J.WORKLOADS[self.a.workload].warmup, "timed_passes": len(self.pass_s),
            "traced_passes": len(self.traced_pass_s), "job_samples": sum(map(len, self.job_s.values())),
            "error_rate": failed / max(self.attempted, 1), "errors_by_job": self.failed,
            "job_median_s": {k: round(statistics.median(v), 4) for k, v in self.job_s.items() if v},
            "artifact_writes_per_pass": self.written,
            "session_start_s": self.session_start_s, "artifacts_build_s": self.artifacts_build_s,
            "warmup_s": self.warmup_s, "check_s": self.check_s,
            "collect_pass_job_s": self.collect_s,
            "steal_s": {"run": P.steal_s() - self.steal0, "timed": self.timed_steal_s},
            "pass_walls_s": self.pass_s, "pass_cpu_s": self.cpu_pass_s,
            "peak_rss_mb_by_process": self.sampler.peak_by_kind,
        }


# per-layer metrics accumulated per traced pass, with their units
LAYER_UNITS = {
    "operators.build_s": "s", "operators.build_jobs": "count",
    "catalog.load_table_calls": "count", "catalog.load_table_s": "s",
    "scan.input_bytes": "bytes", "scan.input_records": "count", "exec.sink_s": "s",
    "exec.stages": "count", "exec.tasks": "count", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.task_wait_s": "s", "exec.busy_frac": "ratio",
    "exec.gc_s": "s", "exec.tasks_failed": "count", "exec.task_success_ratio": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.write_records": "count", "spill.disk_bytes": "bytes",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.input_rows": "count", "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms", "artifacts.bytes_written": "bytes",
    "artifacts.files_written": "count", "artifacts.write_amp": "ratio",
    "mapreduce.map_pairs": "count", "mapreduce.reduce_keys": "count",
    "mapreduce.pairs_per_s": "1/s", "mapreduce.speedup_vs_sequential": "ratio",
    "trace.overhead_frac": "ratio",
}


def _final_state_rows(batches: list[dict]) -> int:
    last: dict[str, int] = {}
    for b in batches:
        last[b["query"]] = b["state_rows"]
    return sum(last.values())


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process the run
    started (the JVM and the Python workers it forked) has exited."""
    started = P.process_tree()[1:]
    if spark is not None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        spark.stop()
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while any(map(P.alive, started)) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in filter(P.alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


def main(argv=None) -> int:
    a = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "minimapreduce_spark", "__init__.py")):
        print(f"[perfbench] no engine source under {ROOT}", file=sys.stderr)
        return 2
    fixture = J.FIXTURES[SCALES[a.scale][0]]
    if not os.path.isfile(os.path.join(fixture, "lineitem.parquet")):
        print(f"[perfbench] fixture missing: {fixture}", file=sys.stderr)
        return 2
    parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(parent, exist_ok=True)
    priv = tempfile.mkdtemp(prefix="run-", dir=parent)
    bench = Bench(a, priv)
    try:
        bench.start()
        bench.timed_passes()
        bench.check()
        metrics = bench.per_layer() if a.trace else bench.end_to_end()
        info = bench.info()
        if a.spans:
            # [name, layer, start, end, parent index, job] per traced pass
            with open(a.spans, "w") as f:
                json.dump(bench.span_log, f)
    finally:
        shutdown(bench.spark)
        shutil.rmtree(priv, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass
    failed = sum(bench.failed.values())
    info["wall_s"] = time.perf_counter() - T0
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
