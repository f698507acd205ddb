"""Measurement probes: process stats from /proc, Spark counters from the
status store, streaming progress from a query listener, and spans
around the engine's public layer functions.

Everything here observes the engine from outside. Spans wrap the
module-level functions the operator modules call (so the wrappers must
be in place before ``minimapreduce_spark.queries`` imports them); the
counters come from Spark's own status store, which is populated with
the UI disabled.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")

# (module, function, layer) — the public calls a span is recorded around.
WRAPPED = [
    ("minimapreduce_spark.catalog", "load_table", "catalog"),
    ("minimapreduce_spark.catalog", "parquet_rowcount", "catalog"),
    ("minimapreduce_spark.catalog", "content_fingerprint", "catalog"),
    ("minimapreduce_spark.mapreduce", "run_job", "mapreduce"),
    ("minimapreduce_spark.streaming.source", "run_to_memory", "streaming"),
    ("minimapreduce_spark.streaming.source", "run_to_parquet", "streaming"),
    ("minimapreduce_spark.sources.formats", "publish_atomic", "sources"),
    ("minimapreduce_spark.sources.formats", "write_sink", "sources"),
    ("minimapreduce_spark.artifacts", "claim_parent", "artifacts"),
    ("minimapreduce_spark.artifacts", "vacuum_superseded_roots", "artifacts"),
    ("minimapreduce_spark.artifacts", "vacuum_all_families", "artifacts"),
    ("minimapreduce_spark.artifacts", "nightly_maintenance", "artifacts"),
]

LAYERS = (
    "bench", "operators", "catalog", "mapreduce",
    "streaming", "sources", "artifacts", "exec",
)


# --------------------------------------------------------------- /proc


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def process_tree(root_pid: int | None = None) -> list[int]:
    """The driver and every live descendant (the JVM, the Python worker
    daemon and its forked workers)."""
    root_pid = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if stat is None:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    stat = _read(f"/proc/{pid}/stat")
    return stat is not None and stat[stat.rindex(")") + 2] != "Z"


def _kind(pid: int) -> str:
    if pid == os.getpid():
        return "driver"
    exe = os.path.basename(os.path.realpath(f"/proc/{pid}/exe")) if os.path.exists(f"/proc/{pid}/exe") else ""
    return "jvm" if exe.startswith("java") else "pyworker"


def tree_cpu_s(pids: list[int]) -> float:
    """utime+stime of each process plus what it has reaped from dead
    children (cutime+cstime), so exited Python workers still count."""
    total = 0
    for pid in pids:
        stat = _read(f"/proc/{pid}/stat")
        if stat is None:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK_TCK


def tree_hwm_mb(pids: list[int]) -> dict[str, float]:
    """Peak resident memory (VmHWM) summed per process kind."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in pids:
        status = _read(f"/proc/{pid}/status")
        if status is None:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                out[_kind(pid)] += int(line.split()[1]) / 1024.0
                break
    return out


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all vCPUs: the
    share of a run's noise that comes from outside the machine."""
    f = (_read("/proc/stat") or "cpu 0 0 0 0 0 0 0 0").split("\n", 1)[0].split()
    return int(f[8]) / CLK_TCK if len(f) > 8 else 0.0


class ProcSampler:
    """CPU seconds of the whole process tree; peak RSS per process kind."""

    def __init__(self):
        self.peak_by_kind = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}

    def sample(self) -> float:
        pids = process_tree()
        hwm = tree_hwm_mb(pids)
        for k, v in hwm.items():
            self.peak_by_kind[k] = max(self.peak_by_kind[k], v)
        return tree_cpu_s(pids)

    def cpu_s(self) -> float:
        return tree_cpu_s(process_tree())


# ------------------------------------------------------- Spark counters

STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
    "inputRecords", "shuffleWriteBytes", "shuffleReadBytes",
    "shuffleWriteRecords", "diskBytesSpilled", "numCompleteTasks",
    "numFailedTasks",
)


class SparkCounters:
    """Per-job deltas read from the status store (``stageList``) and the
    DAG scheduler's job counter."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.next_stage = 0
        self.advance()

    def jobs(self) -> int:
        return int(self.sc.dagScheduler().numTotalJobs())

    def advance(self) -> dict[str, float]:
        """Sum the counters of every stage submitted since the last call."""
        self.sc.listenerBus().waitUntilEmpty()
        store = self.sc.statusStore()
        upto = int(self.sc.dagScheduler().nextStageId())
        sums = dict.fromkeys(STAGE_FIELDS, 0)
        sums["stages"] = 0
        for sid in range(self.next_stage, upto):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            sums["stages"] += 1
            for k in STAGE_FIELDS:
                sums[k] += getattr(st, k)()
        self.next_stage = upto
        return sums


def stream_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        """Collects micro-batch progress of every drain in a session."""

        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append(
                {
                    "query": str(p.id),
                    "ms": float(p.batchDuration),
                    "rows": int(p.numInputRows),
                    "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
                    "commit_ms": sum(float(s.commitTimeMs) for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans: [name, layer, start, end, parent, job]."""

    def __init__(self):
        self.enabled = False
        self.spans: list[list] = []
        self.job = None
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._originals: dict[int, object] = {}

    def _parent(self) -> int | None:
        stack = self._stacks.get(threading.get_ident())
        if stack:
            return stack[-1]
        main = self._stacks.get(self._main)
        return main[-1] if main else None

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        # foreachBatch bodies run on py4j callback threads
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, layer, time.perf_counter(), None, self._parent(), self.job])
        stack = self._stacks.setdefault(threading.get_ident(), [])
        stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][3] = time.perf_counter()
            stack.pop()

    def wrap(self, fn, layer: str):
        tracer = self
        name = f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Replace each WRAPPED function in its defining module. Call
        before importing ``minimapreduce_spark.queries``; ``rebind``
        afterwards catches re-exports bound by ``from x import f``."""
        import importlib

        for modname, attr, layer in WRAPPED:
            mod = importlib.import_module(modname)
            orig = getattr(mod, attr)
            w = self.wrap(orig, layer)
            self._originals[id(orig)] = w
            setattr(mod, attr, w)

    def rebind(self) -> None:
        for name, mod in list(sys.modules.items()):
            if not name.startswith("minimapreduce_spark") or mod is None:
                continue
            for k, v in list(vars(mod).items()):
                w = self._originals.get(id(v))
                if w is not None and w is not v:
                    setattr(mod, k, w)

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by its child spans."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[4] is not None and s[3] is not None:
                kids.setdefault(s[4], []).append((s[2], s[3]))
        out = {layer: 0.0 for layer in LAYERS}
        for i, s in enumerate(self.spans):
            if s[3] is None:
                continue
            covered, end = 0.0, s[2]
            for a, b in sorted(kids.get(i, ())):
                a, b = max(a, end), min(b, s[3])
                if b > a:
                    covered += b - a
                    end = b
            out[s[1]] = out.get(s[1], 0.0) + (s[3] - s[2]) - covered
        return out

    def layer_totals(self, layer: str) -> tuple[int, float]:
        """(calls, inclusive seconds) of the outermost spans of one layer
        (a call nested in a span of the same layer is counted once)."""
        n, t = 0, 0.0
        for s in self.spans:
            if s[1] != layer or s[3] is None:
                continue
            if s[4] is not None and self.spans[s[4]][1] == layer:
                continue
            n += 1
            t += s[3] - s[2]
        return n, t
