#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (sf0.001, a two-file corpus).

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced and asserts that
the last stdout line has exactly the result keys, that the check
passed, and that every metric BENCHMARK.json names is printed with its
unit. Then plants a wrong expected hash and asserts the check counts it
as a failure, and runs the benchmark in a directory holding only
BENCHMARK.json and the benchmark's files, where it must exit non-zero
without a result. Takes a few minutes; exits 0 when all checks pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    if p.returncode:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> tuple[dict, dict]:
    res, info = json.loads(lines[-1]), json.loads(lines[-2])["info"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, res
    assert isinstance(res["failed"], int), res
    return res, info


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tiny = ["--scale", "tiny", "--seconds", "1"]
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            spans = os.path.join(ROOT, ".perfbench_tmp", f"spans-{w}.json")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            rc, lines = run(["--workload", w, "--seed", "3", "--trace", str(trace),
                             *(["--spans", spans] if trace else []), *tiny])
            assert rc == 0, (w, trace, rc)
            res, info = result(lines)
            assert res["correct"] and res["failed"] == 0, (w, trace, info["errors_by_job"])
            got = res["metrics"]
            for m in spec[key]:
                assert m["name"] in got, (w, trace, m["name"])
                assert got[m["name"]]["unit"] == m["unit"], (w, m, got[m["name"]])
                assert isinstance(got[m["name"]]["value"], (int, float)), (w, m)
            assert set(got) == {m["name"] for m in spec[key]}, (w, set(got) ^ {m["name"] for m in spec[key]})
            if w == "ingest_maintain":
                assert all(b > 0 for b in info["artifact_writes_per_pass"]), info
            if trace:
                with open(spans) as f:
                    passes = json.load(f)
                os.unlink(spans)
                assert passes and all(s[3] >= s[2] for p in passes for s in p), w
            print(f"ok   {w} --trace {trace}: {res['attempted']} jobs, all metrics present")

    planted = "incremental_join_view_rebuild"
    rc, lines = run(["--workload", "ingest_maintain", "--seed", "3", "--trace", "0",
                     "--plant-wrong-hash", planted, *tiny])
    res, info = result(lines)
    assert rc == 0 and not res["correct"] and res["failed"] >= 1, res
    assert info["error_rate"] > 0 and planted in info["errors_by_job"], info
    print(f"ok   planted wrong hash: error_rate {info['error_rate']:.3f}")

    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = run(["--workload", "mr_jobs", "--seed", "3", "--trace", "0", *tiny], cwd=bare)
        assert rc != 0 and not any(x.startswith('{"correct"') for x in lines), (rc, lines)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".perfbench_tmp"))
        except OSError:
            pass
    print(f"ok   without the engine source: exit {rc}, no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
