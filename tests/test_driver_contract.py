"""Driver-contract simulation: import __spark_entry__ from a FOREIGN
cwd in a fresh process and execute the Python-closure-bearing queries.

This is the exact failure mode the _pickle module exists for: Spark
pickles functions from importable modules by reference, so a repo-cwd
test run would mask executors failing to import minimapreduce_spark
when a real driver runs from anywhere else. The subprocess runs from
/tmp with only the repo appended to sys.path by __spark_entry__ itself.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as e
from minimapreduce_spark.session import get_spark

spark = get_spark(app_name="contract", master="local[2]", shuffle_partitions=2)
df = e.entry(spark)
rows = df.collect()
assert len(rows) > 0 and set(df.columns) == {{"word", "cnt"}}, rows[:2]

# Python-closure paths: pandas UDAF, grouped-map, mapInArrow, RDD compat
sf = "/root/testdata/sf0.001"
q = e.queries()
for name in ["udaf_weighted_discount", "user_longest_daily_streak",
             "arrow_embedding_norms", "mr_wordcount"]:
    n = q[name](spark, sf).count()
    assert n > 0, name
oracles = e.oracle_sql()
assert set(oracles) <= set(q)
print("CONTRACT-OK", len(q), len(oracles))
"""


def test_entry_and_python_closures_from_foreign_cwd():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO)],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert "CONTRACT-OK" in proc.stdout, (
        f"stdout={proc.stdout[-2000:]}\nstderr={proc.stderr[-3000:]}"
    )


def test_bench_final_line_fits_driver_tail_buffer():
    """The driver keeps only ~2000 chars of stdout and parses the final
    JSON line, so a longer line is recorded as `parsed: null`. The
    headliner count exceeds what fits raw, so bench.py caps the final
    line at the FINAL_LINE_TOP_K slowest queries (full record in
    bench_detail.json); this test pins that the CAPPED line — with
    worst-case-width timings over the LONGEST-NAMED headliners (the
    adversarial cap content) — still fits under the limit with margin."""
    import json

    import bench as _bench
    from minimapreduce_spark import queries as _q

    names = sorted(_q.bench_queries(), key=len, reverse=True)
    kept = names[: _bench.FINAL_LINE_TOP_K]
    worst = {name: 9999.999 for name in kept}
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "unit": "sec",
            "sf": 0.1,
            "warm": True,
            "ab_drift_pct": -99.9,
            "queries": worst,
            "queries_elided": max(0, len(names) - len(kept)),
            "detail": "bench_detail.json",
            "value": round(9999.999 * len(names), 3),
        }
    )
    assert len(line) <= 1900, (
        f"bench final line would be {len(line)} chars with the "
        f"{len(worst)} longest-named headliners at worst-case width — "
        "lower FINAL_LINE_TOP_K or trim the bench set"
    )
