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


def _round_coverage(rounds) -> set[str]:
    import json

    checked: set[str] = set()
    for r in rounds:
        path = os.path.join(REPO, f"CORRECTNESS_r{r:02d}.json")
        if os.path.exists(path):
            checked |= set(json.load(open(path)))
    return checked


def test_driver_priority_tier_leads_with_oracles():
    """The driver verifies the first 50 registrations: they must exist,
    lead the queries() dict, and carry oracles. (The round-2-4
    every-module-sampled invariant is superseded by the cumulative form
    in test_driver_priority_closes_coverage: after round 5 every module
    is fully driver-verified, so per-window module sampling would force
    pointless canary repeats.)"""
    from minimapreduce_spark import queries as _q
    from minimapreduce_spark.registry import DRIVER_PRIORITY, REGISTRY

    assert len(DRIVER_PRIORITY) == 50
    assert len(set(DRIVER_PRIORITY)) == 50
    names = list(_q.queries().keys())
    assert names[:50] == DRIVER_PRIORITY
    assert set(names) == set(REGISTRY)

    assert all(REGISTRY[n].oracle for n in names[:50])


def _artifact_rounds(repo: str = REPO) -> dict[int, dict]:
    """round -> parsed CORRECTNESS artifact. Globs r* (not r0*): the
    round-9 glob silently dropped two-digit rounds, which would have
    frozen the staleness ledger at round 9 forever."""
    import glob
    import json
    import re

    arts: dict[int, dict] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", os.path.basename(path))
        if m:
            arts[int(m.group(1))] = json.load(open(path))
    return arts


def _last_verified(artifacts: dict[int, dict]) -> dict[str, int]:
    """name -> most recent round whose artifact hash-verified it
    (r05 never landed; absent = never verified)."""
    last: dict[str, int] = {}
    for r, rows in artifacts.items():
        for name, row in rows.items():
            if row.get("hash_match"):
                last[name] = max(last.get(name, 0), r)
    return last


def rotation_violations(
    artifacts: dict[int, dict],
    window: set[str],
    registry: set[str],
    late: set[str],
    pin_round: int,
    touched: set[str] = frozenset(),
) -> list[str]:
    """The rotation-discipline rules as a pure function (so the
    post-commit-artifact-drop scenario is itself testable). Staleness
    is evaluated against the artifact set that EXISTED WHEN THE WINDOW
    WAS PINNED (rounds < pin_round): the driver's own CORRECTNESS_rN
    for the pinned round N lands after the final commit by
    construction — it IS the window — and must not re-arm the
    tripwire (the rounds-8/9 failure mode). A LATER round's artifact
    (> pin_round) still fires: that means a round ended without
    rotating.

    ``touched`` (round-11 verdict item 1): queries whose code changed
    after their last driver verification. They are treated like
    closure — a changed query is effectively unverified, so it MUST
    occupy a window slot and is exempt from the staleness comparison
    (its artifact-recorded freshness predates the change).

    Returns a list of violation strings; empty = green."""
    viol: list[str] = []
    if artifacts and max(artifacts) > pin_round:
        viol.append(
            f"window pinned in round {pin_round} but a round-"
            f"{max(artifacts)} artifact exists: the window was never "
            f"rotated for the following round"
        )
    pinned = {r: a for r, a in artifacts.items() if r < pin_round}
    last = _last_verified(pinned)
    closure = registry - set(last) - late
    if not closure <= window:
        viol.append(
            f"never-driver-verified queries missing from the window: "
            f"{sorted(closure - window)}"
        )
    touched = touched & registry
    if not touched <= window:
        viol.append(
            f"touched-since-verified queries missing from the window: "
            f"{sorted(touched - window)}"
        )
    canaries = (window & registry) - closure - touched
    if not canaries <= set(last):
        viol.append(
            f"window slots that are neither closure nor previously "
            f"verified: {sorted(canaries - set(last))}"
        )
        canaries &= set(last)
    outside = {n: r for n, r in last.items() if n in registry and n not in window}
    if canaries and outside:
        stalest_out = min(outside.values())
        freshest_in = max(last[c] for c in canaries)
        if freshest_in > stalest_out:
            viol.append(
                f"staleness rule violated: a canary last verified in "
                f"round {freshest_in} occupies a slot while a query "
                f"last verified in round {stalest_out} waits outside"
            )
    if not late <= registry:
        viol.append(f"LATE_REGISTERED names not registered: {sorted(late - registry)}")
    if window & late:
        viol.append(f"window ∩ LATE_REGISTERED non-empty: {sorted(window & late)}")
    return viol


def test_driver_priority_closes_coverage():
    """Round-10 rotation — FRESHNESS under closure, PIN-ROUNDED (the
    round-9 verdict's structural fix: rounds 8 and 9 both went red
    post-commit when the driver dropped the pinned round's own
    CORRECTNESS artifact, whose content is exactly the window). Pins:

    - closure first: any query never verified by a PRE-PIN artifact
      must be in the window (new registrations lead);
    - the staleness rule over pre-pin artifacts: every canary slot
      re-verifies a query whose last verification is no FRESHER than
      that of any verified query left outside (ties allowed);
    - the pin is current: an artifact from a round AFTER the pin means
      a round ended without rotating — still red, so the rule is not
      weakened, it just can't misfire on the by-design same-round drop;
    - late registrations carry oracles."""
    import minimapreduce_spark.queries  # noqa: F401 — populate REGISTRY
    from minimapreduce_spark.registry import (
        DRIVER_PRIORITY,
        LATE_REGISTERED,
        REGISTRY,
        TOUCHED_SINCE_VERIFIED,
        WINDOW_PIN_ROUND,
    )

    viol = rotation_violations(
        _artifact_rounds(),
        set(DRIVER_PRIORITY),
        set(REGISTRY),
        set(LATE_REGISTERED),
        WINDOW_PIN_ROUND,
        touched=set(TOUCHED_SINCE_VERIFIED),
    )
    assert viol == [], "\n".join(viol)
    # late registrations still carry full pytest-oracle coverage
    assert all(REGISTRY[n].oracle for n in LATE_REGISTERED)
    # the touched ledger names real registrations only
    assert set(TOUCHED_SINCE_VERIFIED) <= set(REGISTRY)


def test_rotation_tripwire_survives_post_commit_artifact_drop():
    """The round-9 verdict's done-criterion, simulated: after the final
    commit the driver writes CORRECTNESS_r{pin} containing exactly the
    window, all hash-matched. The tripwire must stay green on that
    drop (rounds 8 and 9 went red on it), must stay green when the
    drop is partial (driver errors on some queries), and must STILL go
    red on the real violations — a later-round artifact with no
    rotation, and a genuinely stale pin-time window."""
    import minimapreduce_spark.queries  # noqa: F401 — populate REGISTRY
    from minimapreduce_spark.registry import (
        DRIVER_PRIORITY,
        LATE_REGISTERED,
        REGISTRY,
        TOUCHED_SINCE_VERIFIED,
        WINDOW_PIN_ROUND,
    )

    arts = _artifact_rounds()
    window = set(DRIVER_PRIORITY)
    reg, late = set(REGISTRY), set(LATE_REGISTERED)
    touched = set(TOUCHED_SINCE_VERIFIED)

    # the window was green at pin time
    assert (
        rotation_violations(arts, window, reg, late, WINDOW_PIN_ROUND, touched) == []
    )

    # 1. the drop: CORRECTNESS_r{pin} == the window, all green
    drop = {n: {"hash_match": True} for n in DRIVER_PRIORITY}
    with_drop = {**arts, WINDOW_PIN_ROUND: drop}
    assert (
        rotation_violations(with_drop, window, reg, late, WINDOW_PIN_ROUND, touched)
        == []
    )

    # 2. a partial drop (driver hit errors) is equally harmless
    partial = dict(list(drop.items())[:7])
    assert (
        rotation_violations(
            {**arts, WINDOW_PIN_ROUND: partial},
            window,
            reg,
            late,
            WINDOW_PIN_ROUND,
            touched,
        )
        == []
    )

    # 3. NOT weakened: a later-round artifact with the window never
    #    rotated (pin not bumped) goes red
    next_round = {**with_drop, WINDOW_PIN_ROUND + 1: drop}
    viol = rotation_violations(next_round, window, reg, late, WINDOW_PIN_ROUND, touched)
    assert any("never rotated" in v for v in viol), viol

    # 4. NOT weakened: a genuinely stale window at pin time goes red —
    #    re-pinning the same window for the next round without rotating
    #    makes its canaries round-{pin} fresh while pre-pin cohorts
    #    wait outside
    viol = rotation_violations(
        next_round, window, reg, late, WINDOW_PIN_ROUND + 1, touched
    )
    assert any("staleness rule violated" in v for v in viol), viol

    # 5. NOT weakened: a touched-since-verified query left OUT of the
    #    window goes red — the exact round-11 gap (every r11-touched
    #    query sat outside the r11 window)
    sacrificial = sorted(touched)[0]
    smaller = window - {sacrificial}
    viol = rotation_violations(
        arts, smaller, reg, late, WINDOW_PIN_ROUND, touched
    )
    assert any("touched-since-verified" in v for v in viol), viol


def test_bench_final_line_fits_driver_tail_buffer():
    """BENCH_r06's `parsed: null` root cause, pinned: the driver keeps
    only ~2000 chars of stdout and parses the final JSON line. Since
    round 7 the headliner count exceeds what fits raw, so bench.py caps
    the final line at the FINAL_LINE_TOP_K slowest queries (full record
    in bench_detail.json); this test pins that the CAPPED line — with
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
