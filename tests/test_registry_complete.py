"""Registry-wide gates: every registered query must execute and every
oracle must be valid DuckDB SQL — so a new operator can't silently ship
with a broken wiring or an unparseable oracle and only fail at
driver-verification time."""

import os

import pytest

from minimapreduce_spark import queries as q

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

ALL = sorted(q.REGISTRY)


def test_registry_size_matches_coverage_ledger():
    """COVERAGE.md's totals line AND SURVEY.md §8's current-total line
    must both equal the registry — one source of truth, test-pinned
    (two hand-kept ledgers drift apart unless one check reads both)."""
    import re

    root = os.path.join(os.path.dirname(__file__), "..")
    with open(os.path.join(root, "COVERAGE.md")) as f:
        m = re.search(r"Totals: (\d+) registered queries", f.read())
    assert m, "COVERAGE.md totals line missing"
    assert int(m.group(1)) == len(ALL), (
        f"COVERAGE.md claims {m.group(1)} queries, registry has {len(ALL)} — "
        "update the ledger"
    )
    with open(os.path.join(root, "SURVEY.md")) as f:
        m = re.search(r"Current registered total: (\d+) queries", f.read())
    assert m, "SURVEY.md §8 current-total line missing"
    assert int(m.group(1)) == len(ALL), (
        f"SURVEY.md claims {m.group(1)} queries, registry has {len(ALL)} — "
        "update §8"
    )
    # Prose counts rot the same way the ledgers do (README once said 223
    # while the registry had moved on) — sweep every file that makes
    # CURRENT-count claims. VERDICT.md and SURVEY's historical delta
    # sections legitimately carry old counts and are excluded.
    for fname in ("README.md", "QUERIES.md"):
        with open(os.path.join(root, fname)) as f:
            text = f.read()
        for m in re.finditer(r"(\d+) (?:registered )?queries", text):
            n = int(m.group(1))
            # only registry-sized numbers are registry count-claims
            # (skip e.g. "50 queries" subset prose)
            if n >= 100:
                assert n == len(ALL), (
                    f"{fname} says '{m.group(0)}' but registry has "
                    f"{len(ALL)} — stale prose count"
                )
    # "Current total above (N)"-style currency claims are forbidden
    # EVERYWHERE in our prose, including historical delta sections the
    # per-number sweep legitimately skips — a sentence that claims to be
    # current must not live where it can't be kept current. (SURVEY.md
    # once said "Current total above (226)" while the registry sat at
    # 228.)
    for fname in ("SURVEY.md", "COVERAGE.md", "README.md", "QUERIES.md"):
        with open(os.path.join(root, fname)) as f:
            text = f.read()
        for m in re.finditer(
            r"[Cc]urrent (?:registered )?total[^.\n]{0,40}?\((\d+)\)", text
        ):
            assert int(m.group(1)) == len(ALL), (
                f"{fname}: currency-claiming phrase {m.group(0)!r} with a "
                f"stale count (registry has {len(ALL)})"
            )


def test_queries_and_oracles_follow_registration_order():
    """Registration order is the only query order: ``queries()`` lists
    every registered name in REGISTRY's insertion order, and
    ``oracles()`` is that order restricted to oracle-bearing queries."""
    assert list(q.queries()) == list(q.REGISTRY)
    assert list(q.oracles()) == [
        name for name, query in q.REGISTRY.items() if query.oracle is not None
    ]


# Legitimately empty at the sf0.001 smoke scale (the oracle agrees —
# both sides return zero rows, so the hash check still passes); all
# produce rows at sf0.01, the driver's correctness scale.
EMPTY_AT_SMOKE = {"q7_volume_shipping"}


@pytest.mark.parametrize("name", ALL)
def test_query_executes(spark, name):
    """Each registered plan must build and produce at least one row at
    the smoke scale (empty results are degenerate coverage), except the
    audited EMPTY_AT_SMOKE selectivity outliers."""
    df = q.REGISTRY[name].fn(spark, SF_DIR)
    n = df.limit(1).count()
    if name in EMPTY_AT_SMOKE and SF_DIR.rstrip("/").endswith("sf0.001"):
        return  # executing without error is the gate here
    assert n == 1, f"{name} returned no rows at {SF_DIR}"


def test_all_oracles_parse_in_duckdb(duck):
    for name in ALL:
        sql = q.REGISTRY[name].oracle
        if sql is None:
            continue
        duck.execute(f"EXPLAIN {sql}")  # raises on invalid SQL


def test_bad_sf_dir_raises_not_empty(spark):
    """A missing table path must fail loudly (AnalysisException), never
    silently return an empty frame — the failure mode that would turn a
    misconfigured 100 TB run into a plausible-looking empty output."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        q.REGISTRY["wordcount"].fn(spark, "/root/testdata/sf_does_not_exist").collect()
