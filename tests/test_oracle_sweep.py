"""Registry-wide oracle sweep — the structural guarantee that EVERY
registered oracle gets a value comparison in CI.

Nine operators once had oracles outside every parametrize list, so
they were only parse-checked: a regression in the operator OR its
oracle would have gone undetected by the suite. This module closes that class of gap for
good: any oracle-bearing query NOT claimed by a dedicated module's
parametrize list is swept here through the same ``run_and_compare``
protocol. Registering a new query with an oracle and forgetting to
list it in a family module lands it in the sweep automatically —
there is no state in which an oracle exists but is never compared.

(Queries some modules compare inline — not via a module-level list —
are named in _INLINE_COVERED; names listed there but absent from the
registry fail the sanity test below, so the set can't rot silently.
test_analytics.py covers its family via direct assert_frames_match
calls; those queries are left IN the sweep — double comparison at
sf0.001 is cheap and the hand-enumerated alternative is exactly the
kind of list that drifts.)
"""

from __future__ import annotations

import pytest

from tests.conftest import run_and_compare

# Oracle comparisons that exist as individual (non-list) tests in other
# modules. Kept minimal on purpose: when in doubt, let the sweep re-run
# a query rather than risk excluding an unchecked one.
_INLINE_COVERED = {
    # test_text_ops.py
    "wordcount",
    "inverted_index",
    "crash_agg",
    "distinct_words_per_doc",
    "text_bm25_topk",
    # test_mapreduce.py
    "mr_wordcount",
    "mr_inverted_index",
    "mr_reduce_side_join",
    # test_pipeline.py individual tests
    "text_unigram_logprob",
    "datetime_arithmetic_showcase",
    "array_set_ops",
    "decimal_exact_revenue",
    "fuzzy_join_blocked",
    "langid_confusion_matrix",
    "sample_quality_weighted",
    "agg_grouping_id",
    "agg_filter_clause",
    "window_first_last_nth",
    "lateral_top2_orders",
    "set_ops_multiset",
    "page_orders_offset",
    # test_streaming.py individual test
    "stream_upsert_latest_state",
}


def _listed_elsewhere() -> set[str]:
    import tests.test_llm_ops as llm
    import tests.test_pipeline as pipe
    import tests.test_relational as rel
    import tests.test_streaming as streaming
    import tests.test_tpch_more as tm
    import tests.test_tpch_rest as tr
    import tests.test_udfs as udfs

    return (
        set(llm.ORACLED)
        | set(rel.RELATIONAL)
        | set(rel.EVENTS)
        | set(pipe.QUERIES)
        | set(pipe.PHASE2)
        | set(pipe.PHASE3)
        | set(tm.QUERIES)
        | set(tr.QUERIES)
        | set(udfs.ORACLED)
        | set(streaming.STREAMING)
        | _INLINE_COVERED
    )


def _sweep_names() -> list[str]:
    from minimapreduce_spark import queries as q

    oracle_bearing = {n for n, query in q.REGISTRY.items() if query.oracle}
    return sorted(oracle_bearing - _listed_elsewhere())


def test_inline_covered_names_exist():
    """_INLINE_COVERED must stay a subset of the registry, or a rename
    would silently exclude a query from the sweep forever."""
    from minimapreduce_spark import queries as q

    missing = _INLINE_COVERED - set(q.REGISTRY)
    assert not missing, f"stale _INLINE_COVERED entries: {sorted(missing)}"


@pytest.mark.parametrize("name", _sweep_names())
def test_sweep_matches_oracle(spark, duck, name):
    if name == "binaryfile_manifest":
        # Its oracle reads the filesystem with a literal path pinned to
        # the driver's correctness scale (see the oracle's comment); the
        # Spark side must run at the same sf_dir to compare.
        run_and_compare(spark, duck, name, sf_dir="/root/testdata/sf0.01")
    else:
        run_and_compare(spark, duck, name)
