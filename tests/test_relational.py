"""Relational + events operator suite vs the DuckDB oracle (SURVEY §2c)."""

import pytest

from tests.conftest import run_and_compare

RELATIONAL = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "filter_project",
    "join_broadcast_dims",
    "join_left_order_counts",
    "join_semi_big_spenders",
    "join_anti_no_urgent",
    "agg_distinct_priority",
    "agg_rollup_lineitem",
    "agg_cube_orders",
    "agg_conditional_pivot",
    "stats_summary",
    "window_running_spend",
    "window_topk_per_customer",
    "window_order_gaps",
    "topk_global_lineitems",
    "set_ops_customers",
    "scalar_functions_showcase",
    "correlated_above_avg_spend",
    "agg_salted_skew",
    "join_salted_suppliers",
    "agg_grouping_sets",
    "join_bloom_pruned_revenue",
    "agg_mode_deterministic",
    "map_agg_event_counts",
]

EVENTS = [
    "events_json_extract",
    "events_tumbling_hourly",
    "events_sliding_1h_30m",
    "events_sessionization",
    "events_asof_join",
    "events_range_join",
    "events_resample_gapfill",
    "events_attribution_last_touch",
]


@pytest.mark.parametrize("name", RELATIONAL + EVENTS)
def test_matches_oracle(spark, duck, name):
    run_and_compare(spark, duck, name)


def test_q3_is_nonempty(spark):
    from minimapreduce_spark import queries as q

    assert q.queries()["q3_shipping_priority"](spark, "/root/testdata/sf0.001").count() > 0


def test_anti_semi_are_nonempty(spark):
    from minimapreduce_spark import queries as q

    for name in ("join_semi_big_spenders", "join_anti_no_urgent", "events_asof_join"):
        assert q.queries()[name](spark, "/root/testdata/sf0.001").count() > 0, name


def test_approx_sketch_error_bounds(spark, duck):
    """The banded oracle compresses error checks into booleans; this
    pins the tighter raw bounds: every band flag true, and Spark's
    exact distinct counts equal DuckDB's (the hash-compared columns)."""
    from minimapreduce_spark import queries as q
    from tests.conftest import SF_DIR

    got = {r.l_returnflag: r for r in q.queries()["agg_approx_sketch"](spark, SF_DIR).collect()}
    exact = duck.execute("""
        SELECT l_returnflag,
               count(DISTINCT l_orderkey) AS n_orders,
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """).df()
    assert len(got) == len(exact)
    for _, row in exact.iterrows():
        g = got[row.l_returnflag]
        assert g.exact_orders == row.n_orders
        assert g.n_rows == row.n_rows
        assert g.hll_within_5pct and g.p50_banded and g.p95_banded, g


def test_incremental_join_view_terms_disjoint_and_artifact(spark, tmp_path):
    """The delta-join IVM contracts: (a) maintenance ≡ full recompute
    (the oracle covers it; here re-pinned frame-wise); (b) the four
    identity terms are pairwise DISJOINT — every view row is produced
    by exactly one term (base/ΔA⋈B/A⋈ΔB/ΔA⋈ΔB partition the key
    space by construction of the two modular predicates); (c) the
    base-view artifact rebuild is a no-op when present; (d) the
    maintenance plan reads the base view from the ARTIFACT (no
    base×base join recompute: exactly three joins, all with broadcast
    dim sides)."""
    import os as _os

    from pyspark.sql import functions as F

    from minimapreduce_spark import plans
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.relational import (
        IVM_DIM_MOD,
        IVM_FACT_MOD,
        join_view_build,
    )
    from tests.conftest import SF_DIR

    out = q.queries()["incremental_join_view"](spark, SF_DIR).toPandas()
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    full = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey", "o_custkey", "c_mktsegment",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
        )
        .toPandas()
    )
    assert len(out) == len(full)
    assert set(map(tuple, out.itertuples(index=False))) == set(
        map(tuple, full.itertuples(index=False))
    )
    # (b) disjointness: no duplicate (o_orderkey) — orders are unique
    # per row, so any double-produced row would collide
    assert out["o_orderkey"].is_unique

    # (c) rebuild no-op
    root = join_view_build(spark, SF_DIR)
    before = _os.stat(root).st_mtime_ns
    assert join_view_build(spark, SF_DIR) == root
    assert _os.stat(root).st_mtime_ns == before

    # (d) plan: the artifact parquet is scanned; exactly 3 joins
    plan = plans.simple_plan(q.queries()["incremental_join_view"](spark, SF_DIR))
    assert "minimapreduce_joinview_" in plan
    assert plan.count("BroadcastHashJoin") == 3
    # and the maintained-view predicates really partition the space
    assert IVM_FACT_MOD != IVM_DIM_MOD


def test_incremental_join_view_upserts_tombstones(spark):
    """The update/delete IVM contracts (`incremental_join_view_upserts`
    — the tombstone extension of the join-view IVM): (a) maintenance ≡
    full recompute against the dim's END-OF-DAY state; (b) the three
    terms partition the output — no view row is produced twice
    (o_orderkey unique); (c) the tombstone semantics, spot-pinned on
    real keys: a DELETED customer's orders vanish from the maintained
    view entirely (base and arrival facts alike), an UPDATED
    customer's base orders reappear exactly once with the new segment
    (tombstone + insert = update), and untouched customers' rows pass
    through from the artifact byte-identically; (d) the maintenance
    plan reads the base view from the artifact and applies the
    tombstones as a broadcast ANTI join — never a base-view rewrite."""
    from pyspark.sql import functions as F

    from minimapreduce_spark import plans
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.relational import (
        IVM_DEL_MOD,
        IVM_DIM_MOD,
        IVM_UPD_MOD,
        IVM_UPD_SEGMENT,
    )
    from tests.conftest import SF_DIR

    out = q.queries()["incremental_join_view_upserts"](spark, SF_DIR).toPandas()

    # (a) ≡ recompute against the final dim state
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    ck = F.col("c_custkey")
    is_ins = ck % IVM_DIM_MOD == 0
    is_del = (~is_ins) & (ck % IVM_DEL_MOD == 0)
    is_upd = (~is_ins) & (~is_del) & (ck % IVM_UPD_MOD == 0)
    final_c = c.where(~is_del).withColumn(
        "c_mktsegment",
        F.when(is_upd, F.lit(IVM_UPD_SEGMENT)).otherwise(F.col("c_mktsegment")),
    )
    full = (
        o.join(final_c, o.o_custkey == final_c.c_custkey)
        .select(
            "o_orderkey", "o_custkey", "c_mktsegment",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
        )
        .toPandas()
    )
    assert set(map(tuple, out.itertuples(index=False))) == set(
        map(tuple, full.itertuples(index=False))
    )
    # (b) exactly-once production
    assert out["o_orderkey"].is_unique

    # (c) planted semantics on real fixture keys
    custs = {r.c_custkey for r in c.select("c_custkey").collect()}
    deleted = [k for k in custs if k % IVM_DIM_MOD and k % IVM_DEL_MOD == 0]
    updated = [
        k
        for k in custs
        if k % IVM_DIM_MOD and k % IVM_DEL_MOD and k % IVM_UPD_MOD == 0
    ]
    assert deleted and updated, "fixture must exercise both delta kinds"
    assert not set(out[out.o_custkey.isin(deleted)].o_orderkey)
    upd_rows = out[out.o_custkey.isin(updated)]
    if len(upd_rows):
        assert (upd_rows.c_mktsegment == IVM_UPD_SEGMENT).all()

    # (d) artifact + broadcast anti-join, no rewrite
    plan = plans.simple_plan(q.queries()["incremental_join_view_upserts"](spark, SF_DIR))
    assert "minimapreduce_joinview_" in plan
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_incremental_join_view_rebuild_one_scan_zero_joins(spark, tmp_path):
    """The copy-on-write rebuild rung (`incremental_join_view_rebuild`):
    (a) serving from the rebuilt artifact is frame-identical to the
    merge-on-read maintained view (rebuild is content-preserving, so
    rebuild-then-read ≡ maintain-at-read ≡ recompute — the lifecycle
    chain); (b) the registered read plan is ONE parquet scan of the
    rebuilt artifact — zero joins, zero anti-joins, no base tables
    (that is the entire point of paying the offline fold-in); (c) the
    rebuild itself is idempotent — a second call is a metadata no-op."""
    import os as _os

    from minimapreduce_spark import plans
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.operators.relational import join_view_rebuild
    from tests.conftest import SF_DIR

    # (a) rebuilt-read ≡ maintained-read, via an isolated root
    root = join_view_rebuild(spark, SF_DIR, root=str(tmp_path / "rebuilt"))
    from minimapreduce_spark.operators.relational import IVM_VIEW_SCHEMA

    served = spark.read.schema(IVM_VIEW_SCHEMA).parquet(_os.path.join(root, "view"))
    maintained = q.queries()["incremental_join_view_upserts"](spark, SF_DIR)
    got = set(map(tuple, served.collect()))
    want = set(map(tuple, maintained.collect()))
    assert got == want and len(got) == served.count()

    # (b) registered plan: one artifact scan, zero joins of any kind
    plan = plans.simple_plan(q.queries()["incremental_join_view_rebuild"](spark, SF_DIR))
    assert "_rebuilt" in plan
    assert "Join" not in plan and "LeftAnti" not in plan
    for base in ("orders.parquet", "customer.parquet"):
        assert base not in plan, f"rebuild read must not rescan {base}"

    # (c) idempotent re-publish
    before = _os.stat(root).st_mtime_ns
    assert join_view_rebuild(spark, SF_DIR, root=root) == root
    assert _os.stat(root).st_mtime_ns == before
