"""Semantic invariants for the iterative-graph, funnel, retention, and
repeated-span operators (the oracle hash check is the driver's; these
pin the properties that must survive refactors)."""

import os

import pytest
from pyspark.sql import functions as F

from minimapreduce_spark.operators.graph import SCALE, pagerank_nation_trade
from minimapreduce_spark.operators.events import (
    events_funnel_conversion,
    events_retention_cohorts,
)
from minimapreduce_spark.operators.dedup import dedup_span_repeats

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_pagerank_mass_and_positivity(spark):
    rows = pagerank_nation_trade(spark, SF_DIR).collect()
    assert len(rows) == 25
    total = sum(r.rank_e12 for r in rows)
    # Total mass ≤ 1.0 (dangling/leak loses mass, integer DIV truncates
    # down) but must stay close — the loop is wired wrong if not.
    assert 0.5 * SCALE < total <= SCALE
    assert all(r.rank_e12 > 0 for r in rows)


def test_funnel_counts_monotone(spark):
    row = events_funnel_conversion(spark, SF_DIR).collect()[0]
    assert row.n_signup >= row.n_view >= row.n_click >= row.n_purchase >= 0
    assert 0.0 <= row.conversion <= 1.0


def test_retention_week0_is_full(spark):
    rows = events_retention_cohorts(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_active <= r.cohort_size
        if r.week_offset == 0:
            assert r.retention == pytest.approx(1.0)
        assert r.week_offset >= 0


def test_span_repeats_bounds(spark):
    df = dedup_span_repeats(spark, SF_DIR)
    bad = df.where(
        (F.col("n_shared") > F.col("n_spans"))
        | (F.col("n_copied") > F.col("n_shared"))
        | (F.col("shared_ratio") < 0)
        | (F.col("shared_ratio") > 1)
    ).count()
    assert bad == 0


def test_rolling_zscore_flags_only_outliers(spark):
    from minimapreduce_spark.operators.events import events_rolling_zscore

    rows = events_rolling_zscore(spark, SF_DIR).collect()
    assert rows
    assert all(abs(r.zscore) > 2 for r in rows)


def test_cohort_ltv_cumulative_is_monotone(spark):
    """Within each cohort the LTV curve is non-decreasing and its last
    point equals the cohort's total purchase revenue."""
    import pyspark.sql.functions as F
    from minimapreduce_spark.operators.events import cohort_ltv_matrix

    out = (
        cohort_ltv_matrix(spark, SF_DIR)
        .toPandas()
        .sort_values(["cohort_week", "week_offset"])
    )
    for _, grp in out.groupby("cohort_week"):
        assert (grp["cum_revenue"].diff().dropna() >= 0).all()
        assert abs(grp["week_revenue"].sum() - grp["cum_revenue"].iloc[-1]) < 1e-6
    total = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .where(F.col("event_type") == "purchase")
        .agg(F.sum(F.round(F.col("value") * 10000).cast("bigint")))
        .first()[0]
    )
    assert abs(out["week_revenue"].sum() - total / 10000.0) < 1e-6


def test_triangle_orientations_agree(spark):
    """The degree-oriented triangle counter must count exactly the same
    triangles as the id-oriented twin: every triangle contributes one
    participation to each of its three vertices, so Σ n_triangles =
    3 × |triangles| — any orientation bug (double-generated or lost
    rotations) breaks the identity."""
    from minimapreduce_spark import queries as q

    per_node = q.queries()["graph_triangle_degree_oriented"](spark, SF_DIR).toPandas()
    n_tri = q.queries()["graph_triangle_count"](spark, SF_DIR).count()
    assert int(per_node["n_triangles"].sum()) == 3 * n_tri
    assert n_tri > 0, "fixture has no triangles — test is vacuous"


def test_pattern_match_negation_and_overlap_semantics(spark, tmp_path):
    """The row-pattern operator's defining semantics, planted:

    - NEGATION: S,E,P has a signup followed by a purchase but an error
      between → 0 activations (a plain funnel cascade would count it);
      S,V,P → 1.
    - NON-OVERLAPPING repeat: S,V,P,S,P → 2 activations.
    - EARLIER-PURCHASE exclusion: S,P,P → 1 (the second P can't pair
      with the consumed S).
    - FUNNEL PATH: V,C,P → 1; V,E,C,P → 0 (error inside the path).
    - users matching nothing are absent from the output."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from minimapreduce_spark import queries as q

    def rows(user, seq):
        t0 = dt.datetime(2024, 1, 1)
        names = {"S": "signup", "V": "view", "C": "click",
                 "P": "purchase", "E": "error"}
        return [
            (user * 1000 + i, t0 + dt.timedelta(minutes=i), user,
             names[c], 1.0, "{}")
            for i, c in enumerate(seq)
        ]
    data = (
        rows(1, "SEP") + rows(2, "SVP") + rows(3, "SVPSP") + rows(4, "SPP")
        + rows(5, "VCP") + rows(6, "VECP") + rows(7, "VVVE")
    )
    ev = spark.createDataFrame(
        data,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path / "pm_plant")
    os.makedirs(d)
    ev.write.parquet(os.path.join(d, "events.parquet"))
    out = {
        r.user_id: (r.n_activation, r.n_funnel_path)
        for r in q.queries()["events_pattern_match"](spark, d).collect()
    }
    assert 1 not in out, out.get(1)  # S,E,P: negation kills it
    assert out[2] == (1, 0)
    assert out[3] == (2, 0)
    assert out[4] == (1, 0)
    assert out[5] == (0, 1)
    assert 6 not in out, out.get(6)  # V,E,C,P: error inside the path
    assert 7 not in out


def test_pattern_match_windowed_cross_window_nonmatch(spark, tmp_path):
    """The windowed variant's defining semantics difference, planted
    (what makes the windowed variant a distinct query): a signup at 23:50 and a
    purchase at 00:10 the NEXT day match the UNWINDOWED pattern query
    but NOT the per-(user, day) windowed one — windowed
    MATCH_RECOGNIZE never matches across window boundaries. A second
    user whose whole S→P span sits inside one day matches BOTH, with
    the day key correct; and a user with matches on TWO days gets two
    windowed rows where the unwindowed twin collapses them to one."""
    import datetime as dt
    import os

    from minimapreduce_spark import queries as q

    names = {"S": "signup", "V": "view", "C": "click",
             "P": "purchase", "E": "error"}

    def ev_row(eid, t, user, c):
        return (eid, t, user, names[c], 1.0, "{}")

    data = [
        # user 1: straddles midnight — S 23:50 Jan 1, P 00:10 Jan 2
        ev_row(1001, dt.datetime(2024, 1, 1, 23, 50), 1, "S"),
        ev_row(1002, dt.datetime(2024, 1, 2, 0, 10), 1, "P"),
        # user 2: S→P inside Jan 3
        ev_row(2001, dt.datetime(2024, 1, 3, 9, 0), 2, "S"),
        ev_row(2002, dt.datetime(2024, 1, 3, 9, 30), 2, "P"),
        # user 3: one clean activation on Jan 1 AND one on Jan 2
        ev_row(3001, dt.datetime(2024, 1, 1, 8, 0), 3, "S"),
        ev_row(3002, dt.datetime(2024, 1, 1, 9, 0), 3, "P"),
        ev_row(3003, dt.datetime(2024, 1, 2, 8, 0), 3, "S"),
        ev_row(3004, dt.datetime(2024, 1, 2, 9, 0), 3, "P"),
    ]
    ev = spark.createDataFrame(
        data,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path / "pmw_plant")
    os.makedirs(d)
    ev.write.parquet(os.path.join(d, "events.parquet"))

    unwindowed = {
        r.user_id: r.n_activation
        for r in q.queries()["events_pattern_match"](spark, d).collect()
    }
    windowed = {
        (r.user_id, r.day): r.n_activation
        for r in q.queries()["events_pattern_match_windowed"](spark, d).collect()
    }
    assert unwindowed[1] == 1  # full history sees the straddle
    assert not any(u == 1 for u, _ in windowed)  # per-day does not
    assert unwindowed[2] == 1
    assert windowed[(2, "2024-01-03")] == 1
    assert unwindowed[3] == 2  # collapsed into one per-user row
    assert windowed[(3, "2024-01-01")] == 1
    assert windowed[(3, "2024-01-02")] == 1
    assert len([1 for u, _ in windowed if u == 3]) == 2
