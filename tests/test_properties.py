"""Property-based tests (hypothesis) for the scale helpers: each is
checked against an independent reference model on generated inputs —
the SURVEY §5 golden-diff protocol generalized from fixed fixtures to
arbitrary data."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from minimapreduce_spark.operators.scale import (
    N_SALTS,
    salt_col,
    salted_agg,
    zorder_col,
)


def _zorder_ref(x: int, y: int, bits: int) -> int:
    """Independent Python model of the Morton interleave."""
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i + 1)
        z |= ((y >> i) & 1) << (2 * i)
    return z


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
        min_size=1,
        max_size=50,
    ),
    bits=st.sampled_from([4, 8, 16]),
)
def test_zorder_col_matches_reference_model(spark, pairs, bits):
    df = spark.createDataFrame(pairs, "x int, y int")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder_col(F.col("x"), F.col("y"), bits).alias("z")).collect()
    }
    for x, y in pairs:
        assert got[(x, y)] == _zorder_ref(x & ((1 << bits) - 1), y & ((1 << bits) - 1), bits)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(-1000, 1000),
            st.integers(0, 10**6),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_salted_agg_equals_plain_agg(spark, rows):
    """Salting must be invisible: for ANY input, two-stage salted
    aggregation equals the plain groupBy (integer sums → exact)."""
    df = spark.createDataFrame(rows, "k string, v long, e long")
    got = {
        r["k"]: (r["s"], r["n"], r["mx"])
        for r in salted_agg(
            df,
            keys=["k"],
            salt=salt_col(N_SALTS, "e"),
            partials={
                "ps": F.sum("v"),
                "pn": F.count("*"),
                "pm": F.max("v"),
            },
            finals={
                "s": F.sum("ps"),
                "n": F.sum("pn"),
                "mx": F.max("pm"),
            },
        ).collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "v", "e"])
    want = pdf.groupby("k")["v"].agg(["sum", "count", "max"])
    assert set(got) == set(want.index)
    for k, (s, n, mx) in got.items():
        assert (s, n, mx) == (want.loc[k, "sum"], want.loc[k, "count"], want.loc[k, "max"])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(0, 300), min_size=1, max_size=40),
    capacity=st.sampled_from([64, 512]),
    n_parts=st.sampled_from([1, 3, 8]),
)
def test_two_phase_running_sum_equals_cumsum(spark, sizes, capacity, n_parts):
    """The range-partition + broadcast-offsets running sum (the
    surrogate-key / pack_token_batches pattern) must equal a plain
    sequential cumsum for ANY sizes and ANY partition count."""
    from pyspark.sql.window import Window as W

    rows = [(i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "id long, n long").repartitionByRange(n_parts, "id")
    staged = df.select(
        "id",
        "n",
        F.spark_partition_id().alias("pid"),
        F.sum("n")
        .over(
            W.partitionBy(F.spark_partition_id())
            .orderBy("id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("local_cum"),
    )
    offsets = (
        staged.groupBy("pid")
        .agg(F.sum("n").alias("t"))
        .select(
            "pid",
            F.sum("t").over(W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)).alias("off"),
        )
        .fillna({"off": 0})
    )
    got = {
        r["id"]: r["cum"]
        for r in staged.join(F.broadcast(offsets), "pid")
        .select("id", (F.col("local_cum") + F.col("off")).alias("cum"))
        .collect()
    }
    want = pd.Series(sizes).cumsum()
    for i in range(len(sizes)):
        assert got[i] == want.iloc[i]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(-1000, 1000), min_size=0, max_size=60),
    n_ranges=st.integers(1, 6),
)
def test_two_phase_running_sum_property(spark, vals, n_ranges):
    """with_global_running_sum over arbitrary ints at arbitrary range
    fan-out equals the sequential fold (id tie-break = total order)."""
    from minimapreduce_spark.operators.ordered import with_global_running_sum

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id: long, v: long"
    )
    got = {
        r.id: r.cum
        for r in with_global_running_sum(
            df, [F.asc("id")], F.col("v"), out="cum", n_ranges=n_ranges
        ).collect()
    }
    acc, want = 0, {}
    for i, v in enumerate(vals):
        acc += v
        want[i] = acc
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(st.integers(0, 5), min_size=1, max_size=50),
    k=st.integers(1, 7),
)
def test_two_phase_ntile_property(spark, keys, k):
    """Arithmetic NTILE over a two-phase rank equals the SQL NTILE
    semantics (first n%k buckets one row bigger), on duplicate-heavy
    keys with an id tie-break."""
    from minimapreduce_spark.operators.ordered import (
        ntile_expr,
        with_global_row_number,
        with_scalars,
    )

    df = spark.createDataFrame(
        [(i, key) for i, key in enumerate(keys)], "id: long, key: long"
    )
    rn = with_global_row_number(
        df, [F.asc("key"), F.asc("id")], out="rn", n_ranges=3
    )
    cnt = df.agg(F.count(F.lit(1)).alias("_n"))
    got = {
        r.id: r.nt
        for r in with_scalars(rn, cnt)
        .select("id", ntile_expr(F.col("rn"), F.col("_n"), k).alias("nt"))
        .collect()
    }
    n = len(keys)
    order = sorted(range(n), key=lambda i: (keys[i], i))
    q, r = divmod(n, k)
    want = {}
    pos = 0
    for bucket in range(1, k + 1):
        size = q + (1 if bucket <= r else 0)
        for _ in range(size):
            want[order[pos]] = bucket
            pos += 1
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            # the whole contracted range (|num| < 2^62, den < 2^50),
            # incl. the >= 2^53-quotient zone where the first shipped
            # SINGLE-stage propose-and-correct was provably wrong (this
            # test caught it) and a bare truncated double quotient
            # diverges from integer floor
            st.integers(-(1 << 62) + 1, (1 << 62) - 1),
            st.integers(1, (1 << 50) - 1),
        ),
        min_size=1,
        max_size=60,
    ),
)
def test_exact_floor_div_matches_python_floor(spark, rows):
    """ordered.exact_floor_div must equal Python's exact integer //
    for every (num, den > 0) in its contracted range — the property
    the PSI binning (and its DuckDB `//` oracle) rides on."""
    from minimapreduce_spark.operators.ordered import exact_floor_div

    df = spark.createDataFrame(rows, "num long, den long")
    got = {
        (r["num"], r["den"]): r["q"]
        for r in df.select(
            "num", "den", exact_floor_div(F.col("num"), F.col("den")).alias("q")
        ).collect()
    }
    for num, den in rows:
        assert got[(num, den)] == num // den, (num, den)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(1, 5), min_size=2, max_size=8),
    edge_bits=st.integers(0, 2**28 - 1),
)
def test_expand_doc_pairs_equals_reference_enumeration(spark, sizes, edge_bits):
    """The content-group expansion (dedup family) must equal brute
    enumeration: for synthetic groups and an arbitrary subset of
    content pairs (+ all multi-member self pairs), expand_doc_pairs
    must produce exactly every cross-group member combo once and every
    within-group i<j combo once, all oriented min<max, with the content
    pair's value carried to each."""
    import itertools

    from pyspark.sql import functions as F

    from minimapreduce_spark.operators.dedup import expand_doc_pairs

    # deterministic member ids: group g gets ids [100g, 100g + size)
    groups_py = {g: list(range(100 * g, 100 * g + n)) for g, n in enumerate(sizes)}
    reps = {g: m[0] for g, m in groups_py.items()}
    gids = sorted(groups_py)
    cross = list(itertools.combinations(gids, 2))
    chosen = [p for i, p in enumerate(cross) if (edge_bits >> i) & 1]
    hits_py = [(reps[a], reps[b], float(10 * a + b)) for a, b in chosen]
    hits_py += [(reps[g], reps[g], 1.0) for g in gids if len(groups_py[g]) >= 2]
    if not hits_py:
        return

    groups_df = spark.createDataFrame(
        [(str(g), reps[g], groups_py[g]) for g in gids],
        "text string, rep long, members array<long>",
    )
    hits_df = spark.createDataFrame(hits_py, "doc_a long, doc_b long, v double")
    got = {
        (r["doc_a"], r["doc_b"], r["v"])
        for r in expand_doc_pairs(hits_df, groups_df).collect()
    }

    want = set()
    for ra, rb, v in hits_py:
        ga = ra // 100
        if ra == rb:
            for i, j in itertools.combinations(groups_py[ga], 2):
                want.add((i, j, v))
        else:
            gb = rb // 100
            for i in groups_py[ga]:
                for j in groups_py[gb]:
                    want.add((min(i, j), max(i, j), v))
    assert got == want


def test_money_grid_sum_exact_where_float_sum_flips(spark, tmp_path):
    """Pin the operators/money.py discipline with a PLANTED boundary
    case: values on the 1e-3 grid whose true sum sits exactly ON a
    2-dp rounding boundary (100.015), where float summation order
    decides which side the rounded result lands on. The exact-grid
    path must return the identical rounded value for EVERY Spark
    partitioning AND from DuckDB's mirrored SQL (the integer sum is
    order-free), and that value must be the true decimal answer —
    which is precisely why the 12 fact-slice money sums were converted
    (SCALING.md "the q1 class fixed repo-wide" — q1's 160× flip)."""
    import duckdb
    import pyspark.sql.functions as F

    from minimapreduce_spark.operators.money import exact_sum, grid_c

    # 10001 copies of 0.01 (binary double slightly ABOVE 0.01) plus one
    # 0.005 (slightly BELOW): true sum = 100.015, exactly on the 2-dp
    # boundary, with float noise of either sign within reach of it
    vals = [0.01] * 10001 + [0.005]
    rows = [(i, v) for i, v in enumerate(vals)]
    pq = str(tmp_path / "vals.parquet")
    spark.createDataFrame(rows, "id long, v double").write.parquet(pq)

    results = set()
    for parts in (1, 3, 32):
        df = spark.read.parquet(pq).repartition(parts)
        got = df.agg(
            F.round(exact_sum(grid_c("v", 1000), 1000), 2).alias("s")
        ).head()[0]
        results.add(got)
    # order-free across partitionings, and equal to the true decimal
    # answer: 100015 grid units / 1000 = 100.015 → HALF_UP → 100.02
    assert results == {100.02}, results

    oracle = duckdb.sql(
        f"""
        SELECT round(CAST(sum(CAST(round(v * 1000) AS BIGINT)) AS DOUBLE)
                     / 1000, 2) AS s
        FROM read_parquet('{pq}/*.parquet')
        """
    ).df()["s"][0]
    assert oracle == 100.02, oracle

    # signed values: the hi/lo split accumulation (money.SPLIT) must
    # keep the identity e == hi·SPLIT + lo exact for negative grids too
    # (profit-style sums go negative) — planted mix crossing zero, with
    # magnitudes straddling the split base so hi is exercised
    neg = [(i, v) for i, v in enumerate(
        [-1234567.891] * 7 + [2345678.912] * 5 + [-0.005, 0.01]
    )]
    pq2 = str(tmp_path / "neg.parquet")
    spark.createDataFrame(neg, "id long, v double").write.parquet(pq2)
    got = set()
    for parts in (1, 4):
        df = spark.read.parquet(pq2).repartition(parts)
        got.add(df.agg(
            F.round(exact_sum(grid_c("v", 1000), 1000), 2).alias("s")
        ).head()[0])
    # exact grid total: 5·2345678912 − 7·1234567891 + 5 = 3086419328
    # units → 3086419.328 → 3086419.33 at 2 dp (away from any boundary)
    assert got == {3086419.33}, got


def test_kmv_sketch_merge_equals_whole(spark):
    """Mergeability — the property that lets per-shard profiles roll up
    without rescanning: sketching two disjoint event shards and merging
    (union the retained arrays, re-take bottom-K, sum the exact counts)
    must equal sketching the union directly; and the registered query's
    estimate must sit within the KMV error envelope of the exact count."""
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.scale import (
        KMV_K,
        kmv_hash60,
        kmv_sketch,
    )
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    hashed = ev.select("event_type", kmv_hash60(F.col("user_id")).alias("h"))
    whole = {
        r.event_type: (list(r.ks), r.n_exact)
        for r in kmv_sketch(hashed, ["event_type"]).collect()
    }
    # shard by EVENT id parity: the same user appears in both shards,
    # so the merge must dedup retained hashes (union-DEDUP + re-bottom-K
    # + |union of hash sets| for the exact count) — the semantics a
    # distinct sketch needs under overlapping shards
    ev2 = ev.select(
        "event_id", "event_type", kmv_hash60(F.col("user_id")).alias("h")
    )
    sh_a = kmv_sketch(
        ev2.where(F.col("event_id") % 2 == 0).select("event_type", "h"),
        ["event_type"],
    ).collect()
    sh_b = kmv_sketch(
        ev2.where(F.col("event_id") % 2 == 1).select("event_type", "h"),
        ["event_type"],
    ).collect()
    shard_sets: dict[str, list[set]] = {}
    for r in list(sh_a) + list(sh_b):
        shard_sets.setdefault(r.event_type, []).append(set(r.ks))
    merged = {}
    for et, sets in shard_sets.items():
        u = sorted(set().union(*sets))
        # retained-K merge only reconstructs the whole sketch where the
        # shard bottom-Ks cover it: guaranteed when each shard retained
        # its full distinct set OR the union's bottom-K is within both
        # shards' retained horizons — true on this fixture (15 < K)
        merged[et] = u[:KMV_K]
    assert {et: v[0] for et, v in whole.items()} == merged
    # estimator sanity on the registered surface
    for r in q.queries()["sketch_kmv_distinct_users"](spark, SF_DIR).collect():
        assert abs(r.kmv_est - r.n_exact) <= 0.5 * r.n_exact, r


def test_cms_one_sided_and_mergeable(spark):
    """The two CMS theorems, engine-side: (1) est ≥ exact for EVERY
    key (min of counters that each include the key's own count);
    (2) mergeability — sketching two disjoint event shards and adding
    counters cell-wise equals sketching the union (counters are plain
    sums, so shard roll-up never rescans). Also pins the state bound:
    the sketch is at most D×W cells no matter the key count."""
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.scale import (
        CMS_D,
        CMS_W,
        cms_counters,
        cms_estimates,
    )
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    ec = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    est = cms_estimates(ec).collect()
    assert len(est) > 0
    assert all(r.cms_est >= r.cnt for r in est), [
        r for r in est if r.cms_est < r.cnt
    ][:3]

    whole = {
        (r.d, r.bucket): r.counter for r in cms_counters(ec).collect()
    }
    assert len(whole) <= CMS_D * CMS_W
    merged: dict = {}
    for parity in (0, 1):
        shard = (
            ev.where(F.col("event_id") % 2 == parity)
            .groupBy("user_id")
            .agg(F.count("*").alias("cnt"))
        )
        for r in cms_counters(shard).collect():
            merged[(r.d, r.bucket)] = merged.get((r.d, r.bucket), 0) + r.counter
    assert merged == whole


def test_cms_planted_heavy_hitter_ranks_first(spark, tmp_path):
    """A planted 10×-dominant user must rank first with overest == 0 is
    NOT guaranteed (collisions), but est must still bound its count and
    the registered query must surface it at rnk 1."""
    import os

    from minimapreduce_spark import queries as q

    rows = []
    eid = 0
    for u in range(200):
        n = 50 if u == 7 else 5
        for _ in range(n):
            rows.append((eid, "2024-01-01 00:00:00", u, "click", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id: bigint, ts: string, user_id: bigint, event_type: string, value: double, props: string",
    ).withColumn("ts", F.to_timestamp("ts"))
    d = str(tmp_path / "cms_planted")
    os.makedirs(d)
    ev.write.parquet(os.path.join(d, "events.parquet"))
    top = (
        q.REGISTRY["sketch_cms_heavy_hitters"].fn(spark, d).orderBy("rnk").first()
    )
    assert top.user_id == 7 and top.rnk == 1
    assert top.exact_cnt == 50 and top.cms_est >= 50


def test_quantile_sketch_bracket_and_state_bound(spark):
    """The sketch theorem: every exact quantile must sit inside its
    one-bucket bracket, brackets are ≤ ceil(span/B) wide, and the
    sketch state is ≤ B counters regardless of input size."""
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.operators.money import grid_c
    from minimapreduce_spark.operators.scale import QSK_B
    from tests.conftest import SF_DIR

    out = q.REGISTRY["sketch_quantile_prices"].fn(spark, SF_DIR).toPandas()
    assert len(out) == 7
    for r in out.itertuples():
        assert r.est_lo_cents <= r.exact_cents <= r.est_hi_cents, r
        assert r.target_rank == -(-r.pct * r.n // 100), r  # ceil
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    c = li.select(grid_c("l_extendedprice").alias("cents"))
    row = c.agg(F.min("cents"), F.max("cents")).head()
    span = int(row[1]) - int(row[0]) + 1
    width = -(-span // QSK_B)  # ceil(span/B) — the guarantee
    assert all(
        (r.est_hi_cents - r.est_lo_cents + 1) <= width for r in out.itertuples()
    )
    # state bound: the histogram itself never exceeds B cells
    lo = int(row[0])
    sk = c.groupBy(
        F.expr(f"(cents - {lo}L) * {QSK_B} DIV {span}L").alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    assert sk.count() <= QSK_B


def test_quantile_sketch_mergeable_and_planted(spark, tmp_path):
    """Shard histograms merge by cell-wise counter addition (under the
    shared bucketization that the driver-side bounds collect pins —
    the analog of CMS's shared hash salts), and a planted 1..100-dollar
    ladder yields hand-computed exact quantiles."""
    import os

    from minimapreduce_spark import queries as q
    from minimapreduce_spark.operators.money import grid_c
    from minimapreduce_spark.operators.scale import QSK_B
    from tests.conftest import SF_DIR

    # mergeability on the real fixture: split lineitem by orderkey parity
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", grid_c("l_extendedprice").alias("cents")
    )
    row = li.agg(F.min("cents"), F.max("cents")).head()
    lo, span = int(row[0]), int(row[1]) - int(row[0]) + 1
    bucket = F.expr(f"(cents - {lo}L) * {QSK_B} DIV {span}L").alias("bucket")

    def hist(df):
        return {
            r.bucket: r.cnt
            for r in df.groupBy(bucket).agg(F.count("*").alias("cnt")).collect()
        }

    whole = hist(li)
    a = hist(li.where(F.col("l_orderkey") % 2 == 0))
    b = hist(li.where(F.col("l_orderkey") % 2 == 1))
    merged = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
    assert merged == whole

    # planted ladder: prices 1.00 .. 100.00 — p50 = 50.00 exactly
    rows = [(i, float(i)) for i in range(1, 101)]
    d = str(tmp_path / "qsk_planted")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "l_orderkey: bigint, l_extendedprice: double"
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    out = (
        q.REGISTRY["sketch_quantile_prices"].fn(spark, d).toPandas().set_index("pct")
    )
    # exact quantile at ceil-rank: value #target in the sorted ladder
    for pct in (1, 5, 25, 50, 75, 90, 99):
        target = -(-pct * 100 // 100)
        assert out.loc[pct].exact_cents == target * 100, (pct, out.loc[pct])
        assert out.loc[pct].est_lo_cents <= target * 100 <= out.loc[pct].est_hi_cents


def test_kmv_set_ops_theta_exactness(spark):
    """The theta-sketch correctness claim behind sketch_kmv_set_ops:
    with θ = the K-th smallest of ks_A ∪ ks_B, θ ≤ min(θ_A, θ_B), so
    every FULL-SET intersection member hashing below θ is retained in
    BOTH bottom-K arrays — the sketch's common-below count equals the
    exact count of true A∩B hashes below θ (not an estimate of one).
    Verified per pair against the full distinct hash sets, plus the
    estimator identities inter_est = below·2⁶⁰/θ and
    jaccard_est = below/(K−1) recomputed from the printed columns."""
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.scale import KMV_K, kmv_hash60, kmv_sketch
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    hashed = ev.select("event_type", kmv_hash60(F.col("user_id")).alias("h"))
    full = {}
    for r in hashed.distinct().collect():
        full.setdefault(r.event_type, set()).add(r.h)
    ks = {
        r.event_type: sorted(r.ks)
        for r in kmv_sketch(hashed, ["event_type"]).collect()
    }

    out = q.queries()["sketch_kmv_set_ops"](spark, SF_DIR).toPandas()
    assert len(out) == len(ks) * (len(ks) - 1) // 2, "missing pairs"
    for r in out.itertuples():
        A, B = full[r.type_a], full[r.type_b]
        union_sketch = sorted(set(ks[r.type_a]) | set(ks[r.type_b]))
        assert int(r.exact_inter) == len(A & B)
        assert int(r.exact_union) == len(A | B)
        if len(union_sketch) >= KMV_K:
            th = union_sketch[KMV_K - 1]
            assert th <= max(ks[r.type_a]) and th <= max(ks[r.type_b]), (
                "theta above a side's retention horizon"
            )
            true_below = sum(1 for h in (A & B) if h < th)
            sketch_below = sum(
                1 for h in set(ks[r.type_a]) & set(ks[r.type_b]) if h < th
            )
            assert sketch_below == true_below, (r.type_a, r.type_b)
            assert abs(r.inter_est - round(true_below * 2**60 / th, 4)) < 1e-9
            assert abs(r.jaccard_est - round(true_below / (KMV_K - 1), 4)) < 1e-9
        else:
            # exact fallback: estimates ARE the exact values
            assert r.inter_est == len(A & B)
            assert abs(
                r.jaccard_est - round(len(A & B) / len(A | B), 4)
            ) < 1e-9


def test_hll_registers_merge_equals_whole(spark):
    """HLL mergeability — element-wise register max: sketching two
    OVERLAPPING event shards (event-id parity, so most users appear in
    both) and merging by max(mj) per (group, register) must equal the
    register frame of the whole — the property that lets per-shard
    profiles roll up with 64 tiny integers of state per group. Also
    pins the registered estimate inside the HLL error envelope."""
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.scale import hll_registers
    from tests.conftest import SF_DIR

    def hll_hash(col):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit("hll:"), col.cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint")

    ev = load_table(spark, SF_DIR, "events")
    hashed = ev.select("event_type", hll_hash(F.col("user_id")).alias("h"))
    whole = {
        (r.event_type, r.j): r.mj
        for r in hll_registers(hashed, ["event_type"]).collect()
    }
    ev2 = ev.select("event_id", "event_type", hll_hash(F.col("user_id")).alias("h"))
    merged: dict[tuple, int] = {}
    for par in (0, 1):
        shard = hll_registers(
            ev2.where(F.col("event_id") % 2 == par).select("event_type", "h"),
            ["event_type"],
        ).collect()
        for r in shard:
            k = (r.event_type, r.j)
            merged[k] = max(merged.get(k, 0), r.mj)
    assert merged == whole
    for r in q.queries()["sketch_hll_distinct_users"](spark, SF_DIR).collect():
        assert abs(r.hll_est - r.n_exact) <= 0.5 * r.n_exact, r


def test_hll_small_range_margins():
    """The ln() site of the HLL small-range correction has a FINITE
    input domain — V in 1..64 — so pin every possible quantized value
    64·ln(64/V)·10⁴ clear of a rounding midpoint: a 1-ulp JVM-vs-DuckDB
    ln() disagreement can then never flip the 4-dp rounding."""
    import math

    import numpy as np

    xs = np.array([64.0 * math.log(64.0 / v) * 1e4 for v in range(1, 65)])
    margin = np.abs(np.mod(xs, 1.0) - 0.5).min()
    assert margin > 1e-6, f"HLL ln correction near a midpoint: {margin}"


def test_hll_raw_path_matches_python_replay(spark):
    """The fixture cardinalities (15/150 distinct) land in the
    small-range regime, so drive the RAW alpha·m²/Z path on a synthetic
    4000-key frame: the registered pipeline's estimate must equal a
    pure-Python replay of the register algebra bit-for-bit, and sit
    inside 3 standard errors (1.04/√64 ≈ 13%) of the truth."""
    import hashlib

    from minimapreduce_spark.operators.scale import (
        HLL_M,
        HLL_P,
        hll_registers,
    )

    n = 4000
    df = spark.range(n).select(
        F.lit("g").alias("grp"),
        F.conv(
            F.substring(F.md5(F.concat(F.lit("hll:"), F.col("id").cast("string"))), 1, 15),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    regs = {r.j: r.mj for r in hll_registers(df, ["grp"]).collect()}

    # independent replay
    ref: dict[int, int] = {}
    for i in range(n):
        h = int(hashlib.md5(f"hll:{i}".encode()).hexdigest()[:15], 16)
        w = h >> HLL_P
        rho = 55 if w == 0 else 55 - w.bit_length()
        j = h % HLL_M
        ref[j] = max(ref.get(j, 0), rho)
    assert regs == ref

    z_int = sum(1 << (55 - mj) for mj in regs.values()) + (HLL_M - len(regs)) * (1 << 55)
    raw = 0.709 * 147573952589676412928.0 / float(z_int)
    assert raw > 2.5 * HLL_M, "synthetic frame unexpectedly in small range"
    assert abs(raw - n) <= 3 * 0.13 * n


def test_ams_f2_sketch_properties(spark):
    """AMS invariants on the fixture: (a) the sign algebra — every X_d
    has the parity of its row count (signs are ±1); (b) literal
    mergeability — X_d over the whole equals the sum of X_d over an
    even/odd orderkey shard split; (c) the estimate sits inside a wide
    but honest envelope of the exact F₂ (rse of an 8-mean ≈ 50%; band
    = 4 rse), and n_rows/f2_exact satisfy F₂ ≥ n (c ≥ 1 per key)."""
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.scale import AMS_D, ams_sign
    from tests.conftest import SF_DIR

    out = q.queries()["sketch_ams_f2_join_size"](spark, SF_DIR).toPandas()
    assert (out.f2_exact >= out.n_rows).all()
    for _, r in out.iterrows():
        assert abs(r.f2_est - r.f2_exact) <= 2.0 * r.f2_exact, dict(r)

    li = load_table(spark, SF_DIR, "lineitem")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ams:"), F.col("l_orderkey").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    rows = li.select("l_returnflag", "l_orderkey", h.alias("h"))

    def xds(df):
        return {
            (r.l_returnflag, d): (int(r[f"x{d}"]), int(r.nr))
            for r in df.groupBy("l_returnflag")
            .agg(
                F.count("*").alias("nr"),
                *[
                    F.sum(ams_sign(d, F.col("h"))).alias(f"x{d}")
                    for d in range(AMS_D)
                ],
            )
            .collect()
            for d in range(AMS_D)
        }

    whole = xds(rows)
    even = xds(rows.where(F.col("l_orderkey") % 2 == 0))
    odd = xds(rows.where(F.col("l_orderkey") % 2 == 1))
    for k, (xd, nr) in whole.items():
        assert (xd - nr) % 2 == 0, k  # parity invariant
        assert xd == even.get(k, (0, 0))[0] + odd.get(k, (0, 0))[0], k


def test_bloom_sketch_properties(spark):
    """Bloom invariants on the fixture: (a) NO false negatives —
    every true member key (not just the registered %29 probe subset)
    hits all its positions; (b) literal mergeability — word-wise OR of
    even/odd-key shard sketches equals the whole sketch; (c) the
    measured ghost FPR sits in a generous band around the fill-ratio
    prediction (bits_set/M)^K."""
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.scale import (
        BLOOM_K,
        BLOOM_M,
        BLOOM_WORD_BITS,
    )
    from tests.conftest import SF_DIR

    out = q.queries()["sketch_bloom_membership"](spark, SF_DIR).toPandas()
    assert (out.members_found == out.n_member_probes).all()
    for _, r in out.iterrows():
        pred = (r.bits_set / BLOOM_M) ** BLOOM_K
        assert r.fpr <= 4 * pred + 0.02 and (pred < 0.02 or r.fpr >= pred / 6), (
            dict(r), pred
        )

    # python replay: build the bitset per type, check every member +
    # shard-OR mergeability
    import hashlib

    ev = load_table(spark, SF_DIR, "events")
    rows = ev.select("event_type", "user_id").distinct().collect()

    def positions(k: str):
        h = int(hashlib.md5(f"bloom:{k}".encode()).hexdigest()[:15], 16)
        return [((h >> (15 * i)) & 32767) % BLOOM_M for i in range(BLOOM_K)]

    whole: dict[str, list[int]] = {}
    shards: dict[tuple, list[int]] = {}
    for r in rows:
        for target in (
            whole.setdefault(r.event_type, [0] * 16),
            shards.setdefault((r.event_type, r.user_id % 2), [0] * 16),
        ):
            for idx in positions(str(r.user_id)):
                target[idx // BLOOM_WORD_BITS] |= 1 << (idx % BLOOM_WORD_BITS)
    for et, words in whole.items():
        merged = [
            shards.get((et, 0), [0] * 16)[w] | shards.get((et, 1), [0] * 16)[w]
            for w in range(16)
        ]
        assert merged == words, et
        # no false negatives for EVERY member
        for r in rows:
            if r.event_type != et:
                continue
            for idx in positions(str(r.user_id)):
                assert words[idx // BLOOM_WORD_BITS] & (
                    1 << (idx % BLOOM_WORD_BITS)
                ), (et, r.user_id)
        # and the replay bitset matches the engine's popcount
        row = out[out.event_type == et].iloc[0]
        assert sum(bin(w).count("1") for w in words) == row.bits_set, et


def test_catalog_stats_analyze_contracts(spark):
    """The ANALYZE-surface contracts of `catalog_stats_lineitem`:
    every column row reports the SAME n_rows (one melt of one scan);
    min_v ≤ max_v on numeric columns and NULL bounds on string
    columns; n_distinct ≤ n_rows − n_nulls; the KMV estimate is EXACT
    (== n_distinct) below K and within the sketch's 4·rsd band above
    it (rsd ≈ 1/√(K−2) ≈ 18.3% at K=32); and the known fixture
    cardinalities hold (l_linenumber ≤ 7 distinct, flags/status from
    their enum domains)."""
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.operators.scale import KMV_K
    from tests.conftest import SF_DIR

    out = q.queries()["catalog_stats_lineitem"](spark, SF_DIR).toPandas()
    assert len(out) == 11
    assert out["n_rows"].nunique() == 1
    strings = {"l_returnflag", "l_linestatus"}
    for r in out.itertuples():
        non_null = r.n_rows - r.n_nulls
        assert 0 <= r.n_distinct <= non_null, r.column_name
        if r.column_name in strings:
            import pandas as pd

            assert pd.isna(r.min_v) and pd.isna(r.max_v), r.column_name
        else:
            assert r.min_v <= r.max_v, r.column_name
        if r.n_distinct < KMV_K:
            assert r.ndv_kmv_est == float(r.n_distinct), r.column_name
        else:
            rel = abs(r.ndv_kmv_est - r.n_distinct) / r.n_distinct
            assert rel < 4 / (KMV_K - 2) ** 0.5, (r.column_name, rel)
    stats = {r.column_name: r for r in out.itertuples()}
    assert stats["l_linenumber"].n_distinct <= 7
    assert stats["l_returnflag"].n_distinct <= 3
    assert stats["l_linestatus"].n_distinct <= 2


def test_catalog_stats_prod_lane_matches_md5_twin_exactly(spark):
    """The production-hash ANALYZE lane (`catalog_stats_lineitem_prod`)
    must agree with the portable-md5 twin on
    EVERY exact column — n_rows, n_nulls, n_distinct, min_v, max_v —
    because the two lanes share the melt and differ only in the sketch
    hash; and every ndv_within_tol bit must be TRUE (the self-check
    the driver oracle pins): the xxhash-KMV estimate at K=256 sits
    within the 25% ≈ 4σ band on every fixture column, deterministically
    (fixed hash, no RNG)."""
    from minimapreduce_spark import queries as q
    from tests.conftest import SF_DIR

    md5 = (
        q.queries()["catalog_stats_lineitem"](spark, SF_DIR)
        .toPandas()
        .set_index("column_name")
        .sort_index()
    )
    prod = (
        q.queries()["catalog_stats_lineitem_prod"](spark, SF_DIR)
        .toPandas()
        .set_index("column_name")
        .sort_index()
    )
    exact_cols = ["n_rows", "n_nulls", "n_distinct", "min_v", "max_v"]
    import pandas as pd

    pd.testing.assert_frame_equal(md5[exact_cols], prod[exact_cols])
    assert prod["ndv_within_tol"].all(), prod[~prod["ndv_within_tol"]]


def test_skew_diagnosis_planted_hot_key(spark, tmp_path):
    """The skew readout, planted: a fact table where key 7 holds 900 of
    1000 rows and 100 keys hold 1 each must report key 7 at rank 1 with
    share_ppm 900000, skew ratio max/mean = 900·101/1000 → 9090 (x100),
    and recommended_salt = ceil(900·101/1000) = 91 — the replication
    factor that equalizes the hot key to the mean. A uniform table must
    recommend salt 1 (no replication)."""
    import os

    from pyspark.sql import functions as F

    from minimapreduce_spark import queries as q

    rows = [(7, i) for i in range(900)] + [(100 + k, 0) for k in range(100)]
    li = spark.createDataFrame(rows, "l_partkey bigint, pad bigint").select(
        "l_partkey",
        F.lit(1).cast("bigint").alias("l_orderkey"),
        F.lit(1).cast("bigint").alias("l_suppkey"),
    )
    d = str(tmp_path / "skew_plant")
    os.makedirs(d)
    li.write.parquet(os.path.join(d, "lineitem.parquet"))
    out = q.queries()["join_skew_diagnosis"](spark, d).toPandas()
    assert len(out) == 5
    top = out[out.rnk == 1].iloc[0]
    assert top.join_key == 7 and top.cnt == 900
    assert top.share_ppm == 900_000
    assert top.n_keys == 101 and top.total_rows == 1000 and top.max_cnt == 900
    assert top.skew_ratio_x100 == 900 * 101 * 100 // 1000
    assert top.recommended_salt == -(-900 * 101 // 1000)  # ceil = 91
    assert (out.recommended_salt == top.recommended_salt).all()

    uni = [(k, 0) for k in range(200)]
    li2 = spark.createDataFrame(uni, "l_partkey bigint, pad bigint")
    d2 = str(tmp_path / "skew_uniform")
    os.makedirs(d2)
    li2.write.parquet(os.path.join(d2, "lineitem.parquet"))
    out2 = q.queries()["join_skew_diagnosis"](spark, d2).toPandas()
    assert (out2.recommended_salt == 1).all()
    assert (out2.skew_ratio_x100 == 100).all()
