"""Structured Streaming operators: oracle matches + streaming-specific
invariants (streaming-vs-batch golden diff — the reference's
distributed-vs-sequential protocol, main/test-mr.sh:59-67, lifted to
streams)."""

import os

import pytest

from tests.conftest import SF_DIR, assert_frames_match, run_and_compare

STREAMING = [
    "stream_tumbling_hourly",
    "stream_session_window",
    "stream_user_stats_stateful",
    "stream_dedup_watermark",
    "stream_view_purchase_join",
    "stream_sliding_1h_30m",
    "stream_static_enrich",
]


@pytest.mark.parametrize("name", STREAMING)
def test_matches_oracle(spark, duck, name):
    run_and_compare(spark, duck, name)


def test_stream_equals_batch_tumbling(spark):
    """The streaming tumbling window must equal the batch twin on the
    same data — replay determinism."""
    from minimapreduce_spark import queries as q

    s = q.queries()["stream_tumbling_hourly"](spark, SF_DIR).toPandas()
    b = q.queries()["events_tumbling_hourly"](spark, SF_DIR).toPandas()
    assert_frames_match(
        s.rename(columns={"hour_start": "hour_start"}),
        b.rename(columns={"hour_start": "hour_start"}),
        name="stream-vs-batch tumbling",
    )


def test_stream_source_is_streaming(spark):
    from minimapreduce_spark.streaming.source import events_stream

    sdf = events_stream(spark, SF_DIR)
    assert sdf.isStreaming
    assert dict(sdf.dtypes)["ts"] == "timestamp"


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data policy end-to-end: a 1-hour watermark in append mode
    must finalize closed windows and silently drop events that arrive
    after their window's watermark has passed (the reference is strictly
    batch; this is the streaming contract SURVEY §2c adds). The stream
    is restarted per micro-batch from one checkpoint, as a production
    file stream would be."""
    from pyspark.sql import functions as F

    data_dir, ckpt, out = (
        str(tmp_path / "in"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )

    def feed(*ts):
        spark.createDataFrame(
            [(t, 1) for t in ts], "ts timestamp, v long"
        ).coalesce(1).write.mode("append").parquet(data_dir)

    def drain():
        sdf = spark.readStream.schema("ts timestamp, v long").parquet(data_dir)
        agg = (
            sdf.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w").start.alias("wstart"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from datetime import datetime

    h = lambda hour, minute=30: datetime(2024, 6, 1, hour, minute)

    feed(h(10), h(11))
    drain()
    feed(h(12), h(1))  # h(1) is hours behind the watermark -> must be dropped
    drain()
    feed(h(14))
    drain()

    hours = {r.wstart.hour: r.n for r in spark.read.parquet(out).collect()}
    assert 1 not in hours, f"late event created a window: {hours}"
    assert hours.get(10) == 1 and hours.get(11) == 1, f"finalized windows missing: {hours}"


def test_foreachbatch_parquet_sink_exactly_once(spark, tmp_path):
    """Drain the events stream to a parquet sink; every source row must
    land exactly once, and a restart from the same checkpoint must not
    duplicate anything (idempotent per-batch overwrite + WAL)."""
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.streaming.source import events_stream, run_to_parquet

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sdf = events_stream(spark, SF_DIR).select("event_id", "user_id", "value")
    run_to_parquet(sdf, out, ckpt)

    expected = load_table(spark, SF_DIR, "events").count()
    got = spark.read.parquet(out)
    assert got.count() == expected
    assert got.select("event_id").distinct().count() == expected

    # Restart with the same checkpoint: source is fully consumed, so the
    # run is a no-op — and even a replayed batch would overwrite, not
    # append.
    run_to_parquet(events_stream(spark, SF_DIR).select("event_id", "user_id", "value"), out, ckpt)
    assert spark.read.parquet(out).count() == expected


def test_parquet_sink_resumes_mid_stream_exactly_once(spark, tmp_path, monkeypatch):
    """A drain that fails at batch 2 of 4 and is re-run from the same
    checkpoint lands every source row exactly once, and the re-run
    starts from the failed batch: the files of batches 0-1 are the
    first run's, untouched."""
    import minimapreduce_spark.streaming.source as source
    from minimapreduce_spark.catalog import load_table

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def stream():
        return source.events_stream_sharded(spark, SF_DIR, 4).select(
            "event_id", "user_id", "value"
        )

    drain = source._drain

    def failing_drain(sdf, batch_fn, checkpoint_dir, output_mode):
        def fail_at_2(batch_df, batch_id):
            if batch_id == 2:
                raise RuntimeError("injected batch failure")
            batch_fn(batch_df, batch_id)

        drain(sdf, fail_at_2, checkpoint_dir, output_mode)

    def inodes(batch_ids):
        return {
            os.path.join(d, f): os.stat(os.path.join(out, d, f)).st_ino
            for d in (f"batch_id={b}" for b in batch_ids)
            for f in os.listdir(os.path.join(out, d))
        }

    monkeypatch.setattr(source, "_drain", failing_drain)
    with pytest.raises(Exception, match="injected batch failure"):
        source.run_to_parquet(stream(), out, ckpt)
    monkeypatch.undo()
    assert sorted(n for n in os.listdir(out) if n.startswith("batch_id=")) == [
        "batch_id=0",
        "batch_id=1",
    ]
    first = inodes([0, 1])

    source.run_to_parquet(stream(), out, ckpt)
    expected = load_table(spark, SF_DIR, "events").count()
    got = spark.read.parquet(out)
    assert got.count() == expected
    assert got.select("event_id").distinct().count() == expected
    assert {r.batch_id for r in got.select("batch_id").distinct().collect()} == {0, 1, 2, 3}
    assert inodes([0, 1]) == first


_FORK_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from minimapreduce_spark.session import get_spark
from minimapreduce_spark.streaming.source import events_stream_sharded, run_to_parquet

spark = get_spark(master="local[2]")
sdf = events_stream_sharded(spark, {sf!r}, 4).select("event_id", "user_id", "value")
run_to_parquet(sdf, {out!r}, {ckpt!r})
spark.stop()
"""


def test_checkpoint_writes_fork_no_readlink(spark, tmp_path):
    """A 4-batch exactly-once drain forks no ``readlink``: checkpoint
    files are renamed through ``FileSystem.rename``, not the
    ``FileContext`` path that shells out to ``readlink`` on every
    rename of a ``file:`` path. A child process runs the drain with
    logging ``readlink`` and ``chmod`` shims first on its ``PATH``,
    which the JVM inherits; the ``chmod`` count is only reported."""
    import shutil
    import subprocess
    import sys

    from minimapreduce_spark.session import narrow_clone

    shims = tmp_path / "shims"
    shims.mkdir()
    for tool in ("readlink", "chmod"):
        shim = shims / tool
        shim.write_text(
            f'#!/bin/sh\necho "$*" >> {tmp_path / (tool + ".log")}\n'
            f'exec {shutil.which(tool)} "$@"\n'
        )
        shim.chmod(0o755)
    # Python workers start from the interpreter itself: a version-manager
    # shim on PATH may call readlink on its own.
    env = dict(
        os.environ,
        PATH=f"{shims}{os.pathsep}{os.environ['PATH']}",
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=str(tmp_path / "tmp"),
    )
    os.mkdir(env["TMPDIR"])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _FORK_SCRIPT.format(
        repo=repo,
        sf=os.path.abspath(SF_DIR),
        out=str(tmp_path / "out"),
        ckpt=str(tmp_path / "ckpt"),
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    def calls(tool):
        log = tmp_path / (tool + ".log")
        return log.read_text().splitlines() if log.exists() else []

    print(f"chmod forks: {len(calls('chmod'))}")
    assert calls("readlink") == [], f"{len(calls('readlink'))} readlink forks"

    manager = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == manager
    assert narrow_clone(spark, 2).conf.get(key) == manager


def test_append_mode_withholds_open_windows(spark, duck):
    """Append emits exactly the watermark-closed windows: a strict
    subset of the complete-mode result, missing only windows ending
    within the watermark delay of max event time."""
    import pyspark.sql.functions as F

    from minimapreduce_spark.streaming.windows import (
        stream_tumbling_append_finalized,
    )

    out = stream_tumbling_append_finalized(spark, SF_DIR).toPandas()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    total_windows = (
        ev.groupBy(F.date_trunc("hour", "ts"), "event_type").count().count()
    )
    assert 0 < len(out) < total_windows
    mx = ev.agg(F.max("ts")).first()[0]
    import pandas as pd

    cutoff = pd.Timestamp(mx) - pd.Timedelta("30 minutes")
    assert (pd.to_datetime(out["hour_start"]) + pd.Timedelta("1 hour") <= cutoff).all()


def test_stream_upsert_matches_oracle_and_is_stable(spark, duck):
    """The foreachBatch MERGE replay equals the batch latest-per-key
    query, and a full re-run (fresh checkpoint + state dirs) converges
    to the identical state — the idempotence that makes the sink
    exactly-once under batch replay."""
    from tests.conftest import run_and_compare

    run_and_compare(spark, duck, "stream_upsert_latest_state")

    from minimapreduce_spark import queries as q
    from tests.conftest import SF_DIR

    a = sorted(
        map(tuple, q.queries()["stream_upsert_latest_state"](spark, SF_DIR).collect())
    )
    b = sorted(
        map(tuple, q.queries()["stream_upsert_latest_state"](spark, SF_DIR).collect())
    )
    assert a == b and len(a) > 0


def test_sharded_stream_runs_multiple_batches(spark):
    """maxFilesPerTrigger=1 over a 4-shard staging dir must produce 4
    micro-batches in an availableNow drain."""
    import pyspark.sql.functions as F

    from minimapreduce_spark.streaming.source import events_stream_sharded
    from tests.conftest import SF_DIR

    sdf = events_stream_sharded(spark, SF_DIR, n_shards=4)
    batches = []
    q = (
        sdf.writeStream.foreachBatch(
            lambda bdf, bid: batches.append((bid, bdf.count()))
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) == 4, batches
    assert sum(n for _, n in batches) == spark.read.parquet(
        f"{SF_DIR}/events.parquet"
    ).count()


def _write_psi_events(tmp_path, shifted: bool) -> str:
    """Synthetic events table for the planted-drift test: early half
    (the reference window) values are uniform over [0, 50); the late
    half either repeats that distribution (shifted=False) or jumps to
    [50, 100) (shifted=True) — a total distribution shift PSI must
    flag."""
    import numpy as np
    import pandas as pd

    n = 2000
    rng = np.random.default_rng(7)
    early = rng.uniform(0, 50, n // 2)
    late = rng.uniform(50, 100, n // 2) if shifted else rng.uniform(0, 50, n // 2)
    sf_dir = tmp_path / ("shifted" if shifted else "stable")
    sf_dir.mkdir()
    pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": pd.date_range("2025-01-01", periods=n, freq="min"),
            "user_id": np.arange(n, dtype="int64") % 17,
            "event_type": ["view"] * n,
            "value": np.concatenate([early, late]),
            "props": ["{}"] * n,
        }
    ).to_parquet(sf_dir / "events.parquet", index=False)
    return str(sf_dir)


def test_stream_psi_drift_detects_planted_shift(spark, tmp_path):
    """Planted-drift gate for stream_psi_drift (round-3 verdict item 1):
    a total shift of the live window's value distribution must push the
    summed PSI far past the classic 0.2 'significant drift' alarm
    threshold, while an identically-distributed live window must stay
    well under it. (The reference histogram is history's first half by
    time and 'live' is all of history, so the shifted fixture's live
    window is half reference-range, half novel-range — still a massive
    PSI.) Cross-engine exactness is the oracle sweep's job; this test
    pins the SEMANTICS: PSI actually fires on drift."""
    from minimapreduce_spark import queries as q

    fn = q.queries()["stream_psi_drift"]

    shifted = fn(spark, _write_psi_events(tmp_path, shifted=True)).collect()
    psi_shifted = sum(r.psi_term for r in shifted)
    # live mass moved into bins with ~zero reference mass: PSI explodes
    assert psi_shifted > 0.2, f"PSI {psi_shifted:.4f} missed a planted total shift"

    stable = fn(spark, _write_psi_events(tmp_path, shifted=False)).collect()
    psi_stable = sum(r.psi_term for r in stable)
    assert psi_stable < 0.05, f"PSI {psi_stable:.4f} false-alarmed on stable data"
    assert len(shifted) == len(stable) == 10  # total histogram: all B bins present


def test_exactly_once_ingest_collapses_planted_redelivery(spark):
    """The redelivered staging must actually redeliver (raw replay rows
    exceed distinct events by the planted every-13th volume), and the
    dropDuplicates consumer must collapse exactly that overcount — so
    the deduped drain equals the clean batch table."""
    import pyspark.sql.functions as F

    from minimapreduce_spark.streaming.source import events_stream_redelivered
    from tests.conftest import SF_DIR

    sdf = events_stream_redelivered(spark, SF_DIR, n_shards=4, redeliver_mod=13)
    raw_counts = []
    qy = (
        sdf.writeStream.foreachBatch(
            lambda bdf, bid: raw_counts.append(bdf.count())
        )
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination()
    base = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_events = base.count()
    n_redelivered = base.where(F.col("event_id") % 13 == 0).count()
    assert len(raw_counts) == 4
    # every 13th event appears once per shard: 3 extra copies
    assert sum(raw_counts) == n_events + 3 * n_redelivered
    assert n_redelivered > 0, "fixture planted no redelivery — test is vacuous"

    from minimapreduce_spark import queries as q

    out = q.queries()["stream_exactly_once_ingest"](spark, SF_DIR)
    assert out.agg(F.sum("n_events")).head()[0] == n_events


def test_exactly_once_watermarked_dedups_and_evicts(spark):
    """The bounded-ledger exactly-once variant (round-4 verdict item 7)
    must do BOTH halves of its contract on the planted-redelivery
    source: (1) dedup — the drained sink equals the clean batch table
    despite a nonzero redelivery volume (asserted non-vacuous), and
    (2) eviction — dropDuplicatesWithinWatermark's state ledger peaks
    WELL under the stream's distinct-key count (the full-ledger sibling
    stream_exactly_once_ingest would hold exactly n_events rows; a key
    is evicted once the watermark passes event_time + the delay, and
    the watermark lags one batch, so the live window is
    ~(2*delay + batch span). Round 12: delay 96 → 84 h and 2 files/
    trigger, live window ~13 of 30 days — measured peaks 47.2%
    (sf0.001) / 43.5% (sf0.01, sf0.1), under the <50% contract pinned
    below; 3 files/trigger under the old delay measured 57% and is
    excluded by it)."""
    import pyspark.sql.functions as F

    from minimapreduce_spark.streaming.dedup_join import (
        exactly_once_watermarked_plan,
    )
    from minimapreduce_spark.streaming.source import (
        events_stream_time_sliced_redelivered,
    )

    base = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_events = base.count()
    n_redelivered = base.where(F.col("event_id") % 13 == 0).count()
    assert n_redelivered > 0, "fixture planted no redelivery — test is vacuous"

    # source half: the staged slices really do redeliver, bounded to one
    # slice of lag (slices 1..5 each carry the previous slice's %13 rows)
    raw = events_stream_time_sliced_redelivered(spark, SF_DIR)
    raw_counts = []
    qy = (
        raw.writeStream.foreachBatch(lambda bdf, bid: raw_counts.append(bdf.count()))
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination()
    assert len(raw_counts) == 10  # one micro-batch per time slice
    assert sum(raw_counts) > n_events  # over-delivery is real
    assert sum(raw_counts) <= n_events + n_redelivered  # and horizon-bounded

    # consumer half: drain the watermarked plan with our own query so
    # recentProgress exposes per-batch stateOperators metrics
    rows = []
    state_peaks = []
    deduped = exactly_once_watermarked_plan(spark, SF_DIR)
    qy = (
        deduped.writeStream.foreachBatch(lambda bdf, bid: rows.append(bdf.count()))
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination()
    for p in qy.recentProgress:
        for so in p["stateOperators"]:
            state_peaks.append(so["numRowsTotal"])
    assert sum(rows) == n_events  # exactly-once: every event once
    assert state_peaks, "no stateOperators metrics — eviction unasserted"
    # eviction: peak ledger ≪ distinct keys (full ledger would be
    # n_events; the ~11-of-30-day live window retains ~37% at peak)
    assert max(state_peaks) < n_events // 2, (max(state_peaks), n_events)
    # and the final batch's ledger is the smallest live window, not a
    # monotone accumulation
    assert state_peaks[-1] < max(state_peaks) or len(set(state_peaks)) == 1


def test_stream_cms_state_bit_identical_to_batch_sketch(spark):
    """The streaming CMS's whole value proposition: the D×W counter
    state drained after real multi-batch accumulation must equal the
    batch sketch CELL BY CELL (mergeability = cell-wise addition across
    micro-batches), the state is bounded at D×W rows, and the top-k
    output matches the batch twin frame-for-frame."""
    from pyspark.sql import functions as F

    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.scale import (
        CMS_D,
        CMS_W,
        cms_bucket,
        cms_counters,
    )
    from minimapreduce_spark.streaming.source import (
        events_stream_sharded,
        run_to_memory,
    )

    sdf = events_stream_sharded(spark, SF_DIR, n_shards=4)
    counters_stream = (
        sdf.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("d"),
        )
        .withColumn("bucket", cms_bucket(F.col("d"), F.col("user_id")))
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("counter"))
    )
    drained = run_to_memory(counters_stream, "complete")
    got = {(r.d, r.bucket): r.counter for r in drained.collect()}
    assert len(got) <= CMS_D * CMS_W  # bounded state

    ev = load_table(spark, SF_DIR, "events")
    ec = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    want = {(r.d, r.bucket): r.counter for r in cms_counters(ec).collect()}
    assert got == want  # bit-identical to the batch sketch

    s = q.queries()["stream_cms_heavy_hitters"](spark, SF_DIR).toPandas()
    b = q.queries()["sketch_cms_heavy_hitters"](spark, SF_DIR).toPandas()
    assert_frames_match(s, b, name="stream_vs_batch_cms")


def test_stream_kmv_state_bit_identical_and_multibatch(spark):
    """The streaming KMV's contract: cross-batch state is genuinely
    exercised (>1 update emission per group over the 4-shard replay),
    the final per-group emission equals the batch sketch's bottom-K
    boundary (n_retained and the K-th hash), and the fold itself is
    split-invariant — folding the same hashes through ANY batch split
    yields the batch bottom-K (union + re-bottom is order-free)."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.scale import KMV_K, kmv_hash60, kmv_sketch
    from minimapreduce_spark.streaming.sketch import (
        _KMV_OUT_SCHEMA,
        _KMV_STATE_SCHEMA,
        _kmv_update_factory,
    )
    from minimapreduce_spark.streaming.source import (
        events_stream_sharded,
        run_to_memory,
    )

    sdf = events_stream_sharded(spark, SF_DIR, n_shards=4)
    hashed = sdf.select("event_type", kmv_hash60(F.col("user_id")).alias("h"))
    updates = hashed.groupBy("event_type").applyInPandasWithState(
        _kmv_update_factory(KMV_K),
        outputStructType=_KMV_OUT_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = run_to_memory(updates, "update").toPandas()
    per_group = drained.groupby("event_type").size()
    assert (per_group > 1).all(), per_group  # cross-batch state exercised

    ev = load_table(spark, SF_DIR, "events")
    batch = kmv_sketch(
        ev.select("event_type", kmv_hash60(F.col("user_id")).alias("h")),
        ["event_type"],
    ).toPandas().set_index("event_type")
    final = drained.sort_values("n_rows").groupby("event_type").last()
    for et, row in final.iterrows():
        ks = list(batch.loc[et].ks)
        assert row.n_retained == min(len(ks), KMV_K), et
        if len(ks) >= KMV_K:
            assert row.h_k == ks[KMV_K - 1], et  # the sketch boundary

    # split-invariance of the fold (plain python, exactly the kernel's
    # update: ks = bottom-K of (ks ∪ shard)): ANY batch split folds to
    # the batch bottom-K, because min-K is associative over union
    hs = [int(r.h) for r in
          ev.select(kmv_hash60(F.col("user_id")).alias("h")).collect()]
    want = sorted(set(hs))[:KMV_K]
    for mod in (2, 3, 4):
        ks: list = []
        for i in range(mod):
            shard = {h for j, h in enumerate(hs) if j % mod == i}
            ks = sorted(set(ks) | shard)[:KMV_K]
        assert ks == want, mod


def test_stream_hll_registers_bit_identical_and_multibatch(spark):
    """The streaming HLL's contract: the drained streaming-aggregation
    state — the (event_type, register, max-rho) frame — is BIT-IDENTICAL
    to the batch register frame over the same events (element-wise max
    is the HLL merge, so ANY micro-batch split folds to the batch
    registers), and the registered streaming output equals the batch
    twin minus its n_exact column. Cross-batch accumulation is
    genuinely exercised: at least one register's final value comes from
    a shard other than the first (asserted by re-running the register
    build on shard 0 alone and finding a strictly smaller register)."""
    from pyspark.sql import functions as F

    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.scale import HLL_M, hll_registers, hll_rho
    from minimapreduce_spark.streaming.source import (
        events_stream_sharded,
        run_to_memory,
    )
    from tests.conftest import SF_DIR, assert_frames_match

    def hll_hash(col):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit("hll:"), col.cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint")

    sdf = events_stream_sharded(spark, SF_DIR, n_shards=4)
    hashed = sdf.select("event_type", hll_hash(F.col("user_id")).alias("h"))
    regs_stream = (
        hashed.select(
            "event_type",
            (F.col("h") % HLL_M).alias("j"),
            hll_rho(F.col("h")).alias("rho"),
        )
        .groupBy("event_type", "j")
        .agg(F.max("rho").alias("mj"))
    )
    drained = {
        (r.event_type, r.j): r.mj
        for r in run_to_memory(regs_stream, "complete").collect()
    }

    ev = load_table(spark, SF_DIR, "events")
    batch = {
        (r.event_type, r.j): r.mj
        for r in hll_registers(
            ev.select("event_type", hll_hash(F.col("user_id")).alias("h")),
            ["event_type"],
        ).collect()
    }
    assert drained == batch

    # cross-batch accumulation: one shard alone must NOT reproduce the
    # full register frame (some register strictly grows after shard 0)
    n_users = ev.select("user_id").distinct().count()
    shard0 = ev.where(F.pmod(F.xxhash64("event_id"), F.lit(4)) == 0)
    regs0 = {
        (r.event_type, r.j): r.mj
        for r in hll_registers(
            shard0.select("event_type", hll_hash(F.col("user_id")).alias("h")),
            ["event_type"],
        ).collect()
    }
    assert regs0 != batch or n_users <= 4, "shard 0 already saturates registers"

    s = q.queries()["stream_hll_distinct_users"](spark, SF_DIR).toPandas()
    b = (
        q.queries()["sketch_hll_distinct_users"](spark, SF_DIR)
        .drop("n_exact")
        .toPandas()
    )
    assert_frames_match(s, b, name="stream_vs_batch_hll")


def test_stream_left_outer_contract(spark):
    """The outer join's two-part contract, pinned against the batch
    truth: (a) its matched rows are EXACTLY the inner twin's output;
    (b) its null-emitted rows are EXACTLY the batch-unmatched views
    whose match deadline (view_ts + 1 h) the final GLOBAL watermark
    (min of both sides' max event time, − 2 h) has passed — and the withheld remainder is nonempty
    on the fixture, so the finalization semantic is genuinely
    exercised, not vacuously true."""
    import duckdb

    from minimapreduce_spark import queries as q
    from tests.conftest import SF_DIR, TABLES, assert_frames_match, table_path

    out = q.queries()["stream_left_outer_views"](spark, SF_DIR).toPandas()
    matched = out[out.purchase_id.notna()].reset_index(drop=True)
    inner = q.queries()["stream_view_purchase_join"](spark, SF_DIR).toPandas()
    assert_frames_match(matched, inner, name="outer_matched_vs_inner")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{table_path(SF_DIR, t)}'"
        )
    unmatched = con.execute("""
        WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
                   FROM events WHERE event_type = 'view'),
        p AS (SELECT user_id, ts AS purchase_ts
              FROM events WHERE event_type = 'purchase'),
        m AS (SELECT least(
                make_timestamp((epoch_us((SELECT max(view_ts) FROM v))
                                // 1000) * 1000),
                make_timestamp((epoch_us((SELECT max(purchase_ts) FROM p))
                                // 1000) * 1000))
                - INTERVAL 2 HOUR AS wm)
        SELECT v.view_id,
               v.view_ts + INTERVAL 1 HOUR < m.wm AS finalized
        FROM v, m
        WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = v.user_id
            AND p.purchase_ts >= v.view_ts
            AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR)
    """).df()
    emitted = set(out[out.purchase_id.isna()].view_id)
    assert emitted == set(unmatched[unmatched.finalized].view_id)
    withheld = set(unmatched[~unmatched.finalized].view_id)
    assert withheld and not (withheld & emitted)


def test_stream_ams_counters_bit_identical_to_batch(spark):
    """The streaming AMS twin's contract: the drained sign counters
    equal a batch computation of the same X_d over the same events
    (sum is the merge — additivity is the whole theorem), and the
    registered output's ams_sum/f2_est satisfy the parity invariant
    X_d ≡ n_rows (mod 2) indirectly via ams_sum ≡ D·n_rows (mod 2)...
    pinned directly: recompute X_d batch-side and compare."""
    from pyspark.sql import functions as F

    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.scale import AMS_D, ams_sign
    from tests.conftest import SF_DIR

    out = q.queries()["stream_ams_f2_user_pairs"](spark, SF_DIR).toPandas()
    ev = load_table(spark, SF_DIR, "events")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ams:"), F.col("user_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    batch = (
        ev.select("event_type", h.alias("h"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            *[
                F.sum(ams_sign(d, F.col("h"))).alias(f"x{d}")
                for d in range(AMS_D)
            ],
        )
        .toPandas()
        .set_index("event_type")
    )
    for _, r in out.iterrows():
        b = batch.loc[r.event_type]
        assert int(r.n_rows) == int(b.n_rows), r.event_type
        ams = sum(int(b[f"x{d}"]) ** 2 for d in range(AMS_D))
        assert int(r.ams_sum) == ams, r.event_type
        assert r.f2_est == round(ams / AMS_D, 2), r.event_type


def test_stream_quantile_histogram_bit_identical_and_brackets(spark):
    """The streaming quantile twin's contract: (a) the drained
    declared-grid histogram equals the batch bucketization of the same
    events bit-for-bit (streaming count IS the merge); (b) the fixture
    is fully in-range for the declared $0..$1000 grid (so the bracket
    guarantee applies, no clamping occurred); (c) the bracket theorem —
    est_lo ≤ exact ≤ est_hi for every pct."""
    from pyspark.sql import functions as F

    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.streaming.sketch import SQ_B, SQ_LO_U, SQ_SPAN_U
    from tests.conftest import SF_DIR

    out = q.queries()["stream_quantile_event_values"](spark, SF_DIR).toPandas()
    assert ((out.est_lo_units <= out.exact_units)
            & (out.exact_units <= out.est_hi_units)).all()

    ev = load_table(spark, SF_DIR, "events")
    units = ev.selectExpr("CAST(round(value * 10000) AS BIGINT) AS u")
    lohi = units.agg(F.min("u").alias("lo"), F.max("u").alias("hi")).head()
    assert lohi.lo >= SQ_LO_U and lohi.hi < SQ_LO_U + SQ_SPAN_U  # in-range

    batch_hist = {
        r.bucket: r.cnt
        for r in units.selectExpr(
            f"least(greatest((u - {SQ_LO_U}) * {SQ_B} DIV {SQ_SPAN_U}, 0),"
            f" {SQ_B - 1}) AS bucket"
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    from minimapreduce_spark.streaming.source import (
        events_stream_sharded,
        run_to_memory,
    )
    from minimapreduce_spark.streaming.sketch import _SQ_BUCKET_SPARK

    sdf = events_stream_sharded(spark, SF_DIR, n_shards=4)
    drained = run_to_memory(
        sdf.selectExpr(f"{_SQ_BUCKET_SPARK} AS bucket")
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt")),
        "complete",
    ).collect()
    stream_hist = {r.bucket: r.cnt for r in drained}
    assert stream_hist == batch_hist


def test_stream_bloom_words_bit_identical_and_idempotent(spark):
    """The streaming Bloom's contract: the drained word frame is
    BIT-IDENTICAL to the batch sketch built on DISTINCT keys — even
    though the stream sets bits for EVERY event (no dedup state): OR
    is idempotent, which is the property that lets this twin skip the
    distinct every other twin needs. Also pins the registered output
    equal to the batch twin minus its n_keys column."""
    from pyspark.sql import functions as F

    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.scale import (
        BLOOM_K,
        BLOOM_WORD_BITS,
        bloom_positions,
    )
    from minimapreduce_spark.streaming.source import (
        events_stream_sharded,
        run_to_memory,
    )
    from tests.conftest import SF_DIR, assert_frames_match

    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("bloom:"), F.col("k"))), 1, 15), 16, 10
    ).cast("bigint")

    def words_of(df):
        return {
            (r.event_type, r.word): r.bits
            for r in df.select(
                "event_type", F.col("user_id").cast("string").alias("k")
            )
            .select("event_type", "k", h.alias("h"))
            .select(
                "event_type",
                F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i"),
                "h",
            )
            .select("event_type", bloom_positions().alias("idx"))
            .groupBy(
                "event_type",
                (F.col("idx") / BLOOM_WORD_BITS).cast("bigint").alias("word"),
            )
            .agg(
                F.bit_or(
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT), CAST(idx % {BLOOM_WORD_BITS} AS INT))"
                    )
                ).alias("bits")
            )
            .collect()
        }

    ev = load_table(spark, SF_DIR, "events")
    batch_distinct = words_of(ev.select("event_type", "user_id").distinct())
    batch_all_rows = words_of(ev)
    assert batch_all_rows == batch_distinct  # OR idempotence, batch-side

    sdf = events_stream_sharded(spark, SF_DIR, n_shards=4)
    drained = run_to_memory(
        sdf.select(
            "event_type", F.col("user_id").cast("string").alias("k")
        )
        .select("event_type", "k", h.alias("h"))
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i"),
            "h",
        )
        .select("event_type", bloom_positions().alias("idx"))
        .groupBy(
            "event_type",
            (F.col("idx") / BLOOM_WORD_BITS).cast("bigint").alias("word"),
        )
        .agg(
            F.bit_or(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(idx % {BLOOM_WORD_BITS} AS INT))"
                )
            ).alias("bits")
        ),
        "complete",
    ).collect()
    assert {(r.event_type, r.word): r.bits for r in drained} == batch_distinct

    s = q.queries()["stream_bloom_membership"](spark, SF_DIR).toPandas()
    b = (
        q.queries()["sketch_bloom_membership"](spark, SF_DIR)
        .drop("n_keys")
        .toPandas()
    )
    assert_frames_match(s, b, name="stream_vs_batch_bloom")


def test_stream_sessions_timer_finalized_contract(spark):
    """The timer-finalized sessionizer's three-part contract against
    batch truth: (a) emissions are ONCE-ONLY (no session key appears
    twice — the append-feed property); (b) the emitted set is EXACTLY
    the batch gaps-and-islands sessions whose close deadline
    (end + gap) the final watermark has passed — computed here
    independently from the events table, with the ms-floored watermark
    Spark uses; (c) the withheld tail is NONEMPTY on the fixture, so
    the finalization semantic is genuinely exercised. Also pins
    value_c sums against the batch recompute (exact integers)."""
    import duckdb

    from minimapreduce_spark import queries as q
    from minimapreduce_spark.streaming.stateful import SESSION_GAP_US
    from tests.conftest import SF_DIR, TABLES, table_path

    out = q.queries()["stream_sessions_timer_finalized"](spark, SF_DIR).toPandas()
    keys = list(zip(out.user_id, out.session_start_us))
    assert len(keys) == len(set(keys)), "a session emitted more than once"

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{table_path(SF_DIR, t)}'"
        )
    batch = con.execute(f"""
        WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
                          CAST(round(value * 10000) AS BIGINT) AS value_c
                   FROM events),
        wm AS (SELECT ((max(ts_us) // 1000) - 7200000) * 1000 AS wm_us FROM e),
        gaps AS (SELECT user_id, ts_us, value_c,
                        ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS g
                 FROM e),
        sess AS (SELECT user_id, ts_us, value_c,
                        sum(CASE WHEN g IS NULL OR g > {SESSION_GAP_US} THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts_us
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                 FROM gaps)
        SELECT user_id, min(ts_us) s0, max(ts_us) s1, count(*) n,
               CAST(sum(value_c) AS BIGINT) vc,
               max(ts_us) + {SESSION_GAP_US} < (SELECT wm_us FROM wm) AS finalized
        FROM sess GROUP BY user_id, sid
    """).df()
    con.close()
    want = {
        (int(r.user_id), int(r.s0), int(r.s1), int(r.n), int(r.vc))
        for r in batch.itertuples()
        if r.finalized
    }
    got = {
        (int(r.user_id), int(r.session_start_us), int(r.session_end_us),
         int(r.n_events), int(r.value_c_sum))
        for r in out.itertuples()
    }
    assert got == want
    withheld = (~batch.finalized).sum()
    assert withheld > 0, "no withheld tail — finalization vacuous on fixture"


def test_stream_ann_serve_equals_batch_twin_across_real_batches(spark):
    """The online serving tier's contract: (a) the query stream really
    replays through MULTIPLE non-empty micro-batches (each scored
    independently inside foreachBatch against the persisted index);
    (b) the drained union equals the BATCH served twin
    (`ann_ivfpq_served_topk`) row-for-row — same routing, same LUTs,
    same ADC, only the arrival pattern differs."""
    import minimapreduce_spark.streaming.upsert as up
    from minimapreduce_spark import queries as q
    from tests.conftest import SF_DIR

    online = {
        tuple(r)
        for r in q.queries()["stream_ann_serve_ivfpq"](spark, SF_DIR).collect()
    }
    assert up.stream_ann_serve_ivfpq.last_nonempty_batches > 1
    batch = {
        tuple(r)
        for r in q.queries()["ann_ivfpq_served_topk"](spark, SF_DIR).collect()
    }
    assert online == batch


def test_stream_minhash_probe_equals_batch_twin_across_real_batches(spark):
    """The online dedup-ingest tier's contract (the dedup analog of the
    online ANN serve): (a) the arrival batch really replays through
    MULTIPLE non-empty micro-batches, each probed inside foreachBatch
    against the persisted band index PLUS the arrivals before it;
    (b) the drained append feed equals the BATCH index-probe twin
    (`dedup_minhash_index_probe`) row-for-row — cross-slice
    batch-internal pairs emit exactly once, when their later side
    arrives; (c) the feed carries no duplicate pair rows (the
    exactly-once emission discipline, checked on the raw list, not the
    set)."""
    import minimapreduce_spark.streaming.upsert as up
    from minimapreduce_spark import queries as q
    from tests.conftest import SF_DIR

    rows = q.queries()["stream_minhash_index_probe"](spark, SF_DIR).collect()
    online = [tuple(r) for r in rows]
    assert up.stream_minhash_index_probe.last_nonempty_batches > 1
    assert len(online) == len(set(online)), "duplicate pair emission"
    batch = {
        tuple(r)
        for r in q.queries()["dedup_minhash_index_probe"](spark, SF_DIR).collect()
    }
    assert set(online) == batch


def test_stream_scd2_invariants_and_multibatch(spark):
    """The streaming SCD2 maintainer's contract: (a) the drain really
    ran >1 non-empty micro-batch; (b) per user the history is a valid
    type-2 chain — exactly ONE current row, rows CONTIGUOUS (each
    closed row's valid_to equals the next row's valid_from, no gaps or
    overlaps), and CONSECUTIVE rows always change band (equal bands
    must have merged into one island); (c) every user with events has
    a history."""
    import minimapreduce_spark.streaming.upsert as up
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import load_table
    from tests.conftest import SF_DIR

    out = q.queries()["stream_scd2_band_history"](spark, SF_DIR).toPandas()
    assert up.stream_scd2_band_history.last_nonempty_batches > 1
    n_users = load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert out["user_id"].nunique() == n_users
    cur = out[out.is_current]
    assert len(cur) == n_users and cur["valid_to"].isna().all()
    for uid, g in out.groupby("user_id"):
        g = g.sort_values("valid_from").reset_index(drop=True)
        for i in range(len(g) - 1):
            assert g.valid_to[i] == g.valid_from[i + 1], (uid, i)
            assert g.band[i] != g.band[i + 1], (uid, i, g.band[i])
        assert bool(g.is_current.iloc[-1]) and not g.is_current[:-1].any()


def test_stream_ivm_equals_batch_twin_across_real_batches(spark):
    """The streaming IVM maintainer's contract: (a) the dim CDC feed
    really drained through MULTIPLE non-empty micro-batches; (b) the
    drained three-term composition equals the single-batch tombstone
    twin (`incremental_join_view_upserts`) frame-for-frame — the
    per-key-once CDC property makes the accumulated tombstone/delta
    logs batch-order-independent; (c) exactly-once production
    (o_orderkey unique — no view row emitted twice across the
    anti-join, the per-batch delta appends, and the fact-arrival
    term)."""
    import minimapreduce_spark.streaming.upsert as up
    from minimapreduce_spark import queries as q
    from tests.conftest import SF_DIR

    rows = [
        tuple(r)
        for r in q.queries()["stream_incremental_join_view"](spark, SF_DIR).collect()
    ]
    assert up.stream_incremental_join_view.last_nonempty_batches > 1
    keys = [r[0] for r in rows]
    assert len(keys) == len(set(keys)), "view row produced twice"
    batch = {
        tuple(r)
        for r in q.queries()["incremental_join_view_upserts"](spark, SF_DIR).collect()
    }
    assert set(rows) == batch and len(rows) > 0


def test_stream_ivm_rebuild_one_scan_and_idempotent(spark, tmp_path):
    """The day-night cycle composition
    (`stream_incremental_join_view_rebuild`): (a) folding the
    stream-drained logs into a fresh artifact is content-preserving —
    rebuilt-read ≡ the batch tombstone twin (and therefore, by
    test_stream_ivm_equals_batch_twin_across_real_batches, ≡ the
    stream-maintained view and the recompute oracle); (b) the
    registered read plan is ONE scan of the stream-rebuilt artifact —
    zero joins of any kind, no base tables, no log reads (the entire
    point of paying the nightly fold); (c) the rebuild is idempotent —
    a second call returns the published root untouched, so a re-run
    scheduler cannot double-fold a day's logs."""
    import os as _os

    from minimapreduce_spark import plans
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.operators.relational import IVM_VIEW_SCHEMA
    from minimapreduce_spark.streaming.upsert import stream_join_view_rebuild
    from tests.conftest import SF_DIR

    # (a) fold to an isolated root, compare to the batch twin
    root = stream_join_view_rebuild(spark, SF_DIR, root=str(tmp_path / "srb"))
    served = spark.read.schema(IVM_VIEW_SCHEMA).parquet(_os.path.join(root, "view"))
    batch = q.queries()["incremental_join_view_upserts"](spark, SF_DIR)
    got = set(map(tuple, served.collect()))
    want = set(map(tuple, batch.collect()))
    assert got == want and len(got) == served.count()

    # (b) registered plan: one artifact scan, zero joins, no logs
    plan = plans.simple_plan(
        q.queries()["stream_incremental_join_view_rebuild"](spark, SF_DIR)
    )
    assert "_stream_rebuilt" in plan
    assert "Join" not in plan and "LeftAnti" not in plan
    for src in ("orders.parquet", "customer.parquet", "tombs", "delta"):
        assert src not in plan, f"rebuild read must not rescan {src}"

    # (c) idempotent re-publish
    before = _os.stat(root).st_mtime_ns
    assert stream_join_view_rebuild(spark, SF_DIR, root=root) == root
    assert _os.stat(root).st_mtime_ns == before


def test_stream_state_width_derivation(spark):
    """Round-12 (r11 verdict item 4): streaming state width is a
    bounded function of per-batch volume, not a fixture constant —
    floor 2, linear in rows/STREAM_STATE_ROWS_PER_SHARD, clamped to
    the session's shuffle width (at production volumes the clamp
    binds and state shards = cluster width)."""
    from minimapreduce_spark.session import (
        STREAM_STATE_ROWS_PER_SHARD,
        stream_state_width,
    )

    session_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # floor: tiny (and degenerate) batches still get distributed state
    assert stream_state_width(spark, 0) == min(2, session_w)
    assert stream_state_width(spark, 1) == min(2, session_w)
    # linear mid-band
    assert (
        stream_state_width(spark, 5 * STREAM_STATE_ROWS_PER_SHARD)
        == min(5, session_w)
    )
    # clamp: absurd volume never exceeds the session width
    assert stream_state_width(spark, 10**12) == session_w
    # the three drains' derivations are wired through it
    from minimapreduce_spark.catalog import parquet_rowcount, table_path
    from minimapreduce_spark.streaming.dedup_join import (
        _exactly_once_state_width,
    )
    from minimapreduce_spark.streaming.upsert import (
        UPSERT_N_SHARDS,
        _upsert_state_width,
    )
    from minimapreduce_spark.streaming.windows import _session_state_width

    rows = parquet_rowcount(table_path(SF_DIR, "events"))
    assert _session_state_width(spark, SF_DIR) == stream_state_width(spark, rows)
    assert _upsert_state_width(spark, SF_DIR) == stream_state_width(
        spark, rows // UPSERT_N_SHARDS
    )
    assert _exactly_once_state_width(spark, SF_DIR) >= 2


@pytest.mark.parametrize(
    "query, work_prefix",
    [
        pytest.param(q, prefix, id=q)
        for q, prefix in [
            ("stream_upsert_latest_state", "minimapreduce_upsert_"),
            ("stream_scd2_band_history", "minimapreduce_scd2_"),
            ("stream_incremental_join_view", "minimapreduce_stream_ivm_"),
        ]
    ],
)
def test_failed_drain_leaves_no_work_dir(spark, tmp_path, monkeypatch, query, work_prefix):
    """A drain whose foreachBatch raises after its first batch has
    written state propagates the error and removes its work dir
    (state, logs, checkpoint) on the way out."""
    import tempfile

    import minimapreduce_spark.streaming.upsert as upsert

    drain = upsert._drain

    def failing_drain(sdf, batch_fn, checkpoint_dir, output_mode):
        def fail_after(batch_df, batch_id):
            batch_fn(batch_df, batch_id)
            raise RuntimeError("injected batch failure")

        drain(sdf, fail_after, checkpoint_dir, output_mode)

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(upsert, "_drain", failing_drain)
    with pytest.raises(Exception, match="injected batch failure"):
        getattr(upsert, query)(spark, SF_DIR)
    left = os.listdir(tmp_path)
    assert any(n.startswith("minimapreduce_stream") for n in left)  # sources staged here
    assert [n for n in left if n.startswith(work_prefix)] == []


def test_run_to_memory_leaves_nothing_on_the_session(spark):
    """Three drains in each output mode, on the session and on a
    narrowed clone, leave both sessions' temporary views and active
    queries as they were, and every returned frame still collects the
    sink's content after the later drains have run: ``append`` every
    row, ``complete`` the last result table, ``update`` every batch's
    changed rows."""
    from pyspark.sql import functions as F

    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.session import narrow_clone
    from minimapreduce_spark.streaming.source import (
        events_stream_sharded,
        run_to_memory,
    )

    ev = load_table(spark, SF_DIR, "events")
    want = {
        "append": sorted(r.event_id for r in ev.select("event_id").collect()),
        "complete": sorted(map(tuple, ev.groupBy("event_type").count().collect())),
        "update": sorted(map(tuple, ev.groupBy("user_id").count().collect())),
    }

    def drain(s, mode):
        sdf = events_stream_sharded(s, SF_DIR, n_shards=4)
        if mode == "append":
            return run_to_memory(sdf.select("event_id"), mode)
        if mode == "complete":
            return run_to_memory(sdf.groupBy("event_type").count(), mode)
        return run_to_memory(sdf.groupBy("user_id").count(), mode)

    def got(mode, out):
        if mode == "append":
            return sorted(r.event_id for r in out.collect())
        if mode == "update":  # each key's last update carries its total
            out = out.groupBy("user_id").agg(F.max("count").alias("count"))
        return sorted(map(tuple, out.collect()))

    def registered(s):
        views = {t.name for t in s.catalog.listTables() if t.isTemporary}
        return views, {q.id for q in s.streams.active}

    sessions = [spark, narrow_clone(spark, 2)]
    before = [registered(s) for s in sessions]
    outs = [
        (mode, drain(s, mode))
        for s in sessions
        for mode in ("append", "complete", "update")
        for _ in range(3)
    ]
    assert [registered(s) for s in sessions] == before
    for mode, out in outs:
        assert got(mode, out) == want[mode], mode


def test_stream_sources_stage_under_pinned_names(spark, tmp_path, monkeypatch):
    """The staged directory of every stager at the sf0.001 fixture: the
    source path as the key, then, for a copied replay, the source's
    content fingerprint and the replay's params. The events shards are
    ``table_stream_sharded``'s, so both stagers share one directory."""
    import tempfile

    from minimapreduce_spark.catalog import content_fingerprint, table_path
    from minimapreduce_spark.streaming import source

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    source.events_stream(spark, SF_DIR)
    source.events_stream_sharded(spark, SF_DIR, n_shards=4)
    source.table_stream_sharded(spark, SF_DIR, "events", n_shards=4)
    source.table_stream_sharded(spark, SF_DIR, "customer", n_shards=3)
    source.events_stream_redelivered(spark, SF_DIR, n_shards=4, redeliver_mod=13)
    source.events_stream_time_sliced_redelivered(spark, SF_DIR)
    source.events_stream_time_sliced(spark, SF_DIR)

    def key(table):
        path = table_path(SF_DIR, table)
        return os.path.abspath(path).strip(os.sep).replace(os.sep, "_"), (
            content_fingerprint(path)
        )

    (ev, ev_fp), (cu, cu_fp) = key("events"), key("customer")
    staged = {fam: sorted(os.listdir(tmp_path / fam)) for fam in os.listdir(tmp_path)}
    assert staged == {
        "minimapreduce_stream": [ev],
        "minimapreduce_stream_tbl": sorted([f"{ev}_{ev_fp}_4", f"{cu}_{cu_fp}_3"]),
        "minimapreduce_stream_redelivered": [f"{ev}_{ev_fp}_4_13"],
        "minimapreduce_stream_timesliced": sorted(
            [f"{ev}_{ev_fp}_10_13", f"{ev}_{ev_fp}_10_0"]
        ),
    }


def test_events_stream_staged_once_under_concurrent_calls(spark, tmp_path, monkeypatch):
    """Several sessions staging the events link dir at once all get the
    same complete directory: every stage is written before any rename,
    one rename wins, the losers return the winner's root, and no stage
    is left behind."""
    import tempfile
    import threading

    import pyarrow.parquet as pq

    from minimapreduce_spark.catalog import table_path
    from minimapreduce_spark.streaming import source

    n = 4
    barrier = threading.Barrier(n, timeout=120)
    publish = source.publish
    roots, errors = [], []

    def racing_publish(root, marker, write):
        def write_then_wait(stage):
            write(stage)
            barrier.wait()

        roots.append(publish(root, marker, write_then_wait))
        return roots[-1]

    def call():
        try:
            source.events_stream(spark, SF_DIR)
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errors.append(e)

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(source, "publish", racing_publish)
    threads = [threading.Thread(target=call) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(roots) == n and len(set(roots)) == 1
    root, path = roots[0], table_path(SF_DIR, "events")
    assert os.listdir(root) == [os.path.basename(path)]
    link = os.path.join(root, os.path.basename(path))
    assert pq.read_metadata(link).num_rows == pq.read_metadata(path).num_rows
    assert [d for d in os.listdir(os.path.dirname(root)) if d.startswith(".stage-")] == []


def test_publish_batch_once_and_read_batches(spark, tmp_path):
    """``publish_batch`` publishes a ``batch_id`` once: a second publish
    of the same id with a different frame returns the first.
    ``read_batches`` reads what is published, ``below=k`` leaves out
    batch k and every later one, and an empty (or missing) directory
    reads as an empty frame with the schema."""
    from minimapreduce_spark.streaming.source import publish_batch, read_batches

    out = str(tmp_path / "out")
    schema = "x bigint"

    def xs(**kw):
        df = read_batches(spark, out, schema, **kw)
        assert df.schema.simpleString() == "struct<x:bigint>"
        return sorted(r.x for r in df.collect())

    assert xs() == []
    os.makedirs(out)
    assert xs() == []
    for b in range(4):
        publish_batch(out, b, spark.createDataFrame([(b,)], schema))
    first = os.stat(os.path.join(out, "batch_id=1")).st_ino
    publish_batch(out, 1, spark.createDataFrame([(99,), (100,)], schema))
    assert os.stat(os.path.join(out, "batch_id=1")).st_ino == first
    assert xs() == [0, 1, 2, 3]
    assert xs(below=2) == [0, 1]
    assert xs(below=0) == []
    assert xs(below=3, last=True) == [2]
    assert [n for n in os.listdir(out) if n.startswith(".")] == []


_REPLAYED_SINKS = [
    "run_to_parquet",
    "stream_upsert_latest_state",
    "stream_ann_serve_ivfpq",
    "stream_minhash_index_probe",
    "stream_scd2_band_history",
    "stream_incremental_join_view",
]


@pytest.mark.parametrize("sink", _REPLAYED_SINKS)
def test_sink_is_idempotent_under_at_least_once_delivery(spark, tmp_path, monkeypatch, sink):
    """``foreachBatch`` delivers a micro-batch at least once. With every
    ``batch_fn`` call made twice, each per-batch sink must produce the
    same rows as with single delivery, compared as multisets, so a
    duplicated row fails even where the sets agree."""
    from collections import Counter

    import minimapreduce_spark.streaming.source as source
    import minimapreduce_spark.streaming.upsert as upsert

    def rows(run):
        if sink == "run_to_parquet":
            out = str(tmp_path / run / "out")
            sdf = source.events_stream_sharded(spark, SF_DIR, 4).select(
                "event_id", "user_id", "value"
            )
            source.run_to_parquet(sdf, out, str(tmp_path / run / "ckpt"))
            df = spark.read.parquet(out)
        else:
            df = getattr(upsert, sink)(spark, SF_DIR)
        return Counter(map(tuple, df.collect()))

    once = rows("once")
    drain = source._drain

    def deliver_twice(sdf, batch_fn, checkpoint_dir, output_mode):
        def twice(batch_df, batch_id):
            batch_fn(batch_df, batch_id)
            batch_fn(batch_df, batch_id)

        drain(sdf, twice, checkpoint_dir, output_mode)

    monkeypatch.setattr(source, "_drain", deliver_twice)
    monkeypatch.setattr(upsert, "_drain", deliver_twice)
    twice = rows("twice")
    n_once, n_twice = sum(once.values()), sum(twice.values())
    assert n_once > 0 and n_twice == n_once, f"{n_once} rows once, {n_twice} twice"
    assert twice == once
