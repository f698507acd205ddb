#!/usr/bin/env python
"""Dedup/ANN scale-up experiment: build an N× dup-heavy corpus from
sf0.1 and time + oracle-verify the dedup/similarity family on it.

The first 10× run (SCALING.md) was built ad hoc; this tool commits the
methodology. Design choices that make the result mean something:

- **Dup-group size stays fixed at 10** while the number of groups
  scales N/10×. Candidate volume in a banded-LSH dedup legitimately
  grows with (group size)² — scaling groups instead of group size
  isolates the claim under test: at a fixed duplication rate, runtime
  is ~linear in corpus size because candidates are bounded by true
  duplicates, never corpus².
- **Variants are shingle-disjoint**: each base doc yields
  ceil(N/10) content variants — identity plus per-variant word-prefix
  rewrites (every word gets a `v<k>` prefix), each duplicated 10×.
  Prefixing every word shifts every shingle, so variants neither
  rejoin their base nor each other into bigger dup groups, AND
  cross-doc shingle collisions within a variant mirror the base
  corpus's natural overlap. (A first cut used sorted-word variants;
  sorting collapses thousands of docs onto shared sorted runs, turning
  the ngram inverted index's hot-shingle weakness into a corpus²
  blowup — a fixture artifact, not the behavior under test.)
  Embedding variants (negate / fixed dim-rolls) are far apart in
  cosine.
- **Correctness travels with scale**: every query is also re-verified
  against its DuckDB oracle on the scaled fixture — the same
  rows+schema+value-hash gate the driver applies at sf0.01 — so "it
  still runs fast" can't hide "it silently returns garbage at scale".

Usage: python tools/scale_experiment.py [--mult 40] [--out /tmp/sf_scaled]
Prints one JSON line per query and a final summary JSON line.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
COPIES = 10  # exact copies per content variant — fixed across scales

# documents-/embeddings-only queries: the dedup/ANN/curation family
QUERIES = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_ngram_containment",
    "dedup_minhash",
    "dedup_minhash_incremental",
    "dedup_simhash",
    "multimodal_phash_dedup",
    "dedup_clusters",
    "dedup_embedding_lsh",
    "dedup_embedding_clusters",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_ivf_nprobe_topk",
    "ann_knn_graph_edges",
    "embedding_kmeans_lloyd",
    "embedding_pca_power_iteration",
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_nprobe_topk",
    "ann_ivfpq_served_topk",
    "bitext_margin_mining",
    "bitext_margin_mining_ivf",
    "bitext_margin_mining_ivf_nprobe",
    "ann_hard_negative_mining",
    "ann_dim_truncation_recall",
    "contamination_test_train",
    "mixture_token_budget_sample",
    "quality_linear_probe",
    "embedding_kcenter_coreset",
    "ann_mmr_rerank",
    "ann_ivf_mmr_rerank",
    "split_leakage_safe",
    "bpe_train_merges",
    "bpe_apply_token_stats",
    "sample_token_lottery_topk",
    "hybrid_rrf_retrieval",
    "hybrid_ivf_rrf_retrieval",
    "sample_dsir_importance_topk",
    "unigram_train_pieces",
    "unigram_apply_token_stats",
    # the position-marked WordPiece pair (vocab-scale merge rounds;
    # the marked alphabet is a ≤2× constant on bounded frames) and the
    # dedup band-index family's served probe (probe cost ∝ batch —
    # SCALING.md "persisted band index for incremental dedup" carries
    # the dedicated octave)
    "wordpiece_train_marked",
    "wordpiece_apply_marked_stats",
    "dedup_minhash_index_probe",
    # the evaluation suite: one corpus scan + tiny broadcast state
    # each — the probe family's scale posture, measured on its metrics
    "probe_auc_roc",
    "probe_kfold_cv",
    "probe_calibration_bins",
    "feature_woe_iv",
]

# Excluded past 10×:
# - (UN-EXCLUDED: dedup_ngram_jaccard + dedup_clusters. The
#   full-Jaccard inverted-index pair was once excluded because
#   duplicate copies multiplied every hot-shingle bucket — Σ bucket²
#   projected 66 BILLION joined rows at 40×. The content-group front
#   end collapses byte-identical copies before the inverted index, so
#   bucket sizes are per-CONTENT document frequency and Σ bucket²
#   shrinks by the duplication factor squared: 40× now runs in ~5-8 s,
#   oracle hash-matched at 10×.)
# - ann_knn_graph_edges — its Σ|cell|² bound assumes IVF nlist grows
#   with the corpus (real builds use nlist ∝ √N); the fixture's label
#   column is FIXED at 10 cells, so cells grow linearly and the
#   within-cell self-join becomes a fixture artifact past ~10×.
# - bitext_margin_mining — the registered query scores the full A×B
#   matrix BY CONTRACT (the correctness baseline, like
#   ann_cosine_topk): |A|·|B| grows quadratically under replication
#   (1.6e9 pairs at 40×), which is the documented reason the 100 TB
#   path swaps the score matrix for IVF cells / LSH bands (whose
#   components carry their own octaves); the 10× row measures the
#   brute baseline honestly.
EXCLUDE_PAST_10X = {"ann_knn_graph_edges", "bitext_margin_mining"}

# Oracle skipped (timing + rows only) past 10×: these oracles compute
# the FULL id-level exact-Jaccard join (or its recursive-CTE closure) —
# still oracle-side intractable at 40× even though the content-grouped
# engine runs fine there; each was oracle hash-matched at 1× and 10×.
ORACLE_SKIP_PAST_10X = {
    "dedup_minhash",
    # embeds _CLUSTER_ORACLE (the recursive-CTE closure over the full
    # exact-Jaccard pair graph) — intractable oracle-side exactly where
    # dedup_clusters' is; hash-matched at 1x and 10x, and the Spark
    # side's structural guard (split = f(group_id)) is asserted at
    # every scale by the leakage pytest
    "split_leakage_safe",
    # same full exact-Jaccard SQL (DuckDB computes ALL pairs, then
    # filters to batch-touching), so the oracle is intractable exactly
    # where dedup_minhash's is; the Spark side stays measured, and the
    # batch-cost-independence claim has its own octave (SCALING.md
    # "incremental dedup — batch-driven cost, measured")
    "dedup_minhash_incremental",
    # same restricted exact-Jaccard oracle as the inline incremental —
    # intractable oracle-side exactly where its twin's is; the SERVED
    # probe's scale claim carries its own octave (SCALING.md "persisted
    # band index for incremental dedup": candidates constant under 16×)
    "dedup_minhash_index_probe",
    "dedup_ngram_jaccard",
    # same full doc-level shingle self-join oracle shape as
    # dedup_ngram_jaccard's — intractable oracle-side at 40× for the
    # same Σ bucket² reason; the engine side runs behind the
    # content-group front end and stays measured
    "dedup_ngram_containment",
    # full pairwise bit_count(xor) over every doc pair — 4e10 xors at
    # 40×; the engine's banded path stays measured
    "multimodal_phash_dedup",
    "dedup_clusters",
    # the IVF-routed bitext twin's ENGINE side stays measured at 40x
    # (the whole point of the octave: the brute twin is excluded there
    # by its |A|x|B| contract, the routed twin is not), but the oracle
    # recomputes every in-cell cosine serially in DuckDB -- ~1.6e8
    # list_cosine_similarity calls at 40x on this fixture's FIXED
    # 10-label cell structure (real IVF grows nlist with the corpus;
    # the ann_knn_graph_edges exclusion note documents the same
    # fixture artifact). Hash-matched at 1x and 10x; the GROWN-nlist
    # experiment the caveat calls for is in SCALING.md's "nlist ∝ √N
    # octave for routed bitext" table (its script is deleted): nlist = round(sqrt(N)) at 10x/40x,
    # emitted candidates measured exactly proportional to N, output
    # replay-matched at both scales.
    "bitext_margin_mining_ivf",
}

# Oracle skipped past 40×: the registered dedup_embedding_lsh's full
# DuckDB oracle needed 644.5 s at 40× (hash-matched there — SCALING.md
# "the definitive 40× dedup/ANN run" table); at 160× the same computation projects to ~1 h of
# single-node DuckDB, which is an oracle-resource limit, not an engine
# one. The 160× linearity claim for embedding-LSH dedup rests on the
# STRICT-REGIME run below, whose oracle stays tractable and is
# hash-checked at EVERY multiplier; the registered 0.30-regime's
# output is quadratic on this fixture by geometry (documented at the
# strict-regime comment), so its 160× row reports wall + rows only.
ORACLE_SKIP_PAST_40X = {"dedup_embedding_lsh"}

# Oracle skipped past 1×: dedup_embedding_clusters' oracle is a
# recursive-CTE TRANSITIVE CLOSURE — O(Σ|component|²) rows — and the
# 0.30-cosine LSH graph grows a giant component once copies multiply
# (the 10× attempt spilled >60 GB of DuckDB temp before dying). The
# Spark side is min-label propagation — O(E · diameter) — which is
# exactly why it, and not a closure, is the 100 TB algorithm. Semantics
# stay verified by the 1× oracle run, the sf0.01 driver gate, and the
# pairs↔labels consistency pytest.
ORACLE_SKIP_PAST_1X = {"dedup_embedding_clusters"}


def build_fixture(mult: int, out_dir: str) -> None:
    """documents: 5000 base docs × ceil(mult/10) shingle-disjoint
    variants × 10 exact copies; embeddings: 2000 base vectors × the
    same variant/copy grid. Key offsets keep ids unique; group
    structure is (base, variant) — 10 members each."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    copies = min(mult, COPIES)  # mult=1 → a protocol-identical baseline replica
    n_variants = (mult + copies - 1) // copies

    docs = pq.read_table(os.path.join(BASE, "documents.parquet")).to_pandas()
    out = []
    for v in range(n_variants):
        base = docs.copy()
        if v > 0:
            # deterministic per-variant token prefix on EVERY word —
            # shifts every shingle, keeping variants disjoint from the
            # base and from each other while preserving the base
            # corpus's natural within-variant overlap structure.
            # LETTERS ONLY: the shingle tokenizer splits on
            # [^A-Za-z]+, so a digit-bearing prefix like 'v1' would be
            # split off and every prefixed variant would collapse into
            # one token-identical group (caught in the 40× dry run:
            # 1.65M cross-variant jaccard-1.0 pairs).
            pre = "v" + chr(ord("a") + v)
            base["text"] = base["text"].map(
                lambda t, pre=pre: " ".join(pre + w for w in t.split())
            )
        base["n_chars"] = base["text"].str.len()
        for c in range(copies):
            copy = base.copy()
            copy["doc_id"] = copy["doc_id"] + (v * copies + c) * 1_000_000
            out.append(copy)
    pd.concat(out, ignore_index=True).to_parquet(
        os.path.join(out_dir, "documents.parquet"), index=False
    )

    import hashlib

    emb = pq.read_table(os.path.join(BASE, "embeddings.parquet")).to_pandas()
    mat = np.stack(emb["embedding"].to_numpy()).astype(np.float32)
    out_e = []
    for v in range(n_variants):
        m = mat.copy()
        if v > 0:
            # per-variant dim roll + md5-derived sign pattern: variants
            # decorrelate (near-orthogonal cosines) WITHOUT the exact
            # cancellation a plain negation variant creates — negation
            # put x and -x into the same IVF label cell and zeroed the
            # per-label centroids, crashing cosine routing (caught in
            # the 40× dry run as an ANSI DIVIDE_BY_ZERO).
            m = np.roll(m, shift=v * 7, axis=1)
            sgn = np.array(
                [
                    1.0
                    if int(hashlib.md5(f"esgn:{v}:{d}".encode()).hexdigest()[:2], 16) < 128
                    else -1.0
                    for d in range(m.shape[1])
                ],
                dtype=np.float32,
            )
            m = m * sgn
        for c in range(copies):
            copy = emb.copy()
            copy["vec_id"] = copy["vec_id"] + (v * copies + c) * 1_000_000
            copy["embedding"] = list(m)
            out_e.append(copy)
    pd.concat(out_e, ignore_index=True).to_parquet(
        os.path.join(out_dir, "embeddings.parquet"), index=False
    )


# Relational/events 40× run: the bench
# headliners beyond dedup/ANN, re-timed and re-oracle-verified at the
# scaled fixture. documents-family text queries are NOT in this list —
# plain replication turns hot terms into bucket² artifacts (the same
# fixture failure mode the dedup builder's shingle-disjoint variants
# exist to avoid); their scale evidence comes from the dedup run above.
RELATIONAL_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q8_market_share",
    "q9_product_type_profit",
    "q18_large_volume_orders",
    "q21_suppliers_kept_waiting",
    "window_topk_per_customer",
    "basket_part_pairs",
    "histogram_equidepth_prices",
    "hilbert_tile_stats",
    "customer_rfm_segments",
    "merge_upsert_customers",
    "events_tumbling_hourly",
    "events_sessionization",
    "events_resample_gapfill",
    "events_markov_transitions",
    "sketch_kmv_distinct_users",
    "sketch_cms_heavy_hitters",
    "sketch_quantile_prices",
    # ANALYZE-surface stats (11-struct melt over the fact),
    # row-pattern matching (one user_id shuffle + regex scans), and
    # the DP geometric release (bounded group frame)
    "catalog_stats_lineitem",
    "events_pattern_match",
    "privacy_dp_geometric_release",
    # theta set-ops — replicas share user_ids, so the sketch
    # columns must be SCALE-INVARIANT (same 10 rows at any mult) while
    # the scan grows linearly: the bounded-state claim, measured
    "sketch_kmv_set_ops",
    # planted 90%-hot-key salted agg — the skew mitigation
    # under 40x the hot volume
    "agg_salted_hotkey_planted",
    # register-form HLL — replicas share user_ids, so the
    # 5-number sketch row per type must be SCALE-INVARIANT while the
    # scan grows linearly (the 64-register state bound, measured)
    "sketch_hll_distinct_users",
    # its streaming twin — the same 64-register bound held
    # through 4 real micro-batches at fixture scale
    "stream_hll_distinct_users",
    # skyline — dominance work on the distinct-price frame,
    # which the replicated fixture holds CONSTANT while parts grow
    "skyline_price_size",
    # the zero-shuffle SMB join — the one-time bucketed write
    # plus the exchange-free join, timed end to end
    "join_bucketed_smb",
    # watermark-finalized LEFT OUTER stream-stream join —
    # bounded join state across 4 micro-batches at 16M events
    "stream_left_outer_views",
    # AMS F2 — all-integer sign sums; the sketch never
    # shuffles on the key, so wall should track the scan alone
    "sketch_ams_f2_join_size",
    # streaming twins: the events table replayed through 4 real
    # micro-batches at fixture scale — bounded state at 16M events
    "stream_cms_heavy_hitters",
    "stream_kmv_distinct_users",
    "stream_ams_f2_user_pairs",
    "stream_quantile_event_values",
    "sketch_bloom_membership",
    "stream_bloom_membership",
]

RELATIONAL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# --family money: the exact-grid money-sum class one octave past 160×.
# The relational builder concatenates whole replica frames in pandas —
# fine at 160× (96M lineitem rows), hostile at 640× (384M). This family
# builds ONLY the two fact tables those queries touch, streamed replica
# by replica through a pyarrow ParquetWriter (constant memory), and
# runs the lineitem-only money aggregates plus the KMV sketch: the
# operators whose 100 TB claim is "bit-identical at ANY scale" (integer
# grid sums; order-free bottom-K), where one more doubling-pair is the
# whole point of the probe.
MONEY_QUERIES = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "unpivot_returnflag_metrics",
    "sketch_kmv_distinct_users",
    # lineitem-only and integer end to end — the exact class the money
    # probe exists for; its B-counter state bound is scale-independent
    "sketch_quantile_prices",
    # the planted 90%-hot key at 384M rows (~346M on ONE key)
    # — the skew mitigation's largest octave; integer grid sums, so
    # bit-identical at any scale
    "agg_salted_hotkey_planted",
    # theta set-ops — events-only; the 10-row output must be
    # byte-stable at 640× while the scan does 640× the work
    "sketch_kmv_set_ops",
    # AMS F2 at 384M rows — X_d² approaches the documented
    # ~1e16 envelope bound exactly where the probe should stress it
    "sketch_ams_f2_join_size",
    # register-form HLL at 64M events — 64 registers per type
    # regardless; the whole sketch row must be byte-stable vs 1×
    "sketch_hll_distinct_users",
]

# (table, key column, per-replica key offset) — ONE structure drives the
# builder, the DuckDB view loop, and the builder test, so a new money
# table cannot be built-and-timed while its oracle view is forgotten.
MONEY_TABLES = (
    ("lineitem", "l_orderkey", 10_000_000),
    ("events", "event_id", 1_000_000),
)


def build_money_fixture(mult: int, out_dir: str) -> None:
    """Streamed fact replication: each replica is the base table with
    its key column offset (same recipe and offsets as the relational
    builder, so the fixtures agree where they overlap), written as one
    row group at a time — peak memory is one base-table copy."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for t, key, off in MONEY_TABLES:
        base = pq.read_table(os.path.join(BASE, f"{t}.parquet"))
        writer = pq.ParquetWriter(
            os.path.join(out_dir, f"{t}.parquet"), base.schema
        )
        ki = base.schema.get_field_index(key)
        for i in range(mult):
            shifted = base.set_column(
                ki, key, pc.add(base.column(key), i * off)
            ) if i else base
            writer.write_table(shifted)
        writer.close()


def run_money(args, out_dir: str) -> None:
    import duckdb

    from minimapreduce_spark import queries as q
    from minimapreduce_spark.session import get_spark

    if not args.skip_build:
        t0 = time.perf_counter()
        build_money_fixture(args.mult, out_dir)
        print(json.dumps({"step": "build-money",
                          "sec": round(time.perf_counter() - t0, 1)}), file=sys.stderr)

    spark = get_spark(
        app_name="scale-money",
        extra_conf={
            "spark.driver.memory": "48g",
            "spark.driver.maxResultSize": "8g",
        },
    )
    con = duckdb.connect()
    con.execute(
        "SET memory_limit='64GB'; SET temp_directory='/tmp/duckspill'; "
        "SET preserve_insertion_order=false;"
    )
    for t, _, _ in MONEY_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(out_dir, t + '.parquet')}'"
        )
    # no warmup query: the paired timing below IS the warmup — a q6
    # pre-scan here would warm the page cache and make sec_cold lie
    # about carrying the fixture's IO pull.

    results = {}
    total = 0.0
    only = set(args.only.split(",")) if args.only else None
    for name in MONEY_QUERIES:
        if only is not None and name not in only:
            continue
        entry = q.REGISTRY[name]
        # time twice IN-PROCESS with fresh plans: this VM's page cache
        # does not reliably retain the 6.9 GB 640x lineitem across
        # processes, so a single-shot wall measures the virtual disk
        # (observed 90-273 s for the same 8.5 s computation). The cold
        # number carries the IO pull; the warm number is the engine.
        t0 = time.perf_counter()
        spdf = entry.fn(spark, out_dir).toPandas()
        cold = time.perf_counter() - t0
        t0 = time.perf_counter()
        spdf = entry.fn(spark, out_dir).toPandas()
        wall = time.perf_counter() - t0
        total += wall
        rec = {"query": name, "sec": round(wall, 2),
               "sec_cold": round(cold, 2), "rows": len(spdf)}
        if not args.skip_oracle and entry.oracle:
            t1 = time.perf_counter()
            opdf = con.execute(entry.oracle).df()
            rec["oracle_sec"] = round(time.perf_counter() - t1, 2)
            rec["match"] = bool(
                len(spdf) == len(opdf)
                and sorted(spdf.columns) == sorted(opdf.columns)
                and value_hash(spdf) == value_hash(opdf)
            )
        results[name] = rec
        print(json.dumps(rec), flush=True)
    print(json.dumps({
        "mult": args.mult,
        "family": "money",
        "total_spark_sec": round(total, 1),
        "all_match": all(r.get("match", True) for r in results.values()),
        "n_queries": len(results),
    }))


def build_relational_fixture(mult: int, out_dir: str) -> None:
    """Fact-side replication with key offsets, dims shared — the
    first 10× run's recipe, committed: orders/lineitem replicate with
    orderkey += i·10^7 (FK-coherent per replica), events with
    event_id += i·10^6; region/nation/customer/supplier/part are
    copied unscaled (they are dims — broadcast candidates at any SF);
    documents/embeddings copied unscaled (their scale evidence comes
    from the dup-heavy dedup fixture, where variants are constructed
    to avoid replication artifacts). Replicas share timestamps and
    custkeys on purpose: per-key fan-out × mult and heavy ts ties are
    exactly the stress the two-phase/window re-plans must survive."""
    import pandas as pd
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "documents", "embeddings"):
        pq.write_table(
            pq.read_table(os.path.join(BASE, f"{t}.parquet")),
            os.path.join(out_dir, f"{t}.parquet"),
        )
    for t, keys, off in (
        ("orders", ("o_orderkey",), 10_000_000),
        ("lineitem", ("l_orderkey",), 10_000_000),
        ("events", ("event_id",), 1_000_000),
    ):
        base = pq.read_table(os.path.join(BASE, f"{t}.parquet")).to_pandas()
        out = []
        for i in range(mult):
            c = base.copy()
            for k in keys:
                c[k] = c[k] + i * off
            out.append(c)
        pd.concat(out, ignore_index=True).to_parquet(
            os.path.join(out_dir, f"{t}.parquet"), index=False
        )


def run_relational(args, out_dir: str) -> None:
    import duckdb

    from minimapreduce_spark import queries as q
    from minimapreduce_spark.session import get_spark

    if not args.skip_build:
        t0 = time.perf_counter()
        build_relational_fixture(args.mult, out_dir)
        print(json.dumps({"step": "build-relational",
                          "sec": round(time.perf_counter() - t0, 1)}), file=sys.stderr)

    # 96M-row fact joins at 160x need execution-memory headroom past
    # the 8g test default (q21 died at UNABLE_TO_ACQUIRE_MEMORY there)
    spark = get_spark(
        app_name="scale-relational",
        extra_conf={
            "spark.driver.memory": "48g",
            "spark.driver.maxResultSize": "8g",
        },
    )
    con = duckdb.connect()
    # bounded memory + disk spill: a 160x oracle must degrade to spill,
    # not die on a bad allocation under concurrent memory pressure
    con.execute(
        "SET memory_limit='64GB'; SET temp_directory='/tmp/duckspill'; "
        "SET preserve_insertion_order=false;"
    )
    for t in RELATIONAL_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(out_dir, t + '.parquet')}'"
        )
    q.REGISTRY["q6_forecast_revenue"].fn(spark, out_dir).count()  # warmup

    results = {}
    total = 0.0
    only = set(args.only.split(",")) if args.only else None
    names = [n for n in RELATIONAL_QUERIES if only is None or n in only]
    for name in names:
        entry = q.REGISTRY[name]
        t0 = time.perf_counter()
        spdf = entry.fn(spark, out_dir).toPandas()
        wall = time.perf_counter() - t0
        total += wall
        rec = {"query": name, "sec": round(wall, 2), "rows": len(spdf)}
        if not args.skip_oracle and entry.oracle:
            t1 = time.perf_counter()
            opdf = con.execute(entry.oracle).df()
            rec["oracle_sec"] = round(time.perf_counter() - t1, 2)
            rec["match"] = bool(
                len(spdf) == len(opdf)
                and sorted(spdf.columns) == sorted(opdf.columns)
                and value_hash(spdf) == value_hash(opdf)
            )
        results[name] = rec
        print(json.dumps(rec), flush=True)
    print(json.dumps({
        "mult": args.mult,
        "family": "relational",
        "total_spark_sec": round(total, 1),
        "all_match": all(r.get("match", True) for r in results.values()),
        "n_queries": len(results),
    }))


def value_hash(pdf) -> str:
    pdf = pdf[sorted(pdf.columns)]
    return hashlib.sha256(
        "\n".join(
            sorted(",".join(repr(v) for v in r) for r in pdf.itertuples(index=False))
        ).encode()
    ).hexdigest()[:12]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=40)
    ap.add_argument("--out", default=None)
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--skip-oracle", action="store_true")
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query subset (resume a crashed run); "
        "include the literal token 'strict' to also run the "
        "strict-regime LSH block",
    )
    ap.add_argument(
        "--family",
        choices=["dedup", "relational", "money"],
        default="dedup",
        help="dedup = dup-heavy documents/embeddings fixture (default); "
        "relational = fact-replicated star schema + events; "
        "money = streamed lineitem+events only (640x-capable)",
    )
    args = ap.parse_args()
    if args.family == "relational":
        run_relational(args, args.out or f"/tmp/sf_rel_{args.mult}x")
        return
    if args.family == "money":
        run_money(args, args.out or f"/tmp/sf_money_{args.mult}x")
        return
    out_dir = args.out or f"/tmp/sf_scaled_{args.mult}x"

    if not args.skip_build:
        t0 = time.perf_counter()
        build_fixture(args.mult, out_dir)
        print(
            json.dumps({"step": "build", "sec": round(time.perf_counter() - t0, 1)}),
            file=sys.stderr,
        )

    import duckdb

    from minimapreduce_spark import queries as q
    from minimapreduce_spark.session import get_spark

    # the registered-LSH 160× output is fixture-quadratic (~15M pair
    # rows — documented at ORACLE_SKIP_PAST_40X); its rows-only report
    # still materializes through toPandas for wall-comparability with
    # the earlier multipliers, which needs driver result headroom.
    # driver.memory 48g matches the relational runner: the 640× corpus
    # (3.2M docs) GC-thrashed the 8g test default mid-shuffle.
    spark = get_spark(
        app_name="scale-experiment",
        extra_conf={
            "spark.driver.memory": "48g",
            "spark.driver.maxResultSize": "8g",
        },
    )
    con = duckdb.connect()
    con.execute(
        "SET memory_limit='64GB'; SET temp_directory='/tmp/duckspill'; "
        "SET preserve_insertion_order=false;"
    )
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(out_dir, t + '.parquet')}'"
        )

    # unmeasured warmup: JVM + parquet footer + Arrow path one-time costs
    q.REGISTRY["dedup_exact"].fn(spark, out_dir).count()

    names = list(QUERIES)
    if args.mult > 10:
        for n in sorted(EXCLUDE_PAST_10X):
            print(json.dumps({"query": n, "excluded": "fixture artifact; see EXCLUDE_PAST_10X comment"}), flush=True)
        names = [n for n in names if n not in EXCLUDE_PAST_10X]
    only = set(args.only.split(",")) if args.only else None
    if only is not None:
        names = [n for n in names if n in only]
    run_strict = only is None or "strict" in only

    # STRICT-REGIME LSH dedup: the registered
    # query's 8×8-bit/0.30 regime makes TRUE pairs quadratic on this
    # fixture (~0.8% of ALL pairs qualify by geometry), so its wall can
    # never demonstrate linearity. The production near-dup regime —
    # 16-bit bands (random collisions p=2^-16 per band) at cosine ≥
    # 0.85 — has true pairs exactly ∝ corpus here (the fixed-size copy
    # groups), so THIS run is the candidate-boundedness measurement:
    # wall must track corpus, and verified pairs must equal
    # n_groups × C(copies, 2). Oracle-checked via the same
    # parameterized SQL (emb_lsh_oracle) at every multiplier.
    import pyspark.sql.functions as F

    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.dedup import (
        embedding_lsh_verified_pairs,
        emb_lsh_oracle,
    )

    if run_strict:
        emb = load_table(spark, out_dir, "embeddings").select(
            "vec_id", F.col("embedding").alias("emb")
        )
        t0 = time.perf_counter()
        strict_pdf = embedding_lsh_verified_pairs(
            spark, emb, planes=64, bands=4, threshold=0.85
        ).toPandas()
        rec = {
            "query": "dedup_embedding_lsh_strict[4x16bit,0.85]",
            "sec": round(time.perf_counter() - t0, 2),
            "rows": len(strict_pdf),
        }
        if not args.skip_oracle:
            t1 = time.perf_counter()
            opdf = con.execute(emb_lsh_oracle(64, 4, 0.85)).df()
            rec["oracle_sec"] = round(time.perf_counter() - t1, 2)
            rec["match"] = bool(
                len(strict_pdf) == len(opdf)
                and value_hash(strict_pdf) == value_hash(opdf)
            )
        print(json.dumps(rec), flush=True)

    results = {}
    total = 0.0
    for name in names:
        entry = q.REGISTRY[name]
        t0 = time.perf_counter()
        spdf = entry.fn(spark, out_dir).toPandas()
        wall = time.perf_counter() - t0
        total += wall
        rec = {"query": name, "sec": round(wall, 2), "rows": len(spdf)}
        if (
            (args.mult > 10 and name in ORACLE_SKIP_PAST_10X)
            or (args.mult > 1 and name in ORACLE_SKIP_PAST_1X)
            or (args.mult > 40 and name in ORACLE_SKIP_PAST_40X)
        ):
            rec["oracle"] = "skipped: intractable single-node oracle; see ORACLE_SKIP_*"
        elif not args.skip_oracle and entry.oracle:
            t1 = time.perf_counter()
            opdf = con.execute(entry.oracle).df()
            rec["oracle_sec"] = round(time.perf_counter() - t1, 2)
            rec["match"] = bool(
                len(spdf) == len(opdf)
                and sorted(spdf.columns) == sorted(opdf.columns)
                and value_hash(spdf) == value_hash(opdf)
            )
        results[name] = rec
        print(json.dumps(rec), flush=True)

    print(
        json.dumps(
            {
                "mult": args.mult,
                "total_spark_sec": round(total, 1),
                "all_match": all(r.get("match", True) for r in results.values()),
                "n_queries": len(results),
            }
        )
    )


if __name__ == "__main__":
    main()
