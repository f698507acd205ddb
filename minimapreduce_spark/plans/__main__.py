"""Dump formatted physical plans of representative queries to PLANS.md.

Usage:  python -m minimapreduce_spark.plans [sf_dir] [out_md]

The artifact is reviewable evidence of scale posture: broadcasts where
dims are small, PushedFilters/ReadSchema at the scans, WholeStageCodegen
spans in the hot paths, and exchange counts that match what each
operator semantically needs (the same properties tests/test_plans.py
asserts mechanically).
"""

from __future__ import annotations

import sys

SHOWCASE = [
    # name → why this plan is worth reading
    ("q5_local_supplier_volume", "star join: every dimension broadcast, one fact shuffle"),
    ("q1_pricing_summary", "scan → partial agg → single exchange → final agg; pruned ReadSchema"),
    ("q6_forecast_revenue", "full predicate pushdown into the parquet scan"),
    ("join_bloom_pruned_revenue", "runtime bloom filter pruning the fact scan before its shuffle"),
    ("window_topk_per_customer", "single user-partitioned sort serving window + filter"),
    ("doc_pair_cosine_tfidf", "term-partitioned sparse self-join; 1-row corpus-size broadcast"),
    ("dedup_minhash", "checkpointed shingle scan shared across band self-join branches"),
    ("dedup_minhash_incremental", "batch semi-join drives the band probe; corpus never self-joins"),
    ("mixture_token_budget_sample", "broadcast |sources|-row rate table; selection is a pure predicate"),
    ("zorder_tile_stats", "64-term codegen'd Morton interleave; literal bounds, all-long floor div"),
    ("dedup_embedding_lsh", "Arrow-matmul LSH signatures -> band equi-join -> cosine verify"),
    ("ann_pq_adc_topk", "PQ codebooks/LUTs broadcast; scoring is M map lookups per vector"),
    ("surrogate_keys_documents", "two-phase id assignment: no single-partition window over data"),
    ("histogram_equidepth_prices", "exact NTILE(8) from a two-phase rank — no global window"),
    ("customer_rfm_segments", "ONE two-phase rank over the stacked 3-axis frame; contiguous block ranks"),
    ("ts_similarity_topk", "lossless norm-pivot pruning: banded bucket equi-join, no all-pairs"),
    ("stream_tumbling_hourly", "streaming window agg with watermark state"),
    ("stream_psi_drift", "drained live-histogram state joined to a broadcast reference; exact-floor binning"),
    ("sketch_cms_heavy_hitters", "DxW sketch built by one combinable agg, broadcast back to every key probe"),
    ("hybrid_rrf_retrieval", "query sides of both channels broadcast; fusion bounded at Q x 2K rows"),
    ("sketch_quantile_prices", "one fact scan; histogram/CDF/probes all on the distinct-value frame"),
    ("agg_salted_hotkey_planted", "planted 90%-hot key spread over (key, salt) stage-1 groups"),
    ("sketch_kmv_set_ops", "per-type bottom-K sketches; pair stage is a 5-row self-join"),
    ("bitext_margin_mining", "Arrow-matmul A x B scoring; margin/mutual stages on the bounded candidate frame"),
    ("source_influence_loo", "one moment agg -> 21 broadcast weight rows -> one scoring scan"),
    ("sketch_hll_distinct_users", "distinct -> 64-register combinable agg -> 5-number readout"),
    ("skyline_price_size", "dominance on the distinct-price frame; two-phase prefix max; join back"),
    ("join_bucketed_smb", "exchange-free sort-merge join over pre-bucketed facts"),
    ("probe_auc_roc", "corpus collapses to the distinct-score frame; BIGINT rank algebra"),
    ("probe_kfold_cv", "per-fold moments + K-row broadcast weights; one held-out scoring scan"),
    ("sketch_ams_f2_join_size", "D sign counters as aggregate columns of ONE scan; no key shuffle"),
    ("bitext_margin_mining_ivf", "cell-routed cogroup matmul scoring; margin stages on the bounded frame"),
    ("ann_ivfpq_served_topk", "artifact-only parquet scans, zero Python stages, zero training"),
    ("ann_ivfpq_append_serve", "frozen-quantizer encode: train reads base only, encode covers all"),
    ("retrieval_eval_ivf", "truth + routed system + Q x K metric agg in one plan"),
    ("multimodal_audio_spectral", "two narrow mapInPandas stages; (doc,window)-partitioned rank"),
    ("wordpiece_apply_token_stats", "vocab-only tokenize pass; corpus contributes one (source,word) count"),
    ("dedup_minhash_index_probe", "corpus side = artifact parquet scans only; batch pipeline checkpointed"),
    ("wordpiece_apply_marked_stats", "position-aware longest match; two broadcast piece sets, vocab-only pass"),
    ("events_pattern_match", "one user_id shuffle; regex pattern scans inside the aggregate projection"),
    ("privacy_dp_geometric_release", "one partial+final count agg; noise drawn on the bounded group frame"),
    ("ann_bq_hamming_topk", "16-byte signature scan; integer hamming candidates; bounded exact rescore"),
    ("incremental_join_view", "base view from artifact; three delta terms, all broadcast dim sides"),
    ("join_skew_diagnosis", "one count agg; TakeOrdered top-N; 3-number census broadcast"),
    ("incremental_join_view_rebuild", "one rebuilt-artifact scan, zero joins — the nightly fold's entire payoff"),
    ("stream_incremental_join_view_rebuild", "day-night cycle read: one stream-rebuilt artifact scan, no logs, no base tables"),
    ("minhash_index_compact_probe", "probe served from the compacted one-file-per-band artifact; corpus side never rescans documents"),
    ("ann_ivfpq_append_served_topk", "serve from the physically-appended artifact: batch codes encoded under frozen read-back quantizers"),
]


def main(sf_dir: str, out_path: str) -> None:
    from minimapreduce_spark import queries as q
    from minimapreduce_spark.session import get_spark

    spark = get_spark(app_name="plan-dump", master="local[4]", shuffle_partitions=4)
    lines = [
        "# PLANS — formatted physical plans of representative queries",
        "",
        f"Generated by `python -m minimapreduce_spark.plans` at sf_dir={sf_dir}.",
        "Regenerate after plan-affecting changes; tests/test_plans.py asserts",
        "the load-bearing properties mechanically.",
        "",
    ]
    for name, why in SHOWCASE:
        fn = q.queries().get(name)
        if fn is None:
            continue
        df = fn(spark, sf_dir)
        jdf = getattr(df, "_jdf", None)
        explained = (
            df.sparkSession._jvm.PythonSQLUtils.explainString(
                jdf.queryExecution(), "formatted"
            )
            if jdf is not None
            else "(no JVM plan)"
        )
        lines += [f"## {name}", "", f"*{why}*", "", "```", explained.rstrip(), "```", ""]
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path} ({len(SHOWCASE)} plans)")
    spark.stop()


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"
    main(sf, out)
