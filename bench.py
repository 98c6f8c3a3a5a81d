"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streaming_cdc_spark import session  # noqa: E402
from streaming_cdc_spark.queries import QUERIES  # noqa: E402

# Representative operator mix: scan-agg, multi-join, window/ids, band
# join, sweep, similarity join, connected components, metrics.
# r3 final: grew 52 -> 60 (contamination, leakage splits,
# meta-blocking, progressive ER batch+stream, incremental semantic,
# SCD2, series similarity, decile curriculum) — totals are NOT
# comparable to earlier records; diff per query via bench_compare.py.
HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "order_priority_check",
    "first_occurrence_ids",
    "composite_key_clusters",
    "max_active_sweep",
    "band_join_pairs",
    "top_event_per_user",
    "cosine_edges",
    "threshold_cc_clusters",
    # r4: the pinned 100 TB physicals (blocked kernel; blocked kernel
    # + distributed pointer-jumping CC) measured alongside their
    # small-n siblings — the distributed CC pays ~3-4 fixed
    # label-propagation iterations, which at local scale is mostly
    # per-iteration job overhead
    "cosine_edges_blocked",
    "threshold_cc_distributed",
    # r4: degree-oriented triangle counting (skew-proof wedge join)
    "triangle_counts",
    # r5: exact integer-arithmetic PageRank over the near-dup graph
    # (3 unrolled join+sum iterations)
    "pagerank_neardup_graph",
    # r6: deterministic mode-vote label propagation (3 unrolled
    # iterations) and SNM + Fellegi-Sunter record linkage
    "label_propagation_communities",
    "record_linkage_scores",
    # r6: content-defined chunking dedup + adjusted Rand index +
    # 2-D skyline selection
    "chunk_dedup_profile",
    "ari_score",
    "pareto_front_docs",
    # r6: cohort retention matrix + GK quantile-sketch bound check
    "cohort_retention",
    "approx_quantile_bounds",
    # r6: sequence/drift/interval/sketch analytics — Markov transition
    # matrix, chi-square category drift (quantize-then-exact-sum
    # total), bounded-width interval coverage (linear unnest vs the
    # oracle's naive range join), k-core peeling of the near-dup
    # graph, Misra-Gries heavy hitters under the theorem bound
    "event_transition_matrix",
    "pivot_user_event_matrix",
    "hopping_window_counts",
    "hopping_distinct_users",
    "category_drift_chisq",
    "interval_coverage_counts",
    "interval_overlap_join",
    "kcore_peel_rounds",
    "heavy_hitters_bounds",
    "count_min_replay",
    # r6: PMI collocations (no-ln fixed-order ratio), last-touch
    # attribution (typed as-of vs DuckDB native ASOF oracle),
    # equi-width value histogram
    "collocation_pmi",
    "purchase_attribution",
    # r9: linear multi-touch credit split (range pair join + purchase
    # window), Heaps vocabulary growth curve, l-diversity audit
    "multi_touch_attribution",
    "heaps_vocab_growth",
    "l_diversity_risk",
    # r9 second session: privacy battery third leg (TVD t-closeness)
    # + ln-free Gini label concentration
    "t_closeness_risk",
    "segment_gini_impurity",
    "value_histogram_bins",
    "equidepth_histogram",
    "unpivot_metric_stats",
    "bpe_merge_table",
    # r6: streaming sharded-state Misra-Gries (same oracle as the
    # batch sketch) and resource-allocation link prediction (integer
    # micro-unit 1/deg wedge sums)
    "streaming_heavy_hitters",
    "resource_allocation_links",
    # r6: greedy max-coverage subset selection (3 unrolled rounds)
    # and integer-quantized per-label centroid outliers
    "greedy_coverage_docs",
    "label_centroid_outliers",
    # r6: random walk with restart (seed-biased teleport)
    "personalized_pagerank",
    # r7: exact-moment OLS trend, Apriori basket pairs, MAD outliers
    # (two chained banded medians), bounded-hop BFS distances
    "value_trend_slope",
    "basket_part_pairs",
    "mad_outlier_stats",
    "bfs_hop_distances",
    # r6: 3-step path mining + exact weighted median per type
    "event_path_trigrams",
    "weighted_median_value",
    "weighted_median_banded",
    "user_range_frame_sums",
    "time_weighted_value",
    # r7 third session: sketch-family completion (full HLL register
    # replay), map-side partial Gram covariance, label-partition
    # modularity on the cosine graph, Benford screen, dyadic EWMA,
    # stream-static broadcast enrichment
    "hll_replay_distinct",
    "embedding_covariance",
    "graph_modularity",
    "benford_digit_profile",
    "ewma_user_value",
    "stream_static_enrich",
    "stream_static_enrich_evolving",
    "epoch_shuffle_positions",
    "winsorized_stats",
    "grouping_sets_custom",
    "tfidf_topk_terms",
    "k_anonymity_risk",
    "fk_candidate_profile",
    "negative_pair_sample",
    "streaming_update_mode_counts",
    "streaming_complete_mode_topk",
    "time_to_convert",
    "clustering_coefficients",
    "grid_knn_join",
    "grid_knn_skewed",
    "windowed_rank_family",
    "streaming_sessions_custom_state",
    "ivm_join_view",
    "ivm_join_retract",
    "rank_tie_semantics",
    "cube_returnflag_status",
    "cluster_summary",
    "muc_prf",
    "tfidf_blend_clusters",
    "ep2_cluster_summary",
    "b3_prf",
    "minhash_band_candidates",
    "ngram_jaccard_pairs",
    "simhash_fingerprints",
    "simhash_hamming_pairs",
    # r4: the linear-output group form (exact-fp collapse -> rep-level
    # Hamming join -> CC) — the scale-correct shape SHUFFLE.md pairs
    # against the output-bound pair query
    "simhash_dedup_groups",
    # r4: character-level Ed-Join fuzzy dedup (prefix-filtered q-gram
    # candidates + banded levenshtein verify)
    "edit_distance_pairs",
    "text_quality",
    "gopher_quality_flags",
    "token_histogram",
    "cosine_topk",
    "lsh_bucket_pairs",
    "exact_dedup_prefix",
    "doc_fingerprints",
    "seen_unseen_split",
    "entity_vocab",
    "event_gaps",
    "revenue_rollup",
    "rollup_revenue_cube",
    "docs_with_token",
    "lang_id_confusion",
    "ngram_repetition_stats",
    "near_dup_resolution",
    "minhash_dedup_groups",
    # r5: exact (zero-recall-loss) set-similarity join via the PPJoin
    # prefix filter — only each set's rarest shingles enter the index
    "ppjoin_exact_pairs",
    # r6: 40%-hot-shingle clique planted — wall-clock next to the
    # unskewed sibling IS the measured skew cost (prefix filter
    # excludes the hot shingle by construction)
    "ppjoin_skewed_pairs",
    # r4: sliding-window ExactSubstr islands (the substring-granularity
    # dedup family) and BM25 scored retrieval (one scan + scalar-stats
    # broadcast + TakeOrdered)
    "duplicate_span_islands",
    "bm25_topk",
    # r5: positional-index phrase query (posting-list probe join)
    "phrase_match_postings",
    # r9: two-stage PQ-shortlist -> exact-cosine rerank; per-doc
    # n-gram novelty (first-occurrence shape at shingle granularity)
    "pq_rerank_topk",
    "ngram_novelty_profile",
    "bloom_incremental_matches",
    "incremental_dedup_status",
    "incremental_semantic_status",
    "benchmark_contamination",
    "leakage_safe_splits",
    "meta_blocking_pairs",
    "progressive_resolution",
    "pipeline_manifest",
    "quality_filter",
    "doc_chunks",
    "sequence_packing",
    "training_mix_counts",
    # r4: Deequ-style table health (one-pass profile + constraints)
    "column_profile",
    "constraint_checks",
    "corpus_shards",
    "corpus_diff_status",
    "user_sessions",
    # r9 second session: native session_window with a per-event gap
    # EXPRESSION (per-activity timeouts), full gaps-and-islands oracle
    "dynamic_gap_sessions",
    # r9 second session: exact-integer series analytics (offline CUSUM
    # changepoint, lag-1 autocorrelation from exact moments)
    "user_cusum_changepoint",
    "user_lag1_autocorr",
    # r9 second session: percentile_cont-semantics interpolated
    # quartiles on the shared banded order-statistics pass
    "quartile_interp_stats",
    # r9 second session: privacy enforcement pair (GDPR cascade audit,
    # referentially-consistent pseudonymization witness)
    "deletion_propagation_audit",
    "pseudonymize_consistent",
    "privacy_release_manifest",
    # r9 second session: division-free 3-sigma seasonal anomaly flags
    # + TANE g3 functional-dependency discovery
    "seasonal_anomaly_counts",
    "fd_candidate_profile",
    # r5: exact-moment Pearson correlation + hash-checkable HLL bound
    "exact_moment_corr",
    "approx_distinct_bounds",
    # r5: CDC change-log apply (namesake operator) — batch keyed
    # argmax and its four-micro-batch foreachBatch streaming twin
    "cdc_log_apply",
    "cdc_streaming_apply",
    "cdc_scd2_history",
    # r6: schema-evolution apply — versioned map payloads, union
    # projection, same one-argmax physical
    "cdc_evolving_apply",
    # r6: VERSION AS OF read over the versioned changelog sink
    "cdc_time_travel",
    # r5: CDC capture — snapshot diff -> I/U/D op-log
    "cdc_capture_diff",
    # r5: incremental view maintenance — sum-of-deltas view vs the
    # recompute oracle
    "ivm_group_sums",
    "ivm_hotkey_sums",
    # r5: planted 40%-hot-key join+agg through the salted path
    # (shuffle-hash pinned) — skew handling gets a measured number
    "salted_skew_stats",
    # r4: Morton clustering keys (OPTIMIZE ZORDER BY analogue)
    "zorder_layout",
    # r5: full table-maintenance lifecycle (manifest-indirected
    # init -> append -> compact -> read) measured end to end
    "zorder_table_roundtrip",
    # r5: continuous z-ordered ingest (exactly-once appends +
    # mid-stream compaction)
    "zorder_streaming_ingest",
    # r9: the layout family's other two legs under driver oracles —
    # bucketed co-located SMJ (zero exchange/sort) and hive partition
    # pruning (corrupted-partition behavioral proof in tests)
    "bucketed_join_roundtrip",
    "partitioned_pruning_roundtrip",
    "scd2_user_value",
    # r4: per-user grid LOCF resampling (oracle = DuckDB native ASOF)
    "hourly_ffill_series",
    "user_series_similarity",
    "quality_decile_curriculum",
    # r4: LSH recall S-curve measured on the corpus itself + the
    # deterministic stratified sampler (hash-rate filter and
    # WindowGroupLimit fixed-k per group)
    "minhash_recall_calibration",
    # r5: IVF probe-recall calibration (exact-integer hit counts)
    "ivf_recall_calibration",
    "stratified_sample_counts",
    # r5: deterministic weighted (size-proportional) sampling and the
    # ordered 3-step conversion funnel
    "weighted_sample_topk",
    "funnel_conversion",
    "kmeans_assign",
    # EP3: sequential GRINCH build (driver, 5000 pts) + the per-key
    # scalable form (independent trees via applyInPandas)
    "grinch_flat_clusters",
    "grinch_per_key_trees",
    # r5: the driver-checkable forest well-formedness projection
    "grinch_forest_invariants",
    # r4: distributed purity math on the bit-arithmetic fixture tree
    # (the A10 full-oracle evidence query)
    "dendrogram_purity_fixture",
    "semantic_dedup",
    "ivf_topk_exact",
    # r4: product-quantization ADC top-k (integer LUT scan)
    "pq_adc_topk",
    "hybrid_rrf_topk",
    "temperature_mix",
    # streaming: drains the embeddings stream through the keyed
    # incremental linker as FOUR micro-batches (maxFilesPerTrigger=1)
    # so per-batch state-store write/reload is measured, not just the
    # in-memory fold (r3: replaces the single-drain entry, which
    # stays registered)
    "ep2_streaming_multibatch",
    # r9: the linker's FULL-ORACLE streaming row (one-hot fixture,
    # backwards strategy, 4 batches — gaps-and-islands SQL replay)
    "ep2_streaming_linker_replay",
    # streaming upsert sink: foreachBatch keyed merge + versioned
    # atomic publish over the events stream
    "materialized_user_value",
    # r4: bounded-state streaming dedup (sharded bloom ValueState),
    # full oracle via the bitmap-prefix property
    "streaming_bloom_status",
    # r4: watermarked event-time aggregation with REAL late data
    # (round-robin batches), drop + append-emission semantics under a
    # full oracle
    "watermarked_daily_counts",
    # r5: native streaming SESSION windows (merging state), emission
    # + microsecond gap-merge rules both replayed in the oracle
    "streaming_sessions_finalized",
    "streaming_dedup_watermark",
    "streaming_stream_join",
    "streaming_outer_join",
    "streaming_full_outer_join",
    "streaming_join_then_window",
    # budgeted progressive ER, long-stream form: EIGHT micro-batches
    # (top-25 each — same 200-pair total budget as the 4-batch query)
    # with state compaction scheduled mid-stream (compact_every=3),
    # so the OPTIMIZE analogue runs in the measured path (r4:
    # replaces the 4-batch entry, which stays registered +
    # oracle-gated)
    "progressive_longstream_compacted",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"
    spark = session.get_spark("bench")
    # Warm the JVM, codegen, parquet reader, and Python workers once so
    # per-query times measure the queries, not JIT/session startup.
    from streaming_cdc_spark.tables import load

    load(spark, sf_dir, "region").count()
    load(spark, sf_dir, "events").selectExpr(
        "sum(cast(value as decimal(18,2)))", "count(distinct user_id)"
    ).collect()
    # Touch the data pages of every large table once (footer parse +
    # OS page cache + column decode): a cold first scan of lineitem /
    # documents otherwise charges ~4-5s of file I/O to whichever
    # headline query reads the table first.
    for tbl in ("lineitem", "orders", "customer", "part", "supplier",
                "documents", "embeddings"):
        df = load(spark, sf_dir, tbl)
        df.selectExpr(*[f"count({c})" for c in df.columns]).collect()
    # MLlib warmup: the first estimator fit pays a one-time RDD
    # python-worker + codegen cost (~10s) otherwise attributed to
    # whichever headline query touches MLlib first
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import IDF, CountVectorizer

    tiny = spark.createDataFrame(
        [([w],) for w in ("a", "b", "a", "c")], "toks array<string>"
    )
    cv = CountVectorizer(inputCol="toks", outputCol="_c")
    idf = IDF(inputCol="_c", outputCol="_i")
    Pipeline(stages=[cv, idf]).fit(tiny).transform(tiny).count()

    # Python-worker warmup: the first Arrow mapInPandas stage pays
    # worker spawn + numpy/pandas/package import (~5s across the
    # pool) — session startup cost, not query cost; pay it here so it
    # isn't attributed to whichever kernel query runs first
    session.ensure_package_on_executors(spark)

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        import streaming_cdc_spark.operators.similarity  # noqa: F401

        yield from batches

    spark.range(0, 64, 1, 64).mapInPandas(_warm, "id long").write.format("noop").mode(
        "overwrite"
    ).save()

    # a query streams iff it started a session.drain (the engine's only
    # stream start) during its run
    streaming_names: set[str] = set()

    def run_pass() -> dict[str, float]:
        timings: dict[str, float] = {}
        for name in HEADLINE:
            fn = QUERIES.get(name)
            if fn is None:
                continue
            drains0 = session.DRAIN_COUNT
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                # noop sink: computes EVERY output expression (count()
                # lets Catalyst prune unreferenced aggregates,
                # flattering scan-agg timings) without paying
                # driver-collect transfer.
                df.write.format("noop").mode("overwrite").save()
                timings[name] = round(time.time() - t0, 3)
            except Exception as e:  # noqa: BLE001
                timings[name] = -1.0
                print(f"bench error {name}: {e}", file=sys.stderr)
            if session.DRAIN_COUNT != drains0:
                streaming_names.add(name)
        return timings

    # Two passes: the first amortizes per-plan one-time costs (Janino
    # whole-stage-codegen compile + JVM JIT — measured 2-9s per query
    # cold vs warm on 17 MB of data, i.e. compilation, not compute);
    # the second is the measured steady-state pass, which is the
    # number comparable across rounds and against the reference's
    # steady-state throughput. Nothing carries data between passes:
    # queries re-read, re-shuffle, and re-materialize everything —
    # only JVM code caches are warm.
    t_warm = time.time()
    run_pass()
    warm_pass_sec = round(time.time() - t_warm, 3)
    # Two measured passes, per-query best-of: the host's vCPUs are
    # oversubscribed and transient multi-second scheduler stalls land
    # on random queries (identical back-to-back totals have measured
    # 47s vs 71s); the per-query min is the standard estimator for
    # the engine's own cost under external interference. Between
    # every pass clearCache() drops plans registered by intra-query
    # persist() — the CacheManager dedupes by canonicalized plan, so
    # a later pass would otherwise silently read the earlier pass's
    # cached data instead of recomputing it.
    spark.catalog.clearCache()
    pass_a = run_pass()
    spark.catalog.clearCache()
    pass_b = run_pass()
    # per-query min over the VALID measurements only: a transient
    # failure in either pass (-1.0) must not override a real timing
    timings = {}
    for name in pass_a:
        valid = [t for t in (pass_a[name], pass_b.get(name, -1.0)) if t >= 0]
        timings[name] = round(min(valid), 3) if valid else -1.0
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # Structured Streaming queries pay 4-8 triggers of fixed job +
    # state-store cost regardless of data size — on 17 MB they
    # dominate the total, at real scale they amortize. Surface their
    # share so cross-round total comparisons stop requiring tribal
    # knowledge (VERDICT r8 #7).
    streaming_overhead = round(
        sum(t for n, t in timings.items() if n in streaming_names and t >= 0), 3
    )
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full per-query record goes to a SIDECAR (BENCH_DETAIL.jsonl,
    # appended per run): the driver captures stdout through a window
    # that truncated r4's one-liner once the registry grew past ~70
    # queries ("parsed": null in BENCH_r04.json). The stdout line
    # stays a parseable <2 KB summary — totals, error names, and the
    # 15 slowest queries — while bench_compare/bench_trend read the
    # complete map from the sidecar (run_gates merges it back before
    # appending to BENCH_LOCAL.jsonl).
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "warmup_pass_sec": warm_pass_sec,
        "measured_passes": 2,
        "streaming_fixed_overhead_sec": streaming_overhead,
        "n_streaming_queries": len(streaming_names),
        "sf": sf_val,
    }
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.jsonl"),
        "a",
    ) as f:
        f.write(json.dumps(detail) + "\n")
    if os.environ.get("SPARK_GRAFT_BENCH_FULL"):
        # machine-to-machine path (run_gates): full per-query map on
        # stdout — no sidecar matching heuristics (code-review r5)
        print(json.dumps(detail))
        return
    slowest = dict(
        sorted(
            ((n, round(t, 2)) for n, t in timings.items() if t >= 0),
            key=lambda kv: -kv[1],
        )[:15]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "queries_shown": "15 slowest; full map in BENCH_DETAIL.jsonl",
                "n_queries": len(timings),
                "errors": sorted(n for n, t in timings.items() if t < 0),
                "warmup_pass_sec": warm_pass_sec,
                "measured_passes": 2,
                "streaming_fixed_overhead_sec": streaming_overhead,
                "n_streaming_queries": len(streaming_names),
                "sf": sf_val,
            }
        )
    )


if __name__ == "__main__":
    main()
