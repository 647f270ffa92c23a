"""Benchmark runner: measures catalog queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    python bench.py              # every HEADLINE query; writes BENCH_RUN.json
    python bench.py q_a q_b ...  # just those names, one record per line;
                                 # writes nothing

Each query is built, then written with the noop sink (every column of
every row), best of 2, each rep under the Spark job group <name>#<rep>.
Its record comes from the last rep: ``best_s`` (best build + write, what
``value`` sums), ``build_s`` (the builder: py4j calls plus eager jobs),
``plan_s`` (planner phases of the built frame), ``exec_s`` (the write),
``build_jobs``/``exec_jobs`` (jobs submitted before/after the build
ended), their ``stages``, ``tasks`` and ``shuffle_bytes``, the plan's
``exchanges``, and ``rows`` from an untimed count() under <name>#rows.
Stream entries (s_*) undercount jobs: micro-batch jobs run on the
stream's own thread, outside the job group, so ``build_jobs`` reads 0
while ``build_s`` holds the stream run.

Tripwire: a run compares its records with the BENCH_RUN.json on disk
when that run has the same sf, and flags a query whose rows differ or
whose jobs or exchanges rose. These counters repeat exactly from run to
run; wall-clock and shuffle bytes do not, so they are never compared.

The last line printed is ONE bounded JSON object: "metric", "value"
(total sec), "unit", "sf", "queries" (the 25 slowest), "regressions"
(the first 5 flags, {name: {counter: [before, now]}}) and "flagged".
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "perfbench"))

from kafka_s3_etl_spark.plans.registry import all_queries  # noqa: E402
from kafka_s3_etl_spark.session import build_session  # noqa: E402
from tracing import plan_phases, spark_counts  # noqa: E402

RUN_FILE = os.path.join(HERE, "BENCH_RUN.json")
REPS = 2
LINE_QUERIES = 25
LINE_FLAGS = 5

# Query families to time. Covers every family so run-over-run deltas
# track the whole surface: scan, filter, joins (incl. theta/asof/salted),
# agg/rollup/pivot/percentile, window, set ops, semi-structured, all dedup
# families, ANN (brute/LSH/IVF), text, multimodal UDF path, prep, ETL
# serialization, and streaming micro-batch pipelines.
HEADLINE = [
    "q_filter_conj",
    "q_agg_group",
    "q_rollup",
    "q_pivot",
    "q_percentiles",
    "q_join_inner",
    "q_join_multiway",
    "q_join_theta_range",
    "q_window_rank",
    "q_window_running",
    "q_topk_per_group",
    "q_agg_distinct",
    "q_union_distinct",
    "q_array_explode",
    "q_json_extract",
    "q_variant_extract",
    "q_asof_join",
    "q_ewma_user",
    "q_sessionize",
    "q_dedup_exact",
    "q_dedup_fuzzy",
    "q_dedup_simhash",
    "q_dedup_incremental",
    "q_sim_topk",
    "q_sim_ann_lsh",
    "q_sim_ivf",
    "q_embed_pca",
    "q_text_stats",
    "q_text_langid",
    "q_text_fingerprint",
    "q_text_clean",
    "q_vocab_topk",
    "q_decontaminate",
    "q_window_ntile",
    "q_multimodal_meta",
    "q_udaf",
    "q_pack_sequences",
    "q_corpus_pipeline",
    "q_curation_pipeline",
    "q_kafka_roundtrip",
    "q_merge_upsert",
    "q_sample_per_group",
    "q_bm25",
    "q_collect_sorted",
    "q_minmax_by",
    "q_resample_ffill",
    "q_graph_pagerank",
    "q_scd2",
    "q_time_weighted_avg",
    "q_knn_join",
    "q_feature_bin",
    "q_lang_entropy",
    "q_event_transitions",
    "q_cohort_retention",
    "q_pii_scrub",
    "q_window_percent_rank",
    "q_multimodal_decode",
    "q_multimodal_audio",
    "q_stats_moments",
    "q_islands",
    "q_global_shuffle",
    "q_lm_score",
    "q_tpch_pricing",
    "q_tpch_shipping",
    "q_tpch_local_volume",
    "q_tpch_market_share",
    "q_tpch_big_orders",
    "q_frequent_pairs",
    "q_attribution",
    "q_user_growth",
    "q_rolling_actives",
    "q_window_funnel",
    "q_profile_columns",
    "q_fuzzy_join",
    "q_graph_triangles",
    "q_hll_sketch",
    "q_table_diff",
    "q_inverted_index",
    "q_rolling_multi",
    "q_sequence_ngrams",
    "q_anomaly_mad",
    "q_dq_audit",
    "q_tpch_priority",
    "q_tpch_returned",
    "q_tpch_promo",
    "q_tpch_top_supplier",
    "q_tpch_parts_supp",
    "q_tpch_small_qty",
    "q_tpch_waiting",
    "q_tpch_idle_customers",
    "q_tpch_forecast",
    "q_tpch_nation_volume",
    "q_tpch_profit",
    "q_tpch_linestatus_priority",
    "q_tpch_custdist",
    "q_tpch_disjunctive",
    "q_heavy_hitters",
    "q_skyline",
    "q_tpch_min_supplier",
    "q_tpch_important_parts",
    "q_tpch_dominant_supplier",
    "q_ab_test",
    "q_mutual_info",
    "x_python_datasource",
    "s_python_stream_source",
    "x_python_datasink",
    "s_python_stream_sink",
    "x_python_pushdown",
    "q_recursive_tree",
    "q_sql_udf",
    "q_lateral_topn",
    "q_pagination",
    "q_fuzzy_join_capped",
    "q_graph_triangles_capped",
    "x_python_pushdown_range",
    "q_ds_net_returns",
    "q_ds_channel_wow",
    "q_ds_yoy_growth",
    "q_ds_timeband_counts",
    "q_ds_cume_share",
    "q_ds_topk_rollup",
    "s_admission_control",
    "x_bucketed_join",
    "x_partitioned_write",
    "x_dpp_join",
    "x_bloom_filter_join",
    "q_observed_metrics",
    "x_schema_evolution",
    "x_agg_pushdown",
    "q_sketch_mergeability",
    "q_weighted_sample",
    "q_contamination_rate",
    "q_window_first_last",
    "q_feature_minmax",
    "q_target_encode",
    "q_feature_hash",
    "q_quantile_bins",
    "q_join_nullsafe",
    "q_not_in_null",
    "q_array_algebra",
    "s_stream_full_join",
    "s_kafka_to_s3",
    "s_session_timeout",
    "s_window_tumbling",
    "s_stream_join",
    "s_foreach_rollup",
    "s_enrich_static",
    "s_chained_windows",
    "s_cdc_upsert",
    "q_gini",
    "q_pareto_cutoff",
    "q_herfindahl",
    "q_ks_test",
    "q_auc",
    "q_confusion_prf",
    "q_autocorr",
    "q_cusum",
    "q_hourly_seasonality",
    "q_degree_distribution",
    "q_jaccard_neighbors",
    "q_kcore",
    "q_source_overlap",
    "q_phrase_density",
    "x_sorted_layout",
    "x_nested_pruning",
    "s_stream_union",
    "q_decontaminate_bloom",
    "q_approx_topk",
    "q_percentile_disc",
    "q_median_exact",
    "q_benford_law",
    "q_weighted_percentile",
    "q_assoc_rules",
    "q_skew_diagnostic",
    "q_ds_exists_matrix",
    "q_simjoin_prefix",
    "q_sim_pq",
    "q_doc_keyterms",
    "q_trend_decompose",
    "q_outlier_iqr",
    "q_cuped",
    "q_histogram_log_bins",
    "q_survival_curve",
    "q_cohort_ltv",
    "q_fk_orphans",
    "q_corr_matrix",
    "q_changepoint",
    "q_rfm_scores",
    "q_kfold_assign",
    "q_label_propagation",
    "q_diff_in_diff",
    "q_bootstrap_ci",
    "q_percentile_cont",
    "q_incremental_agg_merge",
    "q_markov_stationary",
    "q_chi_square",
    "q_permutation_test",
    "q_calibration_bins",
    "q_gap_fill_interpolate",
    "q_decile_lift_scalable",
    "q_filter_funnel",
    "q_dedup_survivorship",
    "q_token_fertility",
    "q_attribution_position",
    "q_ar_aging",
    "q_asof_join_forward",
    "q_asof_join_tolerance",
    "q_rolling_median",
    "q_rolling_corr",
    # Excluded on purpose: q_decile_lift (the naive NTILE twin;
    # q_decile_lift_scalable represents the shape) and the PAIRS-output
    # entries q_dedup_embedding, q_dedup_image_phash and q_winnow_overlap:
    # pair emission is quadratic in duplicate multiplicity by definition
    # (the PAIRS-output rule in SCALE.md); their clusters siblings are here.
    "q_interval_overlap_scalable",
    "q_label_propagation_capped",
    "q_kcore_peeled",
    # q_containment_join stays correctness-tier: the exact containment
    # join's candidate set is intrinsically dense on this corpus (see its
    # doc); q_containment_join_capped below is the bounded form.
    "q_decile_transition",
    "q_mixture_weights",
    "q_length_buckets",
    "q_melt",
    "q_kmv_sketch",
    "q_interval_join",
    "q_ann_recall",
    "q_winsorize_scalable",
    "q_oov_rate",
    "x_cache_reuse",
    "q_try_arithmetic",
    "q_arrow_token_stats",
    "q_line_dedup",
    "q_multimodal_video",
    "q_sim_ivfpq",
    "x_s3_object_scan",
    "s_s3_autoloader",
    "x_s3_object_sink",
    "s_s3_stream_sink",
    "q_transpose",
    "q_xml_roundtrip",
    "q_dedup_fuzzy_exact",
    "q_dedup_clusters_exact",
    "q_dedup_simhash_exact",
    "q_graph_pagerank_exact",
    "q_markov_kstep",
    "q_sample_hash",
    "q_bpe_merges",
    "q_dedup_embedding_clusters",
    "q_dedup_precision_audit",
    "q_split_leakage_safe",
    "q_split_leakage_audit",
    "q_dedup_threshold_curve",
    "q_dedup_frame_phash",
    "q_containment_join_capped",
    "s_session_timeout_rocksdb",
    "q_sim_ivf_pinned",
    "q_sim_pq_pinned",
    "q_sim_ivfpq_pinned",
    "q_dedup_image_clusters",
    "q_dedup_audio_hash",
    "q_sample_temperature",
    "q_audio_band_energies",
    "q_keyword_textrank",
    "q_embed_quantize_int8",
    "q_padding_waste",
    "q_chunk_fixed_overlap",
    "q_tfidf_topk",
    "q_embed_centroid_exact",
    "q_dedup_cross_corpus",
    "q_kanonymity_audit",
    "q_freshness_lag",
    "q_maxsim_late_interaction",
    "s_dedup_watermark_rocksdb",
    "q_mrr_eval",
    "q_ndcg_eval",
    "q_label_churn",
    "q_negative_sampling",
    "q_quantile_normalize",
    "q_winsorize_clip",
    "q_hard_negatives",
    "s_stream_semi_join",
    # q_udtf_native (the @udtf API-parity twin) is excluded: the @udtf eval
    # contract is row-at-a-time Python by definition (19.5 s at sf0.1 for
    # 337k yielded rows), while q_udtf is the production form of the same
    # operator (JVM explode).
    "q_event_debounce",
    "q_dedup_prefix_tokens",
    "q_span_corruption",
    "q_embed_dim_stats",
    "q_regex_funcs",
    "q_graph_bfs_kstep",
    "q_asof_join_nearest",
    "q_map_funcs",
    "q_image_channel_stats",
    "q_sql_scripting",
    "q_parameterized_sql",
    "q_udf_iterator",
    "q_udaf_window",
    "q_collated_group",
    "s_window_sliding_rocksdb",
    "q_join_skew_aqe",
    "x_cbo_broadcast",
    "q_kmeans_kstep",
    "x_statestore_scan",
    "q_sql_session_vars",
    "x_state_metadata_scan",
    "q_read_corrupt_tolerant",
    "q_sql_table_function",
    "x_column_defaults",
    "q_execute_immediate",
    "q_dedup_substring_spans",
    "q_dedup_substring_mask",
    "q_label_propagation_kstep",
    "q_embed_randproj",
    "q_bpe_encode",
    "q_collocations_lift",
    "q_winnow_fingerprints",
    "q_chunk_cdc",
    "q_rrf_fusion",
    "q_cdc_dedup_ratio",
    "x_jsonl_roundtrip",
    "q_drift_psi",
    "s_jsonl_autoload",
    "q_zipf_slope",
    "q_embedding_norm_hist",
    "q_bigram_lm_score",
    "s_jsonl_stream_sink",
    "x_csv_roundtrip",
    "q_winnow_clusters",
    "q_vocab_coverage_curve",
    "q_distinct_ngrams",
    "q_sim_ann_multiprobe",
    "s_window_tumbling_rocksdb",
    "q_langid_confusion",
    "x_jsonl_partitioned",
]


def _warm_python_workers(spark) -> None:
    """Touch every core with trivial scalar AND grouped pandas UDFs so
    Arrow worker processes (and both eval-path codegens) exist before
    any timed query runs."""
    from pyspark.sql.functions import col, pandas_udf

    # lambda form: module-level `from __future__ import annotations`
    # stringifies hints, which the decorator's type inference rejects
    _ident = pandas_udf(lambda s: s, "long")
    spark.range(10_000, numPartitions=64).select(_ident(col("id"))).count()
    df = spark.range(10_000, numPartitions=64).withColumn("g", col("id") % 4)
    df.groupBy("g").applyInPandas(
        lambda pdf: pdf.head(1), schema="id long, g long"
    ).count()


def _warm_streaming(spark) -> None:
    """Run one throwaway micro-batch query so streaming engine init
    (state-store providers, streaming codegen paths, checkpoint IO) is
    not billed to the first streaming query (about 0.6 s)."""
    from kafka_s3_etl_spark.streaming.runner import run_stream, scratch_dir

    src = scratch_dir("warm_src")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(src)
    warm = spark.readStream.schema("id long").parquet(src).groupBy("id").count()
    run_stream(warm, output_mode="complete", timeout_sec=60)


def measure(spark, name: str, fn, sf_dir: str) -> dict:
    """Build and noop-write one query ``REPS`` times; return the best
    wall time and the last rep's record (see the module docstring)."""
    sc = spark.sparkContext
    best = float("inf")
    try:
        # The first rep also pays one-time whole-stage-codegen compilation
        # and, for some streams, first-run jobs; the last rep measures the
        # query itself.
        for rep in range(REPS):
            group = f"{name}#{rep}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            build_s = time.perf_counter() - t0
            build_end = time.time()
            plan_s, exchanges = plan_phases(df)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            exec_s = time.perf_counter() - t1
            best = min(best, build_s + exec_s)
        counts = spark_counts(spark, group, build_end)
        sc.setJobGroup(f"{name}#rows", name)
        rows = df.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return {
        "best_s": round(best, 3),
        "build_s": round(build_s, 3),
        "plan_s": round(plan_s, 3),
        "exec_s": round(exec_s, 3),
        "build_jobs": counts["build_jobs"],
        "exec_jobs": counts["jobs"] - counts["build_jobs"],
        "stages": counts["stages"],
        "tasks": counts["tasks"],
        "shuffle_bytes": counts["shuffle_write_bytes"],
        "exchanges": exchanges,
        "rows": rows,
    }


def _counters(rec: dict) -> dict[str, int]:
    return {
        "rows": rec["rows"],
        "jobs": rec["build_jobs"] + rec["exec_jobs"],
        "exchanges": rec["exchanges"],
    }


def tripwire(old: dict, new: dict) -> dict:
    """Flags of run ``new`` against the earlier run ``old`` (both in the
    BENCH_RUN.json layout): {name: {counter: [before, now]}} for each
    query whose rows differ or whose jobs or exchanges rose. A run at
    another sf is not compared."""
    if old.get("sf") != new["sf"]:
        return {}
    before = old.get("records", {})
    flags = {}
    for name, rec in new["records"].items():
        if name not in before:
            continue
        was, now = _counters(before[name]), _counters(rec)
        changed = {
            key: [was[key], now[key]]
            for key in was
            if now[key] > was[key] or (key == "rows" and now[key] != was[key])
        }
        if changed:
            flags[name] = changed
    return flags


def summary(run: dict) -> dict:
    """The printed line of ``run``: bounded whatever the number of
    records and flags (the full records stay in BENCH_RUN.json)."""
    recs, flags = run["records"], run["regressions"]
    slowest = sorted(recs, key=lambda n: recs[n]["best_s"], reverse=True)
    return {
        "metric": run["metric"],
        "value": run["value"],
        "unit": run["unit"],
        "sf": run["sf"],
        "queries": {n: recs[n]["best_s"] for n in slowest[:LINE_QUERIES]},
        "regressions": dict(list(flags.items())[:LINE_FLAGS]),
        "flagged": len(flags),
    }


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    catalog = all_queries()
    subset = bool(names)
    names = names or HEADLINE
    unknown = [n for n in names if n not in catalog]
    if unknown:
        raise SystemExit(f"not in the catalog: {' '.join(unknown)}")
    # Read the baseline before measuring: a full run overwrites it.
    baseline = {}
    if os.path.exists(RUN_FILE):
        with open(RUN_FILE) as fh:
            baseline = json.load(fh)

    spark = build_session(app_name="kafka_s3_etl_spark_bench")
    # Warm up the JVM + parquet footers + Python UDF workers once so
    # timings measure the query, not process startup (spawning the Arrow
    # workers would otherwise be billed to the first pandas-UDF query).
    catalog["q_scan_project"].fn(spark, sf_dir).count()
    _warm_python_workers(spark)
    _warm_streaming(spark)

    records = {}
    for name in names:
        records[name] = measure(spark, name, catalog[name].fn, sf_dir)
        if subset:
            print(json.dumps({"query": name, **records[name]}), flush=True)
    run = {
        "metric": "headline_queries_total",
        "value": round(sum(r["best_s"] for r in records.values()), 3),
        "unit": "sec",
        "sf": sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "records": records,
    }
    run["regressions"] = tripwire(baseline, run)
    if not subset:
        with open(RUN_FILE, "w") as fh:
            json.dump(run, fh, indent=1)
            fh.write("\n")
    print(json.dumps(summary(run)))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
