"""Per-round benchmark: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line {"metric", "value", "unit", "queries", "sf"}.

Each query is executed three times: a warm-up pass (JVM/codegen warm,
file listing cached) then TWO timed passes, recording the minimum —
single-pass numbers on a shared box carried 2-3x GC/scheduling noise
between rounds (round-2 review), and min-of-2 recovers the steady-state
cost a warm cluster would see. `value` is total recorded seconds across
all queries.

Every entry is individually crash-proof: a query that fails (analysis
error, data drift, ...) is recorded under "errors" as {"name": message}
and excluded from the total, instead of killing the run — one broken
entry out of 34 zeroed the ENTIRE round-3 artifact (BENCH_r03.json
rc=1, no numbers) when a testdata re-encoding broke a single query at
analysis time.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cust_sagemaker_feature_store_spark import get_spark
from cust_sagemaker_feature_store_spark.queries import REGISTRY

# Headline set: feature-store core + heaviest relational/text/dedup ops.
BENCH_QUERIES = [
    "fs_time_range",
    "fs_latest_snapshot",
    "fs_latest_snapshot_maxby",
    "fs_asof_join",
    # the large-x-large scale path: auto-dispatch routes the unbounded
    # left probe to union-and-window (no join, one shuffle) — benched
    # alongside the BHJ plan so the 100x story is measured, not asserted
    "fs_asof_join_strategy_auto",
    "fs_tombstone_snapshot",
    "fs_resample_ffill_6h",
    "fs_incremental_agg",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q7_nation_pair_revenue",
    "q13_customer_order_distribution",
    "q19_disjunctive_predicates",
    "q21_waiting_suppliers",
    "range_join_event_followups",
    "agg_orders_by_status",
    "window_rank_orders",
    "events_sessionize",
    "events_tumbling_hourly",
    "window_user_zscore",
    "text_stats",
    "dedup_exact_groups",
    "dedup_minhash_candidates",
    "sim_cosine_topk",
    "sim_lsh_dup_pairs",
    "pipeline_clean_corpus",
    "text_chunk_windows",
    "text_pack_bins",
    "text_repetition_filter",
    "text_contamination_overlap",
    "sim_ann_recall_floor",
    "sim_ivfpq_recall_floor",
    "sim_gram_matrix",
    "events_trailing_1h",
    "fs_incremental_join",
    # round-5 additions: retrieval scoring, iterative graph, semantic
    # dedup and the containment tier — the new corpus-scale paths
    "text_bm25_topk",
    "text_inverted_index",
    "text_bigram_lift",
    "graph_pagerank_parts",
    "graph_pagerank_deep",
    "sim_semantic_dedup",
    "dedup_containment_pairs",
    "ml_hashed_features",
    "events_mad_outliers",
    "layout_hilbert_key",
    "pipeline_curate_v2",
    "sim_kmeans_refined",
    # round-5 late additions: monitoring, stats and the PCA/KL paths
    "fs_feature_drift_psi",
    "fs_ttl_snapshot",
    "events_active_sessions_peak",
    "text_kl_domain_shift",
    "sim_pca_power_floor",
    "agg_chi_squared",
    "dedup_incremental_batch",
    "ml_naive_bayes",
    "graph_clustering_coeff",
    "ml_winsorize_robust_scale",
    "fs_bitemporal_asof",
    "events_changepoint_cusum",
    "text_ngram_novelty",
    "fs_feature_vector_pivot",
    "events_inter_arrival_stats",
    "ml_auc_exact",
    "ml_calibration_bins",
    "range_join_keyless_nearby",
    "events_survival_km",
    "events_rfm_segments",
    "ml_mutual_information",
    # round-6 additions: order statistics, DQ audits, ER blocking,
    # exact series/graph stats and the LM/logreg paths
    "ml_ks_test",
    "ml_gini_stump",
    "dq_referential_orphans",
    "er_customer_supplier_match",
    "events_acf_daily",
    "graph_degree_assortativity",
    "text_lm_doc_nll",
    "ml_logreg_newton",
    "agg_exact_median_orders",
    "dq_orderkey_gap_islands",
    "sim_ivfpq_lloyd_recall_floor",
    "graph_kcore_floor",
    "ml_ols_cv_kfold",
    "agg_exact_median_by_type",
    # round-7 additions: grouped order statistics, the trained-codebook
    # floor, BFS, the stream-interval twin and the rules/PR-curve paths
    "agg_exact_quantiles_by_type",
    "agg_iqr_outliers_by_priority",
    "agg_trimmed_mean_by_priority",
    "agg_weighted_median_by_flag",
    "ml_pr_curve_topf1",
    "ml_association_rules",
    "graph_bfs_depths",
    "stream_interval_join_twin",
    "sim_ivfpq_trained_codebook_floor",
    "graph_sssp_weighted",
    "ml_ab_test_proportions",
    "dedup_cluster_size_histogram",
    "stream_session_window_twin",
    "sim_ivf_nprobe_sweep",
    "fs_training_set_pit",
    "graph_closeness_seeds",
    "ml_brier_score",
    "events_dau_wau_stickiness",
    "events_time_to_convert_quantiles",
    "agg_exact_moments_by_flag",
    # round-9 additions: boilerplate line dedup, personalized PageRank,
    # multi-group staleness assembly, the threshold sweep, the real BMP
    # decode path, and the k-means|| seeded index floor
    "text_boilerplate_lines",
    "text_strip_boilerplate",
    "graph_ppr_seeds",
    "fs_training_set_multi",
    "dedup_threshold_sweep",
    "udf_multimodal_bmp",
    "sim_ivf_kmeanspar_recall_floor",
    "text_repeated_spans",
    "agg_count_min_sketch",
    "join_interval_overlap",
    "sim_matryoshka_recall",
    "dq_functional_dependency",
    "ml_pinball_loss",
    "events_theil_sen_daily",
    "fn_luhn_check_digit",
    "stream_count_min_twin",
    "retrieval_rrf_fusion",
    "pipeline_curate_v3",
    "ml_average_precision",
    "dedup_candidate_quality",
    "fs_asof_join_composite",
    "graph_link_prediction",
    # round-10 additions: BPE merge training, the stdlib PNG decode
    # path, label-propagation communities, the streaming as-of probe
    # twin and the cross-doc shared-span report
    "text_bpe_merges",
    "udf_multimodal_png",
    "graph_label_propagation",
    "stream_asof_twin",
    "text_shared_spans",
    # round-10 additions (second wave): the exact prefix-filter
    # similarity join, 2D skyline, privacy audit, influence/conformal/
    # isotonic ML-eval shelf, item-item CF, diversity + PRF retrieval,
    # the de-gated multimodal rungs and their dedup/dataset-card
    # consumers
    "dedup_allpairs_prefix",
    "sort_skyline_parts",
    "dq_k_anonymity",
    "ml_group_influence",
    "ml_item_item_cf",
    "ml_conformal_coverage",
    "ml_isotonic_calibration",
    "stream_dedup_twin",
    "retrieval_mmr_rerank",
    "retrieval_prf_expansion",
    "udf_multimodal_phash",
    "udf_multimodal_resize",
    "udf_multimodal_frames",
    "dedup_phash_pairs",
    "pipeline_dataset_card",
    "ml_shapley_r2",
    "events_markov_attribution",
    "ml_learning_curve",
    "graph_mst_boruvka",
    "graph_single_linkage_cut",
    "events_holt_trend",
    "pipeline_curriculum_pack",
    "ml_woe_iv",
    "retrieval_ndcg_eval",
    "graph_modularity_lpa",
    "events_rolling_slope",
    "ml_subsample_stability",
    "text_vocab_growth",
    "fs_snapshot_drift_psi",
    # r11 additions — incl. the two heavy ones the r11 verdict flagged as
    # bench-invisible: text_bpe_encode (~27s, 24 vocabulary rounds) and
    # sample_coreset_kcenter (k sequential corpus argmax passes)
    "dedup_minhash_estimate_error",
    "sample_weighted_reservoir",
    "sample_coreset_kcenter",
    "stream_dedup_index_twin",
    "text_bpe_encode",
    "retrieval_query_likelihood",
    "sim_filtered_topk",
    "sim_ivf_filtered_recall_floor",
    # r12 additions
    "stream_ivf_index_twin",
    "sim_ivfpq_filtered_recall_floor",
    "pipeline_curate_v4",
    "sim_ivf_list_skew",
    "sample_dsir_importance",
    "sim_corpus_diversity",
    "dedup_incremental_components",
    "text_code_switching",
    "fs_late_data_impact",
    "sample_dsir_resample",
    "dq_t_closeness",
]

# r13 (r12 verdict next-round #2): bench the FULL registry — every
# remaining registered query appended in sorted order, so the ~125
# previously-invisible entries (q4/q10/q14/q17/q18, the set ops,
# cube/rollup, the fs_asof variants, ...) enter the 2x gate's field
# of view. The curated list above keeps its historical order so
# per-round common-set ratios stay directly diffable.
BENCH_QUERIES += [n for n in sorted(REGISTRY) if n not in set(BENCH_QUERIES)]


def _err_msg(exc: Exception) -> str:
    """First line of the exception message, never raising itself — an
    empty or whitespace-only str(exc) (e.g. ValueError()) must not turn
    the error handler into the crash it guards against."""
    lines = str(exc).strip().splitlines()
    return (lines[0] if lines else repr(exc))[:300]


def run_query(spec, spark, sf_dir: str) -> int:
    df = spec.fn(spark, sf_dir)
    # count() forces full execution of every operator while keeping the
    # result on executors (no collect bottleneck in the measurement).
    return df.count()


def run_ingest(spark, sf_dir: str) -> None:
    """Dual-store ingest of the events table: offline append (date-
    partitioned Snappy parquet) + online latest-per-key materialization.
    The reference's equivalent path is its deliberately-throttled
    1 record/s put_record loop (update_feature_store.py:56-58)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cust_sagemaker_feature_store_spark.catalog import load_table
    from cust_sagemaker_feature_store_spark.core import (
        FeatureDefinition,
        FeatureGroup,
        FeatureStore,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("event_time"),
        "value",
    )
    root = tempfile.mkdtemp(prefix="bench_store_")
    try:
        fs = FeatureStore(spark, root)
        fs.create_feature_group(
            FeatureGroup(
                name="BenchEvents",
                record_identifier="user_id",
                event_time_feature="event_time",
                features=(
                    FeatureDefinition("user_id", "Integral"),
                    FeatureDefinition("event_time", "String"),
                    FeatureDefinition("value", "Fractional"),
                ),
            )
        )
        fs.ingest("BenchEvents", ev)
        fs.materialize_online("BenchEvents")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _bench_group():
    from cust_sagemaker_feature_store_spark.core import (
        FeatureDefinition,
        FeatureGroup,
    )

    return FeatureGroup(
        name="BenchEventsInc",
        record_identifier="user_id",
        event_time_feature="event_time",
        features=(
            FeatureDefinition("user_id", "Integral"),
            FeatureDefinition("event_time", "String"),
            FeatureDefinition("value", "Fractional"),
        ),
    )


def _bench_events(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from cust_sagemaker_feature_store_spark.catalog import load_table

    return load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("event_time"),
        "value",
    )


def setup_incremental_store(spark, sf_dir: str):
    """Untimed setup for the MERGE bench: full history ingested and the
    bucketed online snapshot materialized once."""
    import tempfile

    from cust_sagemaker_feature_store_spark.core import FeatureStore

    root = tempfile.mkdtemp(prefix="bench_store_inc_")
    fs = FeatureStore(spark, root)
    fs.create_feature_group(_bench_group())
    fs.ingest("BenchEventsInc", _bench_events(spark, sf_dir))
    fs.materialize_online("BenchEventsInc")
    return fs, root


def run_upsert(spark, fs, sf_dir: str) -> None:
    """Steady-state online refresh: a ~1% micro-batch ingested and
    MERGEd into the bucketed snapshot — the path a streaming upsert
    takes per trigger. Work is O(batch + dirty buckets); compare with
    ingest_dual_store, which pays the full history rebuild."""
    from pyspark.sql import functions as F

    batch = _bench_events(spark, sf_dir).filter(F.col("user_id") % 100 < 1)
    out = fs.ingest("BenchEventsInc", batch)
    fs.upsert_online("BenchEventsInc", out)


def _skewed_events(spark, sf_dir: str):
    """events with a deterministic zipf-ish foreign key: ~60% of rows
    hash onto ONE hot key, the rest spread over a 100k tail — the
    distribution that overwhelms a single reducer at scale."""
    from pyspark.sql import functions as F

    from cust_sagemaker_feature_store_spark.catalog import load_table

    h = F.pmod(F.xxhash64("event_id"), F.lit(100))
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        F.when(h < 60, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("event_id", F.lit(1)), F.lit(100_000)))
        .alias("sk"),
    )


def run_skew_agg(spark, sf_dir: str, salted: bool) -> int:
    from pyspark.sql import functions as F

    from cust_sagemaker_feature_store_spark.operators.skew import salted_agg

    ev = _skewed_events(spark, sf_dir)
    val = F.round(F.col("value") * 100).cast("long")
    if salted:
        out = salted_agg(ev, ["sk"], sum_exprs={"v": val})
    else:
        out = ev.groupBy("sk").agg(
            F.count(F.lit(1)).alias("n"), F.sum(val).alias("v")
        )
    return out.count()


def run_skew_join(spark, sf_dir: str, salted: bool) -> int:
    """Hot-key shuffle join: the merge hint stands in for a dimension
    too large to broadcast (broadcast would sidestep skew entirely and
    is what the engine picks when it CAN — see PLANS.md)."""
    from pyspark.sql import functions as F

    from cust_sagemaker_feature_store_spark.operators.skew import salted_join

    ev = _skewed_events(spark, sf_dir)
    dim = (
        spark.range(100_000)
        .select(F.col("id").alias("sk"), (F.col("id") % 7).alias("w"))
        .hint("merge")
    )
    joined = (
        salted_join(ev.hint("merge"), dim, on="sk")
        if salted
        else ev.hint("merge").join(dim, "sk")
    )
    return joined.groupBy("w").count().count()


def run_runtime_filter(spark, sf_dir: str, reduced: bool) -> int:
    """Bench pair for the semi-join scan-reduction lever: the same
    q5-shaped region gate executed as a plain LEFT SEMI join (fact scan
    reads everything, join filters after) vs the runtime-filtered form
    (dim keys pushed into the fact scan as a sargable predicate)."""
    from pyspark.sql import functions as F

    from cust_sagemaker_feature_store_spark.catalog import load_table
    from cust_sagemaker_feature_store_spark.operators.runtime_filter import (
        runtime_filtered_semi_join,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"]).join(
        reg, nat["n_regionkey"] == reg["r_regionkey"]
    )
    if reduced:
        fact = runtime_filtered_semi_join(orders, dim, "c_custkey", "o_custkey")
    else:
        fact = orders.join(
            dim.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_semi",
        )
    return fact.groupBy("o_orderstatus").count().count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    def timed(name: str, fn) -> None:
        try:
            fn()  # warm-up
            passes = []
            for _ in range(2):
                t0 = time.time()
                fn()
                passes.append(time.time() - t0)
            timings[name] = round(min(passes), 3)
        except Exception as exc:  # noqa: BLE001 — one entry must not kill the artifact
            errors[name] = _err_msg(exc)
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)

    names = [n for n in BENCH_QUERIES if n in REGISTRY]
    for name in names:
        spec = REGISTRY[name]
        timed(name, lambda spec=spec: run_query(spec, spark, sf_dir))

    timed("ingest_dual_store", lambda: run_ingest(spark, sf_dir))

    import shutil

    try:
        fs_inc, inc_root = setup_incremental_store(spark, sf_dir)
        try:
            # Serving path (r13 verdict next-round #3): the bucket-pruned
            # point lookup was plan-asserted but never timed. COLD = the
            # very first lookup after materialization (sidecar read +
            # file listing uncached), recorded as a single pass by
            # construction; the plain entry is the steady warm min-of-2
            # the serving tier actually sees. The freshness guard makes
            # the measurement honest — a stale snapshot would silently
            # fall back to the derived latest view and time the wrong
            # path.
            if fs_inc._fresh_snapshot_meta("BenchEventsInc") is None:
                raise RuntimeError(
                    "snapshot stale: point lookup would measure the "
                    "derived-view fallback, not the pruned serving path"
                )
            t0 = time.time()
            fs_inc.get_record("BenchEventsInc", 12345)
            timings["online_point_lookup_cold"] = round(time.time() - t0, 3)
            timed(
                "online_point_lookup",
                lambda: fs_inc.get_record("BenchEventsInc", 12345),
            )
            timed(
                "online_batch_get_100",
                lambda: fs_inc.batch_get_record(
                    "BenchEventsInc", [v * 97 for v in range(100)]
                ),
            )
            timed(
                "online_incremental_upsert",
                lambda: run_upsert(spark, fs_inc, sf_dir),
            )
        finally:
            shutil.rmtree(inc_root, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001 — untimed setup/guard can fail too
        errors["online_serving_and_upsert"] = _err_msg(exc)
        print(
            f"BENCH ERROR online_serving_and_upsert: {errors['online_serving_and_upsert']}",
            file=sys.stderr,
        )

    for name, salted in (
        ("skew_agg_direct", False),
        ("skew_agg_salted", True),
    ):
        timed(name, lambda s=salted: run_skew_agg(spark, sf_dir, salted=s))
    for name, salted in (
        ("skew_join_direct", False),
        ("skew_join_salted", True),
    ):
        timed(name, lambda s=salted: run_skew_join(spark, sf_dir, salted=s))
    for name, reduced in (
        ("runtime_filter_semi_direct", False),
        ("runtime_filter_scan_reduced", True),
    ):
        timed(name, lambda r=reduced: run_runtime_filter(spark, sf_dir, reduced=r))

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors
    # The driver keeps only the TAIL of stdout, so the recorded
    # BENCH_r{N}.json artifact truncates once the queries dict grows
    # past its buffer (r5/r6 verdicts both had to re-measure by hand).
    # Persist the full dict to a repo file alongside the printed line
    # so every round's verdict can diff every entry (r6 verdict #4).
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "bench_full.json")
    with open(full_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
