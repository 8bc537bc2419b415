"""Central query registry: name → (builder, oracle SQL | None).

``__spark_entry__.py`` exposes this to the driver; tests and bench.py
iterate it. Builders are ``(spark, sf_dir) -> DataFrame``; oracle SQL
is DuckDB-runnable ANSI SQL over the same tables, or None for
genuinely non-SQL-expressible operators (the driver then records a
weaker rows-only check).
"""

from __future__ import annotations

import importlib
import warnings
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


def all_queries() -> dict[str, QuerySpec]:
    # imports deferred so importing the package never needs a JVM
    from . import analytics, rsvp_fixture
    from .oracles import ORACLES

    registry: dict[str, QuerySpec] = {}
    family: dict[str, str] = {}

    def add(queries: dict, oracles: dict, fam: str) -> None:
        for name, build in queries.items():
            registry[name] = QuerySpec(name, build, oracles.get(name))
            family[name] = fam

    # Registration order = the driver's grading order, and its gate has a
    # budget (r02 stopped at 50/74, leaving the tail ungraded). Families
    # least-recently hash-verified register FIRST: the r02-re-planned
    # dedup plans and the similarity/text/multimodal/curation surface,
    # then the rsvp fixtures, and the twice-proven analytics suite last.
    # Only a genuinely missing OPTIONAL third-party package may drop a
    # query family (with a warning); a typo'd import inside an operator
    # module must fail loudly, not silently shrink the correctness gate.
    _OPTIONAL = {"pandas", "pyarrow", "duckdb", "numpy"}
    for modname in (
        "sketches",
        "chunking",
        "audit",
        "dedup",
        "similarity",
        "text",
        "multimodal",
        "curation",
    ):
        try:
            mod = importlib.import_module(f"..operators.{modname}", __package__)
        except ModuleNotFoundError as e:
            missing = (e.name or "").split(".")[0]
            if missing in _OPTIONAL:
                warnings.warn(
                    f"operators.{modname} skipped: optional dependency "
                    f"{missing!r} not installed",
                    stacklevel=2,
                )
                continue
            raise
        add(mod.QUERIES, mod.ORACLES, modname)
    add(rsvp_fixture.QUERIES, rsvp_fixture.ORACLES, "rsvp")
    add(analytics.QUERIES, ORACLES, "analytics")
    # Final pass: any query the driver has ALREADY hash-verified green
    # on its CURRENT plan moves to the back, so an arbitrary budget
    # prefix grades the maximum number of never-verified entries.
    # (_DRIVER_VERIFIED = CORRECTNESS_r02 ∪ r03 ∪ r04 greens, minus any
    # name whose builder or oracle was re-planned after its last green —
    # those must be regraded early.) Within the never-verified block,
    # cheap families run before the ones that pay a one-time cache
    # materialization (LSH pairs / cluster labels / gram sets), so a
    # WALL-CLOCK budget also grades the most entries — harmless if the
    # budget is a count.
    # Within the unverified block, queries RE-PLANNED after a driver
    # green grade before never-graded ones: their recorded green is on
    # a superseded plan, so they carry stale-evidence risk the brand-new
    # queries (which at least have replica/sf0.1/sf0.4 evidence on the
    # current plan) do not.
    order = list(registry)
    front = sorted(
        (n for n in order if n not in _DRIVER_VERIFIED),
        key=lambda n: (
            n not in _REPLANNED_AFTER_GREEN,
            _FAMILY_COST[family[n]],
            order.index(n),
        ),
    )
    back = [n for n in order if n in _DRIVER_VERIFIED]
    return {n: registry[n] for n in front + back}


# relative per-query gate cost at sf0.01 (Spark + DuckDB oracle),
# measured via bench.py + the oracle replica: rsvp/analytics ≲1 s,
# text/multimodal low, similarity moderate (kmeans ~5 s), curation and
# dedup pay the shared LSH/cluster/gram caches on first touch
_FAMILY_COST = {
    "rsvp": 0,
    "sketches": 0,
    "audit": 0,
    "analytics": 1,
    "chunking": 1,
    "text": 2,
    "multimodal": 3,
    "similarity": 4,
    "curation": 5,
    "dedup": 6,
}


# Unverified names whose builder or oracle was re-planned AFTER their
# last driver green. Names move OUT of this set (into _DRIVER_VERIFIED)
# when a CORRECTNESS_r{N}.json green lands on the current plan; names
# move IN whenever a verified query's plan or oracle changes.
_REPLANNED_AFTER_GREEN: frozenset[str] = frozenset(
    {
        # round-9 start: the round-8 graded front (all 33 names,
        # including the 6 r08-optimizer re-plans) folded green after
        # the pending-fingerprint continuity check, so the set reset.
        #
        # round-9 fold-boundary session memos (OPTIMIZATION_r09.md):
        # load_table and the dedup shared frames (MinHash signatures /
        # LSH pairs / candidate gram+token sets) now return ONE
        # DataFrame object per session instead of rebuilding the same
        # plan per consumer. The edit re-fingerprints every builder
        # (load_table is in every closure), but it is proven
        # PLAN-NEUTRAL by normalized-plan-hash equality over all 252
        # queries (plans/r09/load_table_memo_plan_identity.json), so —
        # like the broadcast-hint exemption — it does not invalidate
        # value greens wholesale. The names below regrade anyway:
        # every transitive consumer of the EDITED dedup builders, plus
        # the two queries whose physical plan text did move (an Expand
        # group-order permutation in the count-distinct rewrite,
        # value-identical, oracle-verified this round).
        "contrastive_negatives", "corpus_cross_shard_dups",
        "corpus_source_minhash", "curation_keep_list",
        "dedup_cluster_histogram", "dedup_clusters", "dedup_containment",
        "dedup_crosslingual_pairs", "dedup_graph_triangles",
        "dedup_incremental", "dedup_jaccard_verify", "dedup_kcore",
        "dedup_keep_manifest", "dedup_lsh_calibration",
        "dedup_lsh_recall_exact", "dedup_minhash_lsh",
        "dedup_ngram_jaccard", "dedup_pagerank", "dedup_rate_report",
        "lake_column_stats", "quality_auc_eval", "quality_dup_profile",
        "sole_late_supplier", "split_leakage_report", "train_split_assign",
        # round-9 ADVICE r08 closures, each a plan change on a green:
        # size(v) = DIM rectangularity guard ahead of the two Arrow
        # kernels (ragged corpus drift now fails visibly instead of
        # crashing the worker); exact_n counts user_id not * so the
        # inclusion-exclusion union ignores NULL user_ids like the
        # oracle's COUNT(DISTINCT). Values unchanged on every graded
        # corpus (generators never null user_id / never emit ragged
        # vectors) but plan change => regrade.
        "embedding_covariance_pairs", "embedding_jl_distortion",
        "sketch_hll_intersection",
        # round-9 performance re-plan: the prefix-filter candidate
        # stage's any-single-match positional test replaced by the
        # strictly-dominating per-pair PPJoin suffix bound (computed by
        # the groupBy that already dedupes the pair frame — same
        # exchange count); candidates 667,400 -> 423,681 at sf0.1 with
        # all 256 true tau-pairs retained, verify outputs equal, and
        # the EXHAUSTIVE oracle re-proves losslessness on sf0.01/sf0.1
        # and the dup-dense/single/zero-row corpora. Plan change =>
        # regrade (dedup_lsh_recall_exact is already above).
        "dedup_prefix_filter",
        # literal frames (the states dimension, the RSVP envelope
        # fixture, the Lloyd centroid array, the PQ codebooks and the
        # pruning-audit report grid) are now built from Arrow tables as
        # JVM local relations instead of Python-RDD scans. Same rows
        # and types, different leaf operator => regrade.
        "dedup_semantic", "kmeans_clusters", "partition_pruning_audit",
        "retrieval_mrr_eval", "retrieval_ndcg_eval",
        "rsvp_decode_failures", "rsvp_faithful_filter", "rsvp_q2_payload",
        "similarity_ann_recall", "similarity_cluster_purity",
        "similarity_ivf_pq_topk", "similarity_ivfpq_residual_topk",
        "similarity_pq_codes", "similarity_pq_reconstruction",
        "similarity_pq_topk", "similarity_recall_sweep",
    }
)


# Names hash-verified green by the driver on their CURRENT plan:
# CORRECTNESS_r02 ∪ ... ∪ r08 greens (r08's 33-name graded front folded
# at round-9 start after the pending-fingerprint continuity check
# passed for all 33 — every registry query is now driver-verified on
# the plan it was graded with). Any name
# whose builder or oracle is re-planned after its last green MUST be
# removed from this set (into _REPLANNED_AFTER_GREEN) so it regrades
# early — with ONE scoped exception, enforced mechanically by
# tests/test_plans.py::test_verified_builders_unchanged_since_green:
# a pure JOIN-STRATEGY change (adding/removing an ``F.broadcast`` hint,
# nothing else) cannot change result VALUES — broadcast vs shuffle is
# a physical execution choice over the same logical join — so such a
# diff does not invalidate a value green (the round-5 broadcast-pin
# audit relied on this; the lint makes it checkable instead of argued).
_DRIVER_VERIFIED = frozenset(
    {
        "anomaly_detector_overlap", "asof_attribution", "asof_last_signup",
        "basket_lift_pairs", "big_order_customers", "brand_supplier_variety",
        "click_and_error_users", "clickers_not_purchasers",
        "cohort_ltv_curve", "corpus_cross_source_overlap",
        "corpus_mixture_report", "corpus_shard_plan",
        "corpus_stratified_sample",
        "corpus_token_budget_plan", "cube_event_stats", "curation_multisignal_gate", "curation_quality_budget_curve",
        "customer_order_distribution", "customer_order_streaks",
        "customer_rfm_scores", "customer_value_frontier",
        "daily_click_purchase_recon", "data_quality_report", "date_parts",
        "decontaminate_overlap", "dedup_embedding_nn", "dedup_exact", "dedup_minhash_cardinality",
        "dedup_simhash", "dedup_simhash_hamming", "dedup_simhash_wide",
        "discount_quantity_ols", "discount_tax_independence",
        "disjunctive_part_revenue", "distinct_users_per_type",
        "doc_chunking", "doc_length_bucketing", "doc_packing",
        "embedding_centroid_drift", "embedding_dim_mean_shift", "embedding_dim_variance",
        "embedding_label_consensus",
        "embedding_norm_stats", "embedding_outliers",
        "embedding_power_iteration", "epoch_shuffle_plan",
        "event_cooccurrence_lift", "event_cusum_changepoint",
        "event_dispersion_index", "event_dow_profile", "event_ewma_spikes",
        "event_hourly_resample", "event_markov_accuracy", "event_path_topk",
        "event_rank_stats", "event_seasonal_naive_mape",
        "event_transition_matrix", "event_trend_theilsen",
        "event_type_union", "event_user_bitmap", "event_value_benford",
        "event_value_log2_histogram", "excess_quantity_suppliers",
        "experiment_cuped_lift", "experiment_srm_check",
        "fk_integrity_audit", "forecast_revenue_change", "funnel_conversion",
        "fuzzy_name_matches", "grouping_sets_revenue",
        "inactive_rich_customers", "join_cardinality_estimate",
        "join_key_skew", "join_strategy_advisor", "json_encode",
        "k_anonymity_audit", "l_diversity_audit",
        "lake_clustering_depth", "lake_file_skew_audit",
        "latest_event_per_user", "layout_zorder_stats",
        "lineitem_measures_unpivot", "linkage_fs_weights",
        "local_supplier_volume", "market_share_by_year",
        "merge_touched_partitions", "mixture_reweight_plan",
        "multimodal_audio_frame_plan", "multimodal_decode",
        "multimodal_exact_dedup", "multimodal_frame_neardup",
        "multimodal_frame_sample", "multimodal_resize_plan",
        "multimodal_type_stats", "mv_incremental_refresh",
        "nation_pair_volume", "nation_supplier_hhi",
        "order_backlog_timeseries", "order_fulfillment_latency",
        "order_priority_semijoin", "order_ship_latency_quantiles",
        "order_status_upsert", "orders_aging_buckets",
        "orders_monthly_growth", "orders_priority_mix_shift",
        "part_profit_by_nation_year",
        "parts_never_in_bulk_orders", "peak_concurrent_sessions",
        "pivot_user_event_values", "pricing_summary", "promo_revenue_ratio",
        "props_map_stats", "q1_filter", "q2_join_enrich",
        "q3_window_collect_set", "range_join_click_purchase", "recent_orders_lateral",
        "regional_min_cost_supplier",
        "retrieval_rrf_fusion",
        "returned_item_report", "returnflag_priority_counts",
        "revenue_autocorr", "revenue_by_nation", "rollup_order_status",
        "running_user_value", "salted_type_totals", "session_window_stats",
        "shipping_priority_topk",
        "similarity_bq_topk",
        "similarity_diverse_topk", "similarity_ivf_occupancy",
        "similarity_ivf_topk",
        "similarity_lsh_signature",
        "similarity_lsh_topk", "similarity_matryoshka_recall",
        "similarity_range_search",
        "similarity_sq_quality",
        "similarity_sq_topk", "similarity_topk", "sketch_bloom_reduction",
        "sketch_cms_heavy_hitters", "sketch_event_stats",
        "sketch_histogram_quantiles", "sketch_hll_merge", "sketch_hll_users", "sliding_window_stats",
        "small_qty_part_revenue", "snapshot_asof_diff", "source_cap_report", "supplier_balance_by_nation", "supplier_return_rates",
        "t_closeness_audit", "text_bigram_lm_score", "text_bm25_search",
        "text_boilerplate_ngrams", "text_bpe_encode", "text_bpe_fertility",
        "text_bpe_pair_stats", "text_bpe_train", "text_char_class_profile",
        "text_encoding_audit", "text_feature_hashing", "text_fingerprint",
        "text_hapax_stats", "text_heaps_law", "text_lang_confusion",
        "text_lang_id", "text_lang_kappa", "text_length_histogram",
        "text_ngram_novelty", "text_pii_redact", "text_pii_scan",
        "text_prefix_clusters", "text_quality_score", "text_rake_keywords",
        "text_repetition_signals", "text_source_chi2_drift",
        "text_substring_dedup", "text_tfidf_topterms", "text_token_rarity",
        "text_token_stats", "text_winnow_fingerprints",
        "text_word_len_profile", "text_zipf_topshare", "top3_per_segment",
        "top_customers", "top_supplier_by_revenue", "user_bot_periodicity", "user_dau_wau_stickiness",
        "user_erasure_audit", "user_event_gaps", "user_hazard_curve",
        "user_retention_cohorts", "user_simpson_diversity",
        "user_trailing_hour_stats", "user_type_scd2",
        "user_value_concentration", "user_value_gini",
        "vacuum_compaction_plan", "valuable_part_stock", "value_drift_tvd",
        "value_equidepth_deciles", "value_mad_anomalies",
        "value_percentiles", "value_winsorize", "value_zscore_anomalies",
        "weighted_doc_sample",
    }
)
