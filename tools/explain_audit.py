"""Physical-plan audit: assert the plans we designed for are the plans
Catalyst actually picks (SURVEY.md §4 / the 100 TB design brief).

Checks per query (where applicable): broadcast joins on dim sides, no
Python UDF in fact-table stages, filter pushdown reaching the parquet
scan, partial (map-side) aggregation before shuffles.

Usage: python tools/explain_audit.py [sf_dir]

Round 11: besides the per-name EXPECT/FORBID maps, the audit sweeps
EVERY registry entry's plan for row-at-a-time Python eval
(BatchEvalPython / ArrowEvalPython) — the "UDFs are the slow path"
posture as a global invariant, not a per-query opt-in. Only the names
in PY_EVAL_WHITELIST may carry one; anything else is a failure.

Round 12: the sweep additionally enforces a per-table scan-count
allowance on every plan (the fan-out rule — see SCAN_ALLOWANCE below):
a table scanned more than its allowance in one lazy plan is the
recompute-fan-out signature that cost assortativity 12× and markov ~8×
before their r11 checkpoint fixes.

Round 13: the fan-out rule's documented blind spot — a checkpoint
truncates lineage, so a checkpointed plan shows ZERO raw scans here no
matter how bad its (hidden) spine is — is now enumerated instead of
open-ended: every plan whose final lazy plan contains an ExistingRDD
scan (localCheckpoint truncation OR an RDD-backed frame)
must be named in LINEAGE_TRUNCATED below. A NEW checkpoint site can no
longer silently opt out of the scan gate; it must be added here, which
is the reviewer's cue to demand the exchange-ceiling + zero-scan pins
that cover the three fan-out-fix sites (tests/test_explain_audit.py).
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def plan_of(df) -> str:
    import contextlib
    import io

    # The fan-out gate counts scans as substring hits of
    # "<table>.parquet" in the Location metadata; Spark truncates
    # metadata strings at spark.sql.maxMetadataStringLength (default
    # 100), so a long-enough sf_dir path would silently drop the file
    # name and undercount scans. Raise it for the explain and restore
    # after, so the gate cannot be defeated by path length (r12 ADVICE).
    spark = df.sparkSession
    key = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
    finally:
        spark.conf.set(key, prev)
    return buf.getvalue()


# The ONLY registry entries whose physical plan may contain a Python
# eval node (BatchEvalPython/ArrowEvalPython). The reference's F6
# ST_CENTROID ∘ F7 H3_FROMGEOGPOINT (functions/geo.py) is no UDF: the
# enrichment indexes the deduped zone dim on the driver and ships it
# back as a LocalRelation. The UDTF entry exists precisely to exercise
# Spark's Python UDTF surface. Everything else must stay JVM-side
# end-to-end.
PY_EVAL_WHITELIST = frozenset({
    "udtf_split_sentences",
})

# ---------------------------------------------------------------------------
# Fan-out rule (round 12, VERDICT r11 #4): the r11 full-registry sweep
# caught two fact-spine recompute fan-outs (assortativity 12×, markov
# ~8×) that per-name EXPECT maps never would; this promotes that
# discovery method to a standing gate. For every registry entry's lazy
# plan, count how many scan nodes each testdata table contributes; a
# count above the entry's allowance fails the audit. The default (4)
# covers the whole registry tail as measured by the r12 sweep of all
# 306 plans at sf0.001; every entry above it is listed with its
# measured count and the reason the multi-scan is by-design. Blind
# spot, by construction: a materialize() checkpoint truncates lineage,
# so checkpointed spines show zero scans here — that is the FIX for
# fan-out, and the two r11 checkpoint sites are pinned separately by
# exchange-count ceilings in tests/test_explain_audit.py.
# ---------------------------------------------------------------------------
TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
DEFAULT_SCAN_ALLOWANCE = 4
# Allowances are keyed per (name, table) — r12 ADVICE: a flat per-name
# cap would grant funnel_latency_stats's 12-scan allowance to EVERY
# table in its plan, not just the events table that justified it.
# Unlisted tables of a listed name fall back to the default, so a new
# fan-out on a different table still fails the gate. Each cap below is
# the measured r13 sweep count for exactly the table(s) named.
SCAN_ALLOWANCE: dict[str, dict[str, int]] = {
    # (r13 optimization: funnel_latency_stats materializes its
    # user-grain stage tables and fuses the two leg epilogues into one
    # stack'd aggregate — events scans dropped 12 → 3, inside the
    # default allowance, so its entry is gone.)
    # (r13 optimization: embedding_truncation_recall materializes the
    # probe set and the full-width truth top-k — scans dropped 10 → 3,
    # the one-brute-force-leg-per-dim floor, inside the default
    # allowance; its entry is gone and the name moved to
    # LINEAGE_TRUNCATED.)
    # SCD2 apply on the customer DIMENSION (small by definition at
    # 100 TB — the fact side never enters): the synthetic update batch
    # derives from customer (2 scans) and the three branch outcomes
    # (untouched/closed/opened) each re-read the dim-side join — all
    # dim-scale (r13 sweep: 9).
    "scd2_customer_history": {"customer": 9},
    # (r13 optimization: unigram_logprob_buckets materializes the
    # vocab model and doc-score frames — the final plan reads the
    # checkpoints, so its 6-scan allowance is gone; the name moved to
    # LINEAGE_TRUNCATED.)
    # (r13 optimization: funnel_conversion / sequence_pattern_funnel
    # materialize their user-grain stage tables, so the lazy re-derive
    # of stage N-1 under stage N is gone — events scans dropped 6 → 3
    # each (the per-stage-filter floor), inside the default allowance;
    # their entries are gone.)
    # (r13 optimization: referential_integrity_audit now checks all
    # three lineitem FKs in ONE scan — its allowance entry is gone;
    # market_basket_brand_rules materializes the basket frame — its
    # part/lineitem entries are gone. Both sit at/below the default.)
}

# ---------------------------------------------------------------------------
# Lineage-truncation allowlist (round 13): the entries whose final
# plan contains "ExistingRDD" at the default sf0.001 audit, measured by
# a full-registry sweep. The benign source that hides raw lineage from
# the fan-out rule above is a materialize()/localCheckpoint spine —
# iterative algorithms (graph family, star contraction, streaming
# drains) and the three pinned fan-out fixes. Driver-assembled local
# frames (sources/localrel.local_rows) are LocalRelations, not
# ExistingRDD scans, and need no entry.
# A name NOT in this set whose plan grows an ExistingRDD scan fails the
# audit: new checkpoint sites must be reviewed (does the hidden spine
# need an exchange-ceiling/zero-scan pin like _FANOUT_PINS?) and added
# here deliberately. At the default sf_dir the set is also checked for
# staleness (an entry that stopped truncating should be removed so the
# scan gate re-covers it).
# ---------------------------------------------------------------------------
LINEAGE_TRUNCATED = frozenset({
    # r13 batch: the two-pass range-rank operators (operators/ids.py)
    # now materialize their ranked frame (acctbal_decile_profile,
    # global_ids_orders, inventory_abc_classification,
    # lorenz_curve_points, revenue_gini); unigram_logprob_buckets
    # materializes its vocab model + doc scores; hybrid_rrf_search its
    # query-token set; kmv_user_overlap its sketch.
    "acctbal_decile_profile", "bigram_lm_topk", "bm25_keyword_search",
    "compact_small_files_audit", "corpus_prepare_pipeline",
    "corpus_prepare_v2", "corpus_prepare_v3",
    "dedup_components_star",
    "dedup_minhash_incremental", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_simhash_pairs", "dedup_weighted_jaccard",
    "domain_mixture_sample", "dpo_preference_pairs",
    "duplicated_substring_spans",
    "dynamic_partition_pruning_join",
    "embedding_truncation_recall",
    "flagship_known_zones", "flagship_most_populars",
    "funnel_conversion", "funnel_latency_stats", "fuzzy_match_fastss",
    "fuzzy_match_fastss2", "global_ids_orders", "graph_bfs_hops",
    "graph_degree_assortativity",
    "graph_kcore", "graph_pagerank_distributed",
    "graph_shortest_paths", "graph_triangles", "hard_negative_mining_ivf",
    "heaps_vocab_growth",
    "heavy_hitters_tokens", "hex_neighbor_smoothing",
    "histogram_quantile_estimate",
    "hybrid_rrf_search", "interpolate_user_daily",
    "inventory_abc_classification",
    "jsonl_roundtrip_docs",
    "kmv_user_overlap", "kn_doc_xent_filter", "kneser_ney_bigram",
    "lorenz_curve_points",
    "market_basket_brand_rules", "market_basket_triples",
    "markov_stationary_micro", "minhash_lsh_recall",
    "most_populars_flat", "ngram_containment_pairs",
    "partition_pruned_scan", "record_linkage_blocked",
    "revenue_gini",
    "rouge_l_decontaminate", "sampled_range_partition_plan",
    "schema_evolution_merge", "seasonal_dow_adjustment",
    "sequence_pattern_funnel",
    "source_distinctive_terms", "split_leakage_audit",
    "streaming_cdc_upsert", "streaming_checkpoint_resume",
    "streaming_full_outer_attribution",
    "streaming_late_dupes_dropped", "streaming_outer_attribution",
    "streaming_semi_attribution", "subsample_ci_revenue",
    "tfidf_cosine_pairs", "tpch_top_supplier",
    "unigram_logprob_buckets", "winnowing_near_dup_pairs",
})

# ---------------------------------------------------------------------------
# Python-node allowlist (round 13): completes the "UDFs are the slow
# path" invariant. PY_EVAL_WHITELIST above only gates ROW-AT-A-TIME
# eval (BatchEvalPython/ArrowEvalPython); the Arrow-batched pandas
# nodes (MapInPandas, FlatMapGroupsInPandas, …) are the sanctioned
# slow path but were previously un-enumerated — a new Python touchpoint
# in a hot path would have passed silently. A full-registry sweep this
# round found exactly 13 plans carrying ANY Python-eval node flavor;
# this map pins name → the exact node kinds allowed. Any other plan
# must be 100% JVM, and a listed plan growing a NEW node kind fails.
# At the measured sf the kind-set must match exactly (staleness), a
# subset elsewhere.
# ---------------------------------------------------------------------------
PY_NODE_PAT = (
    r"FlatMapCoGroupsInPandas|FlatMapGroupsInPandas|MapGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas|MapInPandas|PythonMapInArrow|"
    r"MapInArrow|ArrowEvalPython|BatchEvalPython|PythonUDTF"
)
PY_NODE_ALLOWED: dict[str, frozenset[str]] = {
    # Arrow-native token stats: the mapInArrow showcase entry.
    "arrow_token_stats": frozenset({"MapInArrow"}),
    # The reference's geo functions (F6 centroid ∘ F7 hex) run on the
    # driver over the deduped zone dim, so neither the flagship entries
    # nor hex_neighbor_smoothing carry a Python node; the enrich plan,
    # materialized spines included, is pinned 100% JVM by
    # tests/test_taxi_pipeline.py::test_enrich_plan_has_no_python_eval.
    # Python UDTF surface entry (exercises the API on purpose).
    "udtf_split_sentences": frozenset({"BatchEvalPython"}),
    # Cogrouped per-cluster mining: bounded probe × bucket cogroups.
    "hard_negative_mining": frozenset({"FlatMapCoGroupsInPandas"}),
    "hard_negative_mining_ivf": frozenset({"FlatMapCoGroupsInPandas"}),
    # Post-aggregation per-group smoothing over 30-row day series.
    "holt_linear_smoothing": frozenset({"FlatMapGroupsInPandas"}),
    # Per-cluster greedy prune over bounded cluster shortlists.
    "semdedup_prune": frozenset({"FlatMapGroupsInPandas"}),
    # Multimodal decode path: payload bytes stay in the Arrow batch.
    "multimodal_features": frozenset({"MapInPandas"}),
    "multimodal_meta": frozenset({"MapInPandas"}),
    # LCS / Viterbi dynamic programs, Arrow-batched per partition.
    "rouge_l_decontaminate": frozenset({"MapInPandas"}),
    "unigram_viterbi_segment": frozenset({"MapInPandas"}),
}

# ---------------------------------------------------------------------------
# BroadcastNestedLoopJoin allowlist (round 13): the companion rule to
# LINEAGE_TRUNCATED. The r11 sweep established that every BNLJ in the
# registry is the sanctioned 1-row-scalar-broadcast pattern (a global
# aggregate broadcast back onto a frame — cost O(rows), not O(rows²));
# this round freezes WHERE they are, per name, as measured string hits
# at the default sf0.001 audit ("formatted" explain renders each node
# twice — once in the tree, once in the detail section — so counts are
# 2× the node count). A BNLJ in any other plan, or MORE of them in an
# allowed plan, fails: a new nested-loop join against a data-sized
# broadcast is exactly the quadratic 100 TB killer the CartesianProduct
# ban exists for, arriving under a different node name. At the
# measured sf the counts must match exactly (fewer = stale entry);
# elsewhere they are ceilings.
# ---------------------------------------------------------------------------
BNLJ_ALLOWED: dict[str, int] = {
    "acctbal_decile_profile": 2, "ann_recall_at_k": 2,
    "autocomplete_prefixes": 2, "benford_first_digit": 2,
    "bloom_prefilter_join": 2, "bm25_keyword_search": 2,
    "boilerplate_chunk_removal": 2, "corpus_prepare_v3": 6,
    "cusum_change_days": 2, "domain_mixture_sample": 2,
    "domain_token_budgets": 2, "dsir_importance_weights": 2,
    # embedding_truncation_recall dropped 8→4 in r13: the full-width
    # truth leg (and its probe-broadcast BNLJ) is materialized, so the
    # final plan carries one BNLJ per remaining truncation-dim leg.
    "embedding_near_dup_recall": 4, "embedding_truncation_recall": 4,
    "hard_negative_mining": 2, "heavy_hitters_tokens": 2,
    "histogram_quantile_estimate": 4, "hybrid_rrf_search": 4,
    "interpolate_user_daily": 2, "kmv_user_overlap": 4,
    "kn_doc_xent_filter": 2, "kneser_ney_bigram": 2,
    # market_basket_triples dropped 8→2 in r13: the support-threshold
    # scalar broadcast used to be rebuilt inside all four freq_pairs
    # recomputes; the pair/freq materialize leaves one BNLJ site.
    "market_basket_brand_rules": 2, "market_basket_triples": 2,
    "markov_stationary_micro": 2, "negative_sample_table": 4,
    "pmi_collocations": 2,
    # (range_partition_plan's total-count crossJoin became a window
    # over the already-single-partition rank in r13 — 0 BNLJ left.)
    # (referential_integrity_audit's 10 BNLJ hits were the five
    # count(*)-crossJoin scalar broadcasts; the r13 one-pass rewrite
    # removed them all.)
    "rolling_active_users": 2,
    # sampled planner: 6→4 in r13 — the ns crossJoin now reads the
    # materialized rank; the boundary/assignment broadcasts remain.
    "sampled_range_partition_plan": 4, "seasonal_dow_adjustment": 2,
    "semantic_decontaminate": 2, "semantic_search_docs": 2,
    "similarity_cosine_topk": 2, "similarity_ivf_topk": 4,
    "simpson_paradox_audit": 2, "source_distinctive_terms": 2,
    "subsample_ci_revenue": 2, "temperature_mixture_weights": 2,
    "theil_sen_slope": 2, "tpch_important_parts": 2,
    "tpch_sales_opportunity": 2, "trend_slope_by_event_type": 2,
    # (unigram_logprob_buckets 6→2 in r13: the model/score materialize
    # leaves one scalar-broadcast crossJoin in the final plan.)
    "unigram_logprob_buckets": 2, "vocab_top_p_cutoff": 2,
    "window_distribution_approx": 2,
}

EXPECT = {
    "broadcast_left_join": ["BroadcastHashJoin"],
    "multihop_join": ["BroadcastHashJoin", "HashAggregate"],
    "most_populars_flat": ["HashAggregate", "Window"],
    "topk_limit": ["TakeOrderedAndProject"],
    "similarity_cosine_topk": ["BroadcastNestedLoopJoin|BroadcastHashJoin"],
    "dedup_exact": ["HashAggregate"],
    "dedup_minhash_lsh": ["HashAggregate"],
    "flagship_most_populars": ["BroadcastHashJoin"],
    "flagship_known_zones": ["BroadcastHashJoin"],
    # Spark 4 formatted explain tags codegen stages as "codegen id : N".
    "text_pii_scrub": ["codegen id"],
    "text_lexical_diversity": ["HashAggregate"],
    "corpus_decontaminate": ["HashAggregate"],
    "multimodal_features": ["MapInPandas"],
    "text_repetition_scores": ["HashAggregate"],
    "pack_sequences": ["Window"],
    "domain_mixture_sample": ["BroadcastHashJoin"],
    "tpch_pricing_summary": ["HashAggregate"],
    "corpus_prepare_v2": ["HashAggregate", "BroadcastHashJoin"],
    "tokenize_with_vocab": ["BroadcastHashJoin"],
    "tpch_shipping_priority": ["BroadcastHashJoin", "TakeOrderedAndProject"],
    "validate_constraints": ["HashAggregate"],
    "winnowing_near_dup_pairs": ["HashAggregate"],
    "embedding_random_projection": ["codegen id"],
    # TPC-H derived batch (r3): spec plan shapes.
    "tpch_order_priority": ["LeftSemi", "HashAggregate"],
    "tpch_local_supplier_volume": ["BroadcastHashJoin", "HashAggregate"],
    "tpch_forecast_revenue": ["HashAggregate"],
    "tpch_volume_shipping": ["BroadcastHashJoin", "HashAggregate"],
    "tpch_returned_items": ["TakeOrderedAndProject", "BroadcastHashJoin"],
    "tpch_customer_distribution": ["HashAggregate"],
    "tpch_promo_effect": ["BroadcastHashJoin", "HashAggregate"],
    "tpch_small_qty_revenue": ["BroadcastHashJoin", "HashAggregate"],
    "tpch_large_volume_customer": ["LeftSemi", "TakeOrderedAndProject"],
    # Curation batch (r3): all JVM-side; model joins broadcast.
    "gopher_quality_filter": ["codegen id"],
    "dup_ngram_coverage": ["HashAggregate"],
    "dsir_importance_weights": ["BroadcastHashJoin", "HashAggregate"],
    "unigram_logprob_buckets": ["Scan ExistingRDD", "HashAggregate"],
    "tpch_market_share": ["BroadcastHashJoin", "HashAggregate"],
    "session_window_agg": ["HashAggregate"],
    "embedding_pca_project": ["codegen id"],
    "tpch_disjunctive_pricing": ["BroadcastHashJoin", "HashAggregate"],
    "window_range_interval": ["Window"],
    "unpivot_metrics": ["Expand", "HashAggregate"],
    "event_transition_matrix": ["Window", "HashAggregate"],
    "kfold_assignment": ["HashAggregate"],
    "split_leakage_audit": ["BroadcastHashJoin", "HashAggregate"],
    # Round-4 batch: mutation ops, skew, quantization, fastss2.
    "scd2_customer_history": ["HashAggregate|Join"],
    "cdc_upsert_apply": ["Join"],
    "skew_salted_join": ["BroadcastHashJoin|SortMergeJoin"],
    "embedding_int8_quantize": ["Generate", "BroadcastHashJoin"],
    # Variant table is checkpointed (self-join rule), so the visible
    # plan starts at the materialized scan: assert the equi-join +
    # distinct, not the pre-checkpoint Generate.
    "fuzzy_match_fastss2": ["HashAggregate", "Join"],
    # Round-5 batch: chunk dedup, sampling, text stats, robust stats,
    # time-series windows, skyline, triangles, Q21 shape.
    "chunk_dedup_docs": ["Window", "HashAggregate"],
    "weighted_priority_sample": ["TakeOrderedAndProject"],
    "token_entropy_by_source": ["HashAggregate"],
    "feature_hash_counts": ["HashAggregate"],
    "bigram_lm_topk": ["BroadcastHashJoin", "Window"],
    "embedding_zscore": ["BroadcastHashJoin", "HashAggregate"],
    "mad_outliers": ["Window", "HashAggregate"],
    "ewma_daily_revenue": ["Window", "HashAggregate"],
    "rolling_corr_revenue": ["Window", "HashAggregate"],
    "pareto_frontier": ["Window"],
    "graph_triangles": ["Join", "HashAggregate"],
    "tpch_suppliers_waiting": ["BroadcastHashJoin", "TakeOrderedAndProject"],
    "quality_classifier_score": ["HashAggregate"],
    "month_over_month_growth": ["HashAggregate", "Window"],
    "constraint_quarantine": ["codegen id"],
    "weighted_sample_per_group": ["Window"],
    # Deliberate broadcast range join: the spine is calendar-sized.
    "rolling_active_users": ["BroadcastNestedLoopJoin", "HashAggregate"],
    "regex_pretokenize_counts": ["codegen id"],
    "source_distinctive_terms": ["BroadcastHashJoin", "Window"],
    "time_weighted_average": ["Window", "HashAggregate"],
    # Round-5 batch 2: vocab-bounded corpus stats + interval islands.
    "pmi_collocations": ["Window", "HashAggregate"],
    "vocab_top_p_cutoff": ["Window", "HashAggregate"],
    # The MG sketch pass is materialized (localCheckpoint), so the
    # visible plan starts at the checkpointed scan (same rule as
    # fuzzy_match_fastss2): assert the broadcast candidate verify +
    # exact count, not the pre-checkpoint MapInPandas.
    "heavy_hitters_tokens": ["BroadcastHashJoin", "HashAggregate"],
    "merge_event_intervals": ["Window", "HashAggregate"],
    # Banded LSH: candidate generation is an equi-join on
    # (band_id, band_key) — Generate = the posexplode of band keys.
    "embedding_near_dup": ["Generate", "HashAggregate"],
    # k-core: final degree agg runs over the checkpointed peeled edge
    # set (pre-checkpoint rounds invisible, same rule as fastss2).
    "graph_kcore": ["HashAggregate"],
    "bloom_prefilter_join": ["BroadcastHashJoin", "HashAggregate"],
    "incremental_rollup_merge": ["HashAggregate", "Union"],
    # BFS: final dist is a checkpointed min-agg (pre-checkpoint rounds
    # invisible, same rule as kcore/fastss2).
    "graph_bfs_hops": ["Scan ExistingRDD|HashAggregate"],
    # PIT: range predicate must ride the key hash join as residual.
    "scd2_point_in_time_join": ["Join"],
    "snapshot_diff_customers": ["Join"],
    "graph_shortest_paths": ["Scan ExistingRDD|HashAggregate"],
    "corpus_prepare_v3": ["HashAggregate", "Window"],
    # Round 6. hard_negative_mining must be the blocked cogroup
    # matmul, never a pair join.
    "hard_negative_mining": ["FlatMapCoGroupsInPandas"],
    "boilerplate_chunk_removal": ["HashAggregate"],
    "kn_doc_xent_filter": ["BroadcastHashJoin", "HashAggregate"],
    "range_partition_plan": ["Window", "HashAggregate"],
    "adaptive_salt_plan": ["HashAggregate"],
    # PQ: ranking is a WindowGroupLimit over the ADC scores; the giant
    # literal-codebook expressions run interpreted (codegen declines
    # the oversized tree), which is fine — they are still JVM-side.
    "similarity_pq_topk": ["WindowGroupLimit", "Window"],
    "hard_negative_mining_ivf": ["FlatMapCoGroupsInPandas", "Window"],
    "dedup_weighted_jaccard": ["HashAggregate"],
    "rouge_l_decontaminate": ["MapInPandas"],
    # round 8: the feed-epoch scalar rides a 1-row broadcast crossJoin
    # (VERDICT r7 #6) — the BNLJ of a 1-row relation is the pattern,
    # not a regression
    "trend_slope_by_event_type": ["HashAggregate",
                                  "BroadcastNestedLoopJoin"],
    "sampled_range_partition_plan": ["HashAggregate",
                                     "BroadcastNestedLoopJoin"],
    "span_corruption_masks": ["Generate"],
    "negative_sample_table": ["BroadcastNestedLoopJoin", "Window"],
    "sft_pair_format": ["Project"],
    "semdedup_prune": ["FlatMapGroupsInPandas"],
    # r13: the double-rank window moved inside the ranked-frame
    # checkpoint (its spine re-ran under both the best and worst
    # picks) — the shipped plan roots on the checkpoint read.
    "dpo_preference_pairs": ["Scan ExistingRDD"],
    "skewed_distinct_count": ["HashAggregate"],
    "unigram_viterbi_segment": ["MapInPandas", "HashAggregate"],
    "bucketed_colocated_join": ["Bucketed: true", "HashAggregate"],
    # Round-6 batches 6-10
    "market_basket_brand_rules": ["BroadcastHashJoin", "HashAggregate"],
    "record_linkage_blocked": ["HashAggregate"],
    "benford_first_digit": ["HashAggregate"],
    "cusum_change_days": ["HashAggregate", "Window"],
    "ols_normal_equations": ["HashAggregate"],
    "markov_stationary_micro": ["HashAggregate"],
    # two-pass rank: the parallel range sort now lives behind the
    # r13 materialize (plans/r13/*_before.txt show the rangepartitioning
    # exchange); the final plan must read the checkpoint, never re-sort
    "acctbal_decile_profile": ["Scan ExistingRDD", "Window"],
    "hybrid_rrf_search": ["TakeOrderedAndProject", "HashAggregate"],
    "chisq_independence": ["HashAggregate", "Window"],
    "seasonal_dow_adjustment": ["HashAggregate", "BroadcastHashJoin"],
    "topn_with_other_rollup": ["BroadcastHashJoin", "Window"],
    # final assignment is a pure projection over the scan: centroids
    # are literals, distances one narrow expression — no join at all
    "kmeans_silhouette": ["Project"],
    "multitouch_attribution": ["HashAggregate"],
    "sequence_pattern_funnel": ["HashAggregate"],
    "revenue_gini": ["Scan ExistingRDD", "HashAggregate"],
    "phrase_search_positional": ["HashAggregate"],
    "table_diff_checksums": ["HashAggregate"],
    "autocomplete_prefixes": ["HashAggregate", "Window"],
    "arrow_token_stats": ["MapInArrow"],
    # Round-6 batches 11-12
    "moments_skew_kurtosis": ["HashAggregate"],
    "ab_test_proportions": ["HashAggregate"],
    "region_share_rollup": ["BroadcastHashJoin", "Window"],
    "funnel_latency_stats": ["HashAggregate"],
    "referential_integrity_audit": ["BroadcastHashJoin"],
    "join_multiplicity_hotspots": ["TakeOrderedAndProject",
                                   "HashAggregate"],
    # Round-6 batch 13 — sequential/robust stats confined to the
    # post-aggregation daily frame
    "holt_linear_smoothing": ["FlatMapGroupsInPandas", "HashAggregate"],
    "theil_sen_slope": ["HashAggregate"],
    "longest_increase_streaks": ["TakeOrderedAndProject", "Window"],
    "prefix_containment_pairs": ["Join"],
    "market_basket_triples": ["LeftSemi", "BroadcastHashJoin",
                              "HashAggregate"],
    "changepoint_segmented_ols": ["Window", "TakeOrderedAndProject"],
    "lorenz_curve_points": ["Scan ExistingRDD", "HashAggregate"],
    "simpson_paradox_audit": ["HashAggregate"],
    "discount_quantity_corr_by_brand": ["BroadcastHashJoin",
                                        "HashAggregate"],
    "cohort_ltv_curve": ["HashAggregate", "Window"],
    "interarrival_burstiness": ["Window", "HashAggregate"],
    "hhi_market_concentration": ["BroadcastHashJoin", "Window"],
    "partition_skew_stats": ["HashAggregate"],
    "rapid_reorder_audit": ["HashAggregate"],
    "inventory_abc_classification": ["Scan ExistingRDD",
                                     "HashAggregate"],
    "ks_drift_test": ["HashAggregate", "Window"],
    "mannwhitney_u_test": ["HashAggregate", "Window"],
}

FORBID = {
    # The fact-table path must stay JVM-side: Python only on the dim.
    "normalize_filter": ["BatchEvalPython", "ArrowEvalPython"],
    "most_populars_flat": ["BatchEvalPython", "ArrowEvalPython"],
    "dedup_minhash_lsh": ["BatchEvalPython", "ArrowEvalPython"],
    "text_quality_scores": ["BatchEvalPython", "ArrowEvalPython"],
    "text_pii_scrub": ["BatchEvalPython", "ArrowEvalPython"],
    "text_lexical_diversity": ["BatchEvalPython", "ArrowEvalPython"],
    # Decontamination must stay a gram equi-join, never doc×doc.
    "corpus_decontaminate": [
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BatchEvalPython",
        "ArrowEvalPython",
    ],
    # The whole point of the approx variant: no global-sort window.
    "window_distribution_approx": ["Window", "BatchEvalPython"],
    # Two-pass prefix sum: the window must be bucket-partitioned, never
    # the single-partition global sort the naive plan would use.
    "pack_sequences": ["SinglePartition", "BatchEvalPython"],
    "text_repetition_scores": ["BatchEvalPython", "ArrowEvalPython"],
    "domain_mixture_sample": ["SortMergeJoin", "BatchEvalPython"],
    "tpch_pricing_summary": ["BatchEvalPython", "Exchange rangepartitioning"],
    "corpus_prepare_v2": ["CartesianProduct", "BatchEvalPython",
                          "ArrowEvalPython", "SinglePartition"],
    "tokenize_with_vocab": ["BatchEvalPython", "SortMergeJoin"],
    "tpch_shipping_priority": ["CartesianProduct", "Exchange rangepartitioning"],
    "winnowing_near_dup_pairs": ["CartesianProduct", "BatchEvalPython"],
    "embedding_random_projection": ["BatchEvalPython", "Exchange"],
    "tpch_order_priority": ["CartesianProduct", "BatchEvalPython"],
    "tpch_local_supplier_volume": ["CartesianProduct", "BatchEvalPython"],
    "tpch_forecast_revenue": ["BatchEvalPython", "Exchange rangepartitioning",
                              "SortMergeJoin"],
    "tpch_volume_shipping": ["CartesianProduct", "BatchEvalPython"],
    "tpch_returned_items": ["CartesianProduct", "Exchange rangepartitioning"],
    "tpch_customer_distribution": ["BatchEvalPython", "CartesianProduct"],
    "tpch_promo_effect": ["SortMergeJoin", "BatchEvalPython"],
    "tpch_small_qty_revenue": ["CartesianProduct", "BatchEvalPython"],
    "tpch_large_volume_customer": ["CartesianProduct",
                                   "Exchange rangepartitioning"],
    "gopher_quality_filter": ["BatchEvalPython", "ArrowEvalPython",
                              "Exchange"],
    "dup_ngram_coverage": ["BatchEvalPython", "CartesianProduct"],
    "dsir_importance_weights": ["BatchEvalPython", "SortMergeJoin"],
    "unigram_logprob_buckets": ["BatchEvalPython", "SortMergeJoin"],
    "tpch_market_share": ["SortMergeJoin", "CartesianProduct",
                          "BatchEvalPython"],
    "session_window_agg": ["BatchEvalPython", "CartesianProduct"],
    "embedding_pca_project": ["BatchEvalPython", "ArrowEvalPython",
                              "Exchange", "Join"],
    "tpch_disjunctive_pricing": ["CartesianProduct", "SortMergeJoin",
                                 "BatchEvalPython"],
    "window_range_interval": ["BatchEvalPython", "CartesianProduct"],
    "unpivot_metrics": ["BatchEvalPython", "CartesianProduct"],
    "event_transition_matrix": ["BatchEvalPython", "CartesianProduct"],
    "kfold_assignment": ["BatchEvalPython", "CartesianProduct"],
    # r13: the split labels derive inline from the pair columns
    # (sampling.split_expr) — the corpus-side split table must never
    # re-enter the final plan (it was two corpus join passes).
    "split_leakage_audit": ["CartesianProduct", "BatchEvalPython",
                            "SortMergeJoin", "documents.parquet"],
    # Round-4 batch.
    "scd2_customer_history": ["BatchEvalPython", "CartesianProduct"],
    "cdc_upsert_apply": ["BatchEvalPython", "CartesianProduct"],
    "skew_salted_join": ["BatchEvalPython", "CartesianProduct",
                         "BroadcastNestedLoopJoin"],
    # Encode pass joins only the 64-row codebook: broadcast, and the
    # corpus side must not shuffle for it.
    "embedding_int8_quantize": ["BatchEvalPython", "SortMergeJoin",
                                "CartesianProduct"],
    "fuzzy_match_fastss2": ["BatchEvalPython", "CartesianProduct",
                            "BroadcastNestedLoopJoin"],
    # Round-5 batch. rolling_corr's calendar-bounded global window is
    # legitimately single-partition, so it is NOT forbidden there.
    "chunk_dedup_docs": ["BatchEvalPython", "CartesianProduct"],
    # Top-k must be per-partition heaps, never a global range sort.
    "weighted_priority_sample": ["BatchEvalPython",
                                 "Exchange rangepartitioning"],
    "token_entropy_by_source": ["BatchEvalPython", "CartesianProduct"],
    "feature_hash_counts": ["BatchEvalPython", "SortMergeJoin"],
    # The head cut is a broadcast semi-join: no global-sort window over
    # the bigram aggregate.
    "bigram_lm_topk": ["BatchEvalPython", "CartesianProduct",
                       "SinglePartition"],
    "embedding_zscore": ["BatchEvalPython", "SortMergeJoin",
                         "CartesianProduct"],
    "mad_outliers": ["BatchEvalPython", "CartesianProduct",
                     "SinglePartition"],
    "ewma_daily_revenue": ["BatchEvalPython", "CartesianProduct"],
    "rolling_corr_revenue": ["BatchEvalPython", "CartesianProduct"],
    "pareto_frontier": ["BatchEvalPython", "CartesianProduct",
                        "SinglePartition"],
    "graph_triangles": ["BatchEvalPython", "CartesianProduct",
                        "BroadcastNestedLoopJoin"],
    # r13: the two per-order countDistincts became a two-level
    # aggregate — the Expand (2x shuffle rows) must not come back.
    "tpch_suppliers_waiting": ["BatchEvalPython", "CartesianProduct",
                               "Exchange rangepartitioning", "Expand"],
    "quality_classifier_score": ["BatchEvalPython", "CartesianProduct",
                                 "Join"],
    # Quarantine is scan+filter+project only: any shuffle is a bug.
    "constraint_quarantine": ["BatchEvalPython", "Exchange", "Join"],
    "weighted_sample_per_group": ["BatchEvalPython", "CartesianProduct",
                                  "SinglePartition"],
    "rolling_active_users": ["BatchEvalPython", "CartesianProduct",
                             "SortMergeJoin"],
    # Pure scan+project: any shuffle or join is a bug.
    "regex_pretokenize_counts": ["BatchEvalPython", "Exchange", "Join"],
    "source_distinctive_terms": ["BatchEvalPython", "CartesianProduct",
                                 "SortMergeJoin"],
    # Lead window and aggregation share one user_id exchange: a join
    # or a second shuffle is a plan bug.
    "time_weighted_average": ["BatchEvalPython", "Join",
                              "CartesianProduct"],
    # Round-5 batch 2. pmi/vocab_top_p run their windows on the
    # aggregated vocab table — single-partition THERE is by design, so
    # it is not forbidden; what is forbidden is any Python and (for
    # pmi) a corpus re-scan join shape.
    "pmi_collocations": ["BatchEvalPython", "ArrowEvalPython",
                         "CartesianProduct", "SortMergeJoin"],
    "vocab_top_p_cutoff": ["BatchEvalPython", "ArrowEvalPython",
                           "CartesianProduct"],
    # The exact-verify join must broadcast the candidate set; the only
    # Python allowed is the Arrow MapInPandas sketch itself.
    "heavy_hitters_tokens": ["BatchEvalPython", "SortMergeJoin",
                             "CartesianProduct"],
    # Both windows and the final agg share ONE user_id exchange.
    "merge_event_intervals": ["BatchEvalPython", "Join",
                              "CartesianProduct"],
    # Candidates come from the banded equi-join: a nested-loop or
    # cartesian pair generator is exactly the n² bug banding removes.
    "embedding_near_dup": ["BatchEvalPython", "CartesianProduct",
                           "BroadcastNestedLoopJoin"],
    "graph_kcore": ["BatchEvalPython", "CartesianProduct"],
    # The 1-row bloom array rides a broadcast nested loop (the
    # sanctioned broadcast-of-1-row-aggregate crossJoin); the exact
    # join must stay a broadcast hash join, and nothing may shuffle
    # the fact side before the filter.
    "bloom_prefilter_join": ["BatchEvalPython", "SortMergeJoin",
                             "CartesianProduct"],
    # Union + re-sum of partials: no join anywhere, no Python.
    "incremental_rollup_merge": ["BatchEvalPython", "Join",
                                 "CartesianProduct"],
    "graph_bfs_hops": ["BatchEvalPython", "CartesianProduct"],
    "scd2_point_in_time_join": ["BatchEvalPython", "CartesianProduct",
                                "BroadcastNestedLoopJoin"],
    "snapshot_diff_customers": ["BatchEvalPython", "CartesianProduct"],
    "graph_shortest_paths": ["BatchEvalPython", "CartesianProduct"],
    "corpus_prepare_v3": ["BatchEvalPython", "ArrowEvalPython",
                          "CartesianProduct"],
    # Round 6. The rewritten hard-negative plan may not regress to the
    # all-pairs pair join it replaced; its only Python is the Arrow
    # cogroup, and the only nested loop allowed is the 32-row literal
    # block replication (which is why BNLJ is NOT forbidden here —
    # EXPECT pins FlatMapCoGroupsInPandas as the scoring path).
    "hard_negative_mining": ["CartesianProduct", "BatchEvalPython"],
    # Chunk df-count + reassembly: never doc x doc, never Python.
    "boilerplate_chunk_removal": ["CartesianProduct", "BatchEvalPython",
                                  "ArrowEvalPython", "SortMergeJoin"],
    # The KN model join must broadcast (vocab^2-bounded); the corpus
    # path stays JVM-side.
    "kn_doc_xent_filter": ["SortMergeJoin", "CartesianProduct",
                           "BatchEvalPython", "ArrowEvalPython"],
    # Planners are pure relational: no Python, no joins beyond the
    # sanctioned 1-row broadcast.
    "adaptive_salt_plan": ["Join", "BatchEvalPython"],
    "range_partition_plan": ["SortMergeJoin", "BatchEvalPython"],
    # Integer PQ: encode + ADC are pure codegen over literal
    # codebooks; no Python anywhere in the corpus path.
    "similarity_pq_topk": ["BatchEvalPython", "ArrowEvalPython",
                           "SortMergeJoin", "CartesianProduct"],
    # IVF hard negatives: candidates come from inverted lists; the
    # only Python is the per-cell Arrow cogroup.
    "hard_negative_mining_ivf": ["CartesianProduct", "BatchEvalPython"],
    # Candidates ride the band-bucket equi-join, never doc x doc.
    "dedup_weighted_jaccard": ["CartesianProduct", "BatchEvalPython",
                               "BroadcastNestedLoopJoin"],
    # The quadratic DP touches only the bounded pair set (MapInPandas
    # over ~12 rows); the corpus path stays JVM-side.
    "rouge_l_decontaminate": ["BatchEvalPython"],
    # the only join allowed is the 1-row broadcast epoch (BNLJ); a
    # hash/sort-merge join or a true cartesian would be a regression
    "trend_slope_by_event_type": ["BatchEvalPython", "CartesianProduct",
                                  "SortMergeJoin", "BroadcastHashJoin"],
    # Objective prep is pure JVM hash arithmetic — no Python.
    "span_corruption_masks": ["BatchEvalPython", "ArrowEvalPython",
                              "Join"],
    "sft_pair_format": ["BatchEvalPython", "ArrowEvalPython", "Join"],
    # SemDeDup: pairs exist only inside the per-cluster Arrow group —
    # never a pair join, never row-at-a-time Python.
    "semdedup_prune": ["CartesianProduct", "BatchEvalPython",
                       "BroadcastNestedLoopJoin"],
    # Pure relational: two windows + a key join, no Python anywhere.
    "dpo_preference_pairs": ["BatchEvalPython", "ArrowEvalPython",
                             "CartesianProduct"],
    "skewed_distinct_count": ["BatchEvalPython", "Join",
                              "CartesianProduct"],
    # Viterbi DP rides one Arrow mapInPandas over the DISTINCT-word
    # table; the corpus-sized path (word counts, substring counts)
    # stays JVM-side.
    "unigram_viterbi_segment": ["BatchEvalPython", "CartesianProduct"],
    # Round-6 batches 6-10: all-JVM paths — no Python eval, no
    # unconstrained cartesian (broadcast cross joins plan as BNLJ and
    # are allowed where they carry one-row frames).
    "market_basket_brand_rules": ["BatchEvalPython", "ArrowEvalPython",
                                  "CartesianProduct"],
    "record_linkage_blocked": ["BatchEvalPython", "ArrowEvalPython",
                               "CartesianProduct"],
    "benford_first_digit": ["BatchEvalPython", "ArrowEvalPython",
                            "CartesianProduct"],
    "cusum_change_days": ["BatchEvalPython", "ArrowEvalPython",
                          "CartesianProduct"],
    "ols_normal_equations": ["BatchEvalPython", "ArrowEvalPython",
                             "CartesianProduct"],
    "markov_stationary_micro": ["BatchEvalPython", "ArrowEvalPython",
                                "CartesianProduct"],
    "acctbal_decile_profile": ["BatchEvalPython", "ArrowEvalPython",
                               "CartesianProduct"],
    "hybrid_rrf_search": ["BatchEvalPython", "ArrowEvalPython",
                          "CartesianProduct"],
    "chisq_independence": ["BatchEvalPython", "ArrowEvalPython",
                           "CartesianProduct"],
    "seasonal_dow_adjustment": ["BatchEvalPython", "ArrowEvalPython",
                                "CartesianProduct"],
    "topn_with_other_rollup": ["BatchEvalPython", "ArrowEvalPython",
                               "CartesianProduct"],
    "kmeans_silhouette": ["BatchEvalPython", "ArrowEvalPython", "Join"],
    "multitouch_attribution": ["BatchEvalPython", "ArrowEvalPython",
                               "CartesianProduct"],
    "sequence_pattern_funnel": ["BatchEvalPython", "ArrowEvalPython",
                                "CartesianProduct"],
    "revenue_gini": ["BatchEvalPython", "ArrowEvalPython",
                     "CartesianProduct"],
    "phrase_search_positional": ["BatchEvalPython", "ArrowEvalPython",
                                 "CartesianProduct"],
    "table_diff_checksums": ["BatchEvalPython", "ArrowEvalPython",
                             "CartesianProduct"],
    "autocomplete_prefixes": ["BatchEvalPython", "ArrowEvalPython",
                              "CartesianProduct"],
    # arrow_token_stats IS a Python map — that's the point; forbid
    # only row-at-a-time Python.
    "arrow_token_stats": ["BatchEvalPython"],
    "moments_skew_kurtosis": ["BatchEvalPython", "ArrowEvalPython",
                              "CartesianProduct", "Window"],
    "ab_test_proportions": ["BatchEvalPython", "ArrowEvalPython",
                            "CartesianProduct", "Window"],
    "region_share_rollup": ["BatchEvalPython", "ArrowEvalPython",
                            "CartesianProduct"],
    "funnel_latency_stats": ["BatchEvalPython", "ArrowEvalPython",
                             "CartesianProduct", "Window"],
    "referential_integrity_audit": ["BatchEvalPython", "ArrowEvalPython",
                                    "CartesianProduct"],
    "join_multiplicity_hotspots": ["BatchEvalPython", "ArrowEvalPython",
                                   "CartesianProduct", "Window"],
    # holt IS a (post-agg) pandas group — forbid only row-at-a-time
    "holt_linear_smoothing": ["BatchEvalPython", "CartesianProduct"],
    "theil_sen_slope": ["BatchEvalPython", "ArrowEvalPython"],
    "longest_increase_streaks": ["BatchEvalPython", "ArrowEvalPython",
                                 "CartesianProduct"],
    "prefix_containment_pairs": ["BatchEvalPython", "ArrowEvalPython",
                                 "CartesianProduct"],
    "market_basket_triples": ["BatchEvalPython", "ArrowEvalPython",
                              "CartesianProduct"],
    "changepoint_segmented_ols": ["BatchEvalPython", "ArrowEvalPython",
                                  "CartesianProduct"],
    "lorenz_curve_points": ["BatchEvalPython", "ArrowEvalPython",
                            "CartesianProduct"],
    "simpson_paradox_audit": ["BatchEvalPython", "ArrowEvalPython",
                              "CartesianProduct"],
    "discount_quantity_corr_by_brand": ["BatchEvalPython",
                                        "ArrowEvalPython",
                                        "CartesianProduct"],
    "cohort_ltv_curve": ["BatchEvalPython", "ArrowEvalPython",
                         "CartesianProduct"],
    "interarrival_burstiness": ["BatchEvalPython", "ArrowEvalPython",
                                "CartesianProduct"],
    "hhi_market_concentration": ["BatchEvalPython", "ArrowEvalPython",
                                 "CartesianProduct"],
    "partition_skew_stats": ["BatchEvalPython", "ArrowEvalPython",
                             "CartesianProduct"],
    "rapid_reorder_audit": ["BatchEvalPython", "ArrowEvalPython",
                            "CartesianProduct"],
    "inventory_abc_classification": ["BatchEvalPython", "ArrowEvalPython",
                                     "CartesianProduct"],
    "ks_drift_test": ["BatchEvalPython", "ArrowEvalPython",
                      "CartesianProduct"],
    "mannwhitney_u_test": ["BatchEvalPython", "ArrowEvalPython",
                           "CartesianProduct"],
}

# partition_pruned_scan / compact_small_files_audit execute eagerly
# (temp-dir write + readback); their plan shapes are pinned by
# tests/test_round6b_ops.py (PartitionFilters, written-file count)
# instead of this lazy-plan audit. mmr_diversify_rerank likewise ends
# in a driver-assembled local relation (K greedy steps over the 8-row
# shortlist); its retrieval legs share hybrid_rrf_search's audited
# shape and its semantics are pinned by the numpy greedy replay test.


def audit_plan(name: str, plan: str, *, check_stale: bool) -> list[str]:
    """All per-plan audit rules, as pure text→findings logic so pytest
    can drive them with synthetic plans (negative tests prove each gate
    actually fires — a bug here would otherwise only ever see passing
    real plans). Returns the list of failure strings for this plan;
    empty means the plan passes every rule.

    ``check_stale``: exactness checks (a pinned count/kind missing) are
    only decidable at the sf the allowlists were measured at.
    """
    import re

    bad: list[str] = []
    # Row-at-a-time Python eval (round 11 rule).
    if name not in PY_EVAL_WHITELIST:
        m = re.search(r"BatchEvalPython|ArrowEvalPython", plan)
        if m:
            bad.append(
                f"{name}: row-at-a-time Python eval ({m.group(0)}) "
                "outside PY_EVAL_WHITELIST"
            )
    # Lineage truncation must be enumerated (round 13 rule).
    if "ExistingRDD" in plan and name not in LINEAGE_TRUNCATED:
        bad.append(
            f"{name}: ExistingRDD scan (lineage truncation) not in "
            "LINEAGE_TRUNCATED — a new checkpoint/local-frame site "
            "hides its spine from the fan-out gate; review whether "
            "it needs a _FANOUT_PINS entry, then allowlist it"
        )
    # Any Python-eval node flavor must be enumerated (round 13 rule).
    found_kinds = frozenset(re.findall(PY_NODE_PAT, plan))
    allowed_kinds = PY_NODE_ALLOWED.get(name, frozenset())
    if found_kinds - allowed_kinds:
        bad.append(
            f"{name}: Python-eval node(s) "
            f"{sorted(found_kinds - allowed_kinds)} not in "
            "PY_NODE_ALLOWED — every Python touchpoint must be an "
            "enumerated, justified site; move the logic to built-in "
            "expressions or add a reviewed allowlist entry"
        )
    elif check_stale and allowed_kinds - found_kinds:
        bad.append(
            f"{name}: allowed Python node(s) "
            f"{sorted(allowed_kinds - found_kinds)} absent at the "
            "measured sf — update the PY_NODE_ALLOWED entry"
        )
    # BNLJ sites pinned per name (round 13 rule).
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    bnlj_cap = BNLJ_ALLOWED.get(name, 0)
    if n_bnlj > bnlj_cap:
        bad.append(
            f"{name}: {n_bnlj} BroadcastNestedLoopJoin hits exceed "
            f"the allowed {bnlj_cap} — a nested-loop join beyond the "
            "sanctioned scalar-broadcast sites is the quadratic "
            "killer; use an equi-join/broadcast hash or justify a "
            "BNLJ_ALLOWED entry"
        )
    elif check_stale and n_bnlj < bnlj_cap:
        bad.append(
            f"{name}: {n_bnlj} BroadcastNestedLoopJoin hits below the "
            f"pinned {bnlj_cap} at the measured sf — update the "
            "BNLJ_ALLOWED entry so the gate stays exact"
        )
    # Per-(name, table) scan fan-out (round 12 rule, r13 keying). The
    # staleness arm keeps listed allowances exact at the measured sf:
    # a cap that drifted loose (plan now scans fewer) would otherwise
    # mask a later regression back up to the stale cap.
    allowances = SCAN_ALLOWANCE.get(name, {})
    for t in TESTDATA_TABLES:
        cap = allowances.get(t, DEFAULT_SCAN_ALLOWANCE)
        n_scans = plan.count(f"{t}.parquet")
        if n_scans > cap:
            bad.append(
                f"{name}: {n_scans} scans of {t}.parquet exceed the "
                f"fan-out allowance ({cap}) — likely a lazy-plan "
                "recompute fan-out; materialize the shared spine or "
                "justify an allowance entry"
            )
        elif check_stale and t in allowances and n_scans < cap:
            bad.append(
                f"{name}: {n_scans} scans of {t}.parquet below the "
                f"allowance ({cap}) at the measured sf — tighten or "
                "remove the SCAN_ALLOWANCE entry so it stays exact"
            )
    if "CartesianProduct" in plan:
        # no whitelist: the full round-11 sweep found ZERO true
        # cartesians (the 47 BroadcastNestedLoopJoin hits are all
        # the sanctioned 1-row-scalar-broadcast pattern, which is a
        # different node). A CartesianProduct appearing anywhere is
        # always a regression at the 100 TB posture.
        bad.append(f"{name}: CartesianProduct in physical plan")
    for pat in EXPECT.get(name, []):
        if not re.search(pat, plan):
            bad.append(f"{name}: expected {pat!r} not in plan")
    for pat in FORBID.get(name, []):
        if re.search(pat, plan):
            bad.append(f"{name}: forbidden {pat!r} present in plan")
    return bad


def audit_lineage_staleness(truncated_seen: set[str]) -> list[str]:
    """Cross-plan half of the lineage rule (testable like audit_plan —
    an inverted set difference here would pass CI forever otherwise):
    every LINEAGE_TRUNCATED entry must have shown an ExistingRDD scan
    at the measured sf, else the allowlist is stale and permanently
    exempts that plan from the scan fan-out gate."""
    return [
        f"{name}: in LINEAGE_TRUNCATED but its plan no longer "
        "contains ExistingRDD at the measured sf — remove the "
        "entry so the scan gate re-covers it"
        for name in sorted(LINEAGE_TRUNCATED - truncated_seen)
    ]


def main() -> None:
    import re

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from taxi_trips_etl_spark.queries import all_queries
    from taxi_trips_etl_spark.session import get_spark

    spark = get_spark(app_name="explain_audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    bad = []
    # Staleness is only decidable at the sf the allowlist was measured
    # at (conditional auto-persist thresholds may differ elsewhere).
    check_stale = sf_dir.rstrip("/").endswith("sf0.001")
    truncated_seen = set()
    # Full-registry sweep (round 11): every name gets the global
    # Python-eval rule; EXPECT/FORBID patterns apply where present.
    for name in sorted(set(qs) | {"flagship_most_populars"}):
        if name == "flagship_most_populars":
            # streaming/pipeline queries execute eagerly; build the lazy DF
            from taxi_trips_etl_spark.plans.pipeline import run_taxi_pipeline

            df = run_taxi_pipeline(spark, sf_dir)
        else:
            df = qs[name](spark, sf_dir)
        plan = plan_of(df)
        if "ExistingRDD" in plan:
            truncated_seen.add(name)
        bad.extend(audit_plan(name, plan, check_stale=check_stale))
        n_codegen = len(set(re.findall(r"codegen id : (\d+)", plan)))
        print(f"{name}: codegen_spans={n_codegen} "
              f"bcast={plan.count('BroadcastHashJoin')} "
              f"shuffles={plan.count('Exchange')}")
    if check_stale:
        bad.extend(audit_lineage_staleness(truncated_seen))
    if bad:
        print("\nAUDIT FAILURES:")
        for b in bad:
            print(" -", b)
        sys.exit(1)
    print("\nAUDIT OK")


if __name__ == "__main__":
    main()
