"""Dump `.explain("formatted")` for the headline queries into
PLAN_SNAPSHOTS.md — committed evidence for the plan-shape claims in
PLANS.md (broadcasts, pushed filters, partial aggregation, no
cartesian products), regenerable any time.

Usage: python tools/dump_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the default set: the flagship, one per family, and the expensive five
HEADLINE = (
    "q01_folder_results_latest",
    "q16_pricing_summary",
    "q28_minhash_lsh_candidates",
    "q36_nessus_folder_results",
    "q55_dedup_clusters",
    "q65_lsh_verified_pairs",
    "q79_ivf_codebook_topk",
    "q92_training_shuffle",
    "q96_dedup_resolve_lsh",
    "q97_intradoc_dedup",
    "q98_bloom_membership",
    "q101_count_min_heavy_hitters",
    "q102_binned_quantiles",
    "q103_simhash_hamming_pairs",
    "q104_hll_merge",
    "q105_ppm_codec_roundtrip",
    "q110_token_budget_select",
    "q111_crossdoc_dedup",
    "q112_corpus_pipeline",
    # round-6 second-wave flagships: one per new family
    "q132_bm25_topk",
    "q134_sorted_neighborhood",
    "q135_triangle_count",
    "q138_hll_overlap",
    "q140_pq_adc_topk",
    "q146_rolling_hll_users",
    "q147_ivfpq_topk",
    "q151_zone_map_pruning",
    # round-6 later-wave flagships
    "q153_sampled_quantiles",
    "q155_chi2_terms",
    "q156_rendezvous_sharding",
    "q158_late_data_audit",
    "q159_poisson_bootstrap",
    "q161_prefix_filter_pairs",
    "q162_grouping_sets",
    "q164_gini_concentration",
    "q166_merkle_diff",
    # round-6 final-wave flagships: one per new family
    "q167_leakage_safe_split",
    "q168_bigram_lm_score",
    "q170_concurrent_sessions",
    "q171_delta_join_view",
    "q172_expectation_audit",
    "q175_blocking_quality",
    # round-6 tenth–twelfth-wave flagships
    "q177_margin_bitext_mine",
    "q180_fellegi_sunter",
    "q183_activity_bitmap",
    "q185_ks_drift",
    "q186_join_skew_histogram",
    "q188_memorization_runs",
    # round-6 thirteenth–fifteenth-wave flagships
    "q189_exact_auc",
    "q191_dbscan_embeddings",
    "q193_jl_distortion",
    "q194_audio_silence_segments",
    "q199_auc_bootstrap",
    "q200_corpus_datasheet",
    # round-7 flagships
    "q202_longest_dup_substring",
    "q203_bitext_mine_bucketed",
    "q204_zipf_slope",
    "q205_ngram_contamination",
    "q207_mad_outliers",
    "q208_source_overlap_matrix",
    "q209_winnowing_fingerprints",
    "q210_int8_quant_audit",
    "q211_linear_quality_score",
    "q212_label_propagation",
    "q213_shot_boundaries",
    # round-8 flagships
    "q214_domain_budget",
    "q215_bpe_byte_fallback",
    "q216_bigram_surprisal",
    "q217_tokenizer_fertility",
    "q218_matryoshka_recall",
    # round-8-wave flagships, snapshotted post round-9 window sweep:
    # the two-phase routings and the medoid cap are plan-shape claims
    "q224_triangle_count",
    "q251_mann_whitney_u",
    "q259_abc_classification",
    "q266_rfm_segmentation",
    "q274_fifo_allocation",
    "q279_isotonic_calibration",
    "q290_kcore_peeling",
    "q291_qini_uplift",
    "q299_cluster_medoid",
    "q303_percentile_of_percentiles",
    "q307_bfs_layers",
    "q316_mmr_diversify",
    "q326_wilson_ranking",
    "q327_weighted_median",
    "q330_abc_migration",
    # round-10 flagship (q333 is a live streaming run — its declared
    # plan is the sink-side dominance read, not a batch shape; the
    # stateful operator's contract is unit-tested instead)
    "q332_crossencoder_rerank",
    # round-11 flagships: one per new family (q334/q340/q342 are
    # single-rollup shapes; q343 shares q337's per-cell matmul stage)
    "q335_best_of_n_audit",
    "q336_rag_chunk_dedup",
    "q337_mutual_knn",
    "q338_misra_gries_topk",
    "q339_ivf_reassign_delta",
)


def main() -> None:
    from nessus_client_etl_scripts_spark.runner import explain_query
    from nessus_client_etl_scripts_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = tuple(sys.argv[2:]) or HEADLINE

    import __spark_entry__ as entrymod

    spark = get_spark("plan-dump", master="local[4]")
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_SNAPSHOTS.md",
    )
    qs = entrymod.queries()
    with open(out_path, "w") as f:
        f.write(
            "# PLAN_SNAPSHOTS — `.explain(\"formatted\")` of the headline "
            "queries\n\nGenerated by `python tools/dump_plans.py` at "
            f"`{sf_dir}` (initial plans, pre-AQE — the shapes PLANS.md "
            "reasons about). Regenerate after any plan-affecting change.\n"
        )
        for name in names:
            plan = explain_query(spark, qs[name], sf_dir)
            f.write(f"\n## {name}\n\n```\n{plan}```\n")
            print("dumped", name, flush=True)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
