"""Exchange-count budgets for the heavy queries.

PERF.md §8's lesson, turned into a tripwire: Catalyst never forms a
ReusedExchange across differently-aliased references to one frame, so a
dropped ``localCheckpoint`` on a multi-consumer intermediate silently
re-executes its whole subtree per consumer.  That failure mode is
invisible to oracle parity (results stay correct) and easy to miss in a
noisy benchmark — but it always shows up as extra shuffles.  This test
pins an upper bound on the shuffle count of every expensive query
(current count + slack); a regression like the 45-exchange
``dedup_semantic`` (vs 4 after checkpointing, caught by the round-5
scale audit) now fails CI instead of waiting for the next manual audit.

Budgets are spacious on purpose: they should only move when the
operator's algorithm deliberately changes shape.
"""

from __future__ import annotations

import pytest

from data_ingestion_worker_spark.registry import all_specs

#: query -> max allowed exchanges (hash + range + single-partition).
BUDGETS = {
    "contacts_validation": 4,
    "dedup_minhash_lsh": 5,
    "dedup_jaccard_prefix_filter": 10,
    "dedup_cluster_representative": 8,
    "dedup_semantic": 6,                # was 45 before the §8 fix
    "pipeline_curation_e2e": 9,
    "graph_pagerank": 16,
    "graph_triangle_count": 8,
    "graph_common_neighbors_topk": 8,
    "ann_ivf_topk": 9,
    "ann_ivf_recall": 26,   # measured 26 (both nprobe runs, one index)
    "ann_pq_adc_topk": 18,
    "ann_pq_recall": 24,
    "emb_pq_codes": 9,
    "sketch_kmv_distinct": 5,
    "sketch_kmv_jaccard": 5,
    "profile_columns": 4,
    # round-5 (cont. 7) additions — current count + slack
    "doc_lm_xent_proxy": 8,
    "dedup_bloom_prefilter": 8,
    "corpus_quality_xent_corr": 9,
    "rec_item_cooccur_topk": 5,
    "graph_link_prediction_ra": 5,
    "stats_bootstrap_means": 3,
    "mm_image_ahash_dedup": 3,
    # round-6 additions — current count + slack.  The distributed-
    # quantile ops carry several CONSTANT-SIZE exchanges (offset-table
    # windows, broadcast targets, pivot scalars); the budget pins the
    # count so a dropped checkpoint (which re-executes the ranged scan
    # per consumer) still fails loudly.
    "pipeline_curation_v2": 17,        # measured 14
    "stats_psi_drift": 20,             # measured 17
    "ev_rfm_segmentation": 12,         # measured 9
    "ev_conversion_time": 12,          # measured 9
    "agg_percentiles": 9,              # measured 7
    "sketch_hist_quantiles": 13,       # measured 10
    "graph_triangle_doulion": 9,       # measured 7
    "graph_local_clustering": 8,       # measured 6
    "doc_quality_classifier": 6,       # measured 4
    "corpus_dsir_resample": 6,         # measured 4
    "stats_wilcoxon_signed_rank": 4,   # measured 2
    "sample_priority_ppswor": 2,       # measured 0
    "corpus_quality_calibration": 11,  # measured 8 (quantile helper)
    "ev_winsorized_mean": 11,          # measured 8 (grouped cuts)
    "split_by_cluster": 4,             # measured 2 (CC checkpoints)
    "corpus_stats_incremental_merge": 4,   # measured 2
    "dedup_rate_estimate": 5,          # measured 3
    "layout_zonemap_prune": 4,         # measured 2
    "mm_roundtrip_jpeg": 1,            # measured 0 (pure mapInPandas)
    "mm_roundtrip_mp4": 1,             # measured 0 (pure mapInPandas)
    "doc_collapse_token_runs": 1,      # measured 0 (pure array algebra)
    # round-6 (cont. 3) additions — current count + slack
    "stats_anova_f": 4,                # measured 2 (group agg + 1-row red.)
    "stats_corr_matrix": 3,            # measured 1 (ONE all-pairs agg)
    "dq_l_diversity": 6,               # measured 4 (pairs-distinct + join)
    "doc_char_entropy": 4,             # measured 2 ((doc,ch) + doc aggs)
    "emb_rp_distance_preserve": 5,     # measured 3 (dims + proj + pair join)
    "feat_target_encode_oof": 4,       # measured 2 (cells agg + cat window)
    # round-10 additions — current count + slack
    "corpus_unigram_train": 2,         # measured 0 (driver-mode EM)
    "corpus_unigram_encode": 4,        # measured 2 (per-doc agg + join)
    "corpus_oov_rate": 4,              # measured 2 (vocab cut + holdout agg)
    "layout_clustering_depth": 5,      # measured 3 (manifest self-join)
    "stats_g_test": 10,                # measured 6 + r10 spread_scan slack
    "rank_kendall_tau": 19,            # measured 14 + r10 spread_scan slack
    "rank_pr_at_k": 17,                # same rrf scaffold
    "ev_cmh_test": 4,                  # measured 2 (strata agg + 1-row)
    "ev_odds_ratio_mh": 4,             # measured 2 (strata agg + 1-row)
    "ev_poisson_dispersion": 6,        # measured 4 (daily agg + scalar)
    "graph_reciprocity": 7,            # measured 5 (window + matrix join)
    "token_window_pmi": 12,            # measured 11 after r10 spread_scan (3 toks refs)
    "corpus_heldout_xent": 7,          # measured 5 (model aggs + scoring)
    "ev_page_hinkley": 4,              # measured 2 (daily agg + windows)
}


def _n_exchanges(plan: str) -> int:
    return (plan.count("Exchange hashpartitioning")
            + plan.count("Exchange rangepartitioning")
            + plan.count("Exchange SinglePartition"))


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_budget(spark, sf_dir, name):
    plan = all_specs()[name].fn(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    n = _n_exchanges(plan)
    assert n <= BUDGETS[name], (
        f"{name}: {n} exchanges > budget {BUDGETS[name]} — a "
        "multi-consumer frame probably lost its localCheckpoint "
        "(see PERF.md §8)"
    )
