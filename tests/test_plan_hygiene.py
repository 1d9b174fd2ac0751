"""Engine-wide physical-plan hygiene.

Every registry query's executed plan is scanned for the shapes that kill
jobs at scale:

- ``BatchEvalPython`` — a row-at-a-time Python UDF (the §2.8 zero-UDF
  constraint; Arrow-batched ``MapInPandas``/``FlatMapGroupsInPandas``
  remain allowed for the multimodal stubs).
- ``CartesianProduct`` — an unbroadcast cross join; at any real scale
  this is a non-terminating job.
- ``BroadcastNestedLoopJoin`` — allowed by plan structure when its
  broadcast side is a ``BroadcastExchange`` over a one-row global
  aggregate (``HashAggregate(keys=[]…)``, reached only through
  Project/Filter): attaching a scalar to every row is linear.  Any
  other BNLJ — where a broadcast cross join *is* the algorithm
  (query-vector × corpus scans, pair enumeration over a bounded
  domain) — must be listed in ``BNLJ_ALLOWED`` with a reason, so a new
  accidental one fails loudly.
- ``Exchange SinglePartition`` — allowed by plan structure when its
  consumer is the final ``HashAggregate(keys=[]…)`` of a global
  aggregate (partial buffers of fixed width, one row out); every other
  single-partition funnel must be listed in ``SP_ALLOWED``.
"""

from __future__ import annotations

import pytest

from data_ingestion_worker_spark.registry import all_specs

#: Queries whose plan has a BNLJ that is not a scalar attachment
#: (:func:`_bnlj_is_scalar_attach`): a deliberate broadcast cross join
#: over a bounded side — query vectors, a keyed aggregate over a fixed
#: domain, a literal ladder — or a one-row scalar that a lineage cut
#: hides from the plan (its broadcast side is a checkpoint scan).
BNLJ_ALLOWED = {
    "ann_cosine_topk",     # K query vectors broadcast against the corpus
    "emb_hamming_topk",    # N_QUERIES binary codes broadcast × corpus
    "ann_hamming_recall",  # hamming top-k × brute-force truth comparison
    "emb_knn_label_vote",  # KNN_N_QUERIES query rows broadcast × corpus
    "emb_outlier_knn",     # OUT_SAMPLE query rows broadcast × corpus
                           # + one-row p95 scalar cross
    "ann_ivf_recall",      # IVF results × brute-force results comparison
    "stats_chi2_independence",  # tiny-margin cross to generate the domain
    "stats_welch_ttest",   # |types|-row stats table × itself (pair enum)
    "stats_tost_equivalence",  # same |types|-row pair enumeration
    "stats_two_proportion_z",  # same |types|-row pair enumeration
    "stats_bh_fdr",        # inherits the pair enumeration cross
    "stats_holm_bonferroni",  # same pair enumeration + one-row scalars
    "corpus_quality_calibration",  # decile-cut row scalar cross
    "hybrid_search_rerank",  # one-row query-vector broadcast cross join
    "hybrid_search_rrf",   # inherits the rerank stage's query-vector cross
    "emb_matryoshka_recall",  # K query vectors broadcast (twice per dim)
    "sketch_kmv_jaccard",  # |sources|-row sketch table × itself (pair enum)
    "profile_column_kmv_overlap",  # |candidate-columns|-row sketch
                                   # table × itself (pair enum)
    "ev_hurst_exponent",   # calendar-spine crosses of _dense_daily (the
                           # one-row span scalar + bounded type list)
    "ann_pq_recall",       # K query vectors broadcast (exact L2 truth side)
    "ev_sliding_uniques_hll",  # 3-row window-offset broadcast fan-out
    "ev_fft_periodogram",  # 9-row candidate-period broadcast fan-out
    "ev_ewma_daily",       # |days|-row spine × |types|-row domain cross
    "stats_psi_drift",     # one-row span + decile-cut scalars crossed
    "ev_forecast_backtest",  # same dense-spine |days| × |types| cross
    "ev_lead_lag_corr",    # bounded spine × 7-row lag-domain cross
    "pipeline_curation_v2",  # LM vocab scalar + one-row p90-cut cross
    "pipeline_curation_v3",  # inherits v2's scalar crosses (LM vocab,
                             # p90 cut) + the CC chain's checkpoints
    "stats_cramers_v",     # inherits chi2's margins + one 2-scalar cross
    "rank_ndcg_eval",      # inherits rrf's query-vector/scalar crosses
    "rank_mrr_eval",       # same rrf scaffold (query-vector/scalar crosses)
    "rank_map_eval",       # same rrf scaffold
    "rank_rbo_eval",       # same rrf scaffold
    "rank_kendall_tau",    # rrf's scalars + pool × pool pair enum over
                           # the constant <= BM25_TOPK candidate set
                           # (<= 190 unordered pairs; cohens_d precedent)
    "rank_pr_at_k",        # rrf's query-vector/scalar crosses (same
                           # scaffold as the other rank evals)
    "ev_friedman_test",    # |types|-row table × one-row (n,k,ΣS²) scalar
    "graph_rich_club",     # 8-literal threshold ladder × deg/edge tables
                           # (range predicate deg>k — bounded fan-out 8)
    "ev_interrupted_ts",   # _dense_daily's spine scalars + the one-row
                           # (d0, d1) day-span cross
    "ev_dickey_fuller",    # _dense_daily's span-scalar + type-domain cross
    "stats_cohens_d",      # |types|-row stats table × itself (pair enum)
}


def test_embedding_cosine_verification_join_not_forced_broadcast(
    spark, sf_dir
):
    """The verification join must not *hint* a broadcast of embeddings.

    With the auto-broadcast threshold off, a hint-free plan degrades to
    a shuffle join; a leftover ``F.broadcast`` hint would still force a
    BroadcastExchange — the driver-memory killer at real corpus size.
    """
    spec = all_specs()["dedup_embedding_cosine"]
    # Build FIRST: operator construction (load_table) re-applies
    # ENGINE_CONF, which would clobber the -1 threshold below.  Physical
    # planning reads SQLConf lazily at executedPlan(), so setting the
    # threshold after construction still governs join selection.
    df = spec.fn(spark, sf_dir)
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, (
            "embeddings relation is hint-forced into a broadcast"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_kmv_plan_has_no_rank_window(spark, sf_dir):
    """KMV must stay a two-phase bounded aggregate: a per-source rank
    window would sort every shingle hash of a source in one task."""
    spec = all_specs()["sketch_kmv_distinct"]
    plan = spec.fn(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan, "per-source rank window reintroduced"


#: Queries whose plan may contain an ``Exchange SinglePartition`` that
#: does not feed a global aggregate's final step (those pass by
#: structure, :func:`_sp_feeds_global_agg`).  Every entry must still be
#: constant data volume — e.g. a window over an already *bounded*
#: group-aggregate (see WINDOW_OVER_SP_ALLOWED).  A corpus-wide
#: funnel — e.g. ``Window.partitionBy()`` over a table that grows with SF
#: — must NOT be added here; fix the plan instead (the q15 history).
SP_ALLOWED = {
    "hybrid_search_rrf",        # rank windows over <= BM25_TOPK candidates
    "stats_ks_test",            # CDF window over the fixed bucket count
    "stats_spearman_corr",      # bucket-offset windows (rank tables)
    "corpus_dedup_threshold_curve",  # cum window over <=9 bucket rows
    "stats_sprt_sequential",    # cum window over <=|window| daily rows
    "stats_bh_fdr",             # rank/step-up windows over the
                                # C(|types|,2)-row pair family
    "skyline_pareto",           # running-max window over the bucket agg
    "corpus_mix_weights",       # mix-weight window over the k-source agg
    "pipeline_filter_stats",    # survival window over the per-reason agg
    "stats_holm_bonferroni",  # same C(|types|,2)-row pair-family windows
    "stats_benford",            # total window over the <=9-digit agg
    "corpus_growth_curve",      # cum window over the <=10 decile rows
    "emb_coreset_maxmin",       # per-round one-row argmax scalar (a
                                # SortAggregate, not a HashAggregate)
    "emb_mmr_rerank",           # per-round one-row argmax SortAggregate
                                # + constant-size (<=24-row) pool
    "ev_survival_curve",        # cum windows over the <=31-day
                                # lifetime agg
    "abc_revenue_classes",      # offset windows over the
                                # ABC_PARTITIONS-row (constant) pid agg
    "ev_peak_concurrency",      # offset window over the CONC_PARTITIONS-
                                # row (constant) pid agg
    "stats_psi_drift",          # window over the bounded decile agg
    "emb_outlier_knn",          # one-row p95 ObjectHashAggregate over
                                # the fixed OUT_SAMPLE-row probe
    "profile_drift_daily",      # day-over-day lag over the calendar-
                                # bounded daily aggregate
    "rank_ndcg_eval",           # rrf's rank windows (<= BM25_TOPK pool)
    "rank_mrr_eval",            # same rrf rank windows
    "rank_map_eval",            # same rrf rank windows
    "rank_rbo_eval",            # same rrf rank windows
    "rank_kendall_tau",         # same rrf rank windows
    "rank_pr_at_k",             # same rrf rank windows
    "ev_logrank_test",          # at-risk cumulative windows over the
                                # <=31-day lifetime table
}

#: Subset whose SinglePartition exchange feeds a *Window* operator.  Only
#: legitimate when the window's input is a group-aggregate whose
#: cardinality is bounded by a domain (buckets, sources, filter reasons)
#: — NOT by table size.
WINDOW_OVER_SP_ALLOWED = {
    "skyline_pareto",       # |buckets| rows (fixed bucket count)
    "corpus_mix_weights",   # |sources| rows
    "pipeline_filter_stats",  # |filter reasons| rows
    "stats_ks_test",        # |CDF buckets| rows (fixed bucket count)
    "stats_mannwhitney_u",  # |CDF buckets| rows (fixed bucket count)
    "stats_wilcoxon_signed_rank",  # |CDF buckets| rows again
    "stats_auc_quality_lang",  # |CDF buckets| rows (fixed bucket count)
    "corpus_dedup_threshold_curve",  # <=9 threshold-bucket rows
    "stats_spearman_corr",  # |CDF buckets| rows (fixed bucket count)
    "hybrid_search_rrf",    # <= BM25_TOPK candidate rows (constant k)
    "stats_benford",        # <=9 first-digit rows (fixed digit domain)
    "corpus_growth_curve",  # <=10 decile rows (fixed bucket count)
    "ev_survival_curve",    # <=31 lifetime-day rows (observation window)
    "ev_logrank_test",      # same <=31-row lifetime-day table (at-risk
                            # cumulative windows, survival-curve twin)
    "abc_revenue_classes",  # ABC_PARTITIONS-row offset agg (constant)
    "ev_peak_concurrency",  # CONC_PARTITIONS-row offset agg (constant)
    "profile_drift_daily",  # <=|observation-window| daily rows
    "stats_sprt_sequential",  # <=|observation-window| daily rows
    # Distributed exact-quantile helper (functions/quantiles.py): the
    # offset window runs over the constant n_parts-row per-partition
    # count aggregate, never over data (ungrouped call sites only —
    # grouped calls partition the window by the group key).
    "ev_conversion_time",   # n_parts-row offset agg (constant)
    "stats_psi_drift",      # n_parts-row offset agg (constant)
    "pipeline_curation_v2",  # n_parts-row offset agg (constant)
    "pipeline_curation_v3",  # same helper through the v2 stages
    "corpus_quality_calibration",  # n_parts-row offset agg (constant)
    "stats_bh_fdr",         # C(|types|,2)-row test family
    "stats_holm_bonferroni",  # same C(|types|,2)-row test family
    "rank_ndcg_eval",       # <= BM25_TOPK candidate rows (constant k)
    "rank_mrr_eval",        # same <= BM25_TOPK pool (rrf-rank window)
    "rank_map_eval",        # same pool (3 cumulative-hit windows)
    "rank_rbo_eval",        # same pool (rrf-rank window)
    "rank_kendall_tau",     # same <= BM25_TOPK pool (rrf-rank window)
    "rank_pr_at_k",         # same <= BM25_TOPK pool (rrf-rank window)
}


#: Queries whose plan may contain Spark's exact ``percentile`` aggregate
#: (its buffer holds per-distinct-value counts in ONE task).  Legitimate
#: only when the aggregated relation is bounded by a *domain* — calendar
#: days, a fixed sample — never by corpus size.  Corpus-scale order
#: statistics must go through
#: ``functions.quantiles.distributed_exact_quantiles`` (bit-identical
#: readout, bounded state everywhere).
EXACT_PERCENTILE_ALLOWED = {
    "ev_rolling_median_7d",  # ≤7 contributions per (day, type) group
    "ev_anomaly_mad",        # medians over the calendar×type daily agg
    "ev_trend_theil_sen",    # medians over C(|days|, 2) spine pairs
    "emb_outlier_knn",       # p95 over the fixed OUT_SAMPLE-row probe
}

_EXACT_PERCENTILE_RE = None


def _has_exact_percentile(plan: str) -> bool:
    global _EXACT_PERCENTILE_RE
    if _EXACT_PERCENTILE_RE is None:
        import re
        # 'percentile(' in aggregate expressions, excluding the sketch
        # forms (approx_percentile / percentile_approx).
        _EXACT_PERCENTILE_RE = re.compile(r"(?<!approx_)percentile\(")
    return bool(_EXACT_PERCENTILE_RE.search(plan))


def _tree_indent(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def _plan_tree(plan: str) -> tuple[list[str], list[list[int]]]:
    """Operator lines of a physical-plan tree string and, per line, the
    indices of its children (subquery inner children dropped, so a
    join's children stay ``[left, right]``)."""
    nodes: list[str] = []
    kids: list[list[int]] = []
    stack: list[tuple[int, int]] = []  # (indent, node index)
    for ln in plan.splitlines():
        if not ln.strip():
            continue
        ind = _tree_indent(ln)
        while stack and stack[-1][0] >= ind:
            stack.pop()
        node = ln[ind:]
        nodes.append(node)
        kids.append([])
        if stack and not node.startswith(("Subquery", "ReusedSubquery")):
            kids[stack[-1][1]].append(len(nodes) - 1)
        stack.append((ind, len(nodes) - 1))
    return nodes, kids


def _is_global_agg_final(node: str) -> bool:
    """The final step of an ungrouped ``HashAggregate``: one row out."""
    return (node.startswith("HashAggregate(keys=[],")
            and "partial_" not in node)


def _bnlj_is_scalar_attach(plan: str) -> bool:
    """True iff every BroadcastNestedLoopJoin broadcasts a one-row global
    aggregate: its build side is a ``BroadcastExchange`` whose subtree,
    through Project/Filter only, is a final ``HashAggregate(keys=[]…)``."""
    nodes, kids = _plan_tree(plan)
    for i, node in enumerate(nodes):
        if not node.startswith("BroadcastNestedLoopJoin"):
            continue
        side = 0 if "BuildLeft" in node else 1
        if len(kids[i]) != 2 or not nodes[kids[i][side]].startswith(
                "BroadcastExchange"):
            return False
        cur = kids[i][side]
        while True:
            if len(kids[cur]) != 1:
                return False
            cur = kids[cur][0]
            if not nodes[cur].startswith(("Project", "Filter")):
                break
        if not _is_global_agg_final(nodes[cur]):
            return False
    return True


def _sp_feeds_global_agg(plan: str) -> bool:
    """True iff every ``Exchange SinglePartition`` is consumed by the
    final step of an ungrouped ``HashAggregate`` — the fixed-width
    partial buffers of a one-row scalar, constant data volume."""
    nodes, kids = _plan_tree(plan)
    under_agg = {k for i, node in enumerate(nodes)
                 if _is_global_agg_final(node) for k in kids[i]}
    return all(i in under_agg for i, node in enumerate(nodes)
               if "Exchange SinglePartition" in node)


def _sp_feeds_window(plan: str) -> bool:
    """True iff some ``Exchange SinglePartition`` has a Window ancestor
    before any aggregate/join boundary — the shape of an empty-frame
    window funneling a whole relation through one task."""
    lines = plan.splitlines()
    for idx, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        cur = _tree_indent(ln)
        for j in range(idx - 1, -1, -1):
            ii = _tree_indent(lines[j])
            if ii >= cur:
                continue
            node = lines[j].strip().lstrip("+-: ")
            if node.startswith("Window"):
                return True
            if node.startswith(("HashAggregate", "SortAggregate",
                                "ObjectHashAggregate", "BroadcastExchange",
                                "TakeOrderedAndProject")) or "Join" in node:
                break  # consumed by an aggregate/join — not a window funnel
            cur = ii  # Sort/Filter/Project pass-throughs: keep walking
    return False


@pytest.mark.parametrize("name", sorted(all_specs()))
def test_plan_has_no_scale_killers(spark, sf_dir, name):
    spec = all_specs()[name]
    plan = spec.fn(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF"
    assert "CartesianProduct" not in plan, f"{name}: unbroadcast cross join"
    if name not in BNLJ_ALLOWED:
        assert _bnlj_is_scalar_attach(plan), (
            f"{name}: broadcast nested-loop join whose broadcast side is "
            "not a one-row global aggregate"
        )
    if name not in SP_ALLOWED:
        assert _sp_feeds_global_agg(plan), (
            f"{name}: plan funnels data through a single partition "
            "outside a global aggregate's final step"
        )
    if name not in WINDOW_OVER_SP_ALLOWED:
        assert not _sp_feeds_window(plan), (
            f"{name}: a Window runs over an Exchange SinglePartition — "
            "an empty-frame window funneling the relation through one "
            "task; use a scalar agg + broadcast cross join instead"
        )
    if name not in EXACT_PERCENTILE_ALLOWED:
        assert not _has_exact_percentile(plan), (
            f"{name}: exact percentile aggregate over a corpus-scale "
            "relation buffers per-distinct-value counts in one task; "
            "use functions.quantiles.distributed_exact_quantiles, or "
            "add the op to EXACT_PERCENTILE_ALLOWED with a bounded-"
            "domain justification"
        )


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_structural_rules_reject_unbounded_shapes(spark):
    """Neither structural rule may pass a data-sized broadcast cross
    join or an empty-frame window funnel."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    big = spark.range(0, 1000, 1, 4).withColumnRenamed("id", "a")
    cross = _executed(big.crossJoin(F.broadcast(spark.range(10))))
    assert "BroadcastNestedLoopJoin" in cross
    assert not _bnlj_is_scalar_attach(cross)
    funnel = _executed(big.withColumn(
        "r", F.row_number().over(Window.partitionBy().orderBy("a"))))
    assert "Exchange SinglePartition" in funnel
    assert not _sp_feeds_global_agg(funnel)


def test_structural_rules_accept_scalar_attachment(spark):
    """A broadcast global aggregate crossed onto every row passes both
    rules: the BNLJ broadcasts one row, the single-partition exchange
    carries fixed-width partial buffers into the final aggregate."""
    from pyspark.sql import functions as F

    big = spark.range(0, 1000, 1, 4).withColumnRenamed("id", "a")
    total = big.agg(F.count(F.lit(1)).alias("n"), F.sum("a").alias("s"))
    plan = _executed(big.crossJoin(F.broadcast(total)))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange SinglePartition" in plan
    assert _bnlj_is_scalar_attach(plan)
    assert _sp_feeds_global_agg(plan)
