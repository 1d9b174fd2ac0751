"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints a COMPACT
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}`` line as the LAST stdout line.

Emission contract: the driver captures only the last ~2,000 bytes of
output, so the stdout line is kept under 1,500 bytes (asserted) — it
carries the full-suite total, the legacy-19 subtotal (the
baseline-of-record subset, per-query), and the top-5 heaviest
queries.  The FULL per-query timings + [min,max] spreads for all
headline queries are written to ``BENCH_DETAIL.json`` (committed).

Contention awareness: a fixed single-core calibration probe runs
before and after the suite and ``host_noise_index`` =
max(probe)/PROBE_REF_SEC is emitted into BOTH the compact line and
BENCH_DETAIL (~1.0 quiet, >1.3 contended), alongside os.getloadavg().
If the marker query ``q1_pricing_summary`` lands above
``Q1_BAND_MAX_SEC`` OR the legacy-19 total exceeds
``LEGACY19_TRIGGER_SEC``, the legacy-19 subset is re-measured once and
the better pass kept, with both totals, the trigger reason, and a
mixed-window flag recorded (``legacy19_first`` / ``legacy19_rerun`` /
``rerun_reason`` / ``mixed_window``).

Each query is forced through the noop sink (full execution, no
driver-side collect overhead).  The mix covers every engine subsystem:
scan-agg (q1/q6), multiway joins (q3/q5/q10), the flagship validation
pipeline, window/sessionization, dedup (minhash/incremental/ssjoin),
similarity (cosine/PQ-ADC), text scoring, sketches, graph, multimodal
codecs, and the composed curation funnels.  A streaming end-to-end
lifecycle bench runs after the batch suite and lands in
BENCH_DETAIL.json: phase 1 drains N job messages (fixed N/rows/trigger,
so jobs/min stays comparable between runs) into NEEDS_REVIEW; phase 2
discards the failing rows and drains fresh messages through
reprocess -> auto-resolve -> consolidate.  Both phases report EXCLUSIVE
per-stage seconds (ingest/validate/route/consolidate, from
JobProcessor.stage_seconds) so a jobs/min move is attributable.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_ingestion_worker_spark.registry import all_specs  # noqa: E402
from data_ingestion_worker_spark.session import get_spark  # noqa: E402
from data_ingestion_worker_spark.tables import TABLE_NAMES, load_table  # noqa: E402

#: The first 19 entries are the baseline-of-record subset (BASELINE.md:
#: 14.053 s at sf0.1); keep them first and per-query in the compact
#: stdout line so the driver's record stays comparable.
LEGACY_19 = 19

#: Quiet-host seconds for :func:`_calibration_probe` on the bench host
#: (CPython 3.x, pinned 20M-iteration integer loop; quiet runs read
#: 0.606-0.632 s).  ``host_noise_index`` = measured/reference: ~1.0 on
#: a quiet host, >1.3 flags external contention, so the committed
#: artifact carries its own weather report.
PROBE_REF_SEC = 0.61

#: Upper edge of the quiet band of the marker query
#: ``q1_pricing_summary``.  A marker above it triggers ONE legacy-19
#: re-measure pass and the better pass is kept (both totals recorded).
Q1_BAND_MAX_SEC = 1.1

#: Backstop trigger on the legacy-19 TOTAL itself: one 3-run-min marker
#: is a single noisy witness for a 19-query total, so the total is its
#: own second witness, set at 1.25 x the best committed quiet legacy-19
#: (12.111 s).  Either breach re-measures the legacy-19 once and keeps
#: the better pass.
LEGACY19_TRIGGER_SEC = 15.14


def _rerun_reason(q1_sec: float, legacy19_first_sec: float) -> str | None:
    """Decide whether the contended-window re-measure fires, and why.

    Pure decision function (forced-branch smoke-testable without a
    SparkSession — tests/test_bench_policy.py): returns ``None`` when
    both witnesses are in band, else a ``+``-joined reason string; a
    marker inside its band with a total above the backstop returns
    ``"legacy19_total"``.
    """
    reasons = []
    if q1_sec > Q1_BAND_MAX_SEC:
        reasons.append("q1_marker")
    if legacy19_first_sec > LEGACY19_TRIGGER_SEC:
        reasons.append("legacy19_total")
    return "+".join(reasons) or None


def _calibration_probe(iters: int = 20_000_000) -> float:
    """Fixed single-core pure-Python workload (pinned iteration count):
    wall seconds move only with host CPU contention / frequency, never
    with engine code, so probe/PROBE_REF_SEC is a per-run noise index."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(iters):
            x += i
        best = min(best, time.perf_counter() - t0)
    return best

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_volume_customer",
    "contacts_validation",
    "win_topn_per_group",
    "ev_sessionize",
    "asof_join_purchase",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "doc_quality_score",
    "sketch_kmv_distinct",
    "ev_funnel_stages",
    "profile_columns",
    "doc_salient_terms",
    "dedup_fuzzy_names",
    # --- end of legacy-19 (r1 baseline subset) ---
    "graph_pagerank",
    "pack_sequences",
    # Round-5 additions: the real media codecs (decode is the measured
    # cost) and the two most production-representative shapes — the
    # incremental new-batch-vs-corpus dedup and the composed
    # filter->dedup->split curation funnel (one Catalyst plan).
    "mm_roundtrip_wav",
    "mm_roundtrip_avi",
    # Round-6: the dependency-free baseline JPEG codec (Huffman + DCT
    # per payload is the measured cost — the heaviest per-row decode).
    "mm_roundtrip_jpeg",
    "dedup_incremental",
    "pipeline_curation_e2e",
    # The engine's heaviest analytic: oriented-wedge triangle counting
    # on the part co-order graph (~1.9M triangles at sf0.1) — wedge
    # enumeration is the measured cost, all of it joins + counts.
    "graph_triangle_count",
    # Round-6: its DOULION production twin (deterministic 25% edge
    # sample, 1/p³ scale-up) — benched next to the exact count so the
    # sample's cost ratio is on the record.
    "graph_triangle_doulion",
    # The Arrow-batch linear-algebra seam (exact d×d Gram via numpy
    # partial sums), the lossless ssjoin prefix filter, and the CC +
    # keep-longest dedup endgame (iterative label propagation).
    "emb_gram_matrix",
    "dedup_jaccard_prefix_filter",
    "dedup_cluster_representative",
    # PQ index build + ADC search (codebook training is the measured
    # cost), shingle-attribution novelty scorer, dedup-vs-quality audit.
    "ann_pq_adc_topk",
    "doc_ngram_novelty",
    "corpus_dup_quality_profile",
    # Bounded k-core peeling and the sliding 3-hour distinct-users HLL
    # merge (register fan-out replaces windowed COUNT(DISTINCT)).
    "graph_k_core",
    "ev_sliding_uniques_hll",
    # Incremental SCD2 maintenance and ABC Pareto classification
    # (two-phase range-partitioned global cumsum).
    "scd2_incremental_merge",
    "abc_revenue_classes",
    # B×-fan-out Poisson bootstrap and the kNN label probe.
    "stats_bootstrap_means",
    "emb_knn_label_vote",
    # PSI drift monitor, bigram-LM cross-entropy proxy, perceptual-hash
    # image dedup through the real decode path.
    "stats_psi_drift",
    "doc_lm_xent_proxy",
    "mm_image_ahash_dedup",
    # The funnel ladder: e2e -> v2 (policy + LM-fluency gates) -> v3
    # (+ decontamination + cluster-keyed split; driver-graded since r7,
    # benched since r7 at ~9.8 s after the CC-oracle and quantile-path
    # work — the stage costs read off the three adjacent lines).
    "pipeline_curation_v2",
    "pipeline_curation_v3",
    # HITS on the directed purchase graph and RAKE keyphrase extraction.
    "graph_hits",
    "doc_keyphrase_rake",
    # Round-6 (cont. 2): the model-based selection subsystem — NB
    # quality classifier (train + score in one job) and DSIR
    # importance resampling (hashed-bigram model + Gumbel top-k).
    "doc_quality_classifier",
    "corpus_dsir_resample",
    # Round-6 (cont. 3): the one-pass all-pairs correlation screen and
    # the iterative weighted SSSP (4 Bellman-Ford supersteps — the
    # relational relaxation shape, each round one shuffle join).
    "stats_corr_matrix",
    "graph_sssp_weighted",
    # The two model-table flagships added late in round 6: rank-1 ALS
    # (3 alternation supersteps — the iterative-factorization cost) and
    # the Kneser-Ney LM (two extra continuation-count model aggregates
    # over the add-one proxy's shape).
    "rec_als_rank1",
    "doc_lm_xent_kn",
    # Round-7 (cont.): the tokenizer APPLY half (8 merge supersteps +
    # the per-doc pricing join — the full train+encode cost in one job)
    # and the GIF LZW codec round-trip (variable-width LZW compress +
    # decompress per payload is the measured cost).
    "corpus_bpe_encode",
    "mm_roundtrip_gif",
    # Round 8: the newly-graded ExactSubstr detector + the integer
    # nDCG ranking eval (HEADLINE 55 -> 57).
    "dedup_substring_spans",
    "rank_ndcg_eval",
    # Round 9: the exact detector's production volume knob — TRUE
    # Schleimer winnowing (~2/(W+1) anchors vs stride-1) — benched next
    # to the exact twin so its cost ratio is on the record (the DOULION
    # precedent).  Detection-contract delta: winnowed pairs are a subset
    # of exact pairs, and every exact pair whose shared span covers a
    # full winnowing window is still detected (two-sided guarantee,
    # pinned by tests/test_curation.py::test_winnowing_detection_contract).
    "dedup_substring_winnowed",
    # Round 10: the unigram-LM (SentencePiece-family) tokenizer's
    # ENCODE half — full train chain (seed -> 2 hard-EM rounds ->
    # prune) + final-model encode + the per-doc pricing join — benched
    # next to its BPE sibling so the two tokenizer families' costs
    # read off adjacent lines (the DOULION/winnowing precedent).
    "corpus_unigram_encode",
]


def _bench_streaming(spark, n_jobs: int = 12, rows_per_job: int = 400) -> dict:
    """End-to-end streaming lifecycle: N job messages through the
    file-queue inbox -> JobStreamConsumer (foreachBatch) -> validate ->
    consolidate -> COMPLETED.  Mirrors the reference's whole consumer
    loop (/root/reference/src/consumer.py:55-111) rather than a single
    operator.  Returns jobs/min over the measured drain."""
    from data_ingestion_worker_spark.control import ControlStore
    from data_ingestion_worker_spark.streaming import JobStreamConsumer

    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        inbox = os.path.join(tmp, "inbox")
        os.makedirs(inbox)
        lines = []
        for j in range(1, n_jobs + 1):
            csv_path = os.path.join(tmp, f"job{j}.csv")
            with open(csv_path, "w") as f:
                f.write("email,first_name,last_name,company\n")
                for r in range(rows_per_job):
                    # ~10% duplicate emails + ~5% invalid, so the
                    # validation/issue path does real work per job.
                    k = r - (r % 10 == 0) * 1
                    email = (f"user{j}_{k}@bench.example"
                             if r % 20 else f"bad-email-{r}")
                    f.write(f"{email},First{r},Last{r},Acme{j}\n")
            lines.append(json.dumps({"job_id": j, "s3_key": csv_path}))
        with open(os.path.join(inbox, "jobs.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        store = ControlStore(spark, os.path.join(tmp, "control"))
        consumer = JobStreamConsumer(
            spark, store, inbox, os.path.join(tmp, "ckpt"))
        t0 = time.time()
        consumer.start(available_now=True).awaitTermination(600)
        sec = time.time() - t0
        done = len([r for r in consumer.results if r[1] == "initial"])
        # Per-stage exclusive seconds from the processor's accounting
        # (r6 verdict ask #3): a jobs/min move across rounds is now
        # attributable to ingest / validate / route / consolidate;
        # "other" is stream machinery + per-job routing reads.
        stages = {k: round(v, 3)
                  for k, v in sorted(consumer.processor.stage_seconds
                                     .items())}
        stages["other"] = round(sec - sum(stages.values()), 3)

        # Phase 2 (new in r7; separate keys so phase-1 jobs/min stays
        # comparable to r6): the human-review tail of the lifecycle —
        # every drained job sits NEEDS_REVIEW (the fixture rows include
        # invalid emails by design), so DISCARD its failing rows, drop
        # fresh messages, and drain again: reprocess -> auto-resolve ->
        # CONSOLIDATE.  This is the half of the state machine phase 1
        # cannot reach, with its own stage split.
        from pyspark.sql import functions as SF

        proc = consumer.processor
        proc.stage_seconds = {}
        proc.discard_failing_rows()        # one set-based staging write
        with open(os.path.join(inbox, "jobs2.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        t1 = time.time()
        consumer.results = []
        consumer.start(available_now=True).awaitTermination(600)
        sec2 = time.time() - t1
        redone = len([r for r in consumer.results if r[1] == "reprocessed"])
        completed = (store.read("jobs")
                     .filter(SF.col("job_status") == "COMPLETED").count())
        stages2 = {k: round(v, 3)
                   for k, v in sorted(proc.stage_seconds.items())}
        stages2["other"] = round(sec2 - sum(stages2.values()), 3)
        return {
            "jobs": n_jobs,
            "jobs_completed": done,
            "rows_per_job": rows_per_job,
            "sec": round(sec, 3),
            "jobs_per_min": round(n_jobs / sec * 60.0, 2),
            "stage_sec": stages,
            "review_phase": {
                "jobs_reprocessed": redone,
                "jobs_consolidated": completed,
                "sec": round(sec2, 3),
                "jobs_per_min": round(n_jobs / sec2 * 60.0, 2),
                "stage_sec": stages2,
            },
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    spark = get_spark("bench")
    specs = all_specs()
    timings: dict[str, float] = {}
    # Warm-up (not timed): file indexes + parquet footers for every table,
    # and one small query to JIT the scan/agg path.  Query-specific codegen
    # still lands inside each measured run.
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()
    specs["q6_forecast_revenue"].fn(spark, sf_dir).count()
    spread: dict[str, list[float]] = {}

    def measure(names: list[str]) -> dict[str, list[float]]:
        # Best of three executions: the first run of a query pays its own
        # codegen/JIT; the min reflects steady-state throughput.  The
        # recorded [min, max] spread makes machine/JVM noise attributable
        # — a real regression moves the min, noise only widens the band.
        out: dict[str, list[float]] = {}
        for name in names:
            runs = []
            for _ in range(3):
                t0 = time.time()
                df = specs[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.time() - t0)
            out[name] = [round(min(runs), 3), round(max(runs), 3)]
        return out

    probe_pre = round(_calibration_probe(), 3)
    for name, (lo, hi) in measure(HEADLINE).items():
        timings[name] = lo
        spread[name] = [lo, hi]
    legacy = HEADLINE[:LEGACY_19]
    legacy_first = round(sum(timings[n] for n in legacy), 3)
    legacy_rerun = None
    rerun_reason = _rerun_reason(timings["q1_pricing_summary"],
                                 legacy_first)
    mixed_window = False
    if rerun_reason is not None:
        # Marker outside its historical band OR the legacy-19 total
        # itself above 1.25x the best committed quiet run: this window
        # is contended.  Re-measure the baseline-of-record subset once
        # and keep the better pass, recording both totals (r8 verdict
        # ask #1; the total backstop is r9 ask #1 — the driver's r9
        # window evaded the marker by 0.018 s).
        second = measure(legacy)
        legacy_rerun = round(sum(v[0] for v in second.values()), 3)
        if legacy_rerun < legacy_first:
            for name, (lo, hi) in second.items():
                timings[name] = lo
                spread[name] = [lo, hi]
            # The legacy-19 now comes from the rerun window while the
            # other ~39 headline queries keep first-window timings, so
            # headline_suite_total mixes two measurement windows — flag
            # it so the total is attributable (r9 ADVICE low #1).
            mixed_window = True
    probe_post = round(_calibration_probe(), 3)
    noise_index = round(max(probe_pre, probe_post) / PROBE_REF_SEC, 2)
    total = round(sum(timings.values()), 3)
    legacy_total = round(sum(timings[n] for n in legacy), 3)

    # Streaming end-to-end lifecycle (jobs/min) — isolated from the batch
    # totals; a failure here must not lose the batch record.
    try:
        streaming = _bench_streaming(spark)
    except Exception as exc:  # pragma: no cover - defensive
        streaming = {"error": str(exc)[:200]}

    try:
        loadavg = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover - non-POSIX
        loadavg = None
    detail = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "runs_per_query": 3,
        "n_queries": len(HEADLINE),
        "legacy19_total": legacy_total,
        "legacy19_first": legacy_first,
        "legacy19_rerun": legacy_rerun,
        "rerun_reason": rerun_reason,
        "mixed_window": mixed_window,
        "host_noise_index": noise_index,
        "probe_sec": [probe_pre, probe_post],
        "probe_ref_sec": PROBE_REF_SEC,
        "loadavg": loadavg,
        "queries": timings,
        "spread": spread,
        "streaming_e2e": streaming,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)
        f.write("\n")

    top5 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    compact = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": {n: timings[n] for n in legacy},
        "sf": sf,
        "runs_per_query": 3,
        "n_queries": len(HEADLINE),
        "legacy19_total": legacy_total,
        "legacy19_first": legacy_first,
        "legacy19_rerun": legacy_rerun,
        "rerun_reason": rerun_reason,
        "mixed_window": mixed_window,
        "host_noise_index": noise_index,
        "top5": top5,
        "stream_jobs_per_min": streaming.get("jobs_per_min"),
        "stream_review_jpm": streaming.get("review_phase", {})
        .get("jobs_per_min"),
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(compact)
    if len(line) > 1500:  # driver tail capture is ~2 KB; stay well inside
        compact.pop("top5")
        line = json.dumps(compact)
    assert len(line) <= 1500, f"compact bench line too long: {len(line)}B"

    # Stop Spark BEFORE printing so no shutdown logging can land after
    # the JSON line (the driver parses the tail of combined output).
    spark.stop()
    sys.stderr.flush()
    print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
