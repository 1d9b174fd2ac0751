"""One benchmark run of one workload, in the current process.

Started by ``run.py`` in a fresh process whose working directory, temp
directory and Spark local dirs are a per-run scratch directory.  Prints
one JSON result object as the last line of standard output.

Usage:  python3 perfbench/workload.py --workload NAME --seed N
        --seconds S --trace 0|1 --scratch DIR
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import layers  # noqa: E402

DATA_DIR = os.path.join(HERE, "data", "sf0.001")

#: End-to-end metrics (untraced run), as declared in BENCHMARK.json.
END_TO_END = {
    "setup_s": "s",
    "family_a_cpu_s_per_op": "s",
    "family_b_cpu_s_per_op": "s",
}

ITERATIVE = ["graph_hits", "graph_k_core", "rec_als_rank1"]
RELATIONAL = ["q1_pricing_summary", "contacts_validation", "ev_sessionize",
              "dedup_minhash_lsh"]
QUERY_MIX = ITERATIVE + RELATIONAL
QUERY_PARTS = ("construct_s", "construct_jobs", "plan_s", "execute_s",
               "execute_jobs")
STAGES = ("ingest", "validate", "route", "consolidate")
TRIGGER_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                  "walCommit")

#: Per-layer metrics (traced run), as declared in BENCHMARK.json.  A layer
#: a workload does not pass through reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MiB",
    "wall.family_a_ops_per_min": "1/min",
    "wall.family_b_ops_per_min": "1/min",
    "ingest.sniff_calls": "count",
    "ingest.sniff_s": "s",
    "ingest.read_plan_s": "s",
    "plans.annotate_calls": "count",
    "plans.annotate_plan_s": "s",
    **{f"control.stage.{s}_s": "s" for s in STAGES},
    "store.publishes": "count",
    "store.write_calls": "count",
    "store.write_s": "s",
    "store.read_calls": "count",
    "store.bytes_per_input_byte": "ratio",
    "streaming.batches": "count",
    "streaming.bridge_s": "s",
    **{f"streaming.trigger.{p}_ms": "ms" for p in TRIGGER_PHASES},
    "streaming.other_s": "s",
    **{f"query.{q}.{part}": ("count" if part.endswith("jobs") else "s")
       for q in QUERY_MIX for part in QUERY_PARTS},
    "query.iterative.construct_share": "ratio",
    "query.relational.construct_share": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.core_busy_share": "ratio",
}

#: ingest_backlog sizing: a measured round drains N_JOBS jobs in
#: N_JOBS / JOBS_PER_DRAIN micro-batches per phase.
N_JOBS = 8
JOBS_PER_DRAIN = 8
ROWS_PER_JOB = 500
N_EXISTING = 1000
DRAIN_TIMEOUT_S = 120


class Run:
    """Accumulates attempted/failed operations and per-round samples."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}

    def add(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def median(self, key: str) -> float:
        vals = self.samples.get(key)
        return statistics.median(vals) if vals else 0.0


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _process_tree() -> list[int]:
    """This process and every descendant (the Spark JVM, Python workers)."""
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parents[int(name)] = int(_stat(f"/proc/{name}/stat")[1][1])
            except OSError:
                continue
    mine, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        p = frontier.pop()
        for child, parent in parents.items():
            if parent == p and child not in mine:
                mine.append(child)
                frontier.append(child)
    return mine


def peak_rss_mb() -> float:
    """VmHWM of this process plus every descendant."""
    kib = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
        except OSError:
            continue
    return kib / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")
#: JIT compiler threads (thread names are cut to 15 characters).
_COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_seconds() -> float:
    """User + system CPU seconds used so far by this process tree
    (including reaped children), without the JVM's JIT compiler threads.

    Unlike wall time, this is not charged for time the host steals from
    the virtual CPUs.  The JIT's share is left out because it is a
    warm-up cost that falls on whichever operations a fresh process runs
    first; ``run.py`` keeps the compiler threads alive for the whole run
    so that their time can be subtracted exactly.
    """
    ticks = 0
    for pid in _process_tree():
        try:
            _, fields = _stat(f"/proc/{pid}/stat")
            ticks += sum(int(x) for x in fields[11:15])
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, tf = _stat(f"/proc/{pid}/task/{tid}/stat")
                if name.startswith(_COMPILER_THREADS):
                    ticks -= int(tf[11]) + int(tf[12])
        except OSError:
            continue
    return ticks / _TICK


# -- ingest_backlog -----------------------------------------------------------

def _seed_contacts(spark, store, emails: list[str]) -> None:
    from data_ingestion_worker_spark.control.store import SCHEMAS

    rows = [(-(i + 1), -(i + 1), "user-1", e, "Known", "Contact", "Prior Co",
             None) for i, e in enumerate(emails)]
    store.overwrite("contacts", spark.createDataFrame(rows,
                                                      SCHEMAS["contacts"]))


def _drain(client, bridge, consumer, backlog) -> list:
    """Send one message per job, bridge them, drain availableNow.
    Returns the streaming query's progress records."""
    from data_ingestion_worker_spark.streaming.queue import job_message

    for job_id, path in backlog.paths.items():
        client.send(job_message(job_id, path))
    while bridge.drain_once(max_messages=JOBS_PER_DRAIN):
        pass
    query = consumer.start(available_now=True)
    if not query.awaitTermination(DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(f"drain did not finish in {DRAIN_TIMEOUT_S} s")
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))
    return list(query.recentProgress)


def _check_store(store, expected: gen.Expected, full: bool) -> int:
    """Compare the control tables with the expected outcome: every job's
    status and, if ``full``, the table-level totals and the contacts
    email set.  Returns the number of jobs counted as wrong: each job
    with a wrong status, or every job when a table-level total differs."""
    jobs = {int(r["job_id"]): r["job_status"]
            for r in store.read("jobs").select("job_id", "job_status")
            .collect()}
    wrong = sum(1 for j, s in expected.job_status.items()
                if jobs.get(j) != s)
    if set(jobs) != set(expected.job_status):
        return len(expected.job_status)
    if not full:
        return wrong
    staging = store.read("staging")
    status = {r["staging_status"]: int(r["count"])
              for r in staging.groupBy("staging_status").count().collect()}
    by_type: dict[str, int] = {}
    unresolved = 0
    for r in (store.read("issues").groupBy("issue_type", "issue_resolved")
              .count().collect()):
        by_type[r["issue_type"]] = by_type.get(r["issue_type"], 0) + r["count"]
        unresolved += 0 if r["issue_resolved"] else r["count"]
    emails = [r["contact_email"]
              for r in store.read("contacts").select("contact_email")
              .collect()]
    totals_ok = (
        sum(status.values()) == expected.staging_rows
        and status == expected.staging_status
        and by_type == expected.issues_by_type
        and unresolved == expected.unresolved_issues
        and len(emails) == len(expected.contact_emails)
        and set(emails) == expected.contact_emails
    )
    if not totals_ok:
        print(f"check failed: staging={status} vs {expected.staging_status}"
              f" issues={by_type} vs {expected.issues_by_type}"
              f" unresolved={unresolved} vs {expected.unresolved_issues}"
              f" contacts={len(emails)} vs {len(expected.contact_emails)}",
              file=sys.stderr)
        return len(expected.job_status)
    return wrong


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def ingest_round(spark, run: Run, scratch: str, seed: int, n_jobs: int,
                 tracer: layers.Tracer | None) -> None:
    """One backlog: phase 1 drains it, phase 2 discards every failing row,
    re-sends the messages and drains again (reprocess -> auto-resolve ->
    consolidate).  Job statuses are checked after each phase, the whole
    store after phase 2 (phase 2 leaves the issue counts of phase 1 and
    its failing rows, now DISCARD, in place)."""
    from data_ingestion_worker_spark.control import ControlStore
    from data_ingestion_worker_spark.streaming import JobStreamConsumer
    from data_ingestion_worker_spark.streaming.queue import (
        FileQueueClient,
        QueueBridge,
    )

    root = os.path.join(scratch, f"round-{seed}")
    store = ControlStore(spark, os.path.join(root, "control"))
    existing = gen.existing_emails(seed, N_EXISTING)
    with layers.untraced(spark, tracer):
        _seed_contacts(spark, store, existing)
    backlog = gen.make_backlog(seed, os.path.join(root, "csv"), n_jobs,
                               ROWS_PER_JOB, existing)
    exp1, exp2 = gen.expected_outcome(backlog.rows, set(existing))
    client = FileQueueClient(os.path.join(root, "queue"))
    bridge = QueueBridge(client, os.path.join(root, "inbox"))
    consumer = JobStreamConsumer(spark, store, os.path.join(root, "inbox"),
                                 os.path.join(root, "ckpt"),
                                 max_files_per_trigger=1)
    proc = consumer.processor
    if tracer:
        tracer.reset()
    progress: list = []
    stage_s: dict[str, float] = {}
    walls = []
    for phase, expected in ((1, exp1), (2, exp2)):
        proc.stage_seconds = {}
        consumer.results = []
        t0, cpu0 = time.perf_counter(), cpu_seconds()
        try:
            if phase == 2:
                proc.discard_failing_rows()
            progress += _drain(client, bridge, consumer, backlog)
        except Exception as e:  # noqa: BLE001 - a failed drain is counted
            print(f"phase {phase} failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
            run.attempted += n_jobs
            run.failed += n_jobs
            return
        wall = time.perf_counter() - t0
        cpu = cpu_seconds() - cpu0
        walls.append(wall)
        for k, v in proc.stage_seconds.items():
            stage_s[k] = stage_s.get(k, 0.0) + v
        errors = sum(1 for _, action in consumer.results
                     if action.startswith("error"))
        with layers.untraced(spark, tracer):
            wrong = _check_store(store, expected, full=phase == 2)
        run.attempted += n_jobs
        run.failed += max(wrong, errors)
        family = "family_a" if phase == 1 else "family_b"
        run.add(f"wall.{family}_ops_per_min", n_jobs / wall * 60.0)
        run.add(f"{family}_cpu_s_per_op", cpu / n_jobs)
    run.add("busy_wall_s", sum(walls))
    if tracer:
        _ingest_layers(run, tracer, store, backlog, progress, stage_s,
                       sum(walls))


def _ingest_layers(run: Run, tracer: layers.Tracer, store, backlog,
                   progress: list, stage_s: dict[str, float],
                   wall_s: float) -> None:
    from data_ingestion_worker_spark.control.store import SCHEMAS

    run.add("ingest.sniff_calls", tracer.calls("ingest.sniff"))
    run.add("ingest.sniff_s", tracer.self_s("ingest.sniff"))
    run.add("ingest.read_plan_s", tracer.self_s("ingest.read"))
    run.add("plans.annotate_calls", tracer.calls("plans.annotate"))
    run.add("plans.annotate_plan_s", tracer.self_s("plans.annotate"))
    for s in STAGES:
        run.add(f"control.stage.{s}_s", stage_s.get(s, 0.0))
    # The contacts pre-seed is set-up, not a publish made by the worker.
    run.add("store.publishes",
            sum(len(store.history(t)) for t in SCHEMAS) - 1)
    run.add("store.write_calls", tracer.calls("store.write", outermost=True))
    run.add("store.write_s", tracer.total_s("store.write"))
    run.add("store.read_calls", tracer.calls("store.read"))
    run.add("store.bytes_per_input_byte",
            _dir_bytes(store.root) / backlog.input_bytes)
    run.add("streaming.batches", len(progress))
    run.add("streaming.bridge_s", tracer.self_s("streaming.bridge"))
    for p in TRIGGER_PHASES:
        run.add(f"streaming.trigger.{p}_ms",
                sum(float(g.durationMs.get(p, 0)) for g in progress))
    run.add("streaming.other_s", wall_s - sum(stage_s.values()))


class IngestBacklog:
    """Unit: both phases of a backlog of N_JOBS jobs.  There is no warm-up:
    a warm-up drain costs about as much as the measured one, and the CPU
    metrics leave the JIT compiler out, so a cold first unit reads the
    same run after run (a worker also drains its first backlog cold)."""

    def __init__(self, spark, scratch: str, seed: int) -> None:
        self.spark, self.scratch, self.seed = spark, scratch, seed

    def warmup(self, run: Run) -> None:
        """None: see the class docstring."""

    def unit(self, run: Run, k: int, tracer: layers.Tracer | None) -> None:
        ingest_round(self.spark, run, self.scratch, self.seed * 1000 + k,
                     N_JOBS, tracer)

    def finish(self, run: Run) -> None:
        """Per-round samples are already final."""


# -- query_mix ----------------------------------------------------------------

def _run_query(spark, spec, name: str, tag: str, trace: bool
               ) -> tuple[dict[str, float], list[str], list]:
    """fn() then collect(); in a traced run the jobs of each part are
    counted through job groups and planning is forced separately."""
    sc = spark.sparkContext
    parts: dict[str, float] = {}
    if trace:
        sc.setJobGroup(f"{tag}:construct", name)
    cpu0 = cpu_seconds()
    t0 = time.perf_counter()
    df = spec.fn(spark, DATA_DIR)
    parts["construct_s"] = time.perf_counter() - t0
    if trace:
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        parts["plan_s"] = time.perf_counter() - t1
        sc.setJobGroup(f"{tag}:execute", name)
    t2 = time.perf_counter()
    rows = df.collect()
    parts["execute_s"] = time.perf_counter() - t2
    parts["cpu_s"] = cpu_seconds() - cpu0
    if trace:
        sc.setLocalProperty("spark.jobGroup.id", None)
        parts["construct_jobs"] = layers.jobs_in_group(
            spark, f"{tag}:construct")
        parts["execute_jobs"] = layers.jobs_in_group(spark, f"{tag}:execute")
    return parts, df.columns, rows


def query_pass(spark, run: Run, order: list[str], expected: dict,
               tag: str, trace: bool) -> None:
    """Run every query once; record each one's parts and check its
    digest.  A failed or wrong query counts as a failed operation."""
    from data_ingestion_worker_spark.registry import all_specs

    import digest

    specs = all_specs()
    busy = 0.0
    for name in order:
        run.attempted += 1
        try:
            parts, cols, rows = _run_query(spark, specs[name], name,
                                           f"{tag}:{name}", trace)
        except Exception as e:  # noqa: BLE001 - a failed query is counted
            print(f"query {name} failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
            run.failed += 1
            continue
        got = digest.digest(cols, rows)
        if got != expected.get(name):
            print(f"query {name}: digest {got} != {expected.get(name)}",
                  file=sys.stderr)
            run.failed += 1
        busy += parts["construct_s"] + parts["execute_s"]
        for part, v in parts.items():
            run.add(f"query.{name}.{part}", v)
    run.add("busy_wall_s", busy)


class QueryMix:
    """Warm-up: one pass.  Unit: one pass.  Each pass runs the queries in
    a new seeded order and checks every digest.  A family's cost is the
    sum over its queries of each query's median over the measured
    passes."""

    def __init__(self, spark, scratch: str, seed: int) -> None:
        import digest

        self.spark = spark
        self.expected = digest.load_expected()
        self.rng = random.Random(seed)
        self.order = list(QUERY_MIX)

    def warmup(self, run: Run) -> None:
        self.rng.shuffle(self.order)
        query_pass(self.spark, run, self.order, self.expected, "warmup",
                   False)

    def unit(self, run: Run, k: int, tracer: layers.Tracer | None) -> None:
        self.rng.shuffle(self.order)
        query_pass(self.spark, run, self.order, self.expected, f"pass{k}",
                   tracer is not None)

    def finish(self, run: Run) -> None:
        for prefix, family, names in (("family_a", "iterative", ITERATIVE),
                                      ("family_b", "relational", RELATIONAL)):
            construct = sum(run.median(f"query.{n}.construct_s")
                            for n in names)
            total = construct + sum(run.median(f"query.{n}.execute_s")
                                    for n in names)
            if total > 0:
                run.add(f"wall.{prefix}_ops_per_min", len(names) / total * 60)
                run.add(f"query.{family}.construct_share", construct / total)
            cpu = sum(run.median(f"query.{n}.cpu_s") for n in names)
            run.add(f"{prefix}_cpu_s_per_op", cpu / len(names))


WORKLOADS = {"ingest_backlog": IngestBacklog, "query_mix": QueryMix}


# -- run ----------------------------------------------------------------------

def end_to_end(run: Run, start_s: float, warmup_s: float
               ) -> dict[str, float]:
    return {
        "setup_s": start_s + warmup_s,
        "family_a_cpu_s_per_op": run.median("family_a_cpu_s_per_op"),
        "family_b_cpu_s_per_op": run.median("family_b_cpu_s_per_op"),
    }


def result(run: Run, trace: bool, start_s: float, warmup_s: float,
           rss_mb: float, engine: dict[str, float]) -> dict:
    if trace:
        values = {name: run.median(name) for name in PER_LAYER}
        values.update(engine)
        values["session.start_s"] = start_s
        values["session.warmup_s"] = warmup_s
        values["session.peak_rss_mb"] = rss_mb
        units = PER_LAYER
    else:
        values = end_to_end(run, start_s, warmup_s)
        units = END_TO_END
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in units.items()},
    }


def measure(spark, workload, run: Run, seconds: float,
            tracer: layers.Tracer | None) -> tuple[float, dict[str, float]]:
    """Warm up, then run units until ``seconds`` have passed (at least
    one).  Returns the warm-up seconds and, in a traced run, the engine
    layer's per-unit totals over the measured units."""
    from data_ingestion_worker_spark.session import default_parallelism

    t0 = time.perf_counter()
    workload.warmup(run)
    warmup_s = time.perf_counter() - t0
    run.samples.clear()
    since = layers.mark(spark) if tracer else None
    start = time.perf_counter()
    units = 0
    while units == 0 or time.perf_counter() - start < seconds:
        units += 1
        workload.unit(run, units, tracer)
    workload.finish(run)
    if not tracer:
        return warmup_s, {}
    totals = layers.engine_metrics(spark, since,
                                   sum(run.samples["busy_wall_s"]),
                                   default_parallelism())
    share = totals.pop("spark.core_busy_share")
    per_unit = {k: v / units for k, v in totals.items()}
    per_unit["spark.core_busy_share"] = share
    return warmup_s, per_unit


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", required=True)
    args = ap.parse_args(argv)

    from data_ingestion_worker_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    start_s = time.perf_counter() - t0
    tracer = layers.Tracer() if args.trace else None
    if tracer:
        layers.trace_package(tracer)
    try:
        run = Run()
        workload = WORKLOADS[args.workload](spark, args.scratch, args.seed)
        warmup_s, engine = measure(spark, workload, run, args.seconds, tracer)
        rss_mb = peak_rss_mb()
        out = result(run, bool(tracer), start_s, warmup_s, rss_mb, engine)
        if tracer:
            # What the traced run would have reported untraced: the
            # difference to untraced runs is the tracing overhead.
            print(json.dumps({"traced_end_to_end": end_to_end(
                run, start_s, warmup_s)}), file=sys.stderr)
    finally:
        if tracer:
            tracer.unwrap_all()
        spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
