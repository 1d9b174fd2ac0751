"""Per-layer tracing from outside the engine.

Two sources, neither of which needs a change to the package:

- :class:`Tracer` wraps public entry points of the package's modules
  (CSV sniff/read, the validation plan, control-store reads/writes, the
  queue bridge) with spans kept in memory, and derives per-layer busy
  time and call counts from them.  A span nested in another span of the
  same tracer is subtracted from its parent's self time.
- :func:`engine_metrics` reads Spark's own ``AppStatusStore`` (jobs,
  stages, tasks, shuffle bytes, spill, executor run time).
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    child_s: float = 0.0


@dataclass
class Tracer:
    """In-memory spans around wrapped callables."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _undo: list[tuple[object, str, object]] = field(default_factory=list)
    enabled: bool = True

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            span = Span(name, time.perf_counter(),
                        parent=tracer._stack[-1] if tracer._stack else None)
            tracer.spans.append(span)
            tracer._stack.append(len(tracer.spans) - 1)
            try:
                return original(*args, **kwargs)
            finally:
                tracer._stack.pop()
                span.end = time.perf_counter()
                if span.parent is not None:
                    tracer.spans[span.parent].child_s += span.end - span.start

        self._undo.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def reset(self) -> None:
        self.spans.clear()

    def calls(self, name: str, outermost: bool = False) -> int:
        return sum(1 for s in self.spans if s.name == name
                   and not (outermost and self._nested_in_same(s)))

    def self_s(self, name: str) -> float:
        """Busy seconds of ``name`` minus time spent in traced children."""
        return sum(s.end - s.start - s.child_s for s in self.spans
                   if s.name == name)

    def total_s(self, name: str) -> float:
        """Wall seconds of ``name`` spans, counting a span nested in a
        same-name span once (a write method that calls another)."""
        return sum(s.end - s.start for s in self.spans if s.name == name
                   and not self._nested_in_same(s))

    def _nested_in_same(self, span: Span) -> bool:
        p = span.parent
        while p is not None:
            if self.spans[p].name == span.name:
                return True
            p = self.spans[p].parent
        return False


def trace_package(tracer: Tracer) -> None:
    """Wrap the package entry points each layer metric is read from."""
    from data_ingestion_worker_spark.control import processor, store
    from data_ingestion_worker_spark.ingest import csv_reader
    from data_ingestion_worker_spark.streaming import queue

    # ingest: the sniff is looked up as a module global by
    # read_contacts_csv; the processor holds its own reference to
    # read_contacts_csv and annotate_contacts.
    tracer.wrap(csv_reader, "sniff_csv_dialect", "ingest.sniff")
    tracer.wrap(processor, "read_contacts_csv", "ingest.read")
    tracer.wrap(processor, "annotate_contacts", "plans.annotate")
    for method in ("overwrite", "upsert", "delete", "sync"):
        tracer.wrap(store.ControlStore, method, "store.write")
    tracer.wrap(store.ControlStore, "read", "store.read")
    tracer.wrap(queue.QueueBridge, "drain_once", "streaming.bridge")


# -- Spark's status store -----------------------------------------------------

#: Job group of the benchmark's own Spark work (round set-up, output
#: checks); the engine layer leaves those jobs out.
UNTRACED_GROUP = "perfbench.untraced"
STAGE_FIELDS = ("executorRunTime", "shuffleReadBytes", "shuffleWriteBytes",
                "memoryBytesSpilled", "diskBytesSpilled", "numCompleteTasks")


@contextlib.contextmanager
def untraced(spark, tracer: Tracer | None):
    """The benchmark's own work: no spans, and its Spark jobs carry
    :data:`UNTRACED_GROUP`."""
    if tracer is None:
        yield
        return
    sc = spark.sparkContext
    tracer.enabled = False
    sc.setJobGroup(UNTRACED_GROUP, "benchmark set-up and checks")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracer.enabled = True


def _status_store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _to_list(spark, seq) -> list:
    jvm = spark.sparkContext._jvm
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def job_rows(spark) -> list[dict]:
    """Every job the status store retains: id, group and stage ids."""
    seq = _status_store(spark).jobsList(
        spark.sparkContext._jvm.java.util.ArrayList())
    out = []
    for j in _to_list(spark, seq):
        group = j.jobGroup()
        out.append({"jobId": int(j.jobId()),
                    "group": str(group.get()) if group.isDefined() else None,
                    "stageIds": [int(x) for x in _to_list(spark,
                                                          j.stageIds())]})
    return out


def stage_rows(spark) -> list[dict]:
    """Every stage the status store retains, as plain dicts.

    ``AppStatusStore.stageList`` is called with its full Spark 4.1
    signature ``(statuses, details, withSummaries, quantiles,
    taskStatuses)``; an empty status list means "all stages".
    """
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    seq = _status_store(spark).stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    out = []
    for s in _to_list(spark, seq):
        row = {"stageId": int(s.stageId()), "status": str(s.status())}
        for f in STAGE_FIELDS:
            row[f] = int(getattr(s, f)())
        out.append(row)
    return out


def mark(spark) -> frozenset[int]:
    """Ids of the jobs run so far; the measured window is what follows."""
    return frozenset(j["jobId"] for j in job_rows(spark))


def stage_totals(jobs: list[dict], stages: list[dict], since: frozenset[int],
                 busy_wall_s: float, cores: int) -> dict[str, float]:
    """Engine-layer metrics over the jobs run after ``since``, leaving out
    the benchmark's own jobs.  Stages a job skipped (their shuffle output
    was reused) count neither as stages nor as work."""
    mine = [j for j in jobs
            if j["jobId"] not in since and j["group"] != UNTRACED_GROUP]
    ids = {sid for j in mine for sid in j["stageIds"]}
    new = [r for r in stages
           if r["stageId"] in ids and r["status"] != "SKIPPED"]
    run_s = sum(r["executorRunTime"] for r in new) / 1000.0
    return {
        "spark.jobs": len(mine),
        "spark.stages": len(new),
        "spark.tasks": sum(r["numCompleteTasks"] for r in new),
        "spark.shuffle_read_bytes": sum(r["shuffleReadBytes"] for r in new),
        "spark.shuffle_write_bytes": sum(r["shuffleWriteBytes"] for r in new),
        "spark.spill_bytes": sum(r["memoryBytesSpilled"]
                                 + r["diskBytesSpilled"] for r in new),
        "spark.executor_run_s": run_s,
        "spark.core_busy_share": (run_s / (busy_wall_s * cores)
                                  if busy_wall_s > 0 and cores > 0 else 0.0),
    }


def engine_metrics(spark, since: frozenset[int], busy_wall_s: float,
                   cores: int) -> dict[str, float]:
    return stage_totals(job_rows(spark), stage_rows(spark), since,
                        busy_wall_s, cores)


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
