"""Plan-identity capture and compare for registry queries.

A refactor that should leave queries untouched is checked by running
the named queries on both trees, each in several fresh processes:

    python tools/plan_identity.py capture OUT.json --sf DIR QUERY...
    python tools/plan_identity.py compare --parent P1.json P2.json ... \
        --change C1.json C2.json ...

``capture`` runs every named query in ONE process and session and
records, per query:

- ``plan``: the executed plan after ``collect()`` (the final adaptive
  plan), with the ids that differ between runs of the same code
  stripped (:func:`strip_plan`) and with scan metadata such as
  ``DataFilters`` printed in full;
- ``fn_jobs`` / ``collect_jobs``: the Spark jobs fired inside ``fn()``
  (lineage cuts, loops) and at ``collect()``, counted through job groups;
- ``rows_sha``: a sha256 of the canonical rows (the column-sorted,
  row-sorted form ``tools/check_oracle.py`` compares).

Some queries vary between runs of the same code (AQE picks a join build
side or a local shuffle reader at run time), so ``compare`` judges each
field as a set: it reports every change-side value that no parent run
produced, and exits 1 if there is one.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

FIELDS = ("plan", "fn_jobs", "collect_jobs", "rows_sha")

#: (pattern, replacement) pairs that remove run-specific ids from a plan.
_STRIP = [
    (re.compile(r"#\d+"), "#"),                        # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id="),          # exchange ids
    (re.compile(r"(QueryStage) \d+"), r"\1"),          # AQE stage numbers
    (re.compile(r"\*\(\d+\)"), "*"),                   # whole-stage codegen
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),              # RDD ids
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1"),       # lambda variables
]

#: Spark cuts scan metadata (``DataFilters``, ``PushedFilters``) at
#: ``spark.sql.maxMetadataStringLength`` characters, 100 by default; the
#: cut moves when the ids before it change length, so the capture session
#: prints it in full.
_FULL_METADATA = ("spark.sql.maxMetadataStringLength", str(1 << 20))


def strip_plan(plan: str) -> str:
    """``plan`` without expression ids, exchange ``plan_id``s, query
    stage numbers, whole-stage-codegen ids, RDD ids and the numbers
    Spark appends to lambda variable names (``x_14``), which come from a
    process-wide counter."""
    for pat, rep in _STRIP:
        plan = pat.sub(rep, plan)
    return plan


def _wait_for_listeners(spark) -> None:
    # Job-start events reach the status tracker through the async
    # listener bus; drain it before counting a group's jobs.
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def capture_one(spark, spec, name: str, sf_dir: str) -> dict:
    from tools.check_oracle import canon

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(f"pi:{name}:fn", name)
    df = spec.fn(spark, sf_dir)
    sc.setJobGroup(f"pi:{name}:collect", name)
    rows = [tuple(r) for r in df.collect()]
    sc.setLocalProperty("spark.jobGroup.id", None)
    _wait_for_listeners(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    digest = hashlib.sha256(
        repr(canon(rows, df.columns)).encode()).hexdigest()
    return {
        "plan": strip_plan(plan),
        "fn_jobs": len(tracker.getJobIdsForGroup(f"pi:{name}:fn")),
        "collect_jobs": len(tracker.getJobIdsForGroup(f"pi:{name}:collect")),
        "rows_sha": digest,
    }


def capture(out: str, sf_dir: str, names: list[str]) -> int:
    from data_ingestion_worker_spark.registry import all_specs
    from data_ingestion_worker_spark.session import get_spark

    specs = all_specs()
    unknown = [n for n in names if n not in specs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("plan-identity")
    spark.conf.set(*_FULL_METADATA)
    record = {n: capture_one(spark, specs[n], n, sf_dir) for n in names}
    Path(out).write_text(json.dumps(record, indent=1, sort_keys=True))
    return 0


def compare(parent: list[dict], change: list[dict]) -> list[str]:
    """One line per query and field whose change-side value no parent
    run produced (or per query a side did not capture)."""
    problems = []
    names = sorted({n for run in parent + change for n in run})
    for name in names:
        if any(name not in run for run in parent + change):
            problems.append(f"{name}: not captured in every run")
            continue
        for field in FIELDS:
            seen = {run[name][field] for run in parent}
            for i, run in enumerate(change):
                if run[name][field] not in seen:
                    problems.append(f"{name}: {field} of change run {i} "
                                    f"was produced by no parent run")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    cap = sub.add_parser("capture")
    cap.add_argument("out")
    cap.add_argument("queries", nargs="+")
    cap.add_argument("--sf", required=True, help="directory of the tables")
    cmp_ = sub.add_parser("compare")
    cmp_.add_argument("--parent", nargs="+", required=True)
    cmp_.add_argument("--change", nargs="+", required=True)
    args = ap.parse_args()
    if args.cmd == "capture":
        return capture(args.out, args.sf, args.queries)
    load = [[json.loads(Path(p).read_text()) for p in side]
            for side in (args.parent, args.change)]
    problems = compare(*load)
    for line in problems:
        print(line)
    print(f"{len(problems)} differences over "
          f"{len(load[0])} parent and {len(load[1])} change runs")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
