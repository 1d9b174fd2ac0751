"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import layers  # noqa: E402
import workload  # noqa: E402


def _backlog(tmp_path, seed, sub):
    existing = gen.existing_emails(seed, 50)
    return gen.make_backlog(seed, str(tmp_path / sub), 3, 200, existing)


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _backlog(tmp_path, 7, "a")
    b = _backlog(tmp_path, 7, "b")
    assert a.rows == b.rows
    for job_id in a.paths:
        assert filecmp.cmp(a.paths[job_id], b.paths[job_id], shallow=False)


def test_generator_differs_across_seeds(tmp_path):
    a = _backlog(tmp_path, 7, "a")
    b = _backlog(tmp_path, 8, "b")
    assert a.rows != b.rows


def test_generator_mix_and_uniqueness(tmp_path):
    seed = 11
    existing = gen.existing_emails(seed, 200)
    backlog = gen.make_backlog(seed, str(tmp_path), 8, 500, existing)
    kinds: dict[str | None, int] = {}
    valid_by_job = []
    for rows in backlog.rows.values():
        v = gen.verdicts(rows, set(existing))
        for kind, _ in v:
            kinds[kind] = kinds.get(kind, 0) + 1
        valid_by_job.append({r["email"].strip(" ").lower()
                             for r, (k, _) in zip(rows, v) if k is None})
    total = sum(kinds.values())
    assert 0.6 < kinds[None] / total < 0.85
    for kind in ("DUPLICATE_EMAIL", "INVALID_EMAIL",
                 "MISSING_REQUIRED_FIELD", "EXISTING_EMAIL"):
        assert kinds.get(kind, 0) > 0.02 * total, kind
    # Jobs never share a valid email, so they cannot interact through the
    # contacts table.
    seen: set[str] = set()
    for emails in valid_by_job:
        assert not (emails & seen)
        seen |= emails


HAND_CSV = """email;first_name;last_name;company
 Ann@Example.com ;Ann;Lee;Acme
ann@example.com;Ann;Lee;Acme
bad-email;Bo;Ng;Acme
;Cy;Ot;Acme
dee@example.com;   ;Ra;Acme
KNOWN@contacts.example.com;Ed;Wu;Acme
fay@example.com;Fay;Po;Acme
"""


def _read_hand_csv(tmp_path):
    path = tmp_path / "hand.csv"
    path.write_text(HAND_CSV)
    header, *lines = path.read_text().splitlines()
    names = header.split(";")
    return [dict(zip(names, ln.split(";"))) for ln in lines]


def test_expected_outcome_on_hand_checked_csv(tmp_path):
    rows = _read_hand_csv(tmp_path)
    existing = {"known@contacts.example.com"}
    assert gen.verdicts(rows, existing) == [
        ("DUPLICATE_EMAIL", "ann@example.com"),
        ("DUPLICATE_EMAIL", "ann@example.com"),
        ("INVALID_EMAIL", "bad-email"),
        ("MISSING_REQUIRED_FIELD", "row_4"),
        ("MISSING_REQUIRED_FIELD", "dee@example.com"),
        ("EXISTING_EMAIL", "known@contacts.example.com"),
        (None, "fay@example.com"),
    ]
    gus = {"email": "gus@example.com", "first_name": "Gus",
           "last_name": "Ng", "company": "Hooli"}
    phase1, phase2 = gen.expected_outcome({5: rows, 6: [gus]}, existing)
    assert phase1.job_status == {5: "NEEDS_REVIEW", 6: "COMPLETED"}
    assert phase1.staging_rows == 8
    assert phase1.staging_status == {"ISSUE": 6, "READY": 1, "SUCCESS": 1}
    # Both duplicate rows share one issue.
    assert phase1.issues_by_type == {
        "DUPLICATE_EMAIL": 1, "INVALID_EMAIL": 1,
        "MISSING_REQUIRED_FIELD": 2, "EXISTING_EMAIL": 1}
    assert phase1.unresolved_issues == 5
    # Job 6's row consolidated; job 5's valid row waits for review.
    assert phase1.contact_emails == existing | {"gus@example.com"}
    assert phase2.job_status == {5: "COMPLETED", 6: "COMPLETED"}
    assert phase2.staging_status == {"DISCARD": 6, "SUCCESS": 2}
    assert phase2.unresolved_issues == 0
    assert phase2.contact_emails == existing | {"gus@example.com",
                                                "fay@example.com"}


def test_expected_outcome_refuses_jobs_sharing_a_valid_email(tmp_path):
    rows = _read_hand_csv(tmp_path)
    with pytest.raises(ValueError):
        gen.expected_outcome({5: rows, 6: rows[-1:]}, set())


def test_emitted_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == workload.END_TO_END
    assert per_layer == workload.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workload.WORKLOADS)

    run = workload.Run()
    run.attempted = 1
    for traced in (False, True):
        out = workload.result(run, traced, 1.0, 2.0, 3.0, {})
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        names = per_layer if traced else e2e
        assert {k: v["unit"] for k, v in out["metrics"].items()} == names


def test_layer_reader_copes_with_empty_stage_list():
    totals = layers.stage_totals([], [], frozenset(), 0.0, 4)
    assert totals["spark.jobs"] == 0
    assert totals["spark.stages"] == 0
    assert totals["spark.core_busy_share"] == 0.0


def test_layer_reader_leaves_out_benchmark_jobs_and_skipped_stages():
    jobs = [{"jobId": 1, "group": None, "stageIds": [1]},
            {"jobId": 2, "group": None, "stageIds": [2, 3]},
            {"jobId": 3, "group": layers.UNTRACED_GROUP, "stageIds": [4]}]
    zero = {f: 0 for f in layers.STAGE_FIELDS}
    stages = [dict(zero, stageId=1, status="COMPLETE", executorRunTime=500),
              dict(zero, stageId=2, status="COMPLETE", executorRunTime=1500,
                   shuffleWriteBytes=10, numCompleteTasks=4),
              dict(zero, stageId=3, status="SKIPPED"),
              dict(zero, stageId=4, status="COMPLETE", executorRunTime=9000)]
    totals = layers.stage_totals(jobs, stages, frozenset({1}), 1.0, 4)
    assert totals["spark.jobs"] == 1
    assert totals["spark.stages"] == 1
    assert totals["spark.tasks"] == 4
    assert totals["spark.shuffle_write_bytes"] == 10
    assert totals["spark.executor_run_s"] == 1.5
    assert totals["spark.core_busy_share"] == 1.5 / 4


def test_tracer_self_time_excludes_children():
    class Box:
        def outer(self):
            return self.inner()

        def inner(self):
            return 1

    tracer = layers.Tracer()
    tracer.wrap(Box, "outer", "outer")
    tracer.wrap(Box, "inner", "inner")
    try:
        assert Box().outer() == 1
        tracer.enabled = False
        Box().outer()
        tracer.enabled = True
    finally:
        tracer.unwrap_all()
    assert tracer.calls("outer") == 1 and tracer.calls("inner") == 1
    outer = tracer.spans[0]
    assert outer.child_s > 0
    assert abs(tracer.self_s("outer")
               - (outer.end - outer.start - outer.child_s)) < 1e-12
    assert Box.outer.__name__ == "outer" and not hasattr(Box.outer,
                                                         "__wrapped__")


def test_digest_ignores_row_and_column_order():
    import digest

    rows = [(1, "a", None), (2, "b", 1.5)]
    base = digest.digest(["k", "s", "x"], rows)
    swapped = digest.digest(["x", "k", "s"],
                            [(r[2], r[0], r[1]) for r in reversed(rows)])
    assert base == swapped
    assert base["rows"] == 2 and base["cols"] == ["k", "s", "x"]
    assert digest.digest(["k", "s", "x"], [(1, "a", None), (2, "b", 1.25)]) \
        != base
