"""Golden end-to-end flow tests (SURVEY.md §5 item 2).

Pin the reference's lifecycle semantics: initial -> NEEDS_REVIEW ->
human review (edit / discard / resolve) -> reprocess -> consolidate,
plus ADR-001 replay idempotency and T8 auto-resolve/un-resolve.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_worker_spark.control import (
    ControlStore,
    JdbcControlStore,
    JobProcessor,
)

CSV = (
    b"email,first_name,last_name,company\n"
    b"ann@x.com,Ann,Ada,Acme\n"            # row 1: valid
    b"dup@x.com,Bob,Bee,Bmart\n"           # row 2: duplicate of row 3
    b"DUP@x.com ,Cyd,Cox,Cmart\n"          # row 3: duplicate (case/space)
    b"not-an-email,Dee,Dow,Dmart\n"        # row 4: invalid email
    b",Eve,Eck,Emart\n"                    # row 5: missing email
)


def _make_store(kind, spark, tmp_path):
    if kind == "jdbc":
        # Embedded Derby (ships with Spark) stands in for the reference's
        # Postgres; the store's MERGE/overwrite SQL is shared syntax.
        return JdbcControlStore(
            spark,
            f"jdbc:derby:{tmp_path}/controldb;create=true",
            {"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        )
    return ControlStore(spark, str(tmp_path / "control"))


@pytest.fixture(params=["parquet", "jdbc"])
def env(spark, tmp_path, request):
    store = _make_store(request.param, spark, tmp_path)
    proc = JobProcessor(spark, store, user_id="user-1")
    csv_path = str(tmp_path / "job1.csv")
    with open(csv_path, "wb") as f:
        f.write(CSV)
    return store, proc, csv_path


def _statuses(store, job_id):
    return {
        r["staging_row_number"]: r["staging_status"]
        for r in store.read("staging")
        .filter(F.col("staging_job_id") == job_id).collect()
    }


def _job(store, job_id):
    return store.read("jobs").filter(F.col("job_id") == job_id).collect()[0]


def test_initial_flags_issues_and_needs_review(env):
    store, proc, csv_path = env
    assert proc.process_job(1, csv_path) == "initial"
    job = _job(store, 1)
    assert job["job_status"] == "NEEDS_REVIEW"
    assert job["job_total_rows"] == 5
    assert job["job_issue_count"] == 3     # dup + invalid + missing (ADR-002)
    assert _statuses(store, 1) == {1: "READY", 2: "ISSUE", 3: "ISSUE",
                                   4: "ISSUE", 5: "ISSUE"}
    types = {(r["issue_type"], r["issue_key"])
             for r in store.read("issues").collect()}
    assert ("DUPLICATE_EMAIL", "dup@x.com") in types
    assert ("INVALID_EMAIL", "not-an-email") in types
    assert ("MISSING_REQUIRED_FIELD", "row_5") in types


def test_replay_is_idempotent(env):
    """ADR-001: reprocessing the same message changes no state."""
    store, proc, csv_path = env
    proc.process_job(1, csv_path)
    staging_1 = store.read("staging").count()
    issues_1 = store.read("issues").count()
    links_1 = store.read("issue_items").count()
    # Crash-redelivery: same message again (status now NEEDS_REVIEW, so
    # this routes to reprocess; force the initial path too via a new
    # processor to simulate resume-from-PROCESSING).
    assert proc.initial_batch([(1, csv_path)]) == {}
    assert store.read("staging").count() == staging_1
    assert store.read("issues").count() == issues_1
    assert store.read("issue_items").count() == links_1


def test_discard_one_duplicate_then_reprocess_consolidates(env):
    """ADR-003: DISCARDed rows leave duplicate detection, so the
    surviving duplicate becomes valid; fixing the other rows completes
    the job and consolidation copies READY rows to contacts."""
    store, proc, csv_path = env
    proc.process_job(1, csv_path)
    sid = {r["staging_row_number"]: r["staging_id"]
           for r in store.read("staging").collect()}
    proc.discard_staging_row(sid[3])                       # drop one dup
    proc.update_staging_row(sid[4], email="dee@x.com")     # fix invalid
    proc.update_staging_row(sid[5], email="eve@x.com")     # fix missing
    assert proc.process_job(1, csv_path) == "reprocessed"

    job = _job(store, 1)
    assert job["job_status"] == "COMPLETED"
    st = _statuses(store, 1)
    assert st[2] == "SUCCESS"       # surviving dup became valid
    assert st[3] == "DISCARD"       # stays discarded
    emails = {r["contact_email"]
              for r in store.read("contacts").collect()}
    assert emails == {"ann@x.com", "dup@x.com", "dee@x.com", "eve@x.com"}
    # T8 auto-resolve: every issue resolved by 'system'.
    unresolved = store.read("issues").filter(~F.col("issue_resolved"))
    assert unresolved.count() == 0
    assert {r["issue_resolved_by"]
            for r in store.read("issues").collect()} == {"system"}


def test_unresolve_when_row_fails_again(env):
    """T8 un-resolve: a resolved issue regaining a failing row is
    re-opened (processor.py:529-559)."""
    store, proc, csv_path = env
    proc.process_job(1, csv_path)
    sid = {r["staging_row_number"]: r["staging_id"]
           for r in store.read("staging").collect()}
    # Fix everything; job completes; then a second job re-fails... here:
    # instead resolve the invalid-email issue manually, but leave the row
    # broken — reprocess must keep/re-open it.
    issue = store.read("issues").filter(
        F.col("issue_type") == "INVALID_EMAIL").collect()[0]
    proc.resolve_issue(issue["issue_id"], "reviewer", "looks fine")
    proc.discard_staging_row(sid[3])
    proc.update_staging_row(sid[5], email="eve@x.com")
    proc.process_job(1, csv_path)   # reprocess: row 4 still invalid
    job = _job(store, 1)
    assert job["job_status"] == "NEEDS_REVIEW"
    reopened = store.read("issues").filter(
        F.col("issue_type") == "INVALID_EMAIL").collect()[0]
    assert reopened["issue_resolved"] is False          # un-resolved
    assert reopened["issue_resolved_by"] is None


def test_completed_job_is_skipped(env):
    store, proc, csv_path = env
    proc.process_job(1, csv_path)
    sid = {r["staging_row_number"]: r["staging_id"]
           for r in store.read("staging").collect()}
    proc.discard_staging_row(sid[3])
    proc.update_staging_row(sid[4], email="dee@x.com")
    proc.update_staging_row(sid[5], email="eve@x.com")
    proc.process_job(1, csv_path)
    assert _job(store, 1)["job_status"] == "COMPLETED"
    assert proc.process_job(1, csv_path) == "skipped_completed"  # P8


def test_existing_email_blocked_per_tenant(env, spark, tmp_path):
    """J2/ADR-005 tenant isolation: an email already in contacts blocks
    re-import for the same user but not for another user."""
    store, proc, csv_path = env
    proc.process_job(1, csv_path)
    sid = {r["staging_row_number"]: r["staging_id"]
           for r in store.read("staging").collect()}
    proc.discard_staging_row(sid[3])
    proc.update_staging_row(sid[4], email="dee@x.com")
    proc.update_staging_row(sid[5], email="eve@x.com")
    proc.process_job(1, csv_path)           # completes; ann@x.com exists

    csv2 = str(tmp_path / "job2.csv")
    with open(csv2, "wb") as f:
        f.write(b"email,first_name,last_name,company\n"
                b"ann@x.com,Ann2,Ada2,Acme2\n")
    proc.process_job(2, csv2)
    issues2 = store.read("issues").filter(
        (F.col("issues_job_id") == 2)).collect()
    assert [i["issue_type"] for i in issues2] == ["EXISTING_EMAIL"]

    other = JobProcessor(spark, store, user_id="user-2")
    csv3 = str(tmp_path / "job3.csv")
    with open(csv3, "wb") as f:
        f.write(b"email,first_name,last_name,company\n"
                b"ann@x.com,Ann3,Ada3,Acme3\n")
    other.process_job(3, csv3)
    assert _job(store, 3)["job_status"] == "COMPLETED"   # different tenant


def test_store_vacuum_keeps_current_readable(env):
    store, proc, csv_path = env
    proc.process_job(1, csv_path)          # many publishes per table
    before = store.read("staging").count()
    removed = store.vacuum(keep_last=1)
    if isinstance(store, ControlStore):
        assert removed > 0                 # old parquet versions reclaimed
    else:
        assert removed == 0                # JDBC holds one live version
    assert store.read("staging").count() == before     # current intact
    assert store.read("jobs").count() == 1


def test_resume_after_partial_crash_recreates_issues(env, spark):
    """Crash window between the staging merge and the issues merge: a
    resume must re-derive issues from the same inputs, never consolidate
    a job whose rows are sitting in ISSUE status (ADR-001 resume safety).
    """
    store, proc, csv_path = env
    proc.process_job(1, csv_path)
    # Simulate the crash aftermath: staging is written, issues are not,
    # job never reached a terminal status.
    store.overwrite("issues", store.read("issues").limit(0))
    store.overwrite("issue_items", store.read("issue_items").limit(0))
    proc._set_jobs({1: dict(job_status="PROCESSING")})
    assert proc.initial_batch([(1, csv_path)]) == {}  # SQS redelivery resume
    job = _job(store, 1)
    assert job["job_status"] == "NEEDS_REVIEW"   # NOT silently COMPLETED
    assert job["job_issue_count"] == 3
    assert store.read("issues").count() == 3


def test_staging_reads_prune_by_job_partition(env):
    """SURVEY §1.3 layout: staging partitioned by job -> per-job reads
    show PartitionFilters in the scan (the index-upgrade story)."""
    store, proc, csv_path = env
    if not isinstance(store, ControlStore):
        pytest.skip("partition layout is parquet-store-specific")
    proc.process_job(1, csv_path)
    scan = store.read("staging").filter(F.col("staging_job_id") == 1)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    part_section = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "staging_job_id" in part_section, plan


def test_store_time_travel_history_restore_vacuum(spark, tmp_path):
    """The lakehouse surface of the versioned store: every publish is
    a commit record, old versions stay readable until vacuumed, restore
    commits an old version anew without rewriting data, and vacuum
    retention follows commit order."""
    import pytest as _pytest

    from data_ingestion_worker_spark.control.store import ControlStore

    store = ControlStore(spark, str(tmp_path / "ctl"))
    for i in range(3):
        df = spark.createDataFrame(
            [(100 + i, None, f"u{i}", None, None, "PENDING", None, None,
              None, None, None, None)],
            store.read("jobs").schema,
        )
        store.overwrite("jobs", df)
    # the commit records are the table's only metadata
    import os as _os
    tdir = _os.path.join(store.root, "jobs")
    assert {d for d in _os.listdir(tdir) if not d.startswith("v-")} \
        == {"_commits"}
    hist = store.history("jobs")
    assert [e["operation"] for e in hist] == ["overwrite"] * 3
    assert len({e["version"] for e in hist}) == 3
    v0, v2 = hist[0]["version"], hist[2]["version"]
    assert store.read("jobs").collect()[0].job_id == 102
    assert store.read("jobs", version=v0).collect()[0].job_id == 100
    store.restore("jobs", v0)
    assert store.read("jobs").collect()[0].job_id == 100
    assert store.history("jobs")[-1]["operation"] == "restore"
    # current (restored v0) is never vacuumed; keep_last=1 keeps v2 only
    removed = store.vacuum("jobs", keep_last=1)
    assert removed == 1
    assert store.read("jobs", version=v2).collect()[0].job_id == 102
    with _pytest.raises(FileNotFoundError):
        store.read("jobs", version=hist[1]["version"])
    # commit records of vacuumed versions are pruned too (minus the
    # always-kept latest record), so history lists the kept versions'
    # commits; current still resolves correctly
    assert [e["version"] for e in store.history("jobs")] == [v0, v2, v0]
    live = {d for d in _os.listdir(tdir) if d.startswith("v-")}
    n_commits = len([n for n in _os.listdir(store._commits_dir("jobs"))
                     if n.endswith(".json")])
    assert n_commits <= len(live) + 1
    assert store._current_version("jobs") == v0


def test_store_uncommitted_version_vacuum_order(spark, tmp_path):
    """A version directory with no commit record (a crash between the
    parquet write and the claim) is invisible to readers, and vacuums
    strictly before any committed version regardless of listdir order."""
    import os

    from data_ingestion_worker_spark.control.store import ControlStore

    store = ControlStore(spark, str(tmp_path / "ctl"))
    schema = store.read("jobs").schema
    for i in range(2):
        store.overwrite("jobs", spark.createDataFrame(
            [(i, None, "u", None, None, "PENDING", None, None,
              None, None, None, None)], schema))
    # fabricate an uncommitted version directory, newest mtime
    tdir = os.path.join(store.root, "jobs")
    uncommitted = os.path.join(tdir, "v-uncommitted")
    os.makedirs(uncommitted)
    assert [r.job_id for r in store.read("jobs").collect()] == [1]
    hist = store.history("jobs")
    assert len(hist) == 2
    removed = store.vacuum("jobs", keep_last=1)
    assert removed == 1
    assert not os.path.isdir(uncommitted), \
        "uncommitted dir must vacuum first"
    # both committed versions survive (current + keep_last=1)
    for e in hist:
        assert os.path.isdir(os.path.join(tdir, e["version"]))


def test_store_diff_change_data_feed(spark, tmp_path):
    """diff(v_from, v_to) classifies keys into insert / delete /
    update_postimage, with null-safe value comparison and no phantom
    updates for untouched rows."""
    from data_ingestion_worker_spark.control.store import ControlStore

    store = ControlStore(spark, str(tmp_path / "ctl"))
    schema = store.read("jobs").schema

    def row(job_id, user, status):
        return (job_id, None, user, None, None, status, None, None,
                None, None, None, None)

    store.overwrite("jobs", spark.createDataFrame(
        [row(1, "u1", "PENDING"), row(2, "u2", "PENDING"),
         row(3, None, "PENDING")], schema))
    v0 = store.history("jobs")[-1]["version"]
    store.overwrite("jobs", spark.createDataFrame(
        [row(1, "u1", "PENDING"),        # untouched
         row(3, "u3", "PENDING"),        # NULL -> value update
         row(4, "u4", "RUNNING")],       # insert; 2 deleted
        schema))
    changes = {(r.job_id, r._change_type)
               for r in store.diff("jobs", v0).collect()}
    assert changes == {(4, "insert"), (2, "delete"),
                       (3, "update_preimage"), (3, "update_postimage")}
    # the preimage carries the OLD values (Delta CDF shape)
    pre = [r for r in store.diff("jobs", v0).collect()
           if r._change_type == "update_preimage"]
    assert [(r.job_id, r.job_user_id) for r in pre] == [(3, None)]
    # postimage-only report view on request
    assert {r._change_type
            for r in store.diff("jobs", v0,
                                include_preimages=False).collect()} \
        == {"insert", "delete", "update_postimage"}
    # diffing a version against itself is empty
    assert store.diff("jobs", v0, v0).count() == 0


def test_store_read_where_skips_files_by_manifest(spark, tmp_path):
    """Range reads list only the parquet files whose footer min/max
    intersects the range (file-level data skipping), and return exactly
    the rows a full-scan filter would."""
    from data_ingestion_worker_spark.control.store import ControlStore

    store = ControlStore(spark, str(tmp_path / "ctl"))
    schema = store.read("jobs").schema
    rows = [(i, None, f"u{i}", None, None, "PENDING", None, None,
             None, None, None, None) for i in range(400)]
    df = spark.createDataFrame(rows, schema).repartitionByRange(8, "job_id")
    store.overwrite("jobs", df)

    pruned = store.read_where("jobs", 100, 140)
    full = store.read("jobs")
    expect = sorted(r.job_id for r in full.collect() if 100 <= r.job_id <= 140)
    assert sorted(r.job_id for r in pruned.collect()) == expect
    # the manifest must actually cut the file list, not just filter rows
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    # an empty range reads nothing but keeps the schema
    assert store.read_where("jobs", 10_000, 10_001).count() == 0


def test_store_occ_conflicting_upsert_retries_no_lost_update(
        spark, tmp_path, monkeypatch):
    """Two writers merging from the same base version must both land:
    the second claim of commit slot base+1 fails, and the loser
    re-derives its merge from the winner's version (Delta-style
    optimistic concurrency — no lost update, no silent overwrite)."""
    from data_ingestion_worker_spark.control.store import ControlStore

    store_a = ControlStore(spark, str(tmp_path / "ctl"))
    store_b = ControlStore(spark, str(tmp_path / "ctl"))
    schema = store_a.read("jobs").schema

    def df(job_id, user):
        return spark.createDataFrame(
            [(job_id, None, user, None, None, "PENDING", None, None,
              None, None, None, None)], schema)

    store_a.overwrite("jobs", df(1, "base"))
    base_seq, _ = store_a._latest_commit("jobs")

    real_claim = ControlStore._claim_commit
    raced = {"done": False}

    def racy_claim(self, table, seq, version, operation):
        # Writer B lands its own commit in A's read->claim window, once.
        if not raced["done"]:
            raced["done"] = True
            store_b.upsert("jobs", df(2, "from_b"))
        return real_claim(self, table, seq, version, operation)

    monkeypatch.setattr(ControlStore, "_claim_commit", racy_claim)
    store_a.upsert("jobs", df(3, "from_a"))

    got = {(r.job_id, r.job_user_id) for r in store_a.read("jobs").collect()}
    assert got == {(1, "base"), (2, "from_b"), (3, "from_a")}
    # B claimed base+1, A retried into base+2 — exactly one extra slot
    assert store_a._latest_commit("jobs")[0] == base_seq + 2
    # the orphaned loser version was cleaned up: every v- dir is committed
    import json as _json
    import os as _os
    cdir = store_a._commits_dir("jobs")
    committed = set()
    for n in _os.listdir(cdir):
        if n.endswith(".json"):
            with open(_os.path.join(cdir, n)) as f:
                committed.add(_json.load(f)["version"])
    on_disk = {d for d in _os.listdir(_os.path.join(store_a.root, "jobs"))
               if d.startswith("v-")}
    assert on_disk == committed


def test_store_blind_overwrite_claim_is_bounded(
        spark, tmp_path, monkeypatch):
    """A blind write whose every commit claim loses gives up with
    RuntimeError after _OCC_RETRIES attempts instead of spinning."""
    from data_ingestion_worker_spark.control import store as store_mod

    store = store_mod.ControlStore(spark, str(tmp_path / "ctl"))
    calls = []

    def losing_claim(self, table, seq, version, operation):
        calls.append(seq)
        if len(calls) > 50:
            raise AssertionError("claim loop is unbounded")
        return False

    monkeypatch.setattr(store_mod.ControlStore, "_claim_commit",
                        losing_claim)
    with pytest.raises(RuntimeError, match="could not claim"):
        store.overwrite("jobs", store.read("jobs"))
    assert len(calls) == store_mod._OCC_RETRIES


def test_store_commit_record_fsynced_before_claim(
        spark, tmp_path, monkeypatch):
    """The commit record is the only source of "current": its temp file
    is fsynced before the hard-link that claims the slot, so a power
    loss cannot leave a torn record behind."""
    import os

    from data_ingestion_worker_spark.control.store import ControlStore

    store = ControlStore(spark, str(tmp_path / "ctl"))
    events = []
    real_fsync, real_link = os.fsync, os.link

    def spy_fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        return real_fsync(fd)

    def spy_link(src, dst, *args, **kwargs):
        events.append(("link", os.stat(src).st_ino))
        return real_link(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "link", spy_link)
    store.overwrite("jobs", store.read("jobs"))
    links = [i for i, (kind, _) in enumerate(events) if kind == "link"]
    assert len(links) == 1
    record = events[links[0]][1]
    assert ("fsync", record) in events[:links[0]]


def test_incremental_aggregate_maintenance_matches_recompute(
        spark, tmp_path):
    """maintain_aggregate(prev_agg, diff-with-preimages) must equal the
    full recompute on the new snapshot — inserts/updates/deletes, NULL
    group keys and vanished groups included (incremental view
    maintenance: rollup cost scales with the commit, not the table)."""
    from data_ingestion_worker_spark.control.store import (
        ControlStore,
        compute_aggregate,
        maintain_aggregate,
    )

    store = ControlStore(spark, str(tmp_path / "ctl"))
    schema = store.read("jobs").schema

    def row(job_id, status, total):
        return (job_id, None, "u", None, None, status, total, None,
                None, None, None, None)

    store.overwrite("jobs", spark.createDataFrame(
        [row(1, "PENDING", 10), row(2, "PENDING", 20),
         row(3, "DONE", 5), row(4, None, 7), row(5, "DONE", None)],
        schema))
    v0 = store.history("jobs")[-1]["version"]
    keys, sums = ["job_status"], ["job_total_rows"]
    agg0 = compute_aggregate(store.read("jobs", v0), keys, sums)

    # update (2: PENDING->DONE, total 20->25), delete (3), insert (6),
    # and the only NULL-status row (4) deleted -> that group vanishes
    store.overwrite("jobs", spark.createDataFrame(
        [row(1, "PENDING", 10), row(2, "DONE", 25),
         row(5, "DONE", None), row(6, "NEW", 1)], schema))
    v1 = store.history("jobs")[-1]["version"]

    changes = store.diff("jobs", v0, v1, include_preimages=True)
    pre = changes.filter("_change_type = 'update_preimage'").collect()
    assert [(r.job_id, r.job_status, r.job_total_rows) for r in pre] \
        == [(2, "PENDING", 20)]

    got = {tuple(r) for r in
           maintain_aggregate(agg0, changes, keys, sums).collect()}
    want = {tuple(r) for r in
            compute_aggregate(store.read("jobs", v1), keys, sums).collect()}
    assert got == want
    assert ("NEW", 1, 1) in {(r[0], r[1], r[2]) for r in got}
    assert None not in {r[0] for r in got}, "emptied NULL group must vanish"


def test_store_occ_parallel_writers_all_land(spark, tmp_path):
    """Three genuinely concurrent writer threads, two merges each, no
    orchestration: every row lands (no lost updates) and the commit log
    is a gapless serialization of all six publishes.  Retry-budget
    safety: a writer loses a claim only when another writer commits, so
    with five competing commits total no writer can need more than six
    attempts (< _OCC_RETRIES)."""
    import threading

    from data_ingestion_worker_spark.control.store import ControlStore

    root = str(tmp_path / "ctl")
    base = ControlStore(spark, root)
    schema = base.read("jobs").schema
    base.overwrite("jobs", spark.createDataFrame(
        [(0, None, "base", None, None, "PENDING", None, None,
          None, None, None, None)], schema))
    start_seq, _ = base._latest_commit("jobs")

    errors = []

    def writer(tid: int):
        try:
            store = ControlStore(spark, root)
            for j in range(2):
                job_id = 10 * (tid + 1) + j
                store.upsert("jobs", spark.createDataFrame(
                    [(job_id, None, f"t{tid}", None, None, "PENDING",
                      None, None, None, None, None, None)], schema))
        except Exception as e:  # noqa: BLE001 — surface in the main thread
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    got = {r.job_id for r in base.read("jobs").collect()}
    assert got == {0, 10, 11, 20, 21, 30, 31}
    end_seq, _ = base._latest_commit("jobs")
    assert end_seq == start_seq + 6
    # the commit log is gapless: every slot from 1..end was claimed
    import os as _os
    claimed = sorted(int(n[:-5])
                     for n in _os.listdir(base._commits_dir("jobs"))
                     if n.endswith(".json"))
    assert claimed == list(range(1, end_seq + 1))


@pytest.mark.parametrize("seed", [7, 23, 101])
def test_incremental_aggregate_random_change_mixes(spark, tmp_path, seed):
    """maintain_aggregate == full recompute across randomized
    insert/update/delete mixes, including NULL sums, NULL group keys and
    whole-group churn (seeded, so failures reproduce)."""
    import random

    from data_ingestion_worker_spark.control.store import (
        ControlStore,
        compute_aggregate,
        maintain_aggregate,
    )

    rng = random.Random(seed)
    statuses = ["A", "B", "C", None]

    def snapshot(ids):
        return [(i, None, "u", None, None, rng.choice(statuses),
                 rng.choice([None, rng.randrange(100)]), None,
                 None, None, None, None) for i in sorted(ids)]

    ids0 = set(rng.sample(range(60), 35))
    # v1: drop some, keep some (values re-rolled -> updates or no-ops),
    # insert some fresh
    ids1 = {i for i in ids0 if rng.random() > 0.4} \
        | set(rng.sample(range(60, 90), 12))

    store = ControlStore(spark, str(tmp_path / f"ctl{seed}"))
    schema = store.read("jobs").schema
    store.overwrite("jobs", spark.createDataFrame(snapshot(ids0), schema))
    v0 = store.history("jobs")[-1]["version"]
    keys, sums = ["job_status"], ["job_total_rows"]
    agg0 = compute_aggregate(store.read("jobs", v0), keys, sums)
    store.overwrite("jobs", spark.createDataFrame(snapshot(ids1), schema))
    v1 = store.history("jobs")[-1]["version"]

    got = {tuple(r) for r in maintain_aggregate(
        agg0, store.diff("jobs", v0, v1), keys, sums).collect()}
    want = {tuple(r) for r in compute_aggregate(
        store.read("jobs", v1), keys, sums).collect()}
    assert got == want


def test_store_sync_scoped_snapshot_mirror(spark, tmp_path):
    """sync(scope) makes the scoped slice exactly the snapshot (update +
    insert + delete-missing in ONE commit), leaves rows outside the
    scope untouched, is idempotent on replay, and lands as a single
    'sync' operation in history/CDF."""
    from data_ingestion_worker_spark.control.store import ControlStore

    store = ControlStore(spark, str(tmp_path / "ctl"))
    schema = store.read("jobs").schema

    def row(job_id, user, status):
        return (job_id, None, user, None, None, status, None, None,
                None, None, None, None)

    store.overwrite("jobs", spark.createDataFrame(
        [row(1, "u1", "PENDING"),    # in scope: will be updated
         row(2, "u2", "PENDING"),    # in scope: missing from snapshot
         row(10, "keep", "DONE")],   # outside scope: untouched
        schema))
    v0 = store.history("jobs")[-1]["version"]
    snap = spark.createDataFrame(
        [row(1, "u1b", "RUNNING"),   # update
         row(3, "u3", "PENDING")],   # insert
        schema)
    store.sync("jobs", snap, scope="job_id < 10")

    got = {r.job_id: (r.job_user_id, r.job_status)
           for r in store.read("jobs").collect()}
    assert got == {1: ("u1b", "RUNNING"), 3: ("u3", "PENDING"),
                   10: ("keep", "DONE")}
    assert store.history("jobs")[-1]["operation"] == "sync"
    changes = {(r.job_id, r._change_type)
               for r in store.diff("jobs", v0).collect()}
    assert changes == {(2, "delete"), (3, "insert"),
                       (1, "update_preimage"), (1, "update_postimage")}

    # replaying the same sync is a no-op snapshot-wise
    store.sync("jobs", snap, scope="job_id < 10")
    assert {r.job_id for r in store.read("jobs").collect()} == {1, 3, 10}

    # scope=None mirrors the whole table through the same commit path
    store.sync("jobs", snap, scope=None)
    assert {r.job_id for r in store.read("jobs").collect()} == {1, 3}


@pytest.mark.parametrize("kind", ["parquet", "jdbc"])
def test_store_sync_parity_across_backends(kind, spark, tmp_path):
    """Both store backends expose the same sync contract: scoped
    update+insert+delete-missing in one call, out-of-scope untouched."""
    store = _make_store(kind, spark, tmp_path)
    schema = store.read("jobs").schema

    def row(job_id, user, status):
        return (job_id, None, user, None, None, status, None, None,
                None, None, None, None)

    store.overwrite("jobs", spark.createDataFrame(
        [row(1, "u1", "PENDING"), row(2, "u2", "PENDING"),
         row(10, "keep", "DONE")], schema))
    # scope is in the backend's SQL dialect: Derby resolves unquoted
    # identifiers to uppercase, so the JDBC store needs them quoted
    scope = '"job_id" < 10' if kind == "jdbc" else "job_id < 10"
    store.sync("jobs", spark.createDataFrame(
        [row(1, "u1b", "RUNNING"), row(3, "u3", "PENDING")], schema),
        scope=scope)
    got = {r.job_id: (r.job_user_id, r.job_status)
           for r in store.read("jobs").collect()}
    assert got == {1: ("u1b", "RUNNING"), 3: ("u3", "PENDING"),
                   10: ("keep", "DONE")}


@pytest.mark.parametrize("kind", ["parquet", "jdbc"])
def test_store_sync_null_scope_and_key_collision(kind, spark, tmp_path):
    """Backend-parity edges: a row where the scope predicate evaluates
    NULL is OUTSIDE the scope (kept), and a snapshot key that already
    exists outside the scope is REPLACED, never duplicated."""
    store = _make_store(kind, spark, tmp_path)
    schema = store.read("jobs").schema

    def row(job_id, user, status):
        return (job_id, None, user, None, None, status, None, None,
                None, None, None, None)

    store.overwrite("jobs", spark.createDataFrame(
        [row(1, "u1", "PENDING"),      # in scope, missing from snap
         row(2, "u2", None),           # scope predicate -> NULL: kept
         row(10, "old", "DONE")],      # outside scope, key collides
        schema))
    # Derby quirk (same as read()'s pushdown guard): non-key strings
    # are CLOBs and can't compare to literals without a VARCHAR cast.
    scope = ('CAST("job_status" AS VARCHAR(32000)) = \'PENDING\''
             if kind == "jdbc" else "job_status = 'PENDING'")
    store.sync("jobs", spark.createDataFrame(
        [row(10, "new", "RUNNING")], schema), scope=scope)
    rows = store.read("jobs").collect()
    got = {r.job_id: (r.job_user_id, r.job_status) for r in rows}
    assert len(rows) == len(got) == 2          # no duplicate keys
    assert got == {2: ("u2", None),            # NULL-scope row kept
                   10: ("new", "RUNNING")}     # collided key replaced


def test_store_backends_agree_on_random_op_sequences(spark, tmp_path):
    """Drop-in parity fuzz: the same seeded random sequence of
    overwrite/upsert/delete/sync operations applied to BOTH backends
    must leave identical tables (the contract the JDBC swap relies
    on)."""
    import random

    pq = _make_store("parquet", spark, tmp_path / "pq")
    db = _make_store("jdbc", spark, tmp_path / "db")
    schema = pq.read("jobs").schema

    def row(job_id, user, status):
        return (job_id, None, user, None, None, status, None, None,
                None, None, None, None)

    rng = random.Random(20260815)
    statuses = ["PENDING", "RUNNING", "DONE", None]

    def rand_rows(n):
        ids = rng.sample(range(1, 20), n)
        return [row(i, f"u{rng.randrange(5)}",
                    rng.choice(statuses)) for i in ids]

    base = rand_rows(8)
    for st in (pq, db):
        st.overwrite("jobs", spark.createDataFrame(base, schema))
    for step in range(6):
        op = rng.choice(["upsert", "insert_only", "delete", "sync"])
        if op in ("upsert", "insert_only"):
            batch = spark.createDataFrame(rand_rows(3), schema)
            for st in (pq, db):
                st.upsert("jobs", batch,
                          insert_only=(op == "insert_only"))
        elif op == "delete":
            keys = spark.createDataFrame(
                [(i,) for i in rng.sample(range(1, 20), 3)],
                "job_id bigint")
            for st in (pq, db):
                st.delete("jobs", keys)
        else:
            cut = rng.randrange(5, 15)
            snap = spark.createDataFrame(
                [r for r in rand_rows(3) if r[0] < cut], schema)
            pq.sync("jobs", snap, scope=f"job_id < {cut}")
            db.sync("jobs", snap, scope=f'"job_id" < {cut}')
        a = sorted(map(tuple, pq.read("jobs").collect()))
        b = sorted(map(tuple, db.read("jobs").collect()))
        assert a == b, f"backends diverged after step {step} ({op})"


def test_stage_accounting_is_exclusive():
    """JobProcessor._stage attributes wall time exclusively: a nested
    stage's seconds must not double-count into its parent (consolidate
    runs inside route's frame in the real lifecycle)."""
    import time as _time

    from data_ingestion_worker_spark.control.processor import JobProcessor

    proc = JobProcessor.__new__(JobProcessor)
    proc.stage_seconds = {}
    proc._stage_stack = []
    with proc._stage("route"):
        _time.sleep(0.05)
        with proc._stage("consolidate"):
            _time.sleep(0.05)
    assert set(proc.stage_seconds) == {"route", "consolidate"}
    assert proc.stage_seconds["consolidate"] >= 0.05
    # route's exclusive share excludes the nested consolidate sleep.
    assert proc.stage_seconds["route"] < 0.08
    total = sum(proc.stage_seconds.values())
    assert 0.10 <= total < 0.2


def test_bulk_discard_failing_rows_then_consolidate(env):
    """discard_failing_rows (the set-based 'discard all failing' review
    action) must flip every ISSUE row of the targeted job to DISCARD in
    one write, leave other statuses and other jobs untouched, and let
    reprocess auto-resolve + consolidate."""
    store, proc, csv_path = env
    proc.process_job(1, csv_path)
    before = _statuses(store, 1)
    issue_rows = {k for k, v in before.items() if v == "ISSUE"}
    assert issue_rows, "fixture must produce ISSUE rows"
    versions_before = len(store.history("staging")) \
        if hasattr(store, "history") else None

    n = proc.discard_failing_rows(job_id=1)
    assert n == len(issue_rows)
    after = _statuses(store, 1)
    assert {k for k, v in after.items() if v == "DISCARD"} == issue_rows
    assert {k for k, v in after.items() if v == "READY"} \
        == {k for k, v in before.items() if v == "READY"}
    if versions_before is not None:
        # ONE staging write for the whole bulk action.
        assert len(store.history("staging")) == versions_before + 1
    # Repeating the action is a no-op (nothing left in ISSUE).
    assert proc.discard_failing_rows(job_id=1) == 0

    assert proc.process_job(1, csv_path) == "reprocessed"
    assert _job(store, 1)["job_status"] == "COMPLETED"
