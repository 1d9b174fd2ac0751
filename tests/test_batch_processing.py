"""Batched microbatch processing (r7 verdict ask #1).

``JobProcessor.process_jobs`` runs EVERY job drained by one streaming
trigger through ONE annotate plan and one MERGE per table.  These tests
pin the contract that makes that safe:

- batch end-state == per-job end-state on independent jobs (the
  single-codification guarantee — per-job entry points ARE one-element
  batches, so this is a true A/B through the same code);
- A1 duplicate detection stays per-job inside the shared plan;
- J2 existing-email membership is BATCH-SNAPSHOT (documented divergence:
  two jobs in one batch don't see each other's consolidated contacts —
  the reference has the same race with concurrent workers; a later
  batch does see them);
- per-job ingest failures drop only that job (S3/T10 isolation lifted to
  job level) and the consumer dead-letters them;
- replaying a whole batch is a no-op (ADR-001);
- mixed batches route per job (skip / reprocess / initial);
- the consumer falls back to per-job processing if the shared batch
  plan itself dies;
- dead-letter retries ride the same micro-batch (one ``process_jobs``
  call) and a batch's failures publish one ledger version;
- issue links carry each row's deterministic ``staging_id``.
"""

from __future__ import annotations

import json

from data_ingestion_worker_spark.control import ControlStore, JobProcessor

VALID = (
    "email,first_name,last_name,company\n"
    "{p}1@x.com,A,B,Acme\n"
    "{p}2@x.com,C,D,Acme\n"
)
DIRTY = (
    "email,first_name,last_name,company\n"
    "{p}1@x.com,A,B,Acme\n"
    "{p}dup@x.com,C,D,Acme\n"
    "{p}dup@x.com,E,F,Acme\n"
    "bad-email,G,H,Acme\n"
)


def _csv(tmp_path, name: str, content: str) -> str:
    path = str(tmp_path / name)
    with open(path, "w") as f:
        f.write(content)
    return path


def _snapshot(store) -> dict:
    """Timestamp-free image of every control table."""
    out = {}
    for table, key, drop in [
        ("jobs", ["job_id"], ["job_created_at", "job_process_start",
                              "job_process_end"]),
        ("staging", ["staging_id"], ["staging_created_at"]),
        ("issues", ["issue_id"], ["issue_created_at", "issue_resolved_at"]),
        ("issue_items", ["issue_item_id"], []),
        ("contacts", ["contact_id"], ["contact_created_at"]),
    ]:
        df = store.read(table).drop(*drop)
        out[table] = sorted(
            tuple(r) for r in df.select(sorted(df.columns)).collect()
        )
    return out


def test_batch_equals_per_job_end_state(spark, tmp_path):
    jobs = [
        (1, _csv(tmp_path, "j1.csv", VALID.format(p="a"))),
        (2, _csv(tmp_path, "j2.csv", DIRTY.format(p="b"))),
        (3, _csv(tmp_path, "j3.csv", VALID.format(p="c"))),
    ]
    batch_store = ControlStore(spark, str(tmp_path / "batch"))
    actions, errors = JobProcessor(spark, batch_store).process_jobs(jobs)
    assert errors == {}
    assert actions == {1: "initial", 2: "initial", 3: "initial"}

    seq_store = ControlStore(spark, str(tmp_path / "seq"))
    seq = JobProcessor(spark, seq_store)
    for job_id, path in jobs:
        assert seq.process_job(job_id, path) == "initial"

    assert _snapshot(batch_store) == _snapshot(seq_store)
    # Sanity on the states themselves: clean jobs completed, dirty one
    # stalled in review with its three issues.
    jrows = {r["job_id"]: r for r in batch_store.read("jobs").collect()}
    assert jrows[1]["job_status"] == "COMPLETED"
    assert jrows[3]["job_status"] == "COMPLETED"
    assert jrows[2]["job_status"] == "NEEDS_REVIEW"
    assert jrows[2]["job_issue_count"] == 2   # 1 dup issue + 1 invalid


def test_batch_duplicate_detection_is_per_job(spark, tmp_path):
    """The same email in two different jobs of one batch is NOT an A1
    duplicate (the reference scans one file at a time); within a job it
    is.  And J2 is batch-snapshot: the shared email becomes an
    EXISTING_EMAIL issue only for a LATER batch."""
    shared = (
        "email,first_name,last_name,company\n"
        "same@x.com,A,B,Acme\n"
    )
    store = ControlStore(spark, str(tmp_path / "ctl"))
    proc = JobProcessor(spark, store)
    actions, errors = proc.process_jobs([
        (1, _csv(tmp_path, "j1.csv", shared)),
        (2, _csv(tmp_path, "j2.csv", shared)),
    ])
    assert errors == {} and set(actions) == {1, 2}
    jrows = {r["job_id"]: r["job_status"]
             for r in store.read("jobs").collect()}
    # Neither DUPLICATE_EMAIL (per-job window) nor EXISTING_EMAIL
    # (batch-start contacts snapshot was empty): both complete.
    assert jrows == {1: "COMPLETED", 2: "COMPLETED"}
    assert store.read("issues").count() == 0

    # A later batch DOES see the consolidated contacts (J2).
    actions, _ = proc.process_jobs([(3, _csv(tmp_path, "j3.csv", shared))])
    assert actions == {3: "initial"}
    issues = store.read("issues").collect()
    assert [r["issue_type"] for r in issues] == ["EXISTING_EMAIL"]


def test_batch_ingest_failure_isolated(spark, tmp_path):
    store = ControlStore(spark, str(tmp_path / "ctl"))
    proc = JobProcessor(spark, store)
    good = _csv(tmp_path, "good.csv", VALID.format(p="g"))
    actions, errors = proc.process_jobs([
        (1, good),
        (2, str(tmp_path / "missing.csv")),
        (3, _csv(tmp_path, "g3.csv", VALID.format(p="h"))),
    ])
    assert set(errors) == {2}
    assert actions == {1: "initial", 3: "initial"}
    jrows = {r["job_id"]: r["job_status"]
             for r in store.read("jobs").collect()}
    assert jrows[1] == "COMPLETED" and jrows[3] == "COMPLETED"
    # The failed job keeps its row (ensured) but never routed.
    assert jrows[2] == "PROCESSING"


def test_batch_replay_is_idempotent(spark, tmp_path):
    store = ControlStore(spark, str(tmp_path / "ctl"))
    proc = JobProcessor(spark, store)
    jobs = [(1, _csv(tmp_path, "j1.csv", DIRTY.format(p="a"))),
            (2, _csv(tmp_path, "j2.csv", DIRTY.format(p="b")))]
    proc.process_jobs(jobs)
    before = _snapshot(store)
    # Redelivery of the whole microbatch (both jobs now NEEDS_REVIEW
    # with staging -> the reprocess_batch path; then force the initial
    # path too, as a crash-resume would).
    proc.process_jobs(jobs)
    proc.initial_batch(jobs)
    after = _snapshot(store)
    for table in before:
        if table == "jobs":
            continue   # job_status flaps PROCESSING->NEEDS_REVIEW is ok
        assert before[table] == after[table], table
    jrows = {r["job_id"]: r for r in store.read("jobs").collect()}
    assert all(r["job_status"] == "NEEDS_REVIEW" for r in jrows.values())
    assert all(r["job_issue_count"] == 2 for r in jrows.values())


def test_mixed_batch_routes_per_job(spark, tmp_path):
    store = ControlStore(spark, str(tmp_path / "ctl"))
    proc = JobProcessor(spark, store)
    clean = _csv(tmp_path, "clean.csv", VALID.format(p="a"))
    dirty = _csv(tmp_path, "dirty.csv", DIRTY.format(p="b"))
    proc.process_jobs([(1, clean), (2, dirty)])   # 1 COMPLETED, 2 review
    fresh = _csv(tmp_path, "fresh.csv", VALID.format(p="c"))
    actions, errors = proc.process_jobs(
        [(1, clean), (2, dirty), (3, fresh)])
    assert errors == {}
    assert actions == {1: "skipped_completed", 2: "reprocessed",
                       3: "initial"}
    jrows = {r["job_id"]: r["job_status"]
             for r in store.read("jobs").collect()}
    assert jrows == {1: "COMPLETED", 2: "NEEDS_REVIEW", 3: "COMPLETED"}


def test_consumer_batches_and_dead_letters(spark, tmp_path):
    """Consumer drains a mixed inbox through the batched path: good
    jobs complete in one shared plan, the missing-CSV job dead-letters,
    poison messages vanish."""
    from data_ingestion_worker_spark.streaming import JobStreamConsumer

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    good1 = _csv(tmp_path, "g1.csv", VALID.format(p="a"))
    good2 = _csv(tmp_path, "g2.csv", VALID.format(p="b"))
    lines = [
        json.dumps({"job_id": 1, "s3_key": good1}),
        "not json at all {{{",
        json.dumps({"job_id": 2, "s3_key": str(tmp_path / "nope.csv")}),
        json.dumps({"job_id": 3, "s3_key": good2}),
    ]
    (inbox / "jobs.json").write_text("\n".join(lines) + "\n")
    store = ControlStore(spark, str(tmp_path / "ctl"))
    consumer = JobStreamConsumer(spark, store, str(inbox),
                                 str(tmp_path / "ckpt"))
    consumer.start(available_now=True).awaitTermination(300)
    results = dict(consumer.results)
    assert results[1] == "initial" and results[3] == "initial"
    assert results[2].startswith("error:")
    dlq = store.read("dead_letters").collect()
    assert [r["dlq_job_id"] for r in dlq] == [2]
    jrows = {r["job_id"]: r["job_status"]
             for r in store.read("jobs").collect()}
    assert jrows[1] == "COMPLETED" and jrows[3] == "COMPLETED"


def test_consumer_falls_back_per_job_when_batch_plan_dies(
        spark, tmp_path, monkeypatch):
    """If the shared batch plan itself raises (not a per-job ingest
    error), the consumer degrades to the per-job loop so one poisonous
    job cannot wedge the microbatch."""
    from data_ingestion_worker_spark.streaming import JobStreamConsumer

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    lines = [
        json.dumps({"job_id": 1,
                    "s3_key": _csv(tmp_path, "g1.csv",
                                   VALID.format(p="a"))}),
        json.dumps({"job_id": 2,
                    "s3_key": _csv(tmp_path, "g2.csv",
                                   VALID.format(p="b"))}),
    ]
    (inbox / "jobs.json").write_text("\n".join(lines) + "\n")
    store = ControlStore(spark, str(tmp_path / "ctl"))
    consumer = JobStreamConsumer(spark, store, str(inbox),
                                 str(tmp_path / "ckpt"))

    real = consumer.processor.process_jobs

    def boom(jobs):
        # The per-job fallback path routes through one-element batches
        # of the same code — fail only the multi-job call.
        if len(jobs) > 1:
            raise RuntimeError("batch plan died")
        return real(jobs)

    monkeypatch.setattr(consumer.processor, "process_jobs", boom)
    consumer.start(available_now=True).awaitTermination(300)
    assert dict(consumer.results) == {1: "initial", 2: "initial"}
    jrows = {r["job_id"]: r["job_status"]
             for r in store.read("jobs").collect()}
    assert jrows == {1: "COMPLETED", 2: "COMPLETED"}


def test_batch_resume_after_partial_crash(spark, tmp_path, monkeypatch):
    """Crash mid-BATCH: the issues MERGE dies after the staging MERGE
    landed for BOTH jobs of a microbatch.  Redelivering the whole batch
    must re-derive issues from the same inputs and converge — ADR-001
    resume safety, lifted to the one-MERGE-per-table-per-batch path."""
    from data_ingestion_worker_spark.control.store import ControlStore as CS

    store = ControlStore(spark, str(tmp_path / "ctl"))
    proc = JobProcessor(spark, store)
    jobs = [(1, _csv(tmp_path, "j1.csv", DIRTY.format(p="a"))),
            (2, _csv(tmp_path, "j2.csv", DIRTY.format(p="b")))]

    real_upsert = CS.upsert

    def crashing_upsert(self, table, updates, insert_only=False):
        if table == "issues":
            raise RuntimeError("crash before issues merge")
        return real_upsert(self, table, updates, insert_only=insert_only)

    monkeypatch.setattr(CS, "upsert", crashing_upsert)
    try:
        proc.initial_batch(jobs)
        raise AssertionError("crash did not propagate")
    except RuntimeError:
        pass
    monkeypatch.setattr(CS, "upsert", real_upsert)
    # Staging landed, issues did not, no terminal status reached.
    assert store.read("staging").count() == 8
    assert store.read("issues").count() == 0

    actions, errors = proc.process_jobs(jobs)    # redelivery resume
    assert errors == {}
    jrows = {r["job_id"]: r for r in store.read("jobs").collect()}
    # NOT silently COMPLETED: the re-derived issues hold both jobs.
    assert all(r["job_status"] == "NEEDS_REVIEW" for r in jrows.values())
    assert all(r["job_issue_count"] == 2 for r in jrows.values())
    assert store.read("issues").count() == 4


def test_batch_duplicate_message_last_key_wins(spark, tmp_path):
    """ADVICE r8: two messages for the SAME job inside one trigger —
    the later one carrying a corrected s3_key — must process the
    corrected key, mirroring the retry path's fresh_keys override (the
    old first-wins dedup silently dropped the correction)."""
    store = ControlStore(spark, str(tmp_path / "ctl"))
    proc = JobProcessor(spark, store)
    bad = str(tmp_path / "missing.csv")           # never written
    good = _csv(tmp_path, "good.csv", VALID.format(p="v"))
    actions, errors = proc.process_jobs([(1, bad), (1, good)])
    assert errors == {}, errors
    assert actions == {1: "initial"}
    staged = store.read("staging").count()
    assert staged == 2  # the corrected CSV's two rows, not an ingest error


def _process_messages(consumer, spark, msgs):
    """Feed one micro-batch of job messages to the consumer's
    ``foreachBatch`` body directly."""
    batch = spark.createDataFrame(
        [(json.dumps({"job_id": j, "s3_key": k}),) for j, k in msgs],
        "value string")
    consumer._process_batch(batch, 0)


def test_retry_rides_the_micro_batch(spark, tmp_path, monkeypatch):
    """A RETRYING dead letter and a fresh message share ONE
    ``process_jobs`` call: the retry (whose CSV has since appeared)
    succeeds and leaves the ledger, the fresh job's failure is its
    first attempt."""
    from data_ingestion_worker_spark.streaming import JobStreamConsumer

    store = ControlStore(spark, str(tmp_path / "ctl"))
    consumer = JobStreamConsumer(spark, store, str(tmp_path / "inbox"),
                                 str(tmp_path / "ckpt"))
    late = str(tmp_path / "late.csv")
    _process_messages(consumer, spark, [(1, late)])
    dl = store.read("dead_letters").collect()
    assert [(r["dlq_job_id"], r["dlq_status"]) for r in dl] == [
        (1, "RETRYING")]

    _csv(tmp_path, "late.csv", VALID.format(p="a"))
    missing = str(tmp_path / "missing.csv")
    calls = []
    real = consumer.processor.process_jobs

    def spy(jobs):
        calls.append(list(jobs))
        return real(jobs)

    monkeypatch.setattr(consumer.processor, "process_jobs", spy)
    _process_messages(consumer, spark, [(2, missing)])
    assert calls == [[(1, late), (2, missing)]]
    assert consumer.results[1] == (1, "initial")
    assert consumer.results[2][0] == 2
    assert consumer.results[2][1].startswith("error:")
    dl = store.read("dead_letters").collect()
    assert [(r["dlq_job_id"], r["dlq_attempts"], r["dlq_status"])
            for r in dl] == [(2, 1, "RETRYING")]
    jrows = {r["job_id"]: r["job_status"]
             for r in store.read("jobs").collect()}
    assert jrows[1] == "COMPLETED"


def test_batch_failures_publish_one_ledger_version(spark, tmp_path):
    """Two failures in one micro-batch are recorded by ONE dead_letters
    MERGE; both budgets exhausted at once fail both jobs."""
    from data_ingestion_worker_spark.streaming import JobStreamConsumer

    store = ControlStore(spark, str(tmp_path / "ctl"))
    consumer = JobStreamConsumer(spark, store, str(tmp_path / "inbox"),
                                 str(tmp_path / "ckpt"),
                                 max_receive_count=1)
    before = len(store.history("dead_letters"))
    _process_messages(consumer, spark, [(1, str(tmp_path / "m1.csv")),
                                        (2, str(tmp_path / "m2.csv"))])
    assert len(store.history("dead_letters")) == before + 1
    dl = sorted((r["dlq_job_id"], r["dlq_attempts"], r["dlq_status"])
                for r in store.read("dead_letters").collect())
    assert dl == [(1, 1, "DEAD"), (2, 1, "DEAD")]
    jrows = {r["job_id"]: r for r in store.read("jobs").collect()}
    assert {j: r["job_status"] for j, r in jrows.items()} == {
        1: "FAILED", 2: "FAILED"}
    assert all("m%d.csv" % j in r["job_error"] for j, r in jrows.items())


def test_issue_links_equal_staging_join_reference(spark, tmp_path):
    """The links built from the batch's own ``staging_id`` are exactly
    the pairs a join of the failing rows to staging on
    (job, row_number) gives."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from data_ingestion_worker_spark.control.processor import (
        JOB_COL,
        _project_contacts,
    )
    from data_ingestion_worker_spark.functions.hashing import hash64
    from data_ingestion_worker_spark.ingest.csv_reader import (
        read_contacts_csv,
    )

    store = ControlStore(spark, str(tmp_path / "ctl"))
    proc = JobProcessor(spark, store)
    jobs = [(1, _csv(tmp_path, "j1.csv", DIRTY.format(p="a"))),
            (2, _csv(tmp_path, "j2.csv", DIRTY.format(p="b")))]
    batch = reduce(DataFrame.unionByName, [
        _project_contacts(read_contacts_csv(spark, path))
        .withColumn(JOB_COL, F.lit(j).cast("long")) for j, path in jobs])
    failing = [
        tuple(r) for r in proc._annotate(batch, job_col=JOB_COL)
        .filter(F.col("issue_type").isNotNull())
        .select(JOB_COL, "issue_type", "issue_key", "row_number").collect()
    ]
    assert proc.initial_batch(jobs) == {}

    staging = store.read("staging").select(
        "staging_job_id", "staging_row_number", "staging_id")
    ref = {
        (r[0], r[1]) for r in spark.createDataFrame(
            failing,
            f"{JOB_COL} long, issue_type string, issue_key string, "
            "row_number long",
        ).join(
            staging,
            (F.col(JOB_COL) == F.col("staging_job_id"))
            & (F.col("row_number") == F.col("staging_row_number")),
        ).select(
            hash64(F.concat_ws(":", JOB_COL, "issue_type", "issue_key")),
            "staging_id",
        ).collect()
    }
    links = {(r["item_issue_id"], r["item_staging_id"])
             for r in store.read("issue_items").collect()}
    assert len(ref) == 6   # per job: two duplicate rows + one bad email
    assert links == ref
