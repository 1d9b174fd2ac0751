"""The reference's job lifecycle as set-based Spark flows.

Reference: ``src/processor.py`` — a sequential per-row loop over three
entry points (initial §3.2, reprocessing §3.3, consolidation §3.4 of
SURVEY.md).  Here each lifecycle step is a handful of DataFrame plans and
one MERGE per table per MICROBATCH — not per job: all jobs drained by one
streaming trigger go through ONE annotate plan, ONE staging MERGE, ONE
issues MERGE, ONE links MERGE and ONE routing write (the per-job form
paid ~8 versioned-table writes per job, each a fixed-latency Spark job,
which is what capped the streaming lifecycle at ~12 jobs/min on
local[32]).  The entry points are the batch forms (``process_jobs``,
``initial_batch``, ``reprocess_batch``); ``process_job`` is a one-element
batch of the same code path, so there is exactly one codification of
each flow.

Per-microbatch fixed costs are kept in the JVM and paid once:

- the annotated batch is computed ONCE per batch — persisted, then read
  by the row-count collect and the staging / issues / links MERGEs, and
  unpersisted when the batch's writes are done — so the CSV scans, the
  ``row_number`` sort, the J2 join and the row hash run once, not once
  per consumer;
- every driver-side row set (job inserts and point updates) is a
  :func:`~.store.literal_frame` relation, never ``createDataFrame``,
  so no plan the worker writes starts a Python worker.

Semantics preserved (and pinned by tests/test_flow.py +
tests/test_batch_processing.py):

- **T3 routing** (processor.py:43-122): COMPLETED -> skip;
  NEEDS_REVIEW + staging -> reprocess; otherwise initial (resume-safe).
- **ADR-001 idempotency**: row identity = sha256 canonical hash (F5);
  replaying a batch changes nothing (J5 anti-join + insert-only MERGEs).
- **ADR-002**: only *unresolved* issues block consolidation and are
  counted in job_issue_count.
- **ADR-003**: reprocessing validates the (possibly user-edited) staging
  rows, never the CSV; DISCARDed rows are excluded from both duplicate
  detection and validation, so discarding one of two duplicates makes the
  survivor valid.
- **T6 get_or_create**: existing (job, type, key) issues keep their state.
- **T8 auto-resolve / un-resolve**: an issue whose linked rows all left
  ISSUE status resolves as 'system'; a resolved issue that regains a
  failing row has its resolution cleared (processor.py:499-559,
  issue_repository.py:226-272).
- **T9 consolidation**: READY rows -> contacts (insert-only on the unique
  staging_id FK), staging -> SUCCESS, job -> COMPLETED; zero READY rows
  still completes (processor.py:750-756).  Cross-table atomicity is
  replaced by idempotent write ordering (contacts first — a replay after
  any crash point converges), mirroring the reference's restart story.

Batch-snapshot note: within one batch the J2 existing-email check reads
the contacts table as of batch START, so job B does not see contacts
that job A (same batch) consolidates.  The reference has the same
non-determinism whenever two workers poll SQS concurrently (its
transaction only guards one job); strictly sequential semantics are
recoverable by processing jobs one per batch (consumer
``maxFilesPerTrigger`` / one-element batches).  A1 duplicate
detection is per-job either way — the (job, email) window.

Deterministic ids replace DB sequences (replay-safe by construction):
staging_id = job_id * 10^9 + row_number; issue_id / issue_item_id from
the 60-bit md5 hash of their natural keys.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import hash64
from ..functions.validation import normalize_email
from ..ingest.csv_reader import read_contacts_csv
from ..plans.validation_pipeline import annotate_contacts
from .store import SCHEMAS, ControlStore, literal_frame

REQUIRED = ["email", "first_name", "last_name", "company"]

#: Passenger column carrying each row's job id through the shared
#: multi-job plans (annotate / MERGEs).  Long, never NULL.
JOB_COL = "batch_job_id"

#: Sentinel value for :meth:`JobProcessor._set_jobs`: "set this column
#: to the batch's shared ``current_timestamp()``" (literal rows can't
#: carry an unevaluated SQL expression; the sentinel keeps the update
#: relation a plain literal frame while preserving the reference's
#: server-side timestamp semantics).
NOW = object()


class JobProcessor:
    """Set-based twin of the reference Processor (src/processor.py)."""

    def __init__(self, spark: SparkSession, store: ControlStore,
                 user_id: str = "user-1") -> None:
        self.spark = spark
        self.store = store
        self.user_id = user_id
        #: Cumulative EXCLUSIVE wall seconds per lifecycle stage
        #: (ingest / validate / route / consolidate) — the streaming
        #: bench reads this so a jobs/min move is attributable to a
        #: stage instead of being one opaque number (r6 verdict ask #3).
        self.stage_seconds: dict[str, float] = {}
        self._stage_stack: list[float] = []

    @contextmanager
    def _stage(self, name: str):
        """Attribute wall time to ``name``, exclusive of nested stages
        (consolidate runs inside route's frame; its time must not be
        double-counted)."""
        start = time.perf_counter()
        self._stage_stack.append(0.0)
        try:
            yield
        finally:
            elapsed = time.perf_counter() - start
            child = self._stage_stack.pop()
            self.stage_seconds[name] = (
                self.stage_seconds.get(name, 0.0) + elapsed - child)
            if self._stage_stack:
                self._stage_stack[-1] += elapsed

    # ------------------------------------------------------------------ T3

    def process_job(self, job_id: int, csv_path: str) -> str:
        """Routing state machine; returns the action taken.  One-element
        batch of :meth:`process_jobs`; an ingest failure re-raises (the
        caller owns dead-lettering — streaming/consumer.py)."""
        actions, errors = self.process_jobs([(job_id, csv_path)])
        if job_id in errors:
            raise errors[job_id]
        return actions[job_id]

    def process_jobs(
        self, jobs: list[tuple[int, str]],
    ) -> tuple[dict[int, str], dict[int, Exception]]:
        """Route + process EVERY job of a microbatch through shared plans.

        Returns ``(actions, errors)``: per-job action string
        (skipped_completed / reprocessed / initial), and per-job ingest
        exceptions (a job whose CSV cannot be read drops out of the
        batch without failing the others — reference S3/T10 row-level
        isolation, lifted to job level).  The routing reads are one
        jobs-table collect + one staging existence aggregate, bounded by
        message count — control-plane, never data-plane.
        """
        if not jobs:
            return {}, {}
        # Duplicate message for the same job inside one trigger: keep
        # ONE entry (a literal duplicate inside one shared plan would
        # double the pre-MERGE frames) carrying the LAST key seen — a
        # later same-trigger message with a corrected s3_key must win,
        # mirroring the retry path's fresh_keys override (a first-key
        # policy silently dropped the correction).
        last_key = {j: k for j, k in jobs}
        seen: set[int] = set()
        jobs = [(j, last_key[j]) for j, _ in jobs
                if not (j in seen or seen.add(j))]
        ids = [j for j, _ in jobs]
        status = {
            int(r["job_id"]): r["job_status"]
            for r in self.store.read("jobs")
            .filter(F.col("job_id").isin(ids))
            .select("job_id", "job_status").collect()
        }
        has_staging = {
            int(r["staging_job_id"])
            for r in self.store.read("staging")
            .filter(F.col("staging_job_id").isin(ids))
            .select("staging_job_id").distinct().collect()
        }
        actions: dict[int, str] = {}
        to_initial: list[tuple[int, str]] = []
        to_reprocess: list[int] = []
        for job_id, csv_path in jobs:
            st = status.get(job_id)
            if st == "COMPLETED":
                actions[job_id] = "skipped_completed"       # P8 guard
            elif st == "NEEDS_REVIEW" and job_id in has_staging:
                to_reprocess.append(job_id)
                actions[job_id] = "reprocessed"
            else:
                to_initial.append((job_id, csv_path))
                actions[job_id] = "initial"
        if to_reprocess:
            self.reprocess_batch(to_reprocess)
        errors: dict[int, Exception] = {}
        if to_initial:
            errors = self.initial_batch(to_initial)
            for job_id in errors:
                actions.pop(job_id, None)
        return actions, errors

    def _ensure_jobs(self, jobs: list[tuple[int, str]]) -> None:
        new = literal_frame(
            self.spark,
            [(j, self.user_id, k, "PENDING") for j, k in jobs],
            T.StructType([SCHEMAS["jobs"][c] for c in (
                "job_id", "job_user_id", "job_s3_object_key", "job_status")]),
        ).withColumn("job_created_at", F.current_timestamp())
        self.store.upsert("jobs", _pad(new, "jobs"),
                          insert_only=True)

    def _set_jobs(self, updates: dict[int, dict[str, object]]) -> None:
        """Point-update several job rows in ONE published table version.

        Values are plain Python literals (cast to the jobs-table column
        type) or the module sentinel :data:`NOW`, which resolves to ONE
        shared ``current_timestamp()`` for the whole batch.

        Join-against-updates shape (a chained CASE would stack an
        O(jobs-in-batch)-deep ``when`` tree per column): the updates
        become ONE :func:`~.store.literal_frame` relation regardless of
        batch size (a union of one-row projections per job would make a
        drain of thousands of messages pay thousands of union legs in
        driver-side analysis), broadcast-joined to the jobs table once.
        Per-column ``_has`` flags distinguish "set to NULL" from "not
        updated", ``_now`` flags mark the shared-timestamp sentinel, and
        every output expression is depth-1 regardless of batch size.
        """
        if not updates:
            return
        jobs = self.store.read("jobs")
        types = {f.name: f.dataType for f in jobs.schema.fields}
        names: list[str] = []
        for cols in updates.values():
            for name in cols:
                if name not in names:
                    names.append(name)
        fields = [T.StructField("_upd_job_id", T.LongType())]
        for name in names:
            fields.append(T.StructField(f"_new_{name}", types[name]))
            fields.append(T.StructField(f"_has_{name}", T.BooleanType()))
            fields.append(T.StructField(f"_now_{name}", T.BooleanType()))
        rows = []
        for job_id, cols in updates.items():
            row: list[object] = [int(job_id)]
            for name in names:
                if name in cols:
                    v = cols[name]
                    row += [None if v is NOW else v, True, v is NOW]
                else:
                    row += [None, False, False]
            rows.append(tuple(row))
        upd = literal_frame(self.spark, rows, T.StructType(fields))
        joined = jobs.join(F.broadcast(upd),
                           jobs["job_id"] == upd["_upd_job_id"], "left")
        new_cols = {
            name: F.when(
                F.coalesce(F.col(f"_has_{name}"), F.lit(False)),
                F.when(F.col(f"_now_{name}"), F.current_timestamp()
                       .cast(types[name]))
                .otherwise(F.col(f"_new_{name}")),
            ).otherwise(F.col(name))
            for name in names
        }
        out = joined.withColumns(new_cols).select(*jobs.columns)
        self.store.overwrite("jobs", out)

    # --------------------------------------------------------------- §3.2

    def initial_batch(
        self, jobs: list[tuple[int, str]],
    ) -> dict[int, Exception]:
        """§3.2 for a whole microbatch: one annotate plan, one MERGE per
        table.  Returns per-job ingest exceptions (those jobs stay
        PROCESSING and are retried/dead-lettered by the caller; the
        others complete normally)."""
        self._ensure_jobs(jobs)
        self._set_jobs({
            j: dict(job_status="PROCESSING", job_process_start=NOW)
            for j, _ in jobs
        })

        errors: dict[int, Exception] = {}
        with self._stage("ingest"):
            parts = []
            for job_id, csv_path in jobs:
                # Per-job error isolation at the only per-job seam left:
                # dialect sniffing / file access (driver-side, bounded
                # prefix reads).  A job whose CSV is missing must not
                # take down the batch plan.
                try:
                    raw = read_contacts_csv(self.spark, csv_path)
                    parts.append(
                        _project_contacts(raw).withColumn(
                            JOB_COL, F.lit(job_id).cast("long"))
                    )
                except Exception as e:  # noqa: BLE001
                    errors[job_id] = e
            if not parts:
                return errors
            # Deterministic staging id (module docstring), computed once:
            # the staging MERGE and the issue links both carry it.
            batch = reduce(DataFrame.unionByName, parts).withColumn(
                "staging_id",
                F.col(JOB_COL) * F.lit(1_000_000_000).cast("long")
                + F.col("row_number"))

        with self._stage("validate"):
            # Annotate the FULL batch every run (crash-resume safety):
            # issues are re-derived from the same inputs on replay, so a
            # crash between the staging merge and the issues merge cannot
            # leave ISSUE rows with no issue records and let consolidation
            # slip through.  Idempotency comes from the insert-only MERGEs
            # below (the J5 anti-join on (job_id, row_hash) lives inside
            # store.upsert), not from pre-shrinking the batch.
            annot = self._annotate(batch, job_col=JOB_COL).persist()
            try:
                # The J2 left join is against DISTINCT existing emails, so
                # the annotated batch keeps every CSV row exactly once.
                totals = {
                    int(r[JOB_COL]): int(r["cnt"])
                    for r in annot.groupBy(JOB_COL)
                    .agg(F.count(F.lit(1)).alias("cnt")).collect()
                }
                for job_id, _ in jobs:
                    if job_id not in errors:
                        totals.setdefault(job_id, 0)

                # Staging MERGE (insert-only on (job_id, row_hash) —
                # ADR-001).
                staging_new = annot.select(
                    F.col("staging_id"),
                    F.col(JOB_COL).alias("staging_job_id"),
                    F.col("email").alias("staging_email"),
                    F.col("first_name").alias("staging_first_name"),
                    F.col("last_name").alias("staging_last_name"),
                    F.col("company").alias("staging_company"),
                    F.current_timestamp().alias("staging_created_at"),
                    F.when(F.col("issue_type").isNull(), "READY")
                     .otherwise("ISSUE").alias("staging_status"),
                    F.col("row_hash").alias("staging_row_hash"),
                    F.col("row_number").alias("staging_row_number"),
                )
                self.store.upsert(
                    "staging", _pad(staging_new, "staging"),
                    insert_only=True)

                # Mid-job heartbeat (reference T4:
                # src/processor.py:179,216-233 bumps job_processed_rows
                # every 10 rows; the set-based analogue is a stage
                # boundary): staging is merged, issues not yet derived —
                # publish the counts now so a status poll during a long
                # batch sees movement before the terminal route lands.
                self._set_jobs({
                    j: dict(job_total_rows=int(n), job_processed_rows=int(n))
                    for j, n in totals.items()
                })

                self._merge_issues_and_links(
                    annot.filter(F.col("issue_type").isNotNull()))
            finally:
                annot.unpersist()

        self._route_batch(list(totals), totals=totals)
        return errors

    # --------------------------------------------------------------- §3.3

    def reprocess_batch(self, ids: list[int]) -> None:
        """§3.3 for a whole microbatch: one annotate plan over every
        job's live staging rows, one write per table."""
        self._set_jobs({j: dict(job_status="PROCESSING") for j in ids})
        with self._stage("validate"):
            all_staging = self.store.read("staging")
            staging = all_staging.filter(F.col("staging_job_id").isin(ids))
            batch = staging.select(
                F.col("staging_id"),
                F.col("staging_job_id").alias(JOB_COL),
                F.col("staging_email").alias("email"),
                F.col("staging_first_name").alias("first_name"),
                F.col("staging_last_name").alias("last_name"),
                F.col("staging_company").alias("company"),
                F.col("staging_row_number").alias("row_number"),
                F.col("staging_status"),
            )
            live = batch.filter(F.col("staging_status") != "DISCARD")  # P4
            annot = self._annotate(live, job_col=JOB_COL).persist()
            try:
                # Flip staging statuses set-wise (READY vs ISSUE; DISCARD
                # kept) — staging_id is globally unique, so one left join
                # of the one staging read covers every job in the batch
                # and leaves other jobs' rows untouched.
                status_updates = annot.select(
                    "staging_id",
                    F.when(F.col("issue_type").isNull(), "READY")
                     .otherwise("ISSUE").alias("new_status"),
                )
                self.store.overwrite("staging", (
                    all_staging.join(status_updates, "staging_id", "left")
                    .withColumn(
                        "staging_status",
                        F.coalesce("new_status", "staging_status"),
                    )
                    .drop("new_status")
                ))

                failing = annot.filter(F.col("issue_type").isNotNull())
                self._merge_issues_and_links(failing)

                # T8 un-resolve: resolved issues that regained a failing
                # row.
                regained = failing.select(
                    F.col(JOB_COL).alias("issues_job_id"),
                    "issue_type", "issue_key")
                cleared = (
                    self.store.read("issues").join(
                        regained,
                        ["issues_job_id", "issue_type", "issue_key"],
                        "left_semi",
                    )
                    .filter(F.col("issue_resolved"))
                    .withColumn("issue_resolved", F.lit(False))
                    .withColumn("issue_resolved_at",
                                F.lit(None).cast("timestamp"))
                    .withColumn("issue_resolved_by",
                                F.lit(None).cast("string"))
                    .withColumn("issue_resolution_comment",
                                F.lit(None).cast("string"))
                )
                self.store.upsert("issues", cleared)
            finally:
                annot.unpersist()
            self._auto_resolve(ids)
        self._route_batch(ids)

    # --------------------------------------------------------------- §3.4

    def _consolidate_batch(self, ids: list[int]) -> None:
        """Contacts insert + staging SUCCESS flip for every listed job —
        the job-status write is the CALLER's (so a routing batch can fold
        it into its single jobs write).  Idempotent order preserved:
        contacts first (insert-only on the staging_id FK), then staging,
        then status — any crash point replays to the same end state."""
        if not ids:
            return
        staging = self.store.read("staging").filter(
            F.col("staging_job_id").isin(ids)
        )
        ready = staging.filter(F.col("staging_status") == "READY")
        # contact_repository.py:58-60: rows that lost required fields are
        # skipped at consolidation time.
        complete = ready
        for c in ["staging_email", "staging_first_name",
                  "staging_last_name", "staging_company"]:
            complete = complete.filter(
                F.length(F.trim(F.coalesce(F.col(c), F.lit("")))) > 0
            )
        contacts_new = complete.select(
            F.col("staging_id").alias("contact_id"),
            F.col("staging_id"),
            F.lit(self.user_id).alias("contacts_user_id"),
            normalize_email(F.col("staging_email")).alias("contact_email"),
            F.col("staging_first_name").alias("contact_first_name"),
            F.col("staging_last_name").alias("contact_last_name"),
            F.col("staging_company").alias("contact_company"),
            F.current_timestamp().alias("contact_created_at"),
        )
        self.store.upsert("contacts", contacts_new, insert_only=True)

        all_staging = self.store.read("staging")
        self.store.overwrite(
            "staging",
            all_staging.withColumn(
                "staging_status",
                F.when(
                    F.col("staging_job_id").isin(ids)
                    & (F.col("staging_status") == "READY"),
                    "SUCCESS",
                ).otherwise(F.col("staging_status")),
            ),
        )

    # ------------------------------------------------------------ helpers

    def _annotate(self, rows: DataFrame, job_id: int = 1,
                  job_col: str | None = None) -> DataFrame:
        """A1 + J2/J3 + F4 over ``rows`` — delegates to the flagship
        plan's ``annotate_contacts`` so the validation semantics have
        exactly one codification (pinned by the flagship DuckDB oracle).

        The J2 build side is the tenant's existing contact emails
        (contact_repository.py:18-39), broadcast inside the shared plan.
        """
        existing = (
            self.store.read("contacts")
            .filter(F.col("contacts_user_id") == self.user_id)   # tenant J2
            .select("contact_email")
            .distinct()
        )
        return annotate_contacts(rows, existing, job_id=job_id,
                                 row_col="row_number", job_col=job_col)

    def _merge_issues_and_links(self, failing: DataFrame) -> None:
        """T6 get_or_create + T7 link dedup, for every job in the batch at
        once.  ``failing`` must carry ``JOB_COL`` (long), issue_type/key/
        msg and ``staging_id`` — both lifecycle flows carry the
        deterministic id on every row, so issues and links are built from
        ``failing`` alone and no table is read here."""
        issues_new = (
            failing.groupBy(JOB_COL, "issue_type", "issue_key")
            .agg(F.first("issue_msg").alias("issue_description"))
            .select(
                hash64(F.concat_ws(":", JOB_COL, "issue_type",
                                   "issue_key")).alias("issue_id"),
                F.col(JOB_COL).alias("issues_job_id"),
                "issue_type", "issue_key",
                F.lit(False).alias("issue_resolved"),
                "issue_description",
                F.current_timestamp().alias("issue_created_at"),
            )
        )
        self.store.upsert("issues", _pad(issues_new, "issues"),
                          insert_only=True)

        # Links: failing staging row <-> its issue (pair-unique, T7).
        links = failing.select(
            hash64(F.concat_ws(":", JOB_COL, "issue_type",
                               "issue_key")).alias("item_issue_id"),
            F.col("staging_id").alias("item_staging_id"),
        ).withColumn(
            "issue_item_id",
            hash64(F.concat_ws(":", "item_issue_id", "item_staging_id")),
        )
        self.store.upsert("issue_items", links, insert_only=True)

    def _auto_resolve(self, ids: list[int]) -> None:
        """A7/T8: resolve issues whose linked rows all left ISSUE status."""
        issues = self.store.read("issues").filter(
            F.col("issues_job_id").isin(ids) & (~F.col("issue_resolved"))
        )
        links = self.store.read("issue_items")
        staging = self.store.read("staging").filter(
            F.col("staging_job_id").isin(ids)
        )
        open_counts = (
            links.join(staging,
                       links.item_staging_id == staging.staging_id)
            .groupBy("item_issue_id")
            .agg(F.sum(F.when(F.col("staging_status") == "ISSUE", 1)
                       .otherwise(0)).alias("open_rows"))
        )
        resolvable = (
            issues.join(open_counts,
                        issues.issue_id == open_counts.item_issue_id)
            .filter(F.col("open_rows") == 0)
            .select(issues["*"])
            .withColumn("issue_resolved", F.lit(True))
            .withColumn("issue_resolved_at", F.current_timestamp())
            .withColumn("issue_resolved_by", F.lit("system"))
            .withColumn("issue_resolution_comment",
                        F.lit("All related staging records were resolved"))
        )
        self.store.upsert("issues", resolvable)

    def _route_batch(self, ids: list[int],
                     totals: dict[int, int] | None = None) -> None:
        """A5 recount from authoritative tables, then route (T3 tail) —
        ONE jobs-table write carries every job's counts AND terminal
        status.  COMPLETED lands after contacts + staging SUCCESS (the
        idempotent order), NEEDS_REVIEW in the same write."""
        with self._stage("route"):
            staged = {
                int(r["staging_job_id"]): int(r["cnt"])
                for r in self.store.read("staging")
                .filter(F.col("staging_job_id").isin(ids))
                .groupBy("staging_job_id")
                .agg(F.count(F.lit(1)).alias("cnt")).collect()
            }
            unresolved = {
                int(r["issues_job_id"]): int(r["cnt"])
                for r in self.store.read("issues")
                .filter(F.col("issues_job_id").isin(ids)
                        & (~F.col("issue_resolved")))
                .groupBy("issues_job_id")
                .agg(F.count(F.lit(1)).alias("cnt")).collect()
            }
        to_complete = [j for j in ids if unresolved.get(j, 0) == 0]
        with self._stage("consolidate"):
            self._consolidate_batch(to_complete)
        with self._stage("route"):
            updates: dict[int, dict[str, object]] = {}
            for j in ids:
                n_staged = staged.get(j, 0)
                total = (totals.get(j) if totals and totals.get(j) is not None
                         else n_staged)
                cols: dict[str, object] = dict(
                    job_total_rows=int(total),
                    job_processed_rows=int(n_staged),
                    job_issue_count=int(unresolved.get(j, 0)),  # ADR-002
                )
                if unresolved.get(j, 0) > 0:
                    cols["job_status"] = "NEEDS_REVIEW"
                else:
                    cols["job_status"] = "COMPLETED"
                    cols["job_process_end"] = NOW
                updates[j] = cols
            self._set_jobs(updates)

    # ------------------------------------------- human-in-the-loop surface

    def resolve_issue(self, issue_id: int, resolved_by: str,
                      comment: str | None = None) -> None:
        """Manual issue resolution (issue_repository.py:164-207)."""
        issues = self.store.read("issues")
        updated = (
            issues.filter(F.col("issue_id") == issue_id)
            .withColumn("issue_resolved", F.lit(True))
            .withColumn("issue_resolved_at", F.current_timestamp())
            .withColumn("issue_resolved_by", F.lit(resolved_by))
            .withColumn("issue_resolution_comment", F.lit(comment))
        )
        self.store.upsert("issues", updated)

    def update_staging_row(self, staging_id: int, **fields: str) -> None:
        """User edit of a staging row ahead of reprocessing (ADR-003)."""
        staging = self.store.read("staging")
        updated = staging.filter(F.col("staging_id") == staging_id)
        for name, value in fields.items():
            updated = updated.withColumn(f"staging_{name}", F.lit(value))
        self.store.upsert("staging", updated)

    def discard_staging_row(self, staging_id: int) -> None:
        """Mark a staging row DISCARD (excluded from reprocess + dups)."""
        self.update_staging_row(staging_id, status="DISCARD")

    def discard_failing_rows(self, job_id: int | None = None) -> int:
        """Bulk 'discard all failing' review action: every ISSUE staging
        row (optionally one job's) goes DISCARD in ONE staging write —
        the set-based form of :meth:`discard_staging_row` (a per-row
        loop would publish one table version per row).  Returns the
        number of rows discarded."""
        staging = self.store.read("staging")
        cond = F.col("staging_status") == "ISSUE"
        if job_id is not None:
            cond = cond & (F.col("staging_job_id") == job_id)
        n = staging.filter(cond).count()
        if n:
            self.store.overwrite("staging", staging.withColumn(
                "staging_status",
                F.when(cond, F.lit("DISCARD"))
                 .otherwise(F.col("staging_status")),
            ))
        return n


def _project_contacts(df: DataFrame) -> DataFrame:
    """P1: the canonical 4-column projection + row_number passthrough."""
    cols = {c.lower(): c for c in df.columns}
    out = []
    for name in REQUIRED:
        src = cols.get(name)
        out.append(
            F.col(f"`{src}`").alias(name) if src
            else F.lit(None).cast("string").alias(name)
        )
    return df.select(*out, "row_number")


def _pad(df: DataFrame, table: str) -> DataFrame:
    """Add any missing schema columns as typed NULLs."""
    have = set(df.columns)
    for field in SCHEMAS[table].fields:
        if field.name not in have:
            df = df.withColumn(field.name,
                               F.lit(None).cast(field.dataType))
    return df
