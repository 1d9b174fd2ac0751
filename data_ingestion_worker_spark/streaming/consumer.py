"""Structured-Streaming job consumer — the reference's SQS loop, Spark-first.

Reference (SURVEY.md §2.7): an infinite boto3 long-poll
(``src/consumer.py:55-111``) that JSON-parses each message
(S4, consumer.py:129-136), discards poison messages (S3,
consumer.py:180-190), processes one job at a time, and deletes the
message only on success (S2 at-least-once, consumer.py:153-176).

Spark mapping:

- queue        -> file-manifest stream (one JSON line per job message) or
                  any other streaming source; the element type is the same
                  ``{job_id, s3_key}`` record.
- long-poll    -> trigger (processingTime / availableNow for drain mode).
- ack/delete   -> the streaming checkpoint: a microbatch commits only
                  after ``foreachBatch`` returns, so a crash replays the
                  batch — at-least-once delivery, made effectively
                  exactly-once by the idempotent job flows (ADR-001:
                  row-hash anti-joins and insert-only MERGEs absorb the
                  replay). This is T2, the canonical Spark shape for the
                  reference's delivery contract.
- poison msg   -> ``from_json`` null-out + filter (bad records never
                  reach the processor and never block the stream).
- redrive/DLQ  -> the ``dead_letters`` control table: a job that raises
                  is retried on subsequent batches, inside each batch's
                  one job list, until ``max_receive_count`` attempts,
                  then parked with status=DEAD (SQS redrive policy; the
                  reference instead
                  redelivers failing messages forever after the
                  visibility timeout, README.md:196-203).  A successful
                  retry clears the entry.

The *data* plane stays fully distributed (each job's CSV is a cluster
scan); only the per-message routing (T3) is driver-side, exactly like the
reference's control flow — a control stream of one message per job is
driver-scale by construction.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..control.processor import NOW as PROC_NOW
from ..control.processor import JobProcessor
from ..control.store import SCHEMAS, ControlStore, literal_frame

JOB_MESSAGE_SCHEMA = "job_id bigint, s3_key string"


def parse_job_messages(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """S4 + S3: JSON-parse message bodies; drop poison + incomplete ones."""
    parsed = raw.select(
        F.from_json(F.col(value_col), JOB_MESSAGE_SCHEMA).alias("m")
    ).select("m.*")
    return parsed.filter(
        F.col("job_id").isNotNull() & F.col("s3_key").isNotNull()
    )


class JobStreamConsumer:
    """readStream(inbox) -> foreachBatch(route + process) with checkpoint.

    Batch-snapshot asymmetry (documented, test-pinned): every job of a
    microbatch — fresh messages and dead-letter retries alike — shares
    ONE set of plans, so the J2 existing-email check reads contacts as
    of batch START — job B does not see contacts job A consolidates in
    the same trigger (the same race the reference has whenever two
    workers poll SQS concurrently).  The per-job FALLBACK below (taken
    only when the shared batch plan itself dies) processes jobs
    sequentially and therefore DOES see same-trigger contacts — the two
    paths can legitimately annotate the same inbox differently.
    Strictly sequential semantics are available by construction via
    ``max_files_per_trigger=1`` (one job per microbatch)."""

    def __init__(self, spark: SparkSession, store: ControlStore,
                 inbox_dir: str, checkpoint_dir: str,
                 user_id: str = "user-1", max_receive_count: int = 3,
                 max_files_per_trigger: int | None = None) -> None:
        self.spark = spark
        self.store = store
        self.processor = JobProcessor(spark, store, user_id=user_id)
        self.inbox_dir = inbox_dir
        self.checkpoint_dir = checkpoint_dir
        self.max_receive_count = max_receive_count
        # Source rate control — the reference's SQS_MAX_NUMBER_OF_MESSAGES=1
        # (settings.py:20): bound how many manifest files a microbatch
        # ingests so one trigger can't bite off the whole backlog.
        self.max_files_per_trigger = max_files_per_trigger
        self.results: list[tuple[int, str]] = []

    # -- dead-letter ledger (SQS redrive-policy analogue) -------------------

    def _pending_retries(self) -> list[tuple[int, str]]:
        """Jobs that failed earlier but still have retry budget."""
        rows = (
            self.store.read("dead_letters")
            .filter(F.col("dlq_status") == "RETRYING")
            .select("dlq_job_id", "dlq_s3_key")
            .collect()
        )
        return [(int(r["dlq_job_id"]), r["dlq_s3_key"]) for r in rows]

    def _record_failures(self, failed: dict[int, tuple[str, str]]) -> None:
        """Bump each failing job's receive count — ``failed`` maps job id
        to ``(s3_key, error)``.  At max_receive_count the message is
        dead-lettered (status=DEAD), never retried again, and the job row
        itself goes FAILED with the error text — the reference's
        JobStatus.FAILED-on-exception (src/processor.py:387,671,787), so
        a user polling job status sees the terminal state, not an
        eternal PROCESSING.  One ledger read and one ledger MERGE for the
        whole micro-batch; one jobs write for every job that went DEAD."""
        if not failed:
            return
        now = datetime.now(timezone.utc)
        prev = {
            int(r["dlq_job_id"]): r
            for r in self.store.read("dead_letters")
            .filter(F.col("dlq_job_id").isin(list(failed))).collect()
        }
        entries = []
        dead: list[tuple[int, str]] = []
        for job_id, (s3_key, error) in failed.items():
            p = prev.get(job_id)
            attempts = (int(p["dlq_attempts"]) if p else 0) + 1
            status = ("DEAD" if attempts >= self.max_receive_count
                      else "RETRYING")
            entries.append((job_id, s3_key, error, attempts, status,
                            p["dlq_first_seen_at"] if p else now, now))
            if status == "DEAD":
                dead.append((job_id, s3_key))
        self.store.upsert("dead_letters", literal_frame(
            self.spark, entries, SCHEMAS["dead_letters"]))
        if dead:
            # A job may have died before its row was ever created
            # (e.g. poison path upstream of _ensure_jobs on a replay).
            self.processor._ensure_jobs(dead)
            self.processor._set_jobs({
                j: dict(job_status="FAILED", job_error=failed[j][1],
                        job_process_end=PROC_NOW)
                for j, _ in dead
            })

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        msgs = parse_job_messages(batch_df)
        # Control stream: one tiny row per job — the collect is bounded by
        # message count, never by data size (the CSVs are processed as
        # distributed scans inside process_jobs).
        retries = self._pending_retries()
        fresh = [(int(r["job_id"]), r["s3_key"]) for r in msgs.collect()]
        retry_ids = {j for j, _ in retries}
        fresh_keys = dict(fresh)
        # ONE job list per micro-batch: retries first, then fresh
        # messages; a fresh message for a retrying job supplies the
        # (possibly corrected) s3_key but is not processed twice.  Every
        # job shares one batch of plans — one annotate + one MERGE per
        # table per microbatch (processor.process_jobs), which is what
        # keeps jobs/min flat as message volume grows — and so shares
        # the batch snapshot (class docstring).
        todo = ([(j, fresh_keys.get(j, k)) for j, k in retries]
                + [(j, k) for j, k in fresh if j not in retry_ids])
        try:
            actions, errors = self.processor.process_jobs(todo)
        except Exception:  # noqa: BLE001
            # The shared batch plan itself failed (not a per-job ingest
            # error — those are isolated inside process_jobs).  Fall back
            # to the per-job path so one poisonous job cannot wedge the
            # whole microbatch; every table write is idempotent
            # (ADR-001), so the partial batch replays convergently.
            actions, errors = {}, {}
            for job_id, s3_key in todo:
                try:
                    actions[job_id] = self.processor.process_job(
                        job_id, s3_key)
                except Exception as e:  # noqa: BLE001
                    errors[job_id] = e
        # Per-message error isolation (reference S3/T10): a job whose CSV
        # is missing/unreadable must not wedge the stream — raising here
        # would fail the microbatch and the checkpoint would replay it
        # forever (head-of-line blocking for every later job).  Failures
        # land in the dead_letters ledger with a bounded retry budget;
        # retries that succeeded leave it.
        failed: dict[int, tuple[str, str]] = {}
        for job_id, s3_key in todo:
            if job_id in errors:
                e = errors[job_id]
                failed[job_id] = (s3_key, f"{type(e).__name__}: {e}")
                self.results.append((job_id, f"error:{type(e).__name__}"))
            else:
                self.results.append((job_id, actions[job_id]))
        self._record_failures(failed)
        cleared = [(j,) for j in retry_ids if j not in errors]
        if cleared:
            self.store.delete("dead_letters", literal_frame(
                self.spark, cleared, T.StructType(
                    [SCHEMAS["dead_letters"]["dlq_job_id"]])))

    def start(self, available_now: bool = True,
              processing_interval: str = "20 seconds") -> StreamingQuery:
        """availableNow=True drains the inbox and stops (test/batch mode);
        otherwise polls like the reference's 20 s long-poll loop (T1)."""
        reader = self.spark.readStream.format("text")
        if self.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   self.max_files_per_trigger)
        raw = reader.load(self.inbox_dir)
        writer = raw.writeStream.foreachBatch(self._process_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_interval)
        return writer.start()
