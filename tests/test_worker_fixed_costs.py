"""Per-microbatch fixed costs of the job worker stay in the JVM.

- every plan the worker writes or collects is free of ``ExistingRDD``
  (a ``createDataFrame(list)`` relation, which runs a Python worker each
  time a plan built on it executes) — across an initial batch, a review
  batch and a dead-letter retry;
- the CSV dialect sniff starts no Spark job, and still raises on a
  missing path;
- the annotated batch is persisted once per batch and released when the
  batch is done, also when one job's CSV is missing;
- :func:`literal_frame` round-trips every control-table type, and
  ``_set_jobs`` stays ONE literal relation at any batch size.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_worker_spark.control import ControlStore, JobProcessor
from data_ingestion_worker_spark.control.processor import NOW
from data_ingestion_worker_spark.control.store import SCHEMAS, literal_frame
from data_ingestion_worker_spark.ingest import sniff_csv_dialect
from data_ingestion_worker_spark.streaming import JobStreamConsumer

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


def _plan(df: DataFrame) -> str:
    # The executed plan prints cached relations' plans too, so a
    # createDataFrame frame hidden behind a persist still shows.
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


# -------------------------------------------------------------- (a) plans


def test_detector_flags_create_dataframe(spark):
    assert "ExistingRDD" in _plan(
        spark.createDataFrame([(1,)], "a long").filter("a > 0"))


def test_worker_plans_have_no_existing_rdd(spark, tmp_path, monkeypatch):
    plans: list[tuple[str, str]] = []
    publish = ControlStore._publish
    collect = DataFrame.collect

    def spy_publish(self, table, df, *args, **kwargs):
        plans.append((f"publish {table}", _plan(df)))
        return publish(self, table, df, *args, **kwargs)

    def spy_collect(self):
        plans.append(("collect", _plan(self)))
        return collect(self)

    monkeypatch.setattr(ControlStore, "_publish", spy_publish)
    monkeypatch.setattr(DataFrame, "collect", spy_collect)

    store = ControlStore(spark, str(tmp_path / "ctl"))
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    late = str(tmp_path / "late.csv")
    (inbox / "m.json").write_text("\n".join(json.dumps(m) for m in [
        {"job_id": 1, "s3_key": _csv(tmp_path, "j1.csv", DIRTY.format(p="a"))},
        {"job_id": 2, "s3_key": late},
    ]) + "\n")
    consumer = JobStreamConsumer(spark, store, str(inbox),
                                 str(tmp_path / "ckpt"))
    messages = spark.read.text(str(inbox))

    # Initial batch: job 1 goes NEEDS_REVIEW, job 2 (missing CSV) is
    # dead-lettered as RETRYING.
    consumer._process_batch(messages, 0)
    # Dead-letter retry: job 2's CSV has appeared; the retry succeeds and
    # clears its entry.  Review batch: job 1 after a bulk discard.
    _csv(tmp_path, "late.csv", DIRTY.format(p="b"))
    consumer.processor.discard_failing_rows(1)
    consumer._process_batch(messages.filter(F.lit(False)), 1)
    consumer._process_batch(messages.limit(1), 2)

    results = dict(consumer.results)
    assert results == {1: "reprocessed", 2: "initial"}
    assert store.read("dead_letters").count() == 0
    published = {what for what, _ in plans if what.startswith("publish")}
    assert {"publish jobs", "publish staging", "publish issues",
            "publish dead_letters", "publish contacts"} <= published
    offenders = [what for what, plan in plans if "ExistingRDD" in plan]
    assert offenders == []


# -------------------------------------------------------------- (b) sniff


def test_sniff_starts_no_spark_job(spark, tmp_path):
    path = _csv(tmp_path, "semi.csv",
                "email;first_name;last_name;company\na@x.com;A;B;C\n")
    dialect, jobs = _jobs_in_group(
        spark, "sniff-probe", lambda: sniff_csv_dialect(spark, path))
    assert (dialect.encoding, dialect.delimiter) == ("utf-8", ";")
    assert jobs == []


def test_sniff_raises_on_missing_path(spark, tmp_path):
    with pytest.raises(OSError, match="nope.csv"):
        sniff_csv_dialect(spark, str(tmp_path / "nope.csv"))


# ----------------------------------------------------------- (c) persist


def test_annotated_batch_is_released(spark, tmp_path):
    before = _persistent_rdds(spark)
    store = ControlStore(spark, str(tmp_path / "ctl"))
    proc = JobProcessor(spark, store)
    jobs = [(1, _csv(tmp_path, "j1.csv", DIRTY.format(p="a")))]
    actions, errors = proc.process_jobs(jobs)
    assert actions == {1: "initial"} and errors == {}
    assert _persistent_rdds(spark) == before

    # Review batch, and an initial batch where one job's CSV is missing.
    actions, errors = proc.process_jobs(
        jobs + [(2, str(tmp_path / "missing.csv"))])
    assert actions == {1: "reprocessed"} and set(errors) == {2}
    assert _persistent_rdds(spark) == before


# ------------------------------------------------------ (d) literal_frame


def _sample(dtype: T.DataType, i: int):
    if isinstance(dtype, T.LongType):
        return 2**31 + 7 * i
    if isinstance(dtype, T.StringType):
        return "" if i else "it's \\ éé ;,\n\"q\""
    if isinstance(dtype, T.BooleanType):
        return i % 2 == 0
    if isinstance(dtype, T.TimestampType):
        tz = timezone(timedelta(hours=-5, minutes=-30))
        return datetime(2024, 2, 29, 23, 59, 58, 123456 + i, tzinfo=tz)
    raise AssertionError(dtype)


@pytest.mark.parametrize("table", sorted(SCHEMAS))
def test_literal_frame_round_trips_every_type(spark, table):
    schema = SCHEMAS[table]
    rows = [tuple(_sample(f.dataType, i) for f in schema.fields)
            for i in range(2)]
    rows.append(tuple(None for _ in schema.fields))
    df = literal_frame(spark, rows, schema)
    assert df.schema == schema
    assert "ExistingRDD" not in _plan(df)
    assert df.collect() == spark.createDataFrame(rows, schema).collect()


def test_literal_frame_zero_rows_runs_no_job(spark):
    schema = SCHEMAS["dead_letters"]
    df = literal_frame(spark, [], schema)
    assert df.schema == schema
    assert "LocalTableScan" in _plan(df)
    rows, jobs = _jobs_in_group(
        spark, "empty-probe",
        lambda: df.filter(F.col("dlq_status") == "RETRYING").collect())
    assert rows == [] and jobs == []


def test_set_jobs_now_sentinel_and_nulls(spark, tmp_path):
    store = ControlStore(spark, str(tmp_path / "ctl"))
    proc = JobProcessor(spark, store)
    proc._ensure_jobs([(1, "a.csv"), (2, "b.csv")])
    start = datetime.now()
    proc._set_jobs({
        1: dict(job_process_end=NOW, job_total_rows=2**33,
                job_error="boom"),
        2: dict(job_error=None, job_status="FAILED"),
    })
    rows = {r["job_id"]: r for r in store.read("jobs").collect()}
    assert rows[1]["job_process_end"] >= start - timedelta(seconds=5)
    assert rows[1]["job_total_rows"] == 2**33
    assert rows[1]["job_error"] == "boom"
    assert rows[1]["job_status"] == "PENDING"       # not updated
    assert rows[2]["job_error"] is None and rows[2]["job_status"] == "FAILED"
    assert rows[2]["job_process_end"] is None


def test_set_jobs_is_one_relation_at_1000_updates(spark, tmp_path,
                                                  monkeypatch):
    store = ControlStore(spark, str(tmp_path / "ctl"))
    proc = JobProcessor(spark, store)
    ids = list(range(1, 1001))
    proc._ensure_jobs([(j, f"{j}.csv") for j in ids])
    written: list[DataFrame] = []
    overwrite = ControlStore.overwrite

    def spy(self, table, df, *args, **kwargs):
        written.append(df)
        return overwrite(self, table, df, *args, **kwargs)

    monkeypatch.setattr(ControlStore, "overwrite", spy)
    proc._set_jobs({j: dict(job_status="PROCESSING",
                            job_processed_rows=j) for j in ids})
    analyzed = written[0]._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("Generate inline") == 1
    assert "Union" not in analyzed
    done = store.read("jobs").filter(
        (F.col("job_status") == "PROCESSING")
        & (F.col("job_processed_rows") == F.col("job_id")))
    assert done.count() == 1000
