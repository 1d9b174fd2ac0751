"""``tools/plan_identity.py``: the stripper removes exactly the ids that
differ between runs of the same code, and compare judges each field as
a set over the parent runs."""

from __future__ import annotations

import json

from tools import plan_identity
from tools.plan_identity import compare, strip_plan

#: Part of a recorded ``ev_acf_lags`` executed plan (after collect()).
RECORDED = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 2
   +- *(3) Project [event_type#3, lag#23, n#29L AS n_pairs#46L]
      +- AQEShuffleRead coalesced
         +- ShuffleQueryStage 1
            +- Exchange hashpartitioning(event_type#3, lag#23, 4), \
ENSURE_REQUIREMENTS, [plan_id=248]
               +- BroadcastQueryStage 0
                  +- *(1) Scan ExistingRDD[event_type#26,eh#27L,c#28L]"""

STRIPPED = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage
   +- * Project [event_type#, lag#, n#L AS n_pairs#L]
      +- AQEShuffleRead coalesced
         +- ShuffleQueryStage
            +- Exchange hashpartitioning(event_type#, lag#, 4), \
ENSURE_REQUIREMENTS, [plan_id=]
               +- BroadcastQueryStage
                  +- * Scan ExistingRDD[event_type#,eh#L,c#L]"""


def test_strip_plan_on_recorded_plan():
    assert strip_plan(RECORDED) == STRIPPED
    assert strip_plan("MapPartitionsRDD[17] at collect") \
        == "MapPartitionsRDD[] at collect"
    # Literals and partition counts are not ids and stay.
    assert strip_plan("explode([1,2,3]), 4)") == "explode([1,2,3]), 4)"
    # Lambda variables lose the number of Spark's process-wide counter;
    # column names with a numeric suffix keep theirs.
    assert strip_plan("lambdafunction((lambda x_14#4L > 3), lambda x_14#4L,"
                      " false), sum_3#9L") \
        == "lambdafunction((lambda x#L > 3), lambda x#L, false), sum_3#L"


def _run(plan: str, jobs: int = 1) -> dict:
    return {"q": {"plan": plan, "fn_jobs": 0, "collect_jobs": jobs,
                  "rows_sha": "x"}}


def test_compare_judges_fields_as_sets():
    parent = [_run("A"), _run("B", jobs=2)]
    assert compare(parent, [_run("B"), _run("A", jobs=2)]) == []
    problems = compare(parent, [_run("C"), _run("A", jobs=3)])
    assert problems == [
        "q: plan of change run 0 was produced by no parent run",
        "q: collect_jobs of change run 1 was produced by no parent run",
    ]
    assert compare(parent, [{}]) == ["q: not captured in every run"]


def test_capture_prints_full_metadata_and_equal_plans_across_lambda_ids(
        spark, tmp_path, monkeypatch):
    """Two captures of one query in one process number its lambda
    variable differently (x_1, x_2, ...) and still record one plan, and
    the scan's ``DataFilters`` are not cut at Spark's default 100
    characters."""
    import types

    from pyspark.sql import functions as F

    from data_ingestion_worker_spark import registry, session

    data = str(tmp_path / "t")
    spark.range(10).select(
        "id", F.array("id", F.col("id") + 1).alias("arr")
    ).write.parquet(data)

    def fn(spark, sf_dir):
        return spark.read.parquet(data).filter(
            F.exists("arr", lambda x: x > 3) & (F.col("id") > 1)
            & (F.col("id") < 1000000) & F.col("id").isNotNull())

    monkeypatch.setattr(session, "get_spark", lambda name: spark)
    monkeypatch.setattr(registry, "all_specs",
                        lambda: {"q": types.SimpleNamespace(fn=fn)})
    runs = []
    try:
        for i in range(2):
            out = tmp_path / f"run{i}.json"
            assert plan_identity.capture(str(out), "unused", ["q"]) == 0
            runs.append(json.loads(out.read_text()))
    finally:
        spark.conf.unset(plan_identity._FULL_METADATA[0])
    plan = runs[0]["q"]["plan"]
    filters = plan.split("DataFilters: ")[1].split("], Format")[0]
    assert filters.endswith("isnotnull(id#L)"), filters
    assert "lambda x#L" in plan
    assert runs[1]["q"]["plan"] == plan
