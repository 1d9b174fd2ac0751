"""``tools/plan_identity.py``: the stripper removes exactly the ids that
differ between runs of the same code, and compare judges each field as
a set over the parent runs."""

from __future__ import annotations

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
