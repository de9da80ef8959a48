"""The fixed cost of the paper's four requests (A, B1, B2, C).

Two mechanisms keep it down, and both are pinned here:

- the session's generated-code cache is larger than the classes one round
  of the four plans cycles through, so asking them again compiles nothing;
- the plans run only the jobs their answer needs: bounded results are
  sorted in one partition (no range-partitioning exchange, no sampling
  job), spine joins broadcast the aggregate, C deduplicates the
  profiles once, and B1 and B2 take each push's earliest posting time
  with one hash aggregate instead of a ranking window.
"""

from __future__ import annotations

import pytest

from markt_database_analyzer_spark.plans import (
    initial_rate_by_posting_hour,
    lifetime_view_rate_curve,
    pushes_per_time_bin,
    views_gained_by_city,
)

MAX_JOBS = {"A": 5, "B1": 4, "B2": 7, "C": 6}
PUSH_KEY = {"ad_unique_id", "push_counter"}


def _plans(mon, prof):
    return {
        "A": lambda: lifetime_view_rate_curve(mon, prof),
        "B1": lambda: pushes_per_time_bin(prof),
        "B2": lambda: initial_rate_by_posting_hour(mon, prof),
        "C": lambda: views_gained_by_city(mon, prof),
    }


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (one histogram sample each)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _final_plan(df):
    """The physical plan AQE settled on, once ``df`` has run (a JVM handle)."""
    adaptive = df._jdf.queryExecution().executedPlan()
    assert adaptive.toString().startswith("AdaptiveSparkPlan isFinalPlan=true")
    return adaptive.executedPlan()


def _nodes(plan):
    """Every node of a physical plan, descending into AQE query stages."""
    yield plan
    if plan.getClass().getSimpleName().endswith("QueryStageExec"):
        yield from _nodes(plan.plan())
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _names(attrs) -> list[str]:
    return [attrs.apply(i).name() for i in range(attrs.size())]


def test_repeated_requests_compile_no_code(spark, fixtures):
    mon, prof = fixtures
    plans = _plans(mon, prof)
    for build in plans.values():
        build().toPandas()
    before = _compiles(spark)
    for build in plans.values():
        build().toPandas()
    assert _compiles(spark) - before == 0


@pytest.fixture(scope="module")
def runs(spark, fixtures):
    """Each plan run once under its own job group: (job count, final plan)."""
    mon, prof = fixtures
    sc = spark.sparkContext
    out = {}
    try:
        for name, build in _plans(mon, prof).items():
            group = f"fixed-cost-{name}"
            sc.setJobGroup(group, group)
            df = build()
            df.toPandas()
            out[name] = (len(sc.statusTracker().getJobIdsForGroup(group)), _final_plan(df))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out


@pytest.mark.parametrize("name", list(MAX_JOBS))
def test_request_runs_only_the_jobs_its_answer_needs(runs, name):
    jobs, plan = runs[name]
    assert jobs <= MAX_JOBS[name], plan.toString()
    assert "rangepartitioning" not in plan.toString()


def test_c_deduplicates_the_profiles_once(runs):
    # the profiles dedup shuffles (push key, city) rows by the push key;
    # the per-push aggregate's shuffle carries partial aggregate buffers
    dedup_shuffles = [
        node
        for node in _nodes(runs["C"][1])
        if node.getClass().getSimpleName() == "ShuffleExchangeExec"
        and node.outputPartitioning().getClass().getSimpleName() == "HashPartitioning"
        and _names(node.outputPartitioning().expressions()) == ["ad_unique_id", "push_counter"]
        and sorted(_names(node.child().output())) == ["ad_unique_id", "city", "push_counter"]
    ]
    assert len(dedup_shuffles) == 1


@pytest.mark.parametrize("name", ["B1", "B2"])
def test_b_takes_unique_pushes_without_a_window(runs, name):
    # the earliest posting time per push is a min, not a row_number
    # window over the push key and the group limit Spark plans for it
    nodes = list(_nodes(runs[name][1]))
    kinds = [node.getClass().getSimpleName() for node in nodes]
    assert "WindowGroupLimitExec" not in kinds
    for node in nodes:
        if node.getClass().getSimpleName() == "WindowExec":
            spec = node.partitionSpec()
            keys = {
                key
                for i in range(spec.size())
                for key in _names(spec.apply(i).references().toSeq())
            }
            assert not keys & PUSH_KEY, node.toString()
