"""Per-request budget of a dashboard lookup: one url's series, checkpointed,
plus every dashboard pane and its transition matrix, as the perfbench
``dashboard_lookup`` request runs them.

A request's cost is mostly fixed per job, not per row, so the job count
is the budget: a pane that grows a shuffle or a series that grows a join
shows up here before it shows up in a benchmark."""

from __future__ import annotations

from tests.conftest import FIXTURE_LINES_A
from trendmachine_spark.operators import dashboard
from trendmachine_spark.operators.transitions import transition_matrix
from trendmachine_spark.pipeline import daily_series
from trendmachine_spark.sources.captures import captures_from_fixture

PANES = ("monthly_rollup", "totals", "summary_stats", "content_value_counts",
         "specimen_breakdown", "chaos_melt", "first_last_capture", "headline_metrics")

#: Spark jobs of one request under the test session's confs: 4 for the
#: checkpointed series (two capture exchanges, the recurrence's own url
#: exchange at 4 shuffle partitions, the checkpoint), 1 to collect it,
#: 2 per shuffling pane, 1 for chaos_melt and 4 for content_value_counts
#: (its orderBy samples a range partitioning)
JOB_BUDGET = 24


def test_dashboard_request_job_budget(spark):
    sc = spark.sparkContext
    group = "dashboard-request-budget"
    sc.setJobGroup(group, "one dashboard request")
    try:
        report = daily_series(captures_from_fixture(spark, FIXTURE_LINES_A),
                              as_of="2020-01-05").localCheckpoint(eager=True)
        rows = report.collect()
        panes = {p: getattr(dashboard, p)(report).collect() for p in PANES}
        panes["transition_matrix"] = transition_matrix(report).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert len(rows) == 5 and all(panes.values())
    assert jobs <= JOB_BUDGET, f"{jobs} Spark jobs per dashboard request > budget {JOB_BUDGET}"
