"""Dashboard derivations over the daily report table.

Covers SURVEY.md §2 operators O11 (observed filter), O13 (zero->NULL),
O23 (monthly rollup), O24 (summary stats), O25 (totals), O26 (value
counts), O27 (specimen breakdown), O30 (headline metrics), O37 (melt),
O41 (first/last) — reference main.py:383-405.

All inputs are the report table produced by
:func:`trendmachine_spark.pipeline.daily_series` (url + REPORT_COLUMNS).
Everything here is built-in aggregations — no UDFs — and every
expression is Spark SQL text, so a pane's plan builds in a few calls.

Each pane is at most one shuffle over the report:

* ``summary_stats`` unpivots the five status columns into
  (url, Status, v) rows and runs ONE aggregation keyed by
  (url, Status), not one aggregation per column;
* ``headline_metrics`` ranks each url's days newest-first in one
  window and reads the last/previous-day values with ``max_by`` in the
  same url aggregation as the sums (which reuses the window's url
  partitioning and order), with no self-join;
* ``content_value_counts`` adds the range exchange of its ``orderBy``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trendmachine_spark.functions.scalars import ymd_spark_sql

STATUS_COLS = ["2xx", "3xx", "4xx", "5xx", "All"]


def _agg(df: DataFrame, keys: list, exprs: list[str]) -> DataFrame:
    return df.groupBy(*keys).agg(*[F.expr(e) for e in exprs])


def _sums() -> list[str]:
    return [f"sum(`{c}`) AS `{c}`" for c in STATUS_COLS]


def observed_days(report: DataFrame) -> DataFrame:
    """O11 — days with at least one capture, pruned to the count columns."""
    return report.filter("`All` != 0").select(
        "url", "Day", "Datetime", "2xx", "3xx", "4xx", "5xx", "All"
    )


def monthly_rollup(report: DataFrame) -> DataFrame:
    """O23 — per-url monthly sums; the month is keyed to its 15th day
    (``Day[:8] + '15'``, main.py:384)."""
    month = F.expr("concat(substring(Day, 1, 8), '15') AS Month")
    return _agg(observed_days(report), ["url", month], _sums())


def totals(report: DataFrame) -> DataFrame:
    """O25 — per-url column totals over observed days, long form."""
    wide = _agg(observed_days(report), ["url"], _sums())
    stack = ", ".join(f"'{c}', `{c}`" for c in STATUS_COLS)
    return wide.selectExpr("url", f"stack({len(STATUS_COLS)}, {stack}) as (Status, Total)")


def summary_stats(report: DataFrame) -> DataFrame:
    """O24 — pandas-describe equivalents per status column over non-zero
    days (zero counts become NULL first — O13), one row per (url,
    Status) with at least one non-zero day. std of a single observation
    is 0 (reference replaces NaN)."""
    # inline, not stack: stack would make Status nullable
    rows = ", ".join(f"named_struct('Status', '{c}', 'v', CAST(`{c}` AS DOUBLE))" for c in STATUS_COLS)
    values = observed_days(report).selectExpr("url", f"inline(array({rows}))").filter("v != 0")
    return _agg(values, ["url", "Status"], [
        "count(v) AS `count`",
        "avg(v) AS mean",
        "coalesce(stddev_samp(v), 0.0) AS std",
        "CAST(min(v) AS BIGINT) AS `min`",
        "percentile(v, 0.25) AS q1",
        "percentile(v, 0.5) AS median",
        "percentile(v, 0.75) AS q3",
        "CAST(max(v) AS BIGINT) AS `max`",
    ])


def content_value_counts(report: DataFrame) -> DataFrame:
    """O26 — fixity breakdown: count of days per Content state."""
    return _agg(report, ["url", "Content"], ["count(1) AS Count"]).orderBy("url", "Content")


def specimen_breakdown(report: DataFrame) -> DataFrame:
    """O27 — Active / Filled / Missing day counts per url."""
    wide = _agg(report, ["url"], [
        "sum(CAST(`All` != 0 AS BIGINT)) AS Active",
        "sum(CAST(Filled AS BIGINT)) AS Filled",
        "count(1) AS _n",
    ])
    return wide.selectExpr(
        "url",
        "stack(3, 'Active', Active, 'Filled', Filled, 'Missing', _n - Active - Filled) as (Specimen, Days)",
    )


def chaos_melt(report: DataFrame) -> DataFrame:
    """O37 — melt (Chaos, Chaosn) to long (Day, Window, Chaos)."""
    return report.selectExpr(
        "url", "Day", "stack(2, 'All', Chaos, 'Last1000', Chaosn) as (Window, Chaos)"
    )


def first_last_capture(report: DataFrame) -> DataFrame:
    """O41 — first and last observed capture day + datetime per url."""
    return _agg(observed_days(report), ["url"], [
        "min_by(Day, Day) AS first_day",
        "min_by(Datetime, Day) AS first_datetime",
        "max_by(Day, Day) AS last_day",
        "max_by(Datetime, Day) AS last_datetime",
    ])


def headline_metrics(report: DataFrame, as_of_day: str | None = None) -> DataFrame:
    """O30 — per-url scalar metrics (main.py:387-405).

    captures (mmct), ok ratio, span (days + humanized), inactivity days
    vs ``as_of_day`` (default: each url's last spine day), gap/filled
    counts, last/prev resilience, last fixity, changed ratio, last
    chaos/chaosn. ``_rn`` numbers a url's days newest-first: the last
    day's values are the ``max_by`` over ``-_rn``, the previous day's
    resilience the one at ``_rn = 2`` (0.5 when the url has a single
    day).
    """
    ranked = report.selectExpr("*", "row_number() OVER (PARTITION BY url ORDER BY Day DESC) AS _rn")
    last = [f"max_by({c}, -_rn) AS last_{c.lower()}"
            for c in ("Resilience", "Fixity", "Chaos", "Chaosn", "Specimen")]
    wide = _agg(ranked, ["url"], [
        "sum(`All`) AS captures",
        "sum(`2xx`) AS _ok",
        "count(1) AS span_days",
        "max(CASE WHEN `All` != 0 THEN Day END) AS last_observed_day",
        "max(Day) AS spine_end",
        "sum(CAST(`All` = 0 AS BIGINT)) AS gaps",
        "sum(CAST(Filled AS BIGINT)) AS filled",
        "sum(CAST(Content = 'Changed' AS BIGINT)) AS changed_days",
        "sum(CAST(`All` != 0 AS BIGINT)) AS active_days",
        *last,
        "CASE WHEN count(1) > 1 THEN max_by(Resilience, CASE WHEN _rn <= 2 THEN _rn END) "
        "ELSE 0.5 END AS prev_resilience",
    ])
    end = f"'{as_of_day}'" if as_of_day else "spine_end"
    return wide.selectExpr(
        "url", "captures", "span_days", "last_observed_day", "gaps", "filled", "changed_days",
        "active_days", "_ok / nullif(captures, 0) AS ok_ratio",
        f"{ymd_spark_sql('span_days')} AS span_human",
        f"datediff({end}, last_observed_day) AS inactive_days",
        "changed_days / nullif(active_days, 0) AS changed_ratio",
        "last_resilience", "last_fixity", "last_chaos", "last_chaosn", "last_specimen",
        "prev_resilience",
    )
