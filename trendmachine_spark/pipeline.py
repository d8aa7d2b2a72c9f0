"""End-to-end capture pipeline: captures -> scored daily report table.

Composes SURVEY.md §2 operators O7-O10 (normalize), O17/O19-O22 (daily
rollup + chaos), O32 (gap fill), O31/O33 (spine + ffill), O34/O35
(recurrences), O14/O16 (report projection) into one lazy DataFrame DAG.
Equivalent to the reference's ``load_cdx`` + ``load_data``
(main.py:129-231) generalized over millions of urls.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame

from trendmachine_spark.functions.scalars import urim_sql
from trendmachine_spark.operators.fill import gap_fill
from trendmachine_spark.operators.normalize import normalize_captures
from trendmachine_spark.operators.recurrence import score_daily_series
from trendmachine_spark.operators.rollup import daily_rollup
from trendmachine_spark.operators.spine import densify, resolve_as_of


def dense_daily(
    captures: DataFrame,
    fill: int = 0,
    policy: str = "closest",
    as_of: _dt.date | str | None = None,
    partition_by_url: bool = False,
) -> DataFrame:
    """captures -> dense (gap-free) per-url daily series, unscored.

    ``partition_by_url=True`` repartitions on url up front, which
    collapses the pipeline to a SINGLE shuffle (HashPartitioning(url)
    satisfies every downstream window/agg clustering: (url, digest),
    (url, day), (url)) at the cost of extra in-partition sorts. Wins at
    cluster scale where shuffle volume dominates; loses on small local
    data where the sorts dominate — hence opt-in.
    """
    if partition_by_url:
        captures = captures.repartition("url")
    daily = daily_rollup(normalize_captures(captures))
    filled = gap_fill(daily, fill, policy) if fill != 0 else None
    return densify(daily, filled, resolve_as_of(daily, as_of))


def require_captures(captures: DataFrame) -> DataFrame:
    """Reference error contract (main.py:190): raise on empty input.

    The reference's ``load_data`` raises ValueError when the CDX
    response parses to nothing; a lazy DataFrame pipeline would instead
    flow an empty frame through every operator. This check runs one
    cheap job (stops at the first row found) — call it where the
    reference's contract matters; the operators themselves stay lazy.
    """
    if captures.isEmpty():
        raise ValueError("Empty or malformed captures input")
    return captures


def daily_series(
    captures: DataFrame,
    fill: int = 0,
    policy: str = "closest",
    sigparams=None,
    as_of: _dt.date | str | None = None,
    require_nonempty: bool = False,
) -> DataFrame:
    """Full report table (REPORT_COLUMNS order, plus leading ``url``).

    One row per url per calendar day from the url's first capture to
    ``as_of`` (default: newest observed day across all urls).
    ``require_nonempty=True`` applies the reference's empty-input error
    contract (see require_captures) at the cost of one extra job.
    """
    if require_nonempty:
        require_captures(captures)
    dense = dense_daily(captures, fill=fill, policy=policy, as_of=as_of)
    scored = score_daily_series(dense, sigparams)
    return report_projection(scored)


def report_projection(scored: DataFrame) -> DataFrame:
    """Canonical report-column projection over a scored dense series."""
    return scored.selectExpr(
        "url", "day_str AS Day", "datetime AS Datetime",
        "_2xx AS `2xx`", "_3xx AS `3xx`", "_4xx AS `4xx`", "_5xx AS `5xx`", "`all` AS `All`",
        "specimen AS Specimen", "filled AS Filled", "resilience AS Resilience", "digest AS Digest",
        "content AS Content", "fixity AS Fixity", "chaos AS Chaos", "chaosn AS Chaosn",
        f"{urim_sql('datetime', 'url')} AS URIM",
    )
