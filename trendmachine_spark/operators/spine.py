"""Date-spine densification + chaos forward-fill.

Covers SURVEY.md §2 operators O31 (date spine), O33 (chaos ffill), O40
(union of observed + filled days).

The reference builds the spine as ``pd.date_range(first_day, today)``
with dict point-lookups (main.py:199-207); ``today`` is an explicit
``as_of`` date here so results are deterministic.

Shape: no join, no second pass over the captures and, without gap
filling, no window of its own. Every observed (or gap-filled) row on or
before ``as_of`` explodes forward over the days up to the day before the
url's next row (``lead(day)`` over (url, day)), or up to ``as_of`` for
the url's last row. The row keeps its own day; each day after it gets
the DailyRecord defaults and the row's chaos, which is the forward fill.
The ``lead`` runs in the rollup's own (url, day) window operator (the
content window), on the rollup's url partitioning, so densify adds no
exchange; gap filling adds one window for the running chaos of the
filled rows. A url whose first row falls after ``as_of`` yields no rows,
as ``pd.date_range(first, today)`` does when ``first > today``.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: (column, value on a day no row covers: the DailyRecord defaults,
#: archive.py:4-20); chaos and chaosn are carried instead
_DEFAULTS = (
    ("_2xx", "0"), ("_3xx", "0"), ("_4xx", "0"), ("_5xx", "0"), ("`all`", "0"),
    ("specimen", "'~'"), ("datetime", "'~'"), ("digest", "'~'"), ("content", "'Unknown'"),
)


def resolve_as_of(daily: DataFrame, as_of: _dt.date | str | None) -> _dt.date:
    """Default as_of = the newest observed day across all urls."""
    if as_of is None:
        row = daily.agg(F.max("day").alias("mx")).collect()[0]
        return row["mx"]
    if isinstance(as_of, str):
        return _dt.date.fromisoformat(as_of)
    return as_of


def densify(daily: DataFrame, filled: DataFrame | None, as_of: _dt.date) -> DataFrame:
    """Observed daily rows (∪ filled rows) -> gap-free per-url series.

    ``filled`` carries (url, day, specimen) synthesized by the gap
    filler; its rows only ever land on days absent from ``daily``
    (interior gap days). A filled row keeps its specimen and takes the
    defaults otherwise. Chaos values forward-fill from the previous
    observed day (main.py:202-207): a filled row and every day a row
    does not cover carry the chaos of the last observed day before it.
    """
    as_of_sql = f"DATE'{as_of.isoformat()}'"
    rows = daily
    carried = "chaos", "chaosn"
    if filled is not None:
        rows = rows.unionByName(filled.selectExpr(
            "url", "day", "date_format(day, 'yyyy-MM-dd') AS day_str",
            "0L AS _2xx", "0L AS _3xx", "0L AS _4xx", "0L AS _5xx", "0L AS `all`", "specimen",
            "'~' AS datetime", "'~' AS digest", "'Unknown' AS content",
            "CAST(NULL AS DOUBLE) AS chaos", "CAST(NULL AS DOUBLE) AS chaosn"))
        # O33 — a null-based running last() reproduces the reference's
        # falsy check. NB equivalence does NOT require observed chaos >
        # 0: an all-revisit url can close a day at 0.0, but then the
        # reference's falsy forward-fill also propagates 0.0, so carrying
        # the explicit 0.0 forward yields the same series.
        carried = tuple(
            f"last({c}, true) OVER (PARTITION BY url ORDER BY day "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)" for c in carried)
    # the window sees the rows after as_of too, hence the cap (least
    # skips the NULL lead of a url's last row); filtering after it keeps
    # it in the rollup's own (url, day) window operator
    spans = rows.selectExpr(
        "*",
        f"least(date_sub(lead(day) OVER (PARTITION BY url ORDER BY day), 1), {as_of_sql}) AS _end",
        f"{carried[0]} AS _chaos", f"{carried[1]} AS _chaosn",
    ).filter(f"day <= {as_of_sql}").selectExpr(
        "*", "posexplode(sequence(day, _end, INTERVAL 1 DAY)) AS (_k, _day)")
    return spans.selectExpr(
        "url", "_day AS day",
        "coalesce(CASE WHEN _k = 0 THEN day_str END, date_format(_day, 'yyyy-MM-dd')) AS day_str",
        *[f"coalesce(CASE WHEN _k = 0 THEN {c} END, {v}) AS {c}" for c, v in _DEFAULTS],
        "coalesce(_chaos, 0.0) AS chaos", "coalesce(_chaosn, 0.0) AS chaosn",
    ).selectExpr("*", "specimen != '~' AND `all` = 0 AS filled")
