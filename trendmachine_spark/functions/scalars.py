"""Scalar column expression builders (reference parity: SURVEY.md §2.2).

Each scalar is one Spark SQL template over column names (``*_sql``), so
an operator can inline it into a ``selectExpr`` and build its whole
projection in one call; the Column forms wrap the same template in one
``F.expr``. All pure Catalyst expressions — no UDFs — so they stay
inside whole-stage codegen and push down to the scan where possible.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from trendmachine_spark.params import WBM


def status_class_sql(status: str) -> str:
    """Normalize a raw HTTP status token to its class ('2xx'..'5xx').

    Bug-compatible with the reference (main.py:147): the range test is a
    *lexicographic string* comparison between "200" and "599", so e.g.
    "3abc" classifies as "3xx" while "1999" or "0" pass through raw.
    """
    return (f"CASE WHEN {status} BETWEEN '200' AND '599' "
            f"THEN concat(substring({status}, 1, 1), 'xx') ELSE {status} END")


def day_string_sql(ts: str) -> str:
    """14-digit timestamp string -> ISO day string 'YYYY-MM-DD' (main.py:146)."""
    return f"concat_ws('-', substring({ts}, 1, 4), substring({ts}, 5, 2), substring({ts}, 7, 2))"


def day_date_sql(ts: str) -> str:
    """14-digit timestamp string -> DateType day."""
    return f"to_date(substring({ts}, 1, 8), 'yyyyMMdd')"


def digest8_sql(digest: str) -> str:
    """Truncate a content digest to 8 chars (main.py:152)."""
    return f"substring({digest}, 1, 8)"


def urim_sql(datetime_col: str, url: str) -> str:
    """Wayback replay URL for an observed day, '#' otherwise (main.py:231)."""
    return f"CASE WHEN {datetime_col} != '~' THEN concat_ws('/', '{WBM}', {datetime_col}, {url}) ELSE '#' END"


def ensure_scheme_sql(url: str) -> str:
    """Prepend https:// unless the URL already has an http(s) scheme (main.py:588)."""
    return (f"CASE WHEN startswith({url}, 'http://') OR startswith({url}, 'https://') "
            f"THEN {url} ELSE concat('https://', {url}) END")


def ymd_spark_sql(days: str) -> str:
    """Humanize a day count as '{y}y{m}m{d}d' (main.py:31-42).

    Bug-compatible quirks (goldens in FIXTURES.md §3.5): 365/30 arithmetic;
    once a year is present or months exceed 6, months round up when the
    day remainder > 15 and days are dropped; 12 months carry into a year.
    Examples: 45 -> '1m15d', 380 -> '1y', 395 -> '1y1m', 1000 -> '2y9m'.
    """
    d0 = f"CAST({days} AS BIGINT)"
    y = f"floor({d0} / 365)"
    rem = f"({d0} % 365)"
    m = f"floor({rem} / 30)"
    d = f"({rem} % 30)"
    round_up = f"({y} > 0 OR {m} > 6)"
    m2 = f"(CASE WHEN {round_up} AND {d} > 15 THEN {m} + 1 ELSE {m} END)"
    d2 = f"(CASE WHEN {round_up} THEN 0 ELSE {d} END)"
    y3 = f"(CASE WHEN {m2} = 12 THEN {y} + 1 ELSE {y} END)"
    m3 = f"(CASE WHEN {m2} = 12 THEN 0 ELSE {m2} END)"
    return (
        "concat("
        f"CASE WHEN {y3} > 0 THEN concat(CAST({y3} AS STRING), 'y') ELSE '' END, "
        f"CASE WHEN {m3} > 0 THEN concat(CAST({m3} AS STRING), 'm') ELSE '' END, "
        f"CASE WHEN {d2} > 0 THEN concat(CAST({d2} AS STRING), 'd') ELSE '' END)"
    )


def status_class(status: str) -> Column:
    """Column form of :func:`status_class_sql` over a column name."""
    return F.expr(status_class_sql(status))


def urim(datetime_col: str, url: str) -> Column:
    """Column form of :func:`urim_sql` over two column names."""
    return F.expr(urim_sql(datetime_col, url))


def ensure_scheme(url: str) -> Column:
    """Column form of :func:`ensure_scheme_sql` over a column name."""
    return F.expr(ensure_scheme_sql(url))


def ymd(days: str) -> Column:
    """Column form of :func:`ymd_spark_sql` over a column name."""
    return F.expr(ymd_spark_sql(days))


def ymd_py(days: int) -> str:
    """Driver-side twin of :func:`ymd` for metric formatting."""
    y, d = divmod(int(days), 365)
    m, d = divmod(d, 30)
    if y or m > 6:
        if d > 15:
            m += 1
        d = 0
    if m == 12:
        y += 1
        m = 0
    return "".join(f"{v}{k}" for k, v in (("y", y), ("m", m), ("d", d)) if v)


def ymd_sql(expr: str) -> str:
    """ANSI-SQL (DuckDB-compatible) rendering of :func:`ymd` over ``expr``.

    Used by oracle queries so the DuckDB side computes the identical
    humanized-duration string.
    """
    d0 = f"CAST({expr} AS BIGINT)"
    y = f"({d0} // 365)"
    rem = f"({d0} % 365)"
    m = f"({rem} // 30)"
    d = f"({rem} % 30)"
    round_up = f"(({y}) > 0 OR ({m}) > 6)"
    m2 = f"(CASE WHEN {round_up} AND {d} > 15 THEN {m} + 1 ELSE {m} END)"
    d2 = f"(CASE WHEN {round_up} THEN 0 ELSE {d} END)"
    y3 = f"(CASE WHEN {m2} = 12 THEN {y} + 1 ELSE {y} END)"
    m3 = f"(CASE WHEN {m2} = 12 THEN 0 ELSE {m2} END)"
    return (
        "concat("
        f"CASE WHEN {y3} > 0 THEN concat(CAST({y3} AS VARCHAR), 'y') ELSE '' END, "
        f"CASE WHEN {m3} > 0 THEN concat(CAST({m3} AS VARCHAR), 'm') ELSE '' END, "
        f"CASE WHEN {d2} > 0 THEN concat(CAST({d2} AS VARCHAR), 'd') ELSE '' END)"
    )
