"""Capture normalization: day/class projection + revisit resolution.

Covers SURVEY.md §2 operators O7 (day truncation), O8 (status-class
normalization), O9 (revisit resolution), O10 (digest truncation).

The reference (main.py:143-152) resolves Wayback "revisit" records
(status ``-``) by consulting a last-writer-wins dict keyed by the *full*
digest. Spark-first equivalent: a running ``last(..., ignorenulls)``
window over (url, digest) ordered by capture time — no driver state, no
UDF, scales to any number of urls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from trendmachine_spark.functions.scalars import day_date_sql, day_string_sql, digest8_sql, status_class_sql


def normalize_captures(captures: DataFrame) -> DataFrame:
    """captures(url, seq, ts, status, digest) -> normalized capture rows.

    Output columns: url, seq, ts, day (date), day_str, cls (resolved
    status class), digest (8-char). Capture order within a url is
    (ts, seq) — sortedness of the source is never assumed.
    """
    c = captures.selectExpr(
        "url", "seq", "ts", "digest",
        f"{day_date_sql('ts')} AS day",
        f"{day_string_sql('ts')} AS day_str",
        f"{status_class_sql('status')} AS cls_raw",
    )
    # Revisit resolution (O9): '-' rows inherit the most recent class
    # previously recorded for the same (url, full-digest); default '~'.
    # Non-'-' rows contribute their own class to the running state.
    resolved = (
        "CASE WHEN cls_raw = '-' THEN coalesce(last(CASE WHEN cls_raw != '-' THEN cls_raw END, true) "
        "OVER (PARTITION BY url, digest ORDER BY ts, seq "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), '~') ELSE cls_raw END"
    )
    return c.selectExpr(
        "url", "seq", "ts", "day", "day_str", f"{resolved} AS cls", f"{digest8_sql('digest')} AS digest"
    )
