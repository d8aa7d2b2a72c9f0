"""Status transition matrix over consecutive valid-specimen days.

Covers SURVEY.md §2 operators O12 (valid-specimen filter) + O28
(reference main.py:232-246).

The reference iterates the dense daily list, skipping days whose
specimen is outside {2xx,3xx,4xx,5xx} *without advancing the lag value*
— i.e. filter first, then pair consecutive survivors. Output is the
dense long form (Source, Target, Count) with all 16 cells present.

Known divergence (one edge case): in main.py:238-245 ``pr`` only
advances on a *successful* count, so if the FIRST day of the series has
an out-of-domain specimen ('~' or a raw token), the reference's first
valid day pairs against that stale initial '~' and the whole series
counts zero transitions; filter-then-lag instead counts every
consecutive-survivor pair. The reference behavior is arguably a bug
(one bad leading day silences the matrix), so the Spark semantics are
kept — same stance as the unknown-specimen divergence in SURVEY §2.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trendmachine_spark.params import TRANSITION_CLASSES

_CELLS = [(i, s, j, t) for i, s in enumerate(TRANSITION_CLASSES) for j, t in enumerate(TRANSITION_CLASSES)]


def transition_matrix(dense_daily: DataFrame, dense_cells: bool = True) -> DataFrame:
    """dense daily series -> (url, Source, Target, Count).

    ``dense_daily`` needs url, day, specimen; filled days participate
    (their specimen is set), missing '~' days are skipped.

    ONE exchange total: ``prev`` is the previous *valid* specimen via
    ``last(valid, ignorenulls)`` over the preceding frame (equivalent to
    filter-then-lag, but keeps every row so no url is lost), and the
    16 cells are conditional counts in a ``groupBy(url)`` that reuses
    the window's url hash-partitioning (HashAggregate, no new Exchange)
    — then a narrow ``stack`` to the dense long form. Every expression
    is Spark SQL text, so the plan builds in a handful of calls.
    """
    valid = "specimen IN ({})".format(", ".join(f"'{c}'" for c in TRANSITION_CLASSES))
    rows = dense_daily.selectExpr(
        "url", "specimen",
        f"last(CASE WHEN {valid} THEN specimen END, true) OVER (PARTITION BY url ORDER BY day "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev",
    )
    wide = rows.groupBy("url").agg(*[
        F.expr(f"count(CASE WHEN {valid} AND prev = '{s}' AND specimen = '{t}' THEN true END) AS _c{i}_{j}")
        for i, s, j, t in _CELLS
    ])
    stack = ", ".join(f"'{s}', '{t}', _c{i}_{j}" for i, s, j, t in _CELLS)
    out = wide.selectExpr("url", f"stack({len(_CELLS)}, {stack}) as (Source, Target, Count)")
    return out if dense_cells else out.filter("Count > 0")
