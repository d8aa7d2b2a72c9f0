"""Daily rollup: per-(url, day) counts, specimen arg-max, chaos, content.

Covers SURVEY.md §2 operators O17 (All), O19 (daily pivot counts), O20
(specimen arg-max by priority), O21 (chaos / chaosn), O22 (content
change detection).

Reference semantics (main.py:129-183) re-expressed as windows over each
url's captures, one (url, day) aggregation and one window over the days:

* counts: conditional sums per status class; unknown classes are counted
  nowhere (DailyRecord.incr swallows them, archive.py:51-56) but still
  compete for specimen with priority 0;
* specimen: the *first* capture (in (ts, seq) order) achieving the day's
  maximum priority wins (strict ``pr > cp`` at main.py:164);
* chaos: with chg_i = (cls_i != cls_{i-1}), cls_{-1} = '~', the day's
  closing values are chaos = sum(chg)/n cumulative and chaosn =
  sum(chg) over rows(-(SWS-2), 0) / min(SWS, n). NB the frame is
  SWS-1 = 999 transitions wide, NOT SWS: the ring buffer at
  main.py:170-178 evicts boundary (i-SWS, i-SWS+1) when processing row
  i, and at the exact window-fill moment (i = SWS-1) it evicts the
  virtual initial transition (status[0] vs '~') — so the window holds
  the 999 *internal* boundaries of its 1000 rows (verified against a
  ring-buffer simulation in tests/test_chaos_window_eviction.py);
* content: day's specimen digest vs the previous observed day's
  ('Unchanged'/'Changed'; first day compares to '~' => 'Changed').
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trendmachine_spark.params import STATUS_PRIORITY, SWS

#: specimen priority of a status class; unknown classes rank 0
_PRIORITY = "CASE {} ELSE 0 END".format(
    " ".join(f"WHEN cls = '{k}' THEN {v}" for k, v in STATUS_PRIORITY.items()))


def daily_rollup(normalized: DataFrame, with_chaos: bool = True) -> DataFrame:
    """normalized captures -> one row per (url, day).

    Output: url, day, day_str, _2xx, _3xx, _4xx, _5xx, all, specimen,
    datetime, digest, content[, chaos, chaosn].
    """
    c = normalized
    w = "PARTITION BY url ORDER BY ts, seq"
    if with_chaos:
        # O21 — run-change flag over the url's full capture stream; the
        # sliding frame is SWS-1 transitions = the internal boundaries
        # of SWS rows (see module docstring for the eviction off-by-one)
        c = c.selectExpr(
            "*",
            f"CAST(cls != coalesce(lag(cls) OVER ({w}), '~') AS BIGINT) AS _chg",
            f"row_number() OVER ({w}) AS _rn",
        ).selectExpr(
            "*",
            f"sum(_chg) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / _rn AS _chaos",
            f"sum(_chg) OVER ({w} ROWS BETWEEN {SWS - 2} PRECEDING AND CURRENT ROW) / least({SWS}, _rn) AS _chaosn",
        )

    # Arg-max ordering key: highest priority, then earliest (ts, seq).
    # ts is a 14-digit string => numeric negation gives the reversal.
    aggs = [f"sum(CAST(cls = '{k}' AS BIGINT)) AS _{k}" for k in ("2xx", "3xx", "4xx", "5xx")]
    aggs.append(
        "max_by(named_struct('datetime', ts, 'digest', digest, 'specimen', cls), "
        f"named_struct('pr', {_PRIORITY}, 'nts', -CAST(ts AS BIGINT), 'nseq', -seq)) AS _spec")
    if with_chaos:
        close_key = "named_struct('ts', CAST(ts AS BIGINT), 'seq', seq)"
        aggs += [f"max_by(_chaos, {close_key}) AS chaos", f"max_by(_chaosn, {close_key}) AS chaosn"]
    chaos = ["chaos", "chaosn"] if with_chaos else []
    d = c.groupBy("url", "day", "day_str").agg(*[F.expr(a) for a in aggs]).selectExpr(
        "url", "day", "day_str", "_2xx", "_3xx", "_4xx", "_5xx",
        "_2xx + _3xx + _4xx + _5xx AS `all`",
        "_spec.specimen AS specimen", "_spec.datetime AS datetime", "_spec.digest AS digest", *chaos)

    # O22 — content change vs previous *observed* day's specimen digest.
    return d.selectExpr(
        "url", "day", "day_str", "_2xx", "_3xx", "_4xx", "_5xx", "`all`", "specimen", "datetime", "digest",
        "CASE WHEN digest = coalesce(lag(digest) OVER (PARTITION BY url ORDER BY day), '~') "
        "THEN 'Unchanged' ELSE 'Changed' END AS content",
        *chaos)
