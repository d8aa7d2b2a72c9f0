"""Registry queries: captures (split from registry.py, round 14).

POSITION-CONTIGUOUS slice of the original registry.py — import
order of the registry_queries modules IS the driver-contract
registration order; do not reorder. Body lines are verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from trendmachine_spark import oracle_sql as osql
from trendmachine_spark.functions.scalars import urim, ymd, ymd_sql
from trendmachine_spark.operators.fill import gap_fill
from trendmachine_spark.operators.normalize import normalize_captures
from trendmachine_spark.operators.samples import periodic_samples
from trendmachine_spark.operators.spine import densify, resolve_as_of
from trendmachine_spark.operators.transitions import transition_matrix
from trendmachine_spark.sources.captures import events_as_captures

from trendmachine_spark.registry_core import (
    _daily,
    _shared,
    register,
)



# ---------------------------------------------------------------- O3/O7-O10

@register(
    "capture_normalize",
    f"WITH {osql.NORM} SELECT url, seq, ts, day, cls, digest8 FROM norm",
)
def q_capture_normalize(spark, sf_dir):
    n = normalize_captures(events_as_captures(spark, sf_dir))
    return n.select(
        "url", "seq", "ts", F.col("day_str").alias("day"), "cls",
        F.col("digest").alias("digest8"),
    )


# ------------------------------------------------------------- O17/O19/O20/O22

@register(
    "daily_rollup",
    f"""WITH {osql.DAILY}
    SELECT url, day, c2xx, c3xx, c4xx, c5xx, all_cnt,
           specimen, datetime, digest, content
    FROM daily2""",
)
def q_daily_rollup(spark, sf_dir):
    d = _daily(spark, sf_dir)
    return d.select(
        "url", F.col("day_str").alias("day"),
        F.col("_2xx").alias("c2xx"), F.col("_3xx").alias("c3xx"),
        F.col("_4xx").alias("c4xx"), F.col("_5xx").alias("c5xx"),
        F.col("all").alias("all_cnt"),
        "specimen", "datetime", "digest", "content",
    )


@register(
    "daily_moving_avg",
    # 7-day trailing mean of the All count per url over observed days —
    # the dashboard trend-smoothing companion to the daily pivot. Exact:
    # sum and count are integers, one IEEE division.
    f"""WITH {osql.DAILY}
    SELECT url, day, all_cnt,
           CAST(sum(all_cnt) OVER w AS BIGINT) AS sum7,
           CAST(sum(all_cnt) OVER w AS DOUBLE) / count(*) OVER w AS ma7
    FROM daily2
    WINDOW w AS (PARTITION BY url ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
)
def q_daily_moving_avg(spark, sf_dir):
    """7-day trailing moving average per url (rows frame over observed
    days; reuses the shared rollup's url partitioning — zero extra
    exchanges beyond the rollup)."""
    d = _daily(spark, sf_dir)
    w = Window.partitionBy("url").orderBy("day_str").rowsBetween(-6, 0)
    return d.select(
        "url",
        F.col("day_str").alias("day"),
        F.col("all").alias("all_cnt"),
        F.sum("all").over(w).alias("sum7"),
        (F.sum("all").over(w).cast("double") / F.count(F.lit(1)).over(w)).alias("ma7"),
    )


@register(
    "status_month_cube",
    # totals-with-margins: counts by (class, month) with all CUBE
    # margins; sentinel '(all)' marks rolled-up dimensions so the
    # output needs no engine-specific grouping-id bit conventions
    f"""WITH {osql.NORM}
    SELECT coalesce(cls, '(all)') AS cls,
           coalesce(month, '(all)') AS month,
           CAST(count(*) AS BIGINT) AS n
    FROM (SELECT cls, substr(day, 1, 7) AS month FROM norm)
    GROUP BY CUBE (cls, month)""",
)
def q_status_month_cube(spark, sf_dir):
    """OLAP cube over (status class, month): every margin in one pass
    (Spark plans a single Expand + hash agg — one exchange)."""
    n = normalize_captures(events_as_captures(spark, sf_dir))
    base = n.select("cls", F.substring(F.col("day_str"), 1, 7).alias("month"))
    return (
        base.cube("cls", "month")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("cls"), F.lit("(all)")).alias("cls"),
            F.coalesce(F.col("month"), F.lit("(all)")).alias("month"),
            "n",
        )
    )


# ----------------------------------------------------------------------- O21

@register(
    "daily_chaos",
    f"WITH {osql.DAILY} SELECT url, day, chaos, chaosn FROM daily",
)
def q_daily_chaos(spark, sf_dir):
    d = _daily(spark, sf_dir)
    return d.select("url", F.col("day_str").alias("day"), "chaos", "chaosn")


# ----------------------------------------------------------------------- O29

@register(
    "periodic_samples",
    f"""WITH {osql.CLASSED}
    SELECT url, Period, Samples FROM (
      SELECT url,
             CAST(count(DISTINCT substr(ts, 1, 14)) AS BIGINT) AS "Second",
             CAST(count(DISTINCT substr(ts, 1, 12)) AS BIGINT) AS "Minute",
             CAST(count(DISTINCT substr(ts, 1, 10)) AS BIGINT) AS "Hour",
             CAST(count(DISTINCT substr(ts, 1, 8)) AS BIGINT) AS "Day",
             CAST(count(DISTINCT substr(ts, 1, 6)) AS BIGINT) AS "Month",
             CAST(count(DISTINCT substr(ts, 1, 4)) AS BIGINT) AS "Year"
      FROM classed GROUP BY url
    ) UNPIVOT (Samples FOR Period IN ("Second", "Minute", "Hour", "Day", "Month", "Year"))""",
)
def q_periodic_samples(spark, sf_dir):
    caps = events_as_captures(spark, sf_dir)
    return periodic_samples(caps).select("url", "Period", "Samples")


# ----------------------------------------------------------------------- O31

def _dense(spark, sf_dir, fill: int = 0, policy: str = "closest") -> DataFrame:
    def build():
        daily = _daily(spark, sf_dir)
        filled = gap_fill(daily, fill, policy) if fill != 0 else None
        return densify(daily, filled, resolve_as_of(daily, None))

    return _shared(spark, sf_dir, f"dense:{fill}:{policy}", build)


@register(
    "date_spine",
    f"""WITH {osql.SPINE}
    SELECT s.url, s.day,
           CAST(CASE WHEN d.day IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_observed
    FROM spine s LEFT JOIN daily d ON s.url = d.url AND s.day = d.day""",
)
def q_date_spine(spark, sf_dir):
    dense = _dense(spark, sf_dir)
    # every observed day carries its first capture's ts, even when all
    # class counts are 0 (revisit-only days) — '~' means spine-generated
    return dense.select(
        "url",
        F.col("day_str").alias("day"),
        (F.col("datetime") != "~").cast("long").alias("is_observed"),
    )


# ----------------------------------------------------------------------- O32

def _mk_gap_fill(policy: str):
    if policy == "identical":
        spec = "specimen"
        extra = " WHERE specimen = next_specimen"
    elif policy == "forward":
        spec, extra = "specimen", ""
    elif policy == "backward":
        spec, extra = "next_specimen", ""
    else:  # closest
        spec = "CASE WHEN i < gap / 2.0 THEN specimen ELSE next_specimen END"
        extra = ""
    oracle = f"""WITH {osql.gap_pairs_sql(-1)}
    SELECT url, fill_day AS day, {spec} AS specimen FROM interior{extra}"""

    @register(f"gap_fill_{policy}", oracle)
    def q(spark, sf_dir, policy=policy):
        daily = _daily(spark, sf_dir)
        out = gap_fill(daily, -1, policy)
        return out.select("url", F.date_format("day", "yyyy-MM-dd").alias("day"), "specimen")

    return q


for _p in ("identical", "closest", "forward", "backward"):
    _mk_gap_fill(_p)


# ----------------------------------------------------------------------- O33

@register(
    "chaos_ffill",
    f"""WITH {osql.SPINE},
    dense AS (
      SELECT s.url, s.day, d.chaos, d.chaosn
      FROM spine s LEFT JOIN daily d ON s.url = d.url AND s.day = d.day
    )
    SELECT url, day,
           coalesce(last_value(chaos IGNORE NULLS) OVER w, 0.0) AS chaos,
           coalesce(last_value(chaosn IGNORE NULLS) OVER w, 0.0) AS chaosn
    FROM dense
    WINDOW w AS (PARTITION BY url ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
)
def q_chaos_ffill(spark, sf_dir):
    dense = _dense(spark, sf_dir)
    return dense.select("url", F.col("day_str").alias("day"), "chaos", "chaosn")


# ------------------------------------------------------------------- O12/O28

@register(
    "transition_matrix",
    f"""WITH {osql.DAILY},
    valid AS (
      SELECT url, day, specimen,
             lag(specimen) OVER (PARTITION BY url ORDER BY day) AS prev
      FROM daily2 WHERE specimen IN ('2xx', '3xx', '4xx', '5xx')
    ),
    cnt AS (
      SELECT url, prev AS source, specimen AS target,
             CAST(count(*) AS BIGINT) AS cnt
      FROM valid WHERE prev IS NOT NULL GROUP BY url, prev, specimen
    ),
    classes AS (SELECT unnest(['2xx', '3xx', '4xx', '5xx']) AS c),
    cells AS (
      SELECT DISTINCT d.url, s.c AS source, t.c AS target
      FROM daily2 d, classes s, classes t
    )
    SELECT cells.url, cells.source, cells.target, coalesce(cnt.cnt, 0) AS cnt
    FROM cells LEFT JOIN cnt
      ON cells.url = cnt.url AND cells.source = cnt.source AND cells.target = cnt.target""",
)
def q_transition_matrix(spark, sf_dir):
    daily = _daily(spark, sf_dir)
    out = transition_matrix(daily, dense_cells=True)
    return out.select(
        "url", F.col("Source").alias("source"), F.col("Target").alias("target"),
        F.col("Count").alias("cnt"),
    )


@register(
    "transition_matrix_filled",
    # O28 over the FILLED dense series: with fill != 0 the reference's
    # res list (main.py:238-245) carries valid specimens on filled days,
    # so they participate in transitions. fill=-1, policy='closest'.
    f"""WITH {osql.gap_pairs_sql(-1)},
    fills AS (
      SELECT url, fill_day AS day,
             CASE WHEN i < gap / 2.0 THEN specimen ELSE next_specimen END AS specimen
      FROM interior
    ),
    bounds AS (SELECT url, min(day) AS first_day FROM daily GROUP BY url),
    maxd AS (SELECT max(day) AS last_day FROM daily),
    spine AS (
      SELECT url, strftime(d, '%Y-%m-%d') AS day
      FROM bounds, maxd,
           unnest(generate_series(CAST(first_day AS DATE), CAST(last_day AS DATE),
                                  INTERVAL 1 DAY)) AS t(d)
    ),
    dense AS (
      SELECT s.url, s.day, coalesce(d.specimen, f.specimen, '~') AS specimen
      FROM spine s
      LEFT JOIN daily2 d ON s.url = d.url AND s.day = d.day
      LEFT JOIN fills f ON s.url = f.url AND s.day = f.day
    ),
    valid AS (
      SELECT url, day, specimen,
             lag(specimen) OVER (PARTITION BY url ORDER BY day) AS prev
      FROM dense WHERE specimen IN ('2xx', '3xx', '4xx', '5xx')
    ),
    cnt AS (
      SELECT url, prev AS source, specimen AS target,
             CAST(count(*) AS BIGINT) AS cnt
      FROM valid WHERE prev IS NOT NULL GROUP BY url, prev, specimen
    ),
    classes AS (SELECT unnest(['2xx', '3xx', '4xx', '5xx']) AS c),
    cells AS (
      SELECT DISTINCT d.url, s.c AS source, t.c AS target
      FROM daily2 d, classes s, classes t
    )
    SELECT cells.url, cells.source, cells.target, coalesce(cnt.cnt, 0) AS cnt
    FROM cells LEFT JOIN cnt
      ON cells.url = cnt.url AND cells.source = cnt.source AND cells.target = cnt.target""",
)
def q_transition_matrix_filled(spark, sf_dir):
    dense = _dense(spark, sf_dir, fill=-1, policy="closest")
    out = transition_matrix(dense, dense_cells=True)
    return out.select(
        "url", F.col("Source").alias("source"), F.col("Target").alias("target"),
        F.col("Count").alias("cnt"),
    )


# ----------------------------------------------------------------------- O23

@register(
    "monthly_rollup",
    f"""WITH {osql.DAILY}
    SELECT url, concat(substr(day, 1, 8), '15') AS month,
           CAST(SUM(c2xx) AS BIGINT) AS c2xx, CAST(SUM(c3xx) AS BIGINT) AS c3xx,
           CAST(SUM(c4xx) AS BIGINT) AS c4xx, CAST(SUM(c5xx) AS BIGINT) AS c5xx,
           CAST(SUM(all_cnt) AS BIGINT) AS all_cnt
    FROM daily WHERE all_cnt <> 0 GROUP BY url, month""",
)
def q_monthly_rollup(spark, sf_dir):
    d = _daily(spark, sf_dir).filter(F.col("all") != 0)
    return d.groupBy(
        "url", F.concat(F.substring("day_str", 1, 8), F.lit("15")).alias("month")
    ).agg(
        F.sum("_2xx").alias("c2xx"), F.sum("_3xx").alias("c3xx"),
        F.sum("_4xx").alias("c4xx"), F.sum("_5xx").alias("c5xx"),
        F.sum("all").alias("all_cnt"),
    )


# ----------------------------------------------------------------------- O25

@register(
    "status_totals",
    f"""WITH {osql.DAILY},
    wide AS (
      SELECT url,
             CAST(SUM(c2xx) AS BIGINT) AS "2xx", CAST(SUM(c3xx) AS BIGINT) AS "3xx",
             CAST(SUM(c4xx) AS BIGINT) AS "4xx", CAST(SUM(c5xx) AS BIGINT) AS "5xx",
             CAST(SUM(all_cnt) AS BIGINT) AS "All"
      FROM daily WHERE all_cnt <> 0 GROUP BY url
    )
    SELECT url, status, total
    FROM wide UNPIVOT (total FOR status IN ("2xx", "3xx", "4xx", "5xx", "All"))""",
)
def q_status_totals(spark, sf_dir):
    d = _daily(spark, sf_dir).filter(F.col("all") != 0)
    wide = d.groupBy("url").agg(
        F.sum("_2xx").alias("2xx"), F.sum("_3xx").alias("3xx"),
        F.sum("_4xx").alias("4xx"), F.sum("_5xx").alias("5xx"),
        F.sum("all").alias("All"),
    )
    return wide.selectExpr(
        "url",
        "stack(5, '2xx', `2xx`, '3xx', `3xx`, '4xx', `4xx`, '5xx', `5xx`, 'All', `All`) as (status, total)",
    )


# ----------------------------------------------------------------------- O24

def _summary_sql() -> str:
    pieces = []
    for c, col in [("2xx", "c2xx"), ("3xx", "c3xx"), ("4xx", "c4xx"),
                   ("5xx", "c5xx"), ("All", "all_cnt")]:
        pieces.append(f"""
    SELECT url, '{c}' AS status,
           CAST(count(v) AS BIGINT) AS cnt,
           CAST(SUM(v) AS DOUBLE) / count(v) AS mean,
           CASE WHEN count(v) > 1
                THEN sqrt((CAST(SUM(v * v) AS DOUBLE) - CAST(SUM(v) AS DOUBLE) * SUM(v) / count(v)) / (count(v) - 1))
                ELSE 0.0 END AS std,
           CAST(min(v) AS BIGINT) AS minv,
           quantile_cont(v, 0.25) AS q1,
           quantile_cont(v, 0.5) AS median,
           quantile_cont(v, 0.75) AS q3,
           CAST(max(v) AS BIGINT) AS maxv
    FROM (SELECT url, {col} AS v FROM daily WHERE all_cnt <> 0 AND {col} <> 0)
    GROUP BY url""")
    return f"WITH {osql.DAILY} " + " UNION ALL ".join(pieces)


@register("summary_stats", _summary_sql())
def q_summary_stats(spark, sf_dir):
    d = _daily(spark, sf_dir).filter(F.col("all") != 0)
    pieces = []
    for c, col in [("2xx", "_2xx"), ("3xx", "_3xx"), ("4xx", "_4xx"),
                   ("5xx", "_5xx"), ("All", "all")]:
        v = d.filter(F.col(col) != 0).select("url", F.col(col).alias("v"))
        n = F.count("v")
        s = F.sum("v")
        ss = F.sum(F.col("v") * F.col("v"))
        pieces.append(
            v.groupBy("url").agg(
                n.alias("cnt"),
                (s.cast("double") / n).alias("mean"),
                F.when(
                    n > 1,
                    F.sqrt((ss.cast("double") - s.cast("double") * s / n) / (n - 1)),
                ).otherwise(0.0).alias("std"),
                F.min("v").cast("long").alias("minv"),
                F.expr("percentile(v, 0.25)").alias("q1"),
                F.expr("percentile(v, 0.5)").alias("median"),
                F.expr("percentile(v, 0.75)").alias("q3"),
                F.max("v").cast("long").alias("maxv"),
            ).withColumn("status", F.lit(c))
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.select("url", "status", "cnt", "mean", "std", "minv", "q1", "median", "q3", "maxv")


# ----------------------------------------------------------------------- O26

@register(
    "content_value_counts",
    f"""WITH {osql.SPINE},
    dense AS (
      SELECT s.url, s.day, coalesce(d.content, 'Unknown') AS content
      FROM spine s LEFT JOIN daily2 d ON s.url = d.url AND s.day = d.day
    )
    SELECT url, content, CAST(count(*) AS BIGINT) AS cnt
    FROM dense GROUP BY url, content""",
)
def q_content_value_counts(spark, sf_dir):
    dense = _dense(spark, sf_dir)
    return dense.groupBy("url", "content").agg(F.count(F.lit(1)).alias("cnt"))


# ----------------------------------------------------------------------- O27

@register(
    "specimen_breakdown",
    f"""WITH {osql.gap_pairs_sql(-1)},
    fills AS (SELECT url, fill_day AS day, specimen FROM interior),
    bounds AS (SELECT url, min(day) AS first_day FROM daily GROUP BY url),
    maxd AS (SELECT max(day) AS last_day FROM daily),
    spine AS (
      SELECT url, strftime(d, '%Y-%m-%d') AS day
      FROM bounds, maxd,
           unnest(generate_series(CAST(first_day AS DATE), CAST(last_day AS DATE),
                                  INTERVAL 1 DAY)) AS t(d)
    ),
    dense AS (
      SELECT s.url, s.day,
             coalesce(d.specimen, f.specimen, '~') AS specimen,
             coalesce(d.all_cnt, 0) AS all_cnt
      FROM spine s
      LEFT JOIN daily2 d ON s.url = d.url AND s.day = d.day
      LEFT JOIN fills f ON s.url = f.url AND s.day = f.day
    ),
    wide AS (
      SELECT url,
             CAST(SUM(CASE WHEN all_cnt <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS "Active",
             CAST(SUM(CASE WHEN specimen <> '~' AND all_cnt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS "Filled",
             CAST(SUM(CASE WHEN specimen = '~' AND all_cnt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS "Missing"
      FROM dense GROUP BY url
    )
    SELECT url, specimen_src, days
    FROM wide UNPIVOT (days FOR specimen_src IN ("Active", "Filled", "Missing"))""",
)
def q_specimen_breakdown(spark, sf_dir):
    dense = _dense(spark, sf_dir, fill=-1, policy="forward")
    wide = dense.groupBy("url").agg(
        F.sum((F.col("all") != 0).cast("long")).alias("Active"),
        F.sum(F.col("filled").cast("long")).alias("Filled"),
        F.sum(((F.col("specimen") == "~") & (F.col("all") == 0)).cast("long")).alias("Missing"),
    )
    return wide.selectExpr(
        "url",
        "stack(3, 'Active', Active, 'Filled', Filled, 'Missing', Missing) as (specimen_src, days)",
    )


# ----------------------------------------------------------------------- O41

@register(
    "first_last_capture",
    f"""WITH {osql.DAILY}
    SELECT url, min(day) AS first_day, arg_min(datetime, day) AS first_datetime,
           max(day) AS last_day, arg_max(datetime, day) AS last_datetime
    FROM daily WHERE all_cnt <> 0 GROUP BY url""",
)
def q_first_last_capture(spark, sf_dir):
    d = _daily(spark, sf_dir).filter(F.col("all") != 0)
    return d.groupBy("url").agg(
        F.min("day_str").alias("first_day"),
        F.min_by("datetime", "day_str").alias("first_datetime"),
        F.max("day_str").alias("last_day"),
        F.max_by("datetime", "day_str").alias("last_datetime"),
    )


# ----------------------------------------------------------------------- O14

@register(
    "urim_projection",
    f"""WITH {osql.DAILY}
    SELECT url, day,
           CASE WHEN datetime <> '~'
                THEN concat('https://web.archive.org/web', '/', datetime, '/', url)
                ELSE '#' END AS urim
    FROM daily""",
)
def q_urim_projection(spark, sf_dir):
    d = _daily(spark, sf_dir)
    return d.select(
        "url", F.col("day_str").alias("day"),
        urim("datetime", "url").alias("urim"),
    )


# ------------------------------------------------------------------- O15/O30

@register(
    "headline_metrics",
    f"""WITH {osql.SPINE},
    dense AS (
      SELECT s.url, s.day, coalesce(d.all_cnt, 0) AS all_cnt,
             coalesce(d.c2xx, 0) AS c2xx,
             coalesce(d.content, 'Unknown') AS content
      FROM spine s LEFT JOIN daily2 d ON s.url = d.url AND s.day = d.day
    ),
    agg AS (
      SELECT url,
             CAST(SUM(all_cnt) AS BIGINT) AS captures,
             CAST(SUM(c2xx) AS BIGINT) AS ok_captures,
             CAST(count(*) AS BIGINT) AS span_days,
             max(CASE WHEN all_cnt <> 0 THEN day END) AS last_observed_day,
             max(day) AS spine_end,
             CAST(SUM(CASE WHEN all_cnt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS gap_days,
             CAST(SUM(CASE WHEN content = 'Changed' THEN 1 ELSE 0 END) AS BIGINT) AS changed_days,
             CAST(SUM(CASE WHEN all_cnt <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS active_days
      FROM dense GROUP BY url
    )
    SELECT url, captures, span_days, last_observed_day, gap_days, changed_days, active_days,
           CAST(ok_captures AS DOUBLE) / captures AS ok_ratio,
           {ymd_sql('span_days')} AS span_human,
           CAST(datediff('day', CAST(last_observed_day AS DATE), CAST(spine_end AS DATE)) AS BIGINT) AS inactive_days
    FROM agg""",
)
def q_headline_metrics(spark, sf_dir):
    dense = _dense(spark, sf_dir)
    agg = dense.groupBy("url").agg(
        F.sum("all").alias("captures"),
        F.sum("_2xx").alias("_ok"),
        F.count(F.lit(1)).alias("span_days"),
        F.max(F.when(F.col("all") != 0, F.col("day_str"))).alias("last_observed_day"),
        F.max("day_str").alias("_spine_end"),
        F.sum((F.col("all") == 0).cast("long")).alias("gap_days"),
        F.sum((F.col("content") == "Changed").cast("long")).alias("changed_days"),
        F.sum((F.col("all") != 0).cast("long")).alias("active_days"),
    )
    return agg.select(
        "url", "captures", "span_days", "last_observed_day", "gap_days",
        "changed_days", "active_days",
        (F.col("_ok").cast("double") / F.col("captures")).alias("ok_ratio"),
        ymd("span_days").alias("span_human"),
        F.datediff(
            F.to_date("_spine_end"), F.to_date("last_observed_day")
        ).cast("long").alias("inactive_days"),
    )
