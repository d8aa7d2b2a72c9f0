"""Densify edge cases, each checked against a row-by-row model of the
reference spine: ``pd.date_range(first observed day, as_of)`` with
point lookups into the observed and gap-filled days, the DailyRecord
defaults elsewhere, and chaos forward-filled from the last observed day
(main.py:199-207)."""

from __future__ import annotations

import datetime as _dt

import pytest

from tests.conftest import FIXTURE_LINES_A
from trendmachine_spark.operators.fill import gap_fill
from trendmachine_spark.operators.normalize import normalize_captures
from trendmachine_spark.operators.rollup import daily_rollup
from trendmachine_spark.operators.spine import densify
from trendmachine_spark.pipeline import daily_series
from trendmachine_spark.sources.captures import captures_from_fixture

COLS = ("day", "day_str", "_2xx", "_3xx", "_4xx", "_5xx", "all", "specimen",
        "datetime", "digest", "content", "chaos", "chaosn", "filled")

#: observed days 2020-01-01, 01-03 (gap 1) and 01-07 (gap 3)
GAPPY = [
    "20200101010000 200 AAAA1111X",
    "20200101020000 404 BBBB2222X",
    "20200103010000 200 AAAA1111X",
    "20200107010000 503 CCCC3333X",
    "20200107020000 200 CCCC3333X",
]


def _model(daily: list, filled: list, as_of: _dt.date) -> list[tuple]:
    """The reference spine over one url's observed and filled rows."""
    if not daily:
        return []
    obs = {r["day"]: r for r in daily}
    fill = {r["day"]: r["specimen"] for r in filled}
    out, chaos, day = [], (0.0, 0.0), min(obs)
    while day <= as_of:
        r = obs.get(day)
        if r is not None:
            chaos = (r["chaos"], r["chaosn"])
            row = tuple(r[c] for c in COLS[:11])
        else:
            spec = fill.get(day, "~")
            row = (day, day.isoformat(), 0, 0, 0, 0, 0, spec, "~", "~", "Unknown")
        out.append(row + chaos + (row[7] != "~" and row[6] == 0,))
        day += _dt.timedelta(days=1)
    return out


def _check(spark, lines, as_of: str, fill: int = 0, policy: str = "closest") -> list[tuple]:
    daily = daily_rollup(normalize_captures(captures_from_fixture(spark, lines)))
    filled = gap_fill(daily, fill, policy) if fill else None
    as_of_d = _dt.date.fromisoformat(as_of)
    got = [tuple(r[c] for c in COLS)
           for r in densify(daily, filled, as_of_d).orderBy("day").collect()]
    want = _model(daily.collect(), filled.collect() if filled else [], as_of_d)
    assert got == want
    return got


@pytest.mark.parametrize("fill,policy", [(-1, "closest"), (-1, "backward"), (2, "forward"), (3, "identical")])
def test_filled_days_carry_chaos(spark, fill, policy):
    rows = _check(spark, GAPPY, "2020-01-09", fill, policy)
    assert [r[0].day for r in rows] == list(range(1, 10))
    assert any(r[-1] for r in rows)
    for r in rows:
        if r[-1]:  # a filled interior day carries the chaos of the observed day before it
            prev = max(x for x in rows if x[0] < r[0] and x[6] != 0)
            assert (r[11], r[12]) == (prev[11], prev[12])


def test_fill_limit_leaves_long_gaps_unfilled(spark):
    rows = _check(spark, GAPPY, "2020-01-09", fill=2)
    by_day = {r[0].day: r for r in rows}
    assert by_day[2][-1] is True  # 1-day gap: filled
    assert all(by_day[d][7] == "~" for d in (4, 5, 6))  # 3-day gap: left missing


def test_observed_days_after_as_of_are_dropped(spark):
    rows = _check(spark, FIXTURE_LINES_A, "2020-01-02")
    assert [r[1] for r in rows] == ["2020-01-01", "2020-01-02"]
    rows = _check(spark, GAPPY, "2020-01-05", fill=-1)
    assert [r[0].day for r in rows] == [1, 2, 3, 4, 5]
    # the 01-04..01-06 gap closes after as_of: its days are filled, but cut at as_of
    assert [(r[7], r[-1]) for r in rows][3:] == [("2xx", True), ("2xx", True)]


def test_single_capture_url(spark):
    rows = _check(spark, ["20200101010000 200 AAAA1111X"], "2020-01-04")
    assert len(rows) == 4
    assert [r[7] for r in rows] == ["2xx", "~", "~", "~"]
    assert {(r[11], r[12]) for r in rows} == {(rows[0][11], rows[0][12])}


def test_capture_on_as_of(spark):
    rows = _check(spark, FIXTURE_LINES_A, "2020-01-04")
    assert rows[-1][1] == "2020-01-04" and rows[-1][6] == 1
    assert _check(spark, FIXTURE_LINES_A, "2020-01-01")[0][1] == "2020-01-01"


def test_url_first_archived_after_as_of_yields_no_rows(spark):
    """A url whose first capture falls after ``as_of`` contributes no
    rows (``pd.date_range(first, today)`` is empty when first > today)
    and does not abort the other urls' series."""
    late = captures_from_fixture(spark, ["20200110010000 200 AAAA1111X",
                                         "20200111010000 200 AAAA1111X",
                                         "20200112010000 404 BBBB2222X"], url="late")
    early = captures_from_fixture(spark, FIXTURE_LINES_A, url="early")
    assert daily_series(late, as_of="2020-01-05").count() == 0
    rows = daily_series(early.unionByName(late), as_of="2020-01-05").collect()
    assert {r["url"] for r in rows} == {"early"}
    assert len(rows) == 5
