"""Golden tests for the full scored daily series (FIXTURES.md §3.2-§3.5)."""

from __future__ import annotations

import pytest

from tests.conftest import FIXTURE_LINES_A, FIXTURE_LINES_B
from trendmachine_spark.functions.scalars import ymd, ymd_py
from trendmachine_spark.operators.transitions import transition_matrix
from trendmachine_spark.pipeline import daily_series, dense_daily
from trendmachine_spark.sources.captures import captures_from_fixture


def series_rows(spark, lines, **kw):
    captures = captures_from_fixture(spark, lines)
    df = daily_series(captures, **kw).orderBy("Day")
    return df.collect()


def test_series_variant_a_fill0(spark):
    rows = series_rows(spark, FIXTURE_LINES_A, fill=0, as_of="2020-01-05")
    got = {r["Day"]: r for r in rows}
    assert list(got) == [f"2020-01-0{i}" for i in range(1, 6)]

    expect = {
        "2020-01-01": ("2xx", False, 0.523713, 0.496654, 0.666667, 0.666667),
        "2020-01-02": ("2xx", False, 0.559601, 0.520525, 0.800000, 0.800000),
        "2020-01-03": ("~", False, 0.559588, 0.520513, 0.800000, 0.800000),
        "2020-01-04": ("5xx", False, 0.549523, 0.517029, 0.833333, 0.833333),
        "2020-01-05": ("~", False, 0.549510, 0.517017, 0.833333, 0.833333),
    }
    for day, (spec, filled, res, fix, chaos, chaosn) in expect.items():
        r = got[day]
        assert r["Specimen"] == spec, day
        assert r["Filled"] == filled, day
        assert r["Resilience"] == pytest.approx(res, abs=1e-6), day
        assert r["Fixity"] == pytest.approx(fix, abs=1e-6), day
        assert r["Chaos"] == pytest.approx(chaos, abs=1e-6), day
        assert r["Chaosn"] == pytest.approx(chaosn, abs=1e-6), day

    # URIM projection (O14)
    assert got["2020-01-01"]["URIM"] == "https://web.archive.org/web/20200101020000/u"
    assert got["2020-01-03"]["URIM"] == "#"

    # Report schema order (SURVEY.md §1.2)
    assert [c for c in daily_series(
        captures_from_fixture(spark, FIXTURE_LINES_A), as_of="2020-01-05"
    ).columns] == ["url", "Day", "Datetime", "2xx", "3xx", "4xx", "5xx", "All",
                   "Specimen", "Filled", "Resilience", "Digest", "Content",
                   "Fixity", "Chaos", "Chaosn", "URIM"]


def test_series_fill_backward(spark):
    rows = series_rows(
        spark, FIXTURE_LINES_A, fill=-1, policy="backward", as_of="2020-01-05"
    )
    got = {r["Day"]: r for r in rows}
    r = got["2020-01-03"]
    assert r["Specimen"] == "5xx"
    assert r["All"] == 0
    assert r["Filled"] is True
    assert r["Resilience"] == pytest.approx(0.549536, abs=1e-6)
    assert r["Fixity"] == pytest.approx(0.520513, abs=1e-6)
    assert r["Chaos"] == pytest.approx(0.8, abs=1e-6)


def test_series_variant_b_unknown_specimen_divergence(spark):
    # Reference crashes (TypeError) on the '0' specimen; we score it as '~'.
    rows = series_rows(spark, FIXTURE_LINES_B, as_of="2020-01-05")
    got = {r["Day"]: r for r in rows}
    assert got["2020-01-05"]["Specimen"] == "0"
    assert 0.0 <= got["2020-01-05"]["Resilience"] <= 1.0


def test_transition_matrix_variant_a(spark):
    captures = captures_from_fixture(spark, FIXTURE_LINES_A)
    dense = dense_daily(captures, as_of="2020-01-05")
    cells = {
        (r["Source"], r["Target"]): r["Count"]
        for r in transition_matrix(dense).collect()
    }
    assert len(cells) == 16
    assert cells[("2xx", "2xx")] == 1  # 01-01 -> 01-02
    assert cells[("2xx", "5xx")] == 1  # 01-02 -> 01-04 (the '~' day is skipped)
    assert sum(cells.values()) == 2


def test_ymd_goldens(spark):
    goldens = {0: "", 1: "1d", 15: "15d", 45: "1m15d", 200: "6m20d", 365: "1y",
               380: "1y", 395: "1y1m", 700: "1y11m", 730: "2y", 1000: "2y9m"}
    for d, want in goldens.items():
        assert ymd_py(d) == want, d
    import pyspark.sql.functions as F
    df = spark.createDataFrame([(d,) for d in goldens], "d long").withColumn(
        "h", ymd("d")
    )
    for r in df.collect():
        assert r["h"] == goldens[r["d"]], r["d"]
