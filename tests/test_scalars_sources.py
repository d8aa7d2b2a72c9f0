"""Unit tests: scalar builders, CDX live-source planning, sigmoid preview."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trendmachine_spark.functions.scalars import ensure_scheme, status_class
from trendmachine_spark.operators.sigmoid_preview import sigmoid_shape, sigmoid_shapes_all
from trendmachine_spark.params import DEFAULT_SIGPARAMS
from trendmachine_spark.sources.cdx_live import cdx_page_url


def test_ensure_scheme(spark):
    df = spark.createDataFrame(
        [("example.com",), ("http://a.org",), ("https://b.org",)], "u string"
    ).select(ensure_scheme("u").alias("fixed"))
    assert [r["fixed"] for r in df.collect()] == [
        "https://example.com", "http://a.org", "https://b.org",
    ]


def test_status_class_edges(spark):
    df = spark.createDataFrame(
        [("200",), ("599",), ("3abc",), ("1999",), ("-",), ("0",), ("robot",)],
        "s string",
    ).select("s", status_class("s").alias("c"))
    got = {r["s"]: r["c"] for r in df.collect()}
    # lexicographic range semantics, bug-compatible with main.py:147
    assert got == {"200": "2xx", "599": "5xx", "3abc": "3xx",
                   "1999": "1999", "-": "-", "0": "0", "robot": "robot"}


def test_cdx_page_url_matches_reference_shape():
    # main.py:115-118: count probe, then fl-projected page pulls
    assert cdx_page_url("https://example.com/", count_pages=True) == (
        "https://web.archive.org/cdx/search/cdx?url=https%3A%2F%2Fexample.com%2F&showNumPages=true"
    )
    assert cdx_page_url("https://example.com/", page=3) == (
        "https://web.archive.org/cdx/search/cdx?url=https%3A%2F%2Fexample.com%2F"
        "&fl=timestamp,statuscode,digest&page=3"
    )


def test_sigmoid_shape_golden(spark):
    # 2xx defaults (shift 4, slope 1, spread 1): sigmoid(4) = 1/2 -> 0.5
    rows = {r["Time"]: r["Resilience"] for r in
            sigmoid_shape(spark, DEFAULT_SIGPARAMS["2xx"]).collect()}
    assert len(rows) == 101
    assert rows[4] == pytest.approx(0.5)
    assert rows[100] == pytest.approx(1.0, abs=1e-9)
    # decay curve starts at initial=1 (spread < 0)
    rows4 = {r["Time"]: r["Resilience"] for r in
             sigmoid_shape(spark, DEFAULT_SIGPARAMS["4xx"]).collect()}
    assert rows4[0] == pytest.approx(1.0 - 1.0 / (1.0 + 2.718281828459045 ** 5), abs=1e-9)
    assert rows4[100] == pytest.approx(0.0, abs=1e-6)


def test_sigmoid_shapes_all(spark):
    df = sigmoid_shapes_all(spark)
    assert df.count() == 101 * len(DEFAULT_SIGPARAMS)
    bounds = df.agg(F.min("Resilience"), F.max("Resilience")).collect()[0]
    assert bounds[0] >= -1e-9 and bounds[1] <= 1.0 + 1e-9


def test_head_probe_plumbing(spark):
    """O4: mapInPandas probe with an injected fetcher (no network) —
    reference-format header blocks, one per redirect hop."""
    from trendmachine_spark.sources.head_probe import head_probe

    def fake_fetcher(url):
        hops = [(301, "Moved Permanently", {"Location": url + "/x"})] if "r" in url else []
        return hops + [(200, "OK", {"Content-Type": "text/html", "X-U": url})]

    urls = spark.createDataFrame([("http://a",), ("http://r",)], "url string")
    got = {r["url"]: r for r in head_probe(urls, fetcher=fake_fetcher).collect()}
    assert got["http://a"]["n_hops"] == 1
    assert got["http://r"]["n_hops"] == 2
    assert got["http://r"]["final_status"] == 200
    assert got["http://a"]["header_blocks"][0] == (
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nX-U: http://a\r\n"
    )
    assert got["http://r"]["header_blocks"][0].startswith("HTTP/1.1 301 Moved Permanently\r\n")


def test_require_captures_raises_on_empty(spark):
    """main.py:190 error contract: empty input raises ValueError."""
    import pytest

    from trendmachine_spark.pipeline import daily_series, require_captures
    from trendmachine_spark.sources.captures import CAPTURES_SCHEMA

    empty = spark.createDataFrame([], CAPTURES_SCHEMA)
    with pytest.raises(ValueError, match="Empty or malformed"):
        require_captures(empty)
    with pytest.raises(ValueError, match="Empty or malformed"):
        daily_series(empty, require_nonempty=True)
    nonempty = spark.createDataFrame(
        [("u", 0, "20240101000000", "200", "D1")], CAPTURES_SCHEMA
    )
    assert require_captures(nonempty) is nonempty


def test_multi_file_seq_tie_break(spark, tmp_path):
    """Equal-ts ties SPANNING files (round-4 mandate): seq derived from
    (declared file order, in-file line rank) must reproduce the arrival
    stream regardless of the order paths are handed to spark.read.text
    or the shuffle partitioning."""
    from trendmachine_spark.operators.normalize import normalize_captures
    from trendmachine_spark.operators.rollup import daily_rollup
    from trendmachine_spark.sources.captures import read_cdx_text

    f1, f2 = tmp_path / "dump-001.cdx", tmp_path / "dump-002.cdx"
    # same second, same digest: the file-2 revisit ('-') must resolve
    # against the file-1 capture that ARRIVED first within the tie
    f1.write_text("20240101120000 404 DGAAAAXX\n20240101130000 200 DGBBBBXX\n")
    f2.write_text("20240101120000 - DGAAAAXX\n20240101140000 - DGBBBBXX\n")
    paths = [str(f1), str(f2)]

    def run(ps, parts):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            norm = normalize_captures(read_cdx_text(spark, ps, url="u"))
            return (
                sorted(map(tuple, norm.collect())),
                sorted(map(tuple, daily_rollup(norm).collect())),
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    base_norm, base_roll = run(paths, 32)
    # the tie resolves through file-1's 404: revisit row classed 4xx
    by_seq = {r[1]: r for r in base_norm}
    assert by_seq[1][5] == "4xx"               # f1 line 1 (its own class)
    assert by_seq[(1 << 40) + 1][5] == "4xx"   # f2 revisit resolved via tie
    assert by_seq[(1 << 40) + 2][5] == "2xx"   # later revisit, resolved normally

    assert run(list(reversed(paths)), 32) == (base_norm, base_roll)
    assert run(paths, 1) == (base_norm, base_roll)


def test_multi_file_seq_unlisted_file_fails_loudly(spark, tmp_path):
    import pytest

    from trendmachine_spark.sources.captures import parse_cdx_lines

    f1, f2 = tmp_path / "a.cdx", tmp_path / "b.cdx"
    f1.write_text("20240101120000 200 DGAAAAXX\n")
    f2.write_text("20240101120001 200 DGBBBBXX\n")
    lines = spark.read.text([str(f1), str(f2)])
    df = parse_cdx_lines(lines, url="u", file_order=[str(f1)])  # b.cdx missing
    with pytest.raises(Exception, match="file_order|ASSERT"):
        df.collect()
