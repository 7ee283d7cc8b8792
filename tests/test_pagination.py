"""Pagination operator tests (AutoIncrement + the four last-page checkers),
and how the column parsers of network text read a malformed number."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dotnetspider_spark.functions.formatters import digit_unit_fmt
from dotnetspider_spark.functions.pagination import (
    contains_last_page,
    max_page_reached,
    paginate,
    pagination_exhausted,
    uncontains_last_page,
)
from dotnetspider_spark.functions.urlops import next_page_url
from dotnetspider_spark.sources.sitemap import parse_sitemaps


def _df(spark):
    return spark.createDataFrame(
        [
            ("http://h/list_1.html", "items items <a>next</a>", "1", "5"),
            ("http://h/list_4.html", "items <b>no more results</b>", "4", "5"),
            ("http://h/list_5.html", "tail page", "5", "5"),
            ("http://h/other.html", "x", None, None),
        ],
        "url string, content string, cur string, total string",
    )


def test_next_page_url_increments_numeric_part(spark):
    df = _df(spark).select(
        "url", next_page_url(F.col("url"), "list_*.html").alias("nxt")
    )
    got = {r.url: r.nxt for r in df.collect()}
    assert got["http://h/list_1.html"] == "http://h/list_2.html"
    assert got["http://h/list_4.html"] == "http://h/list_5.html"
    assert got["http://h/other.html"] is None


def test_checkers(spark):
    df = _df(spark).select(
        "url",
        contains_last_page(F.col("content"), "no more results").alias("c1"),
        uncontains_last_page(F.col("content"), "items").alias("c2"),
        max_page_reached(F.col("url"), r"list_(\d+)\.html", 5).alias("c3"),
        pagination_exhausted(F.col("cur"), F.col("total")).alias("c4"),
    )
    rows = {r.url: r for r in df.collect()}
    r1 = rows["http://h/list_1.html"]
    assert (r1.c1, r1.c2, r1.c3, r1.c4) == (False, False, False, False)
    r4 = rows["http://h/list_4.html"]
    assert r4.c1 is True and r4.c3 is False
    r5 = rows["http://h/list_5.html"]
    assert r5.c2 is True and r5.c3 is True and r5.c4 is True
    # missing selector values -> exhausted (stop, fail-safe)
    assert rows["http://h/other.html"].c4 is True


def test_paginate_gates_on_stop(spark):
    df = _df(spark).select(
        "url",
        paginate(
            F.col("url"),
            F.col("content"),
            "list_*.html",
            stop=contains_last_page(F.col("content"), "no more results"),
        ).alias("nxt"),
    )
    got = {r.url: r.nxt for r in df.collect()}
    assert got["http://h/list_1.html"] == "http://h/list_2.html"
    assert got["http://h/list_4.html"] is None  # checker fired


_HUGE_PAGE = "http://h/list_99999999999999999999.html"  # > 2^63


def _on(expr):
    """A one-column query: ``expr`` over the input string column ``v``."""
    return lambda df: df.select(expr(F.col("v")))


def _sitemap_priority(df):
    docs = df.select(F.lit("h").alias("host"), F.col("v").alias("sitemap_xml"))
    return parse_sitemaps(docs).select("priority")


@pytest.mark.parametrize(
    "query, value, expected",
    [
        pytest.param(
            _sitemap_priority,
            "<urlset><url><loc>http://h/a</loc><priority>high</priority></url></urlset>",
            None,
            id="sitemap_priority",
        ),
        pytest.param(
            _on(lambda c: next_page_url(c, "list_*.html")), _HUGE_PAGE, None,
            id="next_page_url_overflow",
        ),
        pytest.param(
            _on(lambda c: next_page_url(c, "list_*.html")),
            "http://h/list_9223372036854775807.html", None,
            id="next_page_url_increment_overflow",
        ),
        pytest.param(
            _on(lambda c: max_page_reached(c, r"list_(\d+)\.html", 5)),
            _HUGE_PAGE, False,
            id="max_page_reached_overflow",
        ),
        pytest.param(
            _on(lambda c: pagination_exhausted(c, F.lit("5"))), "4 of", True,
            id="pagination_exhausted_text",
        ),
        pytest.param(
            _on(digit_unit_fmt), "1.2.3万", None, id="digit_unit_fmt_two_points",
        ),
    ],
)
def test_malformed_numbers_read_as_null(spark, query, value, expected):
    """Spark runs with ANSI mode on, where a plain cast of bad text fails
    the whole job. The parsers read it as NULL instead: no next page,
    not the last page, a NULL priority or value."""
    (row,) = query(spark.createDataFrame([(value,)], "v string")).collect()
    assert row[0] == expected
