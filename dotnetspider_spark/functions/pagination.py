"""Pagination operators — next-page generation + last-page checkers.

Reference: ``AutoIncrementRequestExtractor`` generates the next page URL
by incrementing the numeric part of a pagination substring
(AutoIncrementRequestExtractor.cs:35-46); four ``ILastPageChecker``
implementations stop the pagination walk
(Core/Processor/LastPageChecker/*.cs). All are pure column predicates
here — a paginated crawl is ``frontier ∪ next_page_candidates.filter(
~is_last_page)`` inside the normal loop.

No entry point imports this module yet; it is kept because SURVEY.md
(§2.4, lines 193-197) maps AutoIncrement and the LastPageCheckers to it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def contains_last_page(content: Column, *markers: str) -> Column:
    """ContainsLastPageChecker.cs:23-31 — last page when content contains
    ANY marker."""
    flag = F.lit(False)
    for m in markers:
        flag = flag | content.contains(m)
    return flag


def uncontains_last_page(content: Column, *markers: str) -> Column:
    """UnContainsLastPageChecker.cs:24-36 — last page when content no
    longer contains ALL markers."""
    all_present = F.lit(True)
    for m in markers:
        all_present = all_present & content.contains(m)
    return ~all_present


def max_page_reached(url: Column, page_pattern: str, max_page: int) -> Column:
    """MaxPageLastPageChecker.cs:30-38 — page number extracted from the
    URL >= max. ``page_pattern`` has one capture group for the number;
    a URL without one, or whose number does not fit a bigint, is not the
    last page."""
    cur = F.regexp_extract(url, page_pattern, 1).try_cast("bigint")
    return F.coalesce(cur >= F.lit(max_page), F.lit(False))


def pagination_exhausted(current: Column, total: Column) -> Column:
    """PaginationLastPageChecker.cs — selector-extracted current page vs
    total page count (two extracted int columns). A missing or malformed
    value exhausts the walk: no next page."""
    return F.coalesce(
        current.try_cast("bigint") >= total.try_cast("bigint"), F.lit(True)
    )


def paginate(
    url: Column,
    content: Column,
    pagination_str: str,
    interval: int = 1,
    stop: Column | None = None,
) -> Column:
    """Next-page URL, or null when the stop predicate fires — the column
    form of the request-extractor + checker pair the reference wires in
    ``BasePageProcessor`` (last-page check gates the extractor output)."""
    from dotnetspider_spark.functions.urlops import next_page_url

    nxt = next_page_url(url, pagination_str, interval)
    if stop is not None:
        nxt = F.when(~stop, nxt).otherwise(F.lit(None))
    return nxt
