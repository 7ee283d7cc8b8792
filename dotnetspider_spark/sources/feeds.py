"""RSS 2.0 / Atom feed ingest — the third discovery source.

The reference discovers URLs from page links only; its cnblogs sample
site exposes RSS feeds the crawler never reads. At web scale, feeds
(like sitemaps, sources/sitemap.py) are how fresh URLs enter the
frontier without re-crawling hub pages, so this completes the
discovery-source trio: robots ``Sitemap:`` directives → sitemap XML →
RSS/Atom feeds.

Parse stage shape mirrors sitemap.py: feed XML documents arrive as a
column (fetched through the normal politeness-budgeted fetch path, one
URL per feed — this module never does I/O), and one Arrow-batched
pandas UDF per feed emits an ``array<struct>`` of entries that the
caller explodes. stdlib ``xml.etree`` (sandbox has no feedparser);
namespace-blind tag matching so Atom's default namespace and RSS
extensions both work.

Dates normalize to epoch SECONDS (long): RFC 822 (``pubDate``) via
``email.utils.parsedate_to_datetime``, ISO 8601 (``updated`` /
``published``) via ``datetime.fromisoformat`` — a single portable
numeric column downstream revisit scheduling (operators/frontier.py
``revisit_schedule``) can consume directly. Unparseable dates yield
NULL, never a dropped entry.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from dotnetspider_spark.functions.urlops import is_fetchable

ENTRY_TYPE = (
    "array<struct<url:string, title:string, published:bigint, "
    "guid:string, kind:string>>"
)


def _local(tag: str) -> str:
    """Namespace-blind local name: '{ns}entry' -> 'entry'."""
    return tag.rsplit("}", 1)[-1].lower()


def _parse_date(s: str | None) -> int | None:
    if not s:
        return None
    s = s.strip()
    try:  # RFC 822 (RSS pubDate)
        from datetime import timezone
        from email.utils import parsedate_to_datetime

        dt = parsedate_to_datetime(s)
        if dt.tzinfo is None:
            # RFC 2822 '-0000' / zoneless dates come back naive;
            # .timestamp() on a naive datetime uses the WORKER's local
            # zone — pin UTC so epochs are machine-independent (they
            # become frontier seq numbers)
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp())
    except Exception:
        pass
    try:  # ISO 8601 (Atom updated/published)
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp())
    except Exception:
        return None


def _parse_feed(xml: str | None) -> list[dict]:
    if not xml:
        return []
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return []
    out: list[dict] = []
    rname = _local(root.tag)
    if rname == "rss" or rname == "channel":
        for item in root.iter():
            if _local(item.tag) != "item":
                continue
            link = title = pub = guid = None
            for c in item:
                n = _local(c.tag)
                # first NON-EMPTY value wins: a later item-level
                # <atom:link href=.../> (feedburner/WordPress style,
                # namespace-blind local name 'link', empty text) must
                # not reset an already-found RSS <link>
                if n == "link" and link is None:
                    link = (c.text or "").strip() or None
                elif n == "title" and title is None:
                    title = (c.text or "").strip() or None
                elif n == "pubdate" and pub is None:
                    # same non-empty rule: a whitespace-only pubDate
                    # must not block a later real one
                    pub = (c.text or "").strip() or None
                elif n == "guid" and guid is None:
                    guid = (c.text or "").strip() or None
            if link:
                out.append(
                    {"url": link, "title": title,
                     "published": _parse_date(pub), "guid": guid,
                     "kind": "rss"}
                )
    elif rname == "feed":  # Atom
        for entry in root.iter():
            if _local(entry.tag) != "entry":
                continue
            title = pub = guid = None
            alt = first = None
            for c in entry:
                n = _local(c.tag)
                if n == "link":
                    rel = (c.get("rel") or "alternate").lower()
                    href = c.get("href")
                    if href:
                        # first rel=alternate wins; first link of any
                        # rel is the fallback (RFC 4287 §4.2.7.2)
                        if rel == "alternate" and alt is None:
                            alt = href
                        if first is None:
                            first = href
                elif n == "title":
                    title = (c.text or "").strip() or None
                elif n in ("updated", "published"):
                    # prefer published when both appear
                    if n == "published" or pub is None:
                        pub = c.text
                elif n == "id":
                    guid = (c.text or "").strip() or None
            alt = alt or first
            if alt:
                out.append(
                    {"url": alt, "title": title,
                     "published": _parse_date(pub), "guid": guid,
                     "kind": "atom"}
                )
    return out


@lru_cache(maxsize=None)
def _entries_udf():
    @pandas_udf(ENTRY_TYPE)
    def f(xml: pd.Series) -> pd.Series:
        return xml.map(_parse_feed)

    return f


def feed_entries_udf(xml):
    return _entries_udf()(xml)


def parse_feeds(
    feeds: DataFrame, xml_col: str = "feed_xml", keep_cols: tuple = ("host",)
) -> DataFrame:
    """(host, feed_xml, ...) -> one row per entry.

    Map-only: parse + explode, no shuffle; at 10^6 feeds/iteration the
    cost is one Python crossing per Arrow batch of feed documents.
    Emits (keep_cols..., url, title, published, guid, kind, pos) with
    ``pos`` the entry's document order — feed order is freshness order
    in RSS, which the frontier's seq encoding preserves.
    """
    return feeds.select(
        *[F.col(c) for c in keep_cols],
        F.posexplode(feed_entries_udf(F.col(xml_col))).alias("pos", "e"),
    ).select(
        *keep_cols,
        F.col("e.url").alias("url"),
        F.col("e.title").alias("title"),
        F.col("e.published").alias("published"),
        F.col("e.guid").alias("guid"),
        F.col("e.kind").alias("kind"),
        F.col("pos").cast("int").alias("pos"),
    )


def feed_seeds(feeds: DataFrame, xml_col: str = "feed_xml") -> DataFrame:
    """(host, feed_xml) -> seed rows, one per fetchable entry.

    Wild feeds carry relative paths (Atom xml:base) and non-http schemes
    (mailto:) in ``<link>``, so entries gate on fetchability exactly like
    crawl discovery. ``seq`` is the published epoch (0 when unknown):
    fresher entries poll first under the default DFS order.
    """
    entries = parse_feeds(feeds, xml_col, keep_cols=("host",)).filter(
        is_fetchable(F.col("url"))
    )
    return entries.select(
        "url",
        F.lit("GET").alias("method"),
        F.lit(None).cast("string").alias("referer"),
        F.lit(None).cast("string").alias("origin"),
        F.lit(None).cast("string").alias("content"),
        F.lit(None).cast("map<string,string>").alias("headers"),
        F.lit(0).alias("priority"),
        F.lit(1).alias("depth"),
        F.lit(0).alias("retried"),
        F.coalesce(F.col("published"), F.lit(0)).cast("long").alias("seq"),
    )
