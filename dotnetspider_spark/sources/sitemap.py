"""Sitemap ingestion — sitemap.xml documents -> frontier seed rows.

The reference seeds crawls from explicit URL lists only
(Spider.AddRequest / Reload); real crawls also seed from the sitemaps
protocol (sitemaps.org, public spec): fetch ``/sitemap.xml``, read
``<urlset>`` entries into frontier rows, and recurse into
``<sitemapindex>`` children. This module is the parse stage:

- :func:`parse_sitemaps` — (host, sitemap_xml) rows -> one row per
  ``<url>`` / ``<sitemap>`` entry: (host, kind, url, lastmod,
  priority). ``kind='sitemap'`` rows are child sitemaps the crawl loop
  feeds back into the fetch queue (the recursion is iterations of the
  loop, not driver-side descent); ``kind='url'`` rows become seeds.

Pure JVM column algebra (``regexp_extract_all`` over entry blocks, a
higher-order ``transform`` to pull loc/lastmod/priority per block) —
map-only, zero Python, zero shuffles, so parsing 10^7 sitemap docs is
a scan. RE2/Java regex portability: no backreferences (separate
patterns per block kind instead of ``<(url|sitemap)>…</\\1>``), which
keeps the operator oracle-checkable in DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _xml_unescape_loc(c):
    """``<loc>`` values per sitemaps.org MUST be XML-entity-escaped and
    MAY be CDATA-wrapped — decode both, or the seed fetch hits the wrong
    URL ('?x=1&amp;y=2' verbatim) and request identity diverges from the
    real page. Only the five predefined entities (all the spec
    requires), as literal replaces with ``&amp;`` LAST so each pass
    decodes exactly one escaping level; everything stays JVM-side and
    DuckDB-restatable (no Python UDF)."""
    c = F.regexp_replace(c, r"^<!\[CDATA\[(.*)\]\]>$", "$1")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def _entries(xml_col: str, kind: str):
    blocks = F.regexp_extract_all(
        F.col(xml_col), F.lit(f"(?s)<{kind}>(.*?)</{kind}>"), 1
    )

    def field(b, tag):
        return F.nullif(
            F.regexp_extract(b, f"(?s)<{tag}>\\s*(.*?)\\s*</{tag}>", 1),
            F.lit(""),
        )

    return F.transform(
        blocks,
        lambda b: F.struct(
            F.lit(kind).alias("kind"),
            _xml_unescape_loc(field(b, "loc")).alias("loc"),
            field(b, "lastmod").alias("lastmod"),
            # network text: a malformed priority reads as NULL
            field(b, "priority").try_cast("double").alias("priority"),
        ),
    )


def parse_sitemaps(
    docs: DataFrame, host_col: str = "host", xml_col: str = "sitemap_xml"
) -> DataFrame:
    """(host, sitemap_xml) -> (host, kind, url, lastmod, priority); one
    row per ``<url>``/``<sitemap>`` entry, entries without a ``<loc>``
    dropped. ``lastmod`` stays the raw string (W3C datetime — cast at
    the consumer; sitemaps in the wild mix date-only and full ISO)."""
    entries = F.concat(_entries(xml_col, "url"), _entries(xml_col, "sitemap"))
    return (
        docs.select(F.col(host_col).alias("host"), F.explode(entries).alias("e"))
        .select(
            "host",
            F.col("e.kind").alias("kind"),
            F.col("e.loc").alias("url"),
            F.col("e.lastmod").alias("lastmod"),
            F.col("e.priority").alias("priority"),
        )
        .filter(F.col("url").isNotNull())
    )


def expand_sitemaps(
    corpus: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 5,
    url_col: str = "url",
    xml_col: str = "sitemap_xml",
) -> DataFrame:
    """Recursive ``<sitemapindex>`` expansion to leaf page URLs.

    sitemaps.org caps one file at 50k entries, so large sites nest
    indexes (index -> sub-indexes -> urlsets); discovery must walk the
    closure. Each round: pending sitemap URLs join the fetched-corpus
    table (url, sitemap_xml), parse, leaves accumulate, child sitemaps
    not yet visited become the next round. Cycles (a sub-index linking
    back to its parent — seen in the wild) terminate via the visited
    anti-join, and ``max_rounds`` bounds pathological chains.

    Scale shape: the SITEMAP frontier is tiny relative to pages (a
    10^10-URL estate is ~200k sitemap files at the 50k cap), so the
    per-round join keys on a small pending set; visited stays a
    DataFrame (anti-join, never a driver-side set) and each round's
    frames are persisted so the loop does not recompute prior rounds
    through growing lineage. One count() action per round decides
    termination. ``corpus`` stands in for the fetch stage here exactly
    like CorpusFetcher does for pages — production feeds the same
    politeness-budgeted fetch batch this module never performs itself.
    """
    import tempfile

    spark = corpus.sparkSession
    root = tempfile.mkdtemp(prefix="spark-sitemap-closure-")
    empty_leaves = parse_sitemaps(
        corpus.limit(0).select(F.col(url_col).alias("host"), F.col(xml_col)),
        "host", xml_col,
    ).filter(F.col("kind") == "url").select(
        "host", "url", "lastmod", "priority"
    )
    # state parquet-round-trips per round (the pagerank/CC convention):
    # lineage stays one round deep and nothing is left persisted in
    # executor storage after the function returns
    seeds.select(F.col(url_col).alias("url")).distinct().write.mode(
        "overwrite"
    ).parquet(f"{root}/pending")
    spark.read.parquet(f"{root}/pending").write.mode("overwrite").parquet(
        f"{root}/visited"
    )
    empty_leaves.write.mode("overwrite").parquet(f"{root}/leaves")
    for _ in range(max_rounds):
        pending = spark.read.parquet(f"{root}/pending")
        if pending.isEmpty():
            break
        visited = spark.read.parquet(f"{root}/visited")
        docs = pending.join(
            corpus.select(F.col(url_col).alias("url"), F.col(xml_col)),
            "url",
        ).select(
            F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host"),
            F.col(xml_col),
        )
        parsed = parse_sitemaps(docs, "host", xml_col)
        parsed.write.mode("overwrite").parquet(f"{root}/parsed")
        parsed = spark.read.parquet(f"{root}/parsed")
        parsed.filter(F.col("kind") == "url").select(
            "host", "url", "lastmod", "priority"
        ).write.mode("append").parquet(f"{root}/leaves")
        children = (
            parsed.filter(F.col("kind") == "sitemap")
            .select("url")
            .distinct()
        )
        nxt = children.join(visited, "url", "left_anti")
        nxt.write.mode("overwrite").parquet(f"{root}/pending_next")
        spark.read.parquet(f"{root}/pending_next").write.mode(
            "append"
        ).parquet(f"{root}/visited")
        # swap pending_next -> pending (a directory rename is atomic on
        # the local FS; production would use table snapshots)
        import shutil

        shutil.rmtree(f"{root}/pending")
        os.rename(f"{root}/pending_next", f"{root}/pending")
    return spark.read.parquet(f"{root}/leaves")
