"""REP link-policy tests: parser edges, X-Robots-Tag merge, crawl opt-in.

The policy layer (functions/linkpolicy.py) is a north-rule addition —
the reference follows every href (XPathRequestExtractor.cs:21-38) — so
there is no C# oracle; semantics are pinned against the HTML spec's rel
token list and Google's REP documentation, and the crawl integration is
checked as a delta against the default (policy-off) crawl.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dotnetspider_spark.crawler.loop import CrawlConfig, crawl
from dotnetspider_spark.functions.linkpolicy import (
    _parse_policy,
    page_policy_table,
)
from dotnetspider_spark.testing.datagen import SEED_SCHEMA


def test_parser_rel_token_list_and_meta_edges():
    p = _parse_policy(
        '<head><META NAME="ROBOTS" CONTENT=" NoIndex , other ">'
        '<link rel="Canonical" href="/canon"></head>'
        '<a rel="external NOFOLLOW" href="/a">x</a>'
        '<a rel="nofollowish" href="/b">x</a>'
        '<a rel="ugc" href="/c">x</a>'
        '<a href="/d">x</a>'
    )
    assert p.noindex is True and p.nofollow is False
    assert p.canonical == "/canon"
    assert p.hrefs == [("/a", True), ("/b", False), ("/c", True), ("/d", False)]


def test_parser_meta_none_and_missing():
    assert _parse_policy('<meta name="robots" content="none">').noindex
    assert _parse_policy('<meta name="robots" content="none">').nofollow
    p = _parse_policy('<meta name="viewport" content="noindex"><a href="/x">y</a>')
    assert not p.noindex and not p.nofollow and p.canonical is None


def test_page_policy_table_merges_header_directives(spark):
    df = spark.createDataFrame(
        [
            ("http://h.example/p1", '<a href="/k">x</a>', "noindex"),
            ("http://h.example/p2", '<a href="/k">x</a>', "NOFOLLOW"),
            ("http://h.example/p3", '<a href="/k">x</a>', "googlebot: noindex"),
            ("http://h.example/p4", '<a href="/k">x</a>', "dotnetspider: noindex"),
        ],
        "url string, html string, xr string",
    )
    rows = {
        r["url"]: r
        for r in page_policy_table(df, "html", "url", x_robots_col="xr").collect()
    }
    assert rows["http://h.example/p1"]["noindex"]
    assert rows["http://h.example/p1"]["follow_children"] == [
        "http://h.example/k"
    ]
    # header nofollow empties children JVM-side
    assert rows["http://h.example/p2"]["nofollow"]
    assert rows["http://h.example/p2"]["follow_children"] == []
    # foreign-agent scope ignored, own-agent scope honored
    assert not rows["http://h.example/p3"]["noindex"]
    assert rows["http://h.example/p4"]["noindex"]


def test_policy_children_byte_identical_to_fused_parse(spark):
    # same soup through both parse paths -> identical canonical bytes
    # (identity is computed from them); policy path only ever REMOVES
    from dotnetspider_spark.crawler.parse import extract_canonical_links_udf
    from dotnetspider_spark.functions.linkpolicy import (
        extract_policy_links_udf,
    )

    html = (
        '<a href="../up/x">a</a><a href="/abs?q=1#f">b</a>'
        '<a href="//other.example/pp">c</a><a href="HTTP://Mixed.Example/Y">d</a>'
        '<a href="/dup">e</a><a href="/dup">f</a>'
    )
    df = spark.createDataFrame(
        [("http://h.example/dir/page", html)], "url string, html string"
    )
    fused = df.select(
        extract_canonical_links_udf(F.col("html"), F.col("url")).alias("c")
    ).first()["c"]
    policy = df.select(
        extract_policy_links_udf(F.col("html"), F.col("url"))["children"].alias("c")
    ).first()["c"]
    assert fused == policy and len(fused) == 5


def _policy_corpus(spark):
    """4-page site: seed links a+b+c; b is rel=nofollow from seed; page a
    is meta-nofollow (its child d must not be discovered); page c has a
    canonical pointing at e (e must be discovered when policy is on)."""

    def page(pid, url, html):
        host = url.split("/")[2]
        return {
            "page_id": pid, "url": url, "host": host, "out_links": [],
            "html": html, "image_id": "", "bytes": b"", "w": 1, "h": 1,
            "fmt": "png", "caption": "", "phash": 0, "status": 200,
            "crawl_delay_ms": 0,
        }

    rows = [
        page(0, "http://s.example/seed",
             '<a href="/a">a</a><a rel="nofollow" href="/b">b</a>'
             '<a href="/c">c</a>'),
        page(1, "http://s.example/a",
             '<meta name="robots" content="nofollow"><a href="/d">d</a>'),
        page(2, "http://s.example/b", '<a href="/d">d</a>'),
        page(3, "http://s.example/c",
             '<link rel="canonical" href="/e"><a href="/a">a</a>'),
        page(4, "http://s.example/d", ""),
        page(5, "http://s.example/e", ""),
    ]
    schema = (
        "page_id long, url string, host string, out_links array<string>, "
        "html string, image_id string, bytes binary, w int, h int, "
        "fmt string, caption string, phash long, status int, "
        "crawl_delay_ms int"
    )
    return spark.createDataFrame(rows, schema)


def _seeds(spark):
    return spark.createDataFrame(
        [{"url": "http://s.example/seed", "method": "GET", "referer": None,
          "origin": None, "content": None, "headers": None, "priority": 0,
          "depth": 1, "retried": 0, "seq": 0}],
        SEED_SCHEMA,
    )


def test_crawl_honor_link_policy_delta(spark):
    kw = dict(max_depth=4)
    base = crawl(spark, _policy_corpus(spark), _seeds(spark),
                 CrawlConfig(**kw))
    pol = crawl(spark, _policy_corpus(spark), _seeds(spark),
                CrawlConfig(honor_link_policy=True, **kw))
    base_urls = {r["url"] for r in base.fetched.select("url").collect()}
    pol_urls = {r["url"] for r in pol.fetched.select("url").collect()}
    # default path follows everything reachable through hrefs (e is
    # linked only via canonical, so the DEFAULT crawl never sees it)
    assert base_urls == {
        "http://s.example/seed", "http://s.example/a", "http://s.example/b",
        "http://s.example/c", "http://s.example/d",
    }
    # policy: b (nofollow anchor) and d (only child of a meta-nofollow
    # page) are excluded; e (canonical of c) is pulled in
    assert pol_urls == {
        "http://s.example/seed", "http://s.example/a", "http://s.example/c",
        "http://s.example/e",
    }


def test_x_robots_scoped_whitespace_variants(spark):
    df = spark.createDataFrame(
        [
            ("p1", "dotnetspider:noindex"),
            ("p2", "DOTNETSPIDER  :  nofollow"),
            ("p3", "dotnetspider : none"),
            ("p4", "otherbot:noindex"),
        ],
        "url string, xr string",
    )
    from dotnetspider_spark.functions.linkpolicy import x_robots_directives
    from pyspark.sql import functions as F

    got = {
        r["url"]: (r["d"]["noindex"], r["d"]["nofollow"])
        for r in df.select(
            "url", x_robots_directives(F.col("xr")).alias("d")
        ).collect()
    }
    assert got == {
        "p1": (True, False),
        "p2": (False, True),
        "p3": (True, True),
        "p4": (False, False),
    }


def test_x_robots_value_prefix_scope_covers_all_tokens(spark):
    from pyspark.sql import functions as F

    from dotnetspider_spark.functions.linkpolicy import x_robots_directives

    df = spark.createDataFrame(
        [
            # scope is a VALUE prefix: both tokens are googlebot's
            ("p1", "googlebot: noindex, nofollow"),
            ("p2", "dotnetspider: noindex, nofollow"),
            # ':'-carrying DIRECTIVE is not an agent scope
            ("p3", "unavailable_after: 25 Jun 2030 15:00:00 GMT, noindex"),
        ],
        "url string, xr string",
    )
    got = {
        r["url"]: (r["d"]["noindex"], r["d"]["nofollow"])
        for r in df.select(
            "url", x_robots_directives(F.col("xr")).alias("d")
        ).collect()
    }
    assert got == {
        "p1": (False, False),
        "p2": (True, True),
        "p3": (True, False),
    }


def test_unavailable_after_parse_and_gate(spark):
    from pyspark.sql import functions as F

    from dotnetspider_spark.functions.linkpolicy import (
        page_expiry_gate,
        x_robots_unavailable_after,
    )

    df = spark.createDataFrame(
        [
            (1, "noindex, unavailable_after: 01 Jan 2031 00:00:00 GMT"),
            (2, "unavailable_after: 01 Jan 2020 00:00:00 GMT"),
            (3, "noindex"),
            (4, "unavailable_after: not a date"),
        ],
        "id long, xr string",
    )
    rows = df.select(
        "id", x_robots_unavailable_after(F.col("xr")).alias("expires_at")
    )
    got = {r["id"]: r["expires_at"] for r in rows.collect()}
    assert got[1] == 1924992000       # 2031-01-01 UTC
    assert got[2] == 1577836800       # 2020-01-01 UTC
    assert got[3] is None and got[4] is None
    kept = {r["id"] for r in page_expiry_gate(rows, now_epoch=1700000000)
            .collect()}
    # expired (2) drops; no-directive and unparseable stay (fail-open:
    # expiry is a hint, absence must not censor the corpus)
    assert kept == {1, 3, 4}


def test_unavailable_after_comma_dates(spark):
    # RFC 850 / RFC 1123 dates carry a "Friday," / "Fri," weekday
    # prefix — the comma is INSIDE the date payload, so any split of
    # the header on ',' before extraction truncates the date at the
    # weekday and the expiry silently never applies (ADVICE r4).
    from pyspark.sql import functions as F

    from dotnetspider_spark.functions.linkpolicy import (
        x_robots_unavailable_after,
    )

    df = spark.createDataFrame(
        [
            # RFC 850, trailing directive after the date
            (1, "unavailable_after: Friday, 01-Jan-2031 00:00:00 GMT, "
                "noindex"),
            # RFC 850, date is the last token
            (2, "noarchive, unavailable_after: Friday, 01-Jan-2031 "
                "00:00:00 GMT"),
        ],
        "id long, xr string",
    )
    got = {
        r["id"]: r["expires_at"]
        for r in df.select(
            "id",
            x_robots_unavailable_after(
                F.col("xr"), fmt="dd-MMM-yyyy HH:mm:ss zzz"
            ).alias("expires_at"),
        ).collect()
    }
    assert got[1] == 1924992000 and got[2] == 1924992000

    df2 = spark.createDataFrame(
        [(3, "unavailable_after: Fri, 01 Jan 2031 00:00:00 GMT, nofollow")],
        "id long, xr string",
    )
    got2 = df2.select(
        x_robots_unavailable_after(
            F.col("xr"), fmt="dd MMM yyyy HH:mm:ss zzz"
        ).alias("e")
    ).collect()[0]["e"]
    assert got2 == 1924992000
