"""RSS/Atom feed-parse edge cases (sources/feeds.py).

The happy path (RFC-822/ISO-8601 date round-trip, rel precedence,
document order) is oracle-checked by the ``feed_parse`` query; these
pin the failure modes: malformed XML, linkless entries, namespaced RSS
extensions, timezone offsets, and CDATA titles.
"""

from __future__ import annotations

from dotnetspider_spark.sources.feeds import _parse_feed, feed_seeds, parse_feeds


def test_malformed_xml_yields_no_rows():
    assert _parse_feed("<rss><channel><item>") == []
    assert _parse_feed("") == []
    assert _parse_feed(None) == []


def test_rss_item_without_link_is_skipped():
    xml = (
        '<rss version="2.0"><channel>'
        "<item><title>no link</title></item>"
        "<item><link>http://a.example/x</link></item>"
        "</channel></rss>"
    )
    got = _parse_feed(xml)
    assert [e["url"] for e in got] == ["http://a.example/x"]


def test_rss_with_namespaced_extensions_and_cdata():
    xml = (
        '<rss version="2.0" xmlns:dc="http://purl.org/dc/elements/1.1/">'
        "<channel><item>"
        "<title><![CDATA[T & co]]></title>"
        "<link>http://a.example/1</link>"
        "<dc:creator>x</dc:creator>"
        "<pubDate>Wed, 01 Jan 2020 00:00:00 +0200</pubDate>"
        "</item></channel></rss>"
    )
    (e,) = _parse_feed(xml)
    assert e["title"] == "T & co"
    # +0200 offset: 2020-01-01T00:00:00+02:00 == 1577829600 UTC
    assert e["published"] == 1577829600


def test_atom_alternate_precedence_and_fallback():
    ns = 'xmlns="http://www.w3.org/2005/Atom"'
    xml = (
        f"<feed {ns}><entry>"
        '<link rel="self" href="http://a.example/self"/>'
        '<link rel="enclosure" href="http://a.example/enc"/>'
        "<id>i1</id></entry>"
        "<entry>"
        '<link rel="alternate" href="http://a.example/alt1"/>'
        '<link rel="alternate" href="http://a.example/alt2"/>'
        "<id>i2</id></entry></feed>"
    )
    got = _parse_feed(xml)
    # no alternate -> first link of any rel; two alternates -> first wins
    assert [e["url"] for e in got] == [
        "http://a.example/self", "http://a.example/alt1",
    ]
    assert all(e["kind"] == "atom" for e in got)


def test_parse_feeds_dataframe_explode(spark):
    xml = (
        '<rss version="2.0"><channel>'
        "<item><link>http://h.example/1</link></item>"
        "<item><link>http://h.example/2</link></item>"
        "</channel></rss>"
    )
    df = spark.createDataFrame(
        [("h.example", xml), ("empty.example", "<notxml")],
        "host string, feed_xml string",
    )
    rows = parse_feeds(df).orderBy("pos").collect()
    assert [(r["host"], r["url"], r["pos"]) for r in rows] == [
        ("h.example", "http://h.example/1", 0),
        ("h.example", "http://h.example/2", 1),
    ]


def test_rss_item_level_atom_link_does_not_clobber():
    xml = (
        '<rss version="2.0" xmlns:atom="http://www.w3.org/2005/Atom">'
        "<channel><item>"
        "<link>http://a.example/p1</link>"
        '<atom:link rel="standout" href="http://a.example/feed"/>'
        "</item></channel></rss>"
    )
    (e,) = _parse_feed(xml)
    assert e["url"] == "http://a.example/p1"


def test_naive_rfc822_dates_pin_utc():
    xml = (
        '<rss version="2.0"><channel><item>'
        "<link>http://a.example/1</link>"
        "<pubDate>Wed, 01 Jan 2020 00:00:05 -0000</pubDate>"
        "</item></channel></rss>"
    )
    (e,) = _parse_feed(xml)
    # '-0000' parses naive; must be pinned to UTC, not worker-local tz
    assert e["published"] == 1577836805


def test_feed_seeds_gate_unfetchable_links_and_order_by_freshness(spark):
    """feed_seeds: one seed per fetchable entry — ``mailto:`` and
    relative links are dropped — with ``seq`` the published epoch, so a
    fresher entry gets a larger seq, and 0 for a missing or unparseable
    date."""
    dated = (
        '<rss version="2.0"><channel>'
        "<item><link>http://a.example/p1</link>"
        "<pubDate>Wed, 01 Jan 2020 00:00:10 GMT</pubDate></item>"
        "<item><link>http://a.example/p2</link>"
        "<pubDate>Wed, 01 Jan 2020 00:00:05 GMT</pubDate></item>"
        "</channel></rss>"
    )
    undated = (
        '<rss version="2.0"><channel>'
        "<item><link>http://a.example/p3</link>"
        "<pubDate>garbage</pubDate></item>"
        "<item><link>http://a.example/ok</link></item>"
        "<item><link>mailto:ed@a.example</link></item>"
        "<item><link>/relative/path</link></item>"
        "</channel></rss>"
    )
    feeds = spark.createDataFrame(
        [("a.example", dated), ("a.example", undated)],
        "host string, feed_xml string",
    )
    seqs = {r.url: r.seq for r in feed_seeds(feeds).collect()}
    assert seqs == {
        "http://a.example/p1": 1577836810,
        "http://a.example/p2": 1577836805,
        "http://a.example/p3": 0,
        "http://a.example/ok": 0,
    }


def _urlset(host, urls):
    body = "".join(f"<url><loc>{u}</loc></url>" for u in urls)
    return f'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">{body}</urlset>'


def _index(host, subs):
    body = "".join(f"<sitemap><loc>{s}</loc></sitemap>" for s in subs)
    return f"<sitemapindex>{body}</sitemapindex>"


def test_expand_sitemaps_walks_nested_indexes_and_cycles(spark):
    from dotnetspider_spark.sources.sitemap import expand_sitemaps

    root = "http://s.example/sitemap.xml"
    sub1 = "http://s.example/maps/a.xml"
    sub2 = "http://s.example/maps/b.xml"
    corpus = spark.createDataFrame(
        [
            (root, _index("s.example", [sub1, sub2])),
            # sub1 is itself an index AND cycles back to root
            (sub1, _index("s.example", [sub2, root])),
            (sub2, _urlset("s.example", [
                "http://s.example/p1", "http://s.example/p2",
            ])),
        ],
        "url string, sitemap_xml string",
    )
    seeds = spark.createDataFrame([(root,)], "url string")
    leaves = expand_sitemaps(corpus, seeds, max_rounds=6)
    urls = sorted(r["url"] for r in leaves.collect())
    # sub2 reachable via two paths -> its urlset parses once per fetch
    # of sub2 (visited-gated), so leaves appear exactly once
    assert urls == ["http://s.example/p1", "http://s.example/p2"]


def test_expand_sitemaps_respects_max_rounds(spark):
    from dotnetspider_spark.sources.sitemap import expand_sitemaps

    # chain of 4 indexes then a urlset; max_rounds=2 never reaches it
    chain = [f"http://c.example/m{i}.xml" for i in range(5)]
    rows = [
        (chain[i], _index("c.example", [chain[i + 1]])) for i in range(4)
    ] + [(chain[4], _urlset("c.example", ["http://c.example/leaf"]))]
    corpus = spark.createDataFrame(rows, "url string, sitemap_xml string")
    seeds = spark.createDataFrame([(chain[0],)], "url string")
    assert expand_sitemaps(corpus, seeds, max_rounds=2).count() == 0
    assert expand_sitemaps(corpus, seeds, max_rounds=6).count() == 1
