"""Seeded byte fuzz over the parsers that read network bytes: WARC
records (plain and gzip), RSS/Atom feeds, robots.txt, the crawl's
link parser and sitemaps. Whatever bytes arrive, each may only return a
result or raise ValueError/NotImplementedError; any other exception
escapes the callers' fail-closed handling and fails the Spark task.

Each trial of the Python parsers is a pure-function call. The sitemap
parser is Spark column expressions, so its trials run as one DataFrame.
"""

from __future__ import annotations

import gzip

import numpy as np
import pytest

from dotnetspider_spark.crawler.parse import _canonize, _hot_hrefs
from dotnetspider_spark.functions.robots import parse_robots_txt, pattern_to_regex
from dotnetspider_spark.sources.feeds import _parse_feed
from dotnetspider_spark.sources.sitemap import parse_sitemaps
from dotnetspider_spark.sources.warc import (
    build_warc, format_warc_record, split_warc_records,
)

_BASE_URL = "http://h.example/a/b.html"

_WARC = build_warc(
    [
        {"url": f"http://h{i}.example/p/{i}", "date": "2024-01-01T00:00:00Z",
         "status": (200, 404, 500, 301)[i], "content_type": "text/html",
         "body": f"<html>record {i} WARC/1.0 inside</html>".encode()}
        for i in range(4)
    ]
)

_RSS = b"""<?xml version="1.0"?>
<rss version="2.0" xmlns:atom="http://www.w3.org/2005/Atom"><channel>
<item><title><![CDATA[One & two]]></title><link>http://a.example/1</link>
<pubDate>Wed, 01 Jan 2020 00:00:00 +0200</pubDate><guid>g1</guid>
<atom:link href="http://a.example/self"/></item>
<item><title>Two</title><link>http://a.example/2</link>
<pubDate>Thu, 02 Jan 2020 10:00:00 GMT</pubDate></item>
</channel></rss>"""

_ATOM = b"""<feed xmlns="http://www.w3.org/2005/Atom">
<entry><title>A</title><link rel="self" href="http://a.example/self"/>
<link rel="alternate" href="http://a.example/alt"/><id>i1</id>
<updated>2020-01-01T00:00:00Z</updated><published>2019-12-31T23:00:00+01:00</published></entry>
<entry><link href="http://a.example/only"/><id>i2</id></entry>
</feed>"""

_ROBOTS = b"""# comment
User-agent: googlebot
Disallow: /only-google/

User-agent: *
Disallow: /private/
Allow: /private/ok/
Disallow: /tmp*/x
Disallow: /*.pdf$
Disallow:
Crawl-delay: 1.5
Sitemap: http://h.example/sitemap.xml
"""

_LINKS = (
    b'<html><body><a href="/x/y">1</a> <a title="a>b" href=\'../up?q=1#f\'>2</a>'
    b'<a href=http://H.example/abs>3</a><a href="rel;p">4</a>'
    b'<a href="#frag">5</a><a href="javascript:void(0)">6</a>'
    b'<a href="?q=a&amp;b=c">7</a><a href="//proto.example/rel">8</a>'
    b'<a data-href="/no">9</a><a href="https://h.example:8080/a/./b">10</a>'
    b"</body></html>"
)
# a <script> marker routes the page through the exact HTMLParser path
_LINKS_MARKED = _LINKS.replace(
    b"<body>", b"<body><script>var a='<a href=\"/s\">';</script><!-- c -->"
)

_URLSET = b"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
<url><loc>http://s.example/a?x=1&amp;y=2</loc><lastmod>2024-01-01</lastmod>
<priority>0.8</priority></url>
<url><loc> http://s.example/b </loc><priority>1.0</priority></url>
<url><lastmod>2024-02-02T10:00:00+00:00</lastmod></url>
</urlset>"""

_SITEMAPINDEX = b"""<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
<sitemap><loc>http://s.example/maps/1.xml</loc><lastmod>2024-01-01</lastmod></sitemap>
<sitemap><loc>http://s.example/maps/2.xml</loc></sitemap>
</sitemapindex>"""


def _text(data: bytes) -> str:
    return data.decode("latin-1")  # every byte value becomes a char


def _robots(data: bytes):
    rules = parse_robots_txt(_text(data))
    return rules, [pattern_to_regex(r["path_prefix"]) for r in rules]


def _links(data: bytes):
    out = _canonize(_hot_hrefs(_text(data)), _BASE_URL)
    assert all(isinstance(u, str) for u in out)
    return out


CASES = {
    "warc": (_WARC, lambda d: split_warc_records(d, "f.warc")),
    "warc_gz": (
        gzip.compress(_WARC, mtime=0),
        lambda d: split_warc_records(d, "f.warc.gz"),
    ),
    "rss": (_RSS, lambda d: _parse_feed(_text(d))),
    "atom": (_ATOM, lambda d: _parse_feed(_text(d))),
    "robots": (_ROBOTS, _robots),
    "links": (_LINKS, _links),
    "links_marked": (_LINKS_MARKED, _links),
}


def _mutate(rng: np.random.Generator, base: bytes) -> bytes:
    """1-6 random byte flips, insertions or deletions."""
    data = bytearray(base)
    for _ in range(rng.integers(1, 7)):
        op, pos = rng.integers(0, 3), int(rng.integers(0, len(data) + 1))
        if op == 0 and pos < len(data):
            data[pos] = rng.integers(0, 256)
        elif op == 1:
            data.insert(pos, int(rng.integers(0, 256)))
        elif pos < len(data):
            del data[pos]
    return bytes(data)


def _fails_closed(parse, data: bytes) -> bool:
    """True when ``parse`` returned, False when it raised a documented
    fail-closed signal; anything else propagates and fails the test."""
    try:
        assert isinstance(parse(data), (list, tuple))
        return True
    except (ValueError, NotImplementedError):
        return False


def _trials(base: bytes) -> list[bytes]:
    """1500 seeded mutations of ``base``, then every truncation."""
    rng = np.random.default_rng(20260)
    return [_mutate(rng, base) for _ in range(1500)] + [
        base[:cut] for cut in range(len(base))
    ]


@pytest.mark.parametrize("name", sorted(CASES))
def test_parser_fuzz_fails_closed(name):
    base, parse = CASES[name]
    assert _fails_closed(parse, base)  # the unmutated input parses
    for data in _trials(base):
        _fails_closed(parse, data)


def test_sitemap_fuzz_fails_closed(spark):
    """parse_sitemaps over every trial of a urlset and a sitemapindex in
    one DataFrame: the job succeeds, and every row it yields has the
    output schema's shape — a kind, a non-NULL url, a string or NULL
    lastmod, a double or NULL priority."""
    docs = [
        (f"{name}-{i}", _text(data))
        for name, base in (("urlset", _URLSET), ("index", _SITEMAPINDEX))
        for i, data in enumerate([base, *_trials(base)])
    ]
    out = parse_sitemaps(spark.createDataFrame(docs, "host string, sitemap_xml string"))
    assert out.columns == ["host", "kind", "url", "lastmod", "priority"]
    rows = out.collect()
    for r in rows:
        assert r.kind in ("url", "sitemap") and isinstance(r.url, str)
        assert r.lastmod is None or isinstance(r.lastmod, str)
        assert r.priority is None or isinstance(r.priority, float)
    # the unmutated documents parse: two urlset entries with a <loc>,
    # both sitemapindex entries
    assert sorted((r.kind, r.url, r.priority) for r in rows if r.host == "urlset-0") == [
        ("url", "http://s.example/a?x=1&y=2", 0.8), ("url", "http://s.example/b", 1.0),
    ]
    assert sorted(r.url for r in rows if r.host == "index-0") == [
        "http://s.example/maps/1.xml", "http://s.example/maps/2.xml",
    ]


def test_robots_crawl_delay_is_clamped_to_int_ms():
    """A non-finite or huge Crawl-delay must not overflow the int
    ``crawl_delay_ms`` column; NaN sets no delay, negatives mean none."""
    def delay(v):
        (rule,) = parse_robots_txt(f"User-agent: *\nCrawl-delay: {v}\nDisallow: /x")
        return rule["crawl_delay_ms"]

    assert delay("1.5") == 1500
    assert delay("inf") == delay("1e999") == delay("9999999") == 2**31 - 1
    assert delay("-inf") == delay("-3") == 0
    assert delay("nan") is None


def test_warc_negative_length_and_long_status_fail_closed():
    """A negative Content-Length would walk the splitter backwards
    forever; a status of more than three digits may not fit the int
    column. The first stops the walk, the second reads as no status."""
    first = format_warc_record("http://a.example/", "d", 20000000000, "text/html", b"x")
    second = format_warc_record("http://b.example/", "d", 200, "text/html", b"y")
    # a length that points back before the record's own start
    head, sep, rest = second.partition(b"Content-Length: ")
    second = head + sep + b"-1000" + rest[rest.index(b"\r\n"):]
    (row,) = split_warc_records(first + second, "f.warc")
    assert row["url"] == "http://a.example/" and row["http_status"] is None
