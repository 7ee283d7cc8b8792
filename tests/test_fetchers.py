"""HttpFetcher mapInPandas stage driven end-to-end through an injectable
fake transport (DictTransport = the FakeDownloader analog) — redirects,
timeouts, charset sniffing, politeness spacing, outcome mapping
(Downloader.cs:57-64,358-365 + Spider.cs:1212-1267), plus redirect-aware
crawl semantics (post-redirect dedup on page.TargetUrl,
Downloader.cs:211-220)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dotnetspider_spark.sources.fetchers import (
    CorpusFetcher,
    DictTransport,
    HttpFetcher,
    sniff_charset_py,
)

BATCH_SCHEMA = (
    "url string, host string, method string, referer string, origin string, "
    "content string, headers map<string,string>, priority int, depth int, "
    "retried int, seq long, identity string"
)


def _batch(spark, urls):
    rows = [
        (u, u.split("/")[2], "GET", None, None, None, None, 0, 1, 0, i, f"id{i}")
        for i, u in enumerate(urls)
    ]
    return spark.createDataFrame(rows, BATCH_SCHEMA)


PAGES = {
    "http://a.example/ok": {
        "body": "<html><a href='/next'>n</a></html>",
        "content_type": "text/html; charset=utf-8",
    },
    "http://a.example/redir": {"status": 301, "location": "/final"},
    "http://a.example/final": {
        "body": "<html>done</html>", "content_type": "text/html"
    },
    "http://a.example/hop1": {"status": 302, "location": "hop2"},
    "http://a.example/hop2": {"status": 301, "location": "http://b.example/end"},
    "http://b.example/end": {"body": "end"},
    "http://a.example/loop": {"status": 302, "location": "/loop"},
    "http://a.example/slow": {"raise_timeout": True},
    "http://a.example/gone": {"status": 410, "body": "gone"},
    "http://a.example/cp1251": {
        "body": "<html><meta charset=windows-1251><p>x</p></html>",
    },
    "http://a.example/err": {"status": 500, "body": "boom"},
}


@pytest.fixture(scope="module")
def fetched(spark):
    f = HttpFetcher(DictTransport(PAGES), n_partitions=2)
    out = f.fetch(_batch(spark, list(PAGES) + ["http://a.example/nope"]))
    return {r.url: r for r in out.collect()}


def test_success_and_miss_statuses(fetched):
    assert fetched["http://a.example/ok"].status == 200
    assert fetched["http://a.example/nope"].status == 404  # no corpus entry
    assert fetched["http://a.example/gone"].status == 410
    assert fetched["http://a.example/err"].status == 500


def test_redirects_followed_and_target_url_recorded(fetched):
    r = fetched["http://a.example/redir"]
    assert r.status == 200
    assert r.target_url == "http://a.example/final"  # relative Location resolved
    assert r.html == "<html>done</html>"
    multi = fetched["http://a.example/hop1"]
    assert multi.target_url == "http://b.example/end"  # 2 hops, cross-host
    assert multi.status == 200
    # non-redirected rows report themselves
    assert fetched["http://a.example/ok"].target_url == "http://a.example/ok"


def test_redirect_loop_bounded_by_max_redirects(fetched):
    r = fetched["http://a.example/loop"]
    assert r.status == 302  # gave up still holding a 3xx
    assert r.target_url == "http://a.example/loop"


def test_transport_error_maps_to_transient_5xx(fetched):
    # DownloaderException -> AddToCycleRetry (Spider.cs:1212-1267): the
    # loop retries status >= 500, so a timeout must land in that band
    assert fetched["http://a.example/slow"].status == 599
    assert fetched["http://a.example/slow"].bytes is None


def test_charset_sniff_header_then_meta_then_default(fetched):
    assert fetched["http://a.example/ok"].encoding == "utf-8"  # header
    assert fetched["http://a.example/cp1251"].encoding == "windows-1251"  # meta
    assert fetched["http://a.example/final"].encoding == "utf-8"  # default
    assert sniff_charset_py("text/html; Charset=ISO-8859-2", b"") == "iso-8859-2"
    assert sniff_charset_py(None, b'<META CHARSET="gbk">') == "gbk"
    assert sniff_charset_py(None, None) == "utf-8"


def test_response_header_lookup_is_case_insensitive(spark):
    """HTTP header names are case-insensitive (RFC 9110); a production
    transport returns its own casing ('Location', 'Content-Type') and
    redirects/charset/media-gate must still work (r3 review)."""

    class CasedTransport:
        def __call__(self):
            def send(method, url, headers, timeout_s):
                if url.endswith("/r"):
                    return 301, {"Location": "/t"}, b""
                return 200, {"Content-Type": "image/png"}, b"\x89PNG"

            return send

    f = HttpFetcher(CasedTransport(), n_partitions=1)
    out = {r.url: r for r in f.fetch(_batch(spark, ["http://c.example/r"])).collect()}
    r = out["http://c.example/r"]
    assert r.status == 200
    assert r.target_url == "http://c.example/t"
    assert r.content_type == "image/png"


def test_exhausted_redirect_budget_reports_fetched_url(spark):
    """When max_redirects runs out mid-chain, target_url must be a URL
    that WAS requested — not the never-fetched next hop (r3 review).
    a <-> b is a 2-cycle; with max_redirects=3 the sends are
    a, b, a, b and the final row must report b."""
    pages = {
        "http://x.example/a": {"status": 302, "location": "/b"},
        "http://x.example/b": {"status": 302, "location": "/a"},
    }
    f = HttpFetcher(DictTransport(pages), n_partitions=1, max_redirects=3)
    out = {r.url: r for r in f.fetch(_batch(spark, ["http://x.example/a"])).collect()}
    r = out["http://x.example/a"]
    assert r.status == 302
    assert r.target_url == "http://x.example/b"


def test_politeness_spacing_applies_to_redirect_hops(spark):
    """Redirect hops are real requests: two same-host sends in one chain
    must still be spaced by crawl_delay_ms (r3 review)."""
    import time as _time

    class RedirTimestampTransport:
        def __call__(self):
            def send(method, url, headers, timeout_s):
                now = f"{_time.monotonic():.6f}".encode()
                if url.endswith("/r"):
                    return 301, {"location": "/t?" + now.decode()}, b""
                return 200, {}, now

            return send

    f = HttpFetcher(
        RedirTimestampTransport(), n_partitions=1,
        crawl_delay_ms={"d.example": 80},
    )
    out = f.fetch(_batch(spark, ["http://d.example/r"])).collect()
    row = out[0]
    t_first = float(row.target_url.split("?")[1])  # hop-1 send time
    t_second = float(row.html)  # hop-2 (final) send time
    assert t_second - t_first >= 0.075, (t_first, t_second)


def test_politeness_delay_spaces_same_host_sends(spark):
    """Consecutive same-host sends inside a partition must be spaced by
    crawl_delay_ms (SleepTime, Spider.cs:181,805). The fake transport
    runs in the executor's python worker, so it reports each send's
    monotonic timestamp through the response body."""
    import time as _time

    class TimestampTransport:
        def __call__(self):
            def send(method, url, headers, timeout_s):
                return 200, {}, f"{_time.monotonic():.6f}".encode()

            return send

    urls = [f"http://d.example/{i}" for i in range(4)]
    f = HttpFetcher(
        TimestampTransport(), n_partitions=1, crawl_delay_ms={"d.example": 60}
    )
    out = f.fetch(_batch(spark, urls))
    times = sorted(float(r.html) for r in out.collect())
    gaps = [b - a for a, b in zip(times, times[1:])]
    assert all(g >= 0.055 for g in gaps), gaps


def test_fetch_ms_recorded(fetched):
    assert all(r.fetch_ms >= 0 for r in fetched.values())


def test_corpus_fetcher_follows_single_hop_redirect(spark):
    corpus = spark.createDataFrame(
        [
            ("http://h/r", 301, "", "http://h/t"),
            ("http://h/t", 200, "<html>t</html>", None),
            ("http://h/x", 200, "<html>x</html>", None),
        ],
        "url string, status int, html string, redirect_to string",
    )
    out = {
        r.url: r
        for r in CorpusFetcher(corpus).fetch(_batch(spark, ["http://h/r", "http://h/x"])).collect()
    }
    assert out["http://h/r"].status == 200
    assert out["http://h/r"].html == "<html>t</html>"
    assert out["http://h/r"].target_url == "http://h/t"
    assert out["http://h/x"].target_url == "http://h/x"


def test_crawl_through_http_fetcher_matches_corpus_replay(spark):
    """The full loop driven through HttpFetcher(DictTransport) must equal
    the CorpusFetcher replay of the same web — retry/redirect/timeout
    outcomes included."""
    from dotnetspider_spark.crawler.loop import CrawlConfig, crawl
    from dotnetspider_spark.pyref.oracle import Request, crawl as pycrawl
    from dotnetspider_spark.testing.datagen import (
        CorpusConfig, gen_corpus, gen_robots, gen_seeds, gen_corpus_local,
        seed_rows,
    )

    cfg = CorpusConfig(n_pages=80, n_hosts=4, with_payload=False, redirect_every=11)
    pages = {
        r["url"]: (
            {"status": 301, "location": r["redirect_to"]}
            if r["redirect_to"]
            else {"status": r["status"], "body": r["html"], "content_type": "text/html"}
        )
        for r in gen_corpus_local(cfg)
    }
    ccfg = CrawlConfig(dfs=True, max_depth=3, per_host_limit=8)
    res_http = crawl(
        spark, None, gen_seeds(spark, cfg, 3), ccfg,
        robots=gen_robots(spark, cfg),
        fetcher=HttpFetcher(DictTransport(pages), n_partitions=4),
    )
    res_corpus = crawl(
        spark, gen_corpus(spark, cfg, parallelism=2), gen_seeds(spark, cfg, 3),
        ccfg, robots=gen_robots(spark, cfg),
    )
    pres = pycrawl(cfg, [Request(**r) for r in seed_rows(cfg, 3)], dfs=True, max_depth=3)
    urls_http = {r.url for r in res_http.fetched.select("url").collect()}
    urls_corpus = {r.url for r in res_corpus.fetched.select("url").collect()}
    # the two engine paths must agree EXACTLY with each other
    assert urls_http == urls_corpus
    # vs the sequential oracle: the URL-seen sets are identical (the
    # engine's redirect extra-identity equals the oracle's pushed child
    # identity), while fetches of redirect TARGETS are interleaving-
    # dependent — BSP dedups a same-iteration discovery that the
    # sequential order may have pushed pre-redirect — so the fetch sets
    # may differ only by redirect-target URLs
    assert {r.identity for r in res_http.seen.collect()} == pres.seen
    assert {r.identity for r in res_corpus.seen.collect()} == pres.seen
    targets = {r["redirect_to"] for r in gen_corpus_local(cfg) if r["redirect_to"]}
    assert urls_http.symmetric_difference(pres.fetch_order) <= targets
    # at least one redirect actually exercised, and its target recorded
    redirected = {
        r.url: r.target_url
        for r in res_http.fetched.select("url", "target_url").collect()
        if r.target_url != r.url
    }
    assert redirected, "fixture produced no fetched redirects"


_MEDIA_PAGES = {
    # the image BODY contains an anchor — the gate must stop the parser
    # from ever seeing it (reference: media responses get no Content,
    # HttpClientDownloader.cs:130-140)
    "http://m.example/": {
        "body": "<a href='/img.png'>i</a><a href='/p2'>p</a>",
        "content_type": "text/html; charset=utf-8",
    },
    "http://m.example/p2": {
        "body": "<html>leaf</html>", "content_type": "text/html"
    },
    "http://m.example/img.png": {
        "body": b"\x89PNG fake <a href='/phantom'>x</a>",
        "content_type": "image/png",
    },
    "http://m.example/phantom": {
        "body": "must never be fetched", "content_type": "text/html"
    },
}


def _media_crawl(spark, download_files):
    from dotnetspider_spark.crawler.loop import CrawlConfig, crawl

    seeds = spark.createDataFrame(
        [("http://m.example/", 0)], "url string, seq long"
    )
    return crawl(
        spark, None, seeds,
        CrawlConfig(per_host_limit=4, download_files=download_files),
        fetcher=HttpFetcher(DictTransport(_MEDIA_PAGES), n_partitions=2),
    )


def test_media_type_gate_yields_no_links(spark):
    """A media response is a fetched success but is never parsed: the
    anchor inside the PNG body must not reach the frontier."""
    res = _media_crawl(spark, download_files=False)
    fetched = sorted(r.url for r in res.fetched.select("url").collect())
    assert fetched == [
        "http://m.example/", "http://m.example/img.png", "http://m.example/p2"
    ]
    # DownloadFiles default false -> media ignored, nothing stored
    assert res.downloads is None


def test_media_type_gate_stores_payload_with_reference_path(spark):
    """download_files=True stores media rows under the CreateFilePath
    host+localPath layout (Downloader.cs:390-395), payload bytes
    included."""
    res = _media_crawl(spark, download_files=True)
    assert res.downloads is not None
    rows = res.downloads.collect()
    assert len(rows) == 1
    dl = rows[0]
    assert dl.url == "http://m.example/img.png"
    assert dl.file_path == "downloads/m.example/img.png"
    assert bytes(dl.bytes) == b"\x89PNG fake <a href='/phantom'>x</a>"
    assert dl.content_type == "image/png"


def test_is_media_type_matches_reference_exclude_list(spark):
    from dotnetspider_spark.functions.content import is_media_type

    cases = [
        ("image/png", True),
        ("video/mp4; codecs=avc1", True),
        ("application/pdf", True),
        ("application/octet-stream", True),
        ("text/html; charset=utf-8", False),
        ("TEXT/HTML", False),  # reference Contains is on raw strings; we
        ("application/json", False),  # normalize case — gate intent kept
        ("application/x-javascript", False),
        ("text/plain", False),
        ("", False),
        (None, False),
    ]
    df = spark.createDataFrame(
        [(c,) for c, _ in cases], "ct string"
    ).select(F.col("ct"), is_media_type(F.col("ct")).alias("m"))
    got = {r.ct: r.m for r in df.collect()}
    for ct, want in cases:
        assert got[ct] is want, (ct, got[ct])


def test_downloads_survive_kill_and_resume(spark, tmp_path):
    """downloads_paths rides the checkpoint manifest: a resumed crawl's
    result must surface media stored BEFORE the kill as well as after."""
    from dotnetspider_spark.crawler.loop import CrawlConfig, crawl

    corpus = spark.createDataFrame(
        [
            ("http://k.example/", 200,
             "<a href='/img1.png'>i</a><a href='/p2'>p</a>",
             "text/html", None),
            ("http://k.example/p2", 200,
             "<a href='/img2.png'>i</a>", "text/html", None),
            ("http://k.example/img1.png", 200, None, "image/png", b"P1"),
            ("http://k.example/img2.png", 200, None, "image/png", b"P2"),
        ],
        "url string, status int, html string, content_type string, bytes binary",
    )
    fetcher = CorpusFetcher(
        corpus, content_cols=("status", "html", "content_type", "bytes")
    )
    seeds = spark.createDataFrame(
        [("http://k.example/", 0)], "url string, seq long"
    )
    ck = str(tmp_path / "ck")
    kw = dict(per_host_limit=4, download_files=True, checkpoint_dir=ck)
    # phase 1: seed + first level (img1 stored), then "killed"
    crawl(spark, None, seeds, CrawlConfig(max_iterations=2, **kw), fetcher=fetcher)
    # phase 2: resume to convergence (img2 stored)
    res = crawl(
        spark, None, seeds, CrawlConfig(**kw), fetcher=fetcher, resume=True
    )
    assert res.downloads is not None
    got = {r.url: bytes(r.bytes) for r in res.downloads.collect()}
    assert got == {
        "http://k.example/img1.png": b"P1",
        "http://k.example/img2.png": b"P2",
    }


def test_redirected_seed_dedups_on_post_redirect_url(spark):
    """A crawl that fetches /r (301 -> /t) must NOT later fetch /t when a
    link to it is discovered (VERDICT r2 item 4)."""
    from dotnetspider_spark.crawler.loop import CrawlConfig, crawl

    corpus = spark.createDataFrame(
        [
            # seed A redirects to T; T links to B; B links directly to T
            ("http://h.example/a", 301, "", "http://h.example/t"),
            ("http://h.example/t", 200,
             "<html><a href='/b'>b</a></html>", None),
            ("http://h.example/b", 200,
             "<html><a href='/t'>t</a></html>", None),
        ],
        "url string, status int, html string, redirect_to string",
    )
    seeds = spark.createDataFrame(
        [("http://h.example/a", 0)], "url string, seq long"
    )
    res = crawl(spark, corpus, seeds, CrawlConfig(dfs=True, per_host_limit=4))
    fetched = sorted(r.url for r in res.fetched.select("url").collect())
    # /t is never fetched as itself: its content arrived via /a, and the
    # later /b -> /t link is deduped against the post-redirect identity
    assert fetched == ["http://h.example/a", "http://h.example/b"]
    tgt = {
        r.url: r.target_url for r in res.fetched.select("url", "target_url").collect()
    }
    assert tgt["http://h.example/a"] == "http://h.example/t"


def test_non_200_2xx_statuses_are_fetched_successes(spark):
    """success = ANY 2xx (Downloader.cs:57-64): a 204 and a 206 page must
    land in fetched/ (the 206's links discovered), not in errors/ as
    http_2xx rows (r3 review #2 — only the corpus's {200,404,500} were
    reachable before HttpFetcher made arbitrary 2xx real)."""
    from dotnetspider_spark.crawler.loop import CrawlConfig, crawl

    pages = {
        "http://h.example/": {
            "status": 206,
            "body": "<html><a href='/child'>c</a></html>",
            "content_type": "text/html",
        },
        "http://h.example/child": {"status": 204, "content_type": "text/html"},
    }
    seeds = spark.createDataFrame(
        [("http://h.example/", 0)], "url string, seq long"
    )
    res = crawl(
        spark, None, seeds, CrawlConfig(dfs=True, max_depth=2, per_host_limit=4),
        fetcher=HttpFetcher(DictTransport(pages), n_partitions=1),
    )
    fetched = {r.url: r.status for r in res.fetched.select("url", "status").collect()}
    assert fetched == {
        "http://h.example/": 206, "http://h.example/child": 204,
    }
    assert res.errors.count() == 0


def test_crawl_without_redirects_writes_no_seen_extra(spark, tmp_path):
    """HttpFetcher always emits ``target_url``, but an iteration in which
    nothing redirected has no post-redirect identities to mark seen: it
    writes no ``seen_extra`` dir at all."""
    from dotnetspider_spark.crawler.loop import CrawlConfig, crawl

    pages = {
        "http://h.example/": {
            "body": "<html><a href='/a'>a</a><a href='/b'>b</a></html>",
            "content_type": "text/html",
        },
        "http://h.example/a": {"body": "<html>a</html>", "content_type": "text/html"},
        "http://h.example/b": {"status": 404},
    }
    seeds = spark.createDataFrame([("http://h.example/", 0)], "url string, seq long")
    ck = str(tmp_path / "ck")
    res = crawl(
        spark, None, seeds,
        CrawlConfig(dfs=True, max_depth=2, per_host_limit=4, checkpoint_dir=ck),
        fetcher=HttpFetcher(DictTransport(pages), n_partitions=2),
    )
    assert res.iterations >= 2
    assert {r.url for r in res.fetched.select("url").collect()} == {
        "http://h.example/", "http://h.example/a",
    }
    assert not (tmp_path / "ck" / "seen_extra").exists()


def test_media_body_is_not_charset_decoded(spark):
    """A media-type response carries bytes only: decoding a binary body
    into a garbage html string ships a second payload-sized column
    through Arrow for a row the loop's media gate then discards unread
    (r3 review #4)."""
    payload = bytes(range(256)) * 8
    f = HttpFetcher(
        DictTransport(
            {
                "http://a.example/pic": {
                    "body": payload, "content_type": "image/png"
                },
                "http://a.example/page": {
                    "body": "<html>t</html>", "content_type": "text/html"
                },
            }
        ),
        n_partitions=1,
    )
    rows = {
        r.url: r
        for r in f.fetch(
            _batch(spark, ["http://a.example/pic", "http://a.example/page"])
        ).collect()
    }
    pic, page = rows["http://a.example/pic"], rows["http://a.example/page"]
    assert pic.html is None and bytes(pic.bytes) == payload
    assert page.html == "<html>t</html>"


def test_download_files_without_content_type_fails_loudly(spark):
    """download_files=True with a fetcher that cannot emit content_type
    previously completed with downloads=None and no diagnostic (r3
    review #8)."""
    from dotnetspider_spark.crawler.loop import CrawlConfig, crawl

    corpus = spark.createDataFrame(
        [("http://h.example/", 200, "<html></html>")],
        "url string, status int, html string",
    )
    seeds = spark.createDataFrame(
        [("http://h.example/", 0)], "url string, seq long"
    )
    with pytest.raises(ValueError, match="content_type"):
        crawl(
            spark, corpus, seeds,
            CrawlConfig(dfs=True, max_depth=1, download_files=True),
        )


def test_warc_split_pure(tmp_path):
    """Record splitter: response records kept, request records skipped,
    bodies sliced by Content-Length (payload containing 'WARC/1.0' must
    not confuse the walk), gzip transparently handled."""
    import gzip

    from dotnetspider_spark.sources.warc import build_warc, split_warc_records

    body0 = b"<html>page WARC/1.0 inside</html>"
    raw = build_warc(
        [
            {"url": "http://a/1", "date": "2024-01-01T00:00:00Z",
             "status": 200, "content_type": "text/html", "body": body0},
            {"url": "http://a/2", "date": "2024-01-01T00:00:01Z",
             "status": 404, "content_type": "text/plain", "body": b"gone"},
        ]
    )
    # splice in a non-response record between the two
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: http://a/2\r\n"
        b"Content-Length: 4\r\n\r\nGETx\r\n\r\n"
    )
    first_end = raw.find(b"\r\n\r\n", raw.find(b"HTTP/1.1 200")) + 4 + len(body0) + 4
    raw = raw[:first_end] + req + raw[first_end:]

    rows = split_warc_records(raw, "f.warc")
    assert [(r["url"], r["http_status"], r["body"]) for r in rows] == [
        ("http://a/1", 200, body0),
        ("http://a/2", 404, b"gone"),
    ]
    assert rows[0]["http_content_type"] == "text/html"
    # gzip path (same records; warc_path reflects the .gz file)
    gz = gzip.compress(raw)
    gz_rows = split_warc_records(gz, "f.warc.gz")
    strip = lambda rs: [{k: v for k, v in r.items() if k != "warc_path"} for r in rs]
    assert strip(gz_rows) == strip(rows)


def test_read_warc_dataframe(spark, tmp_path):
    from dotnetspider_spark.sources.warc import build_warc, read_warc

    for i in range(2):
        raw = build_warc(
            [
                {"url": f"http://h{i}/p/{j}", "date": "2024-01-01T00:00:00Z",
                 "status": 200 if j else 500, "content_type": "text/html",
                 "body": f"<html>{i}-{j}</html>".encode()}
                for j in range(3)
            ]
        )
        (tmp_path / f"part{i}.warc").write_bytes(raw)
    df = read_warc(spark, f"{tmp_path}/*.warc")
    rows = df.collect()
    assert len(rows) == 6
    got = {(r.url, r.http_status, bytes(r.body).decode()) for r in rows}
    assert ("http://h1/p/2", 200, "<html>1-2</html>") in got
    assert ("http://h0/p/0", 500, "<html>0-0</html>") in got
    assert all(r.record_content_type == "application/http;msgtype=response" for r in rows)


def test_read_warc_corrupt_gzip_yields_path_only_row(spark, tmp_path):
    """A truncated .warc.gz fails closed: the good archive's records
    still come back, and the bad one yields one row that holds only its
    path (every other column NULL) instead of failing the job."""
    import gzip

    from dotnetspider_spark.sources.warc import build_warc, read_warc

    gz = gzip.compress(
        build_warc(
            [
                {"url": f"http://h.example/p/{j}", "date": "2024-01-01T00:00:00Z",
                 "status": 200, "content_type": "text/html",
                 "body": f"<html>{j}</html>".encode()}
                for j in range(3)
            ]
        )
    )
    (tmp_path / "good.warc.gz").write_bytes(gz)
    (tmp_path / "bad.warc.gz").write_bytes(gz[: len(gz) // 2])
    rows = read_warc(spark, f"{tmp_path}/*.warc.gz").collect()
    good = [r for r in rows if r.warc_path.endswith("good.warc.gz")]
    bad = [r for r in rows if r.warc_path.endswith("bad.warc.gz")]
    assert sorted(r.url for r in good) == [f"http://h.example/p/{j}" for j in range(3)]
    assert len(bad) == 1
    assert all(v is None for k, v in bad[0].asDict().items() if k != "warc_path")


def test_write_warc_roundtrip_and_determinism(spark, tmp_path):
    from dotnetspider_spark.sinks.warc import write_warc
    from dotnetspider_spark.sources.warc import read_warc

    pages = spark.createDataFrame(
        [
            (
                f"http://h{i % 3}.example/p/{i}",
                "2024-01-01T00:00:00Z",
                200 if i % 5 else 404,
                "text/html",
                f"<html>page {i} WARC/1.0 inside body</html>".encode(),
            )
            for i in range(40)
        ],
        "url string, warc_date string, http_status int, "
        "http_content_type string, body binary",
    )
    out = tmp_path / "archive"
    manifest = write_warc(pages, str(out), n_shards=4).collect()
    assert {m.shard for m in manifest} == {0, 1, 2, 3}
    assert sum(m.n_records for m in manifest) == 40

    back = read_warc(spark, f"{out}/crawl-*.warc.gz").collect()
    assert len(back) == 40
    want = {
        (r.url, r.http_status, r.http_content_type, bytes(r.body))
        for r in pages.collect()
    }
    got = {
        (r.url, r.http_status, r.http_content_type, bytes(r.body))
        for r in back
    }
    # round-trip exact, including the body that embeds 'WARC/1.0' bytes
    assert got == want

    # byte-determinism: a re-run produces identical shard bytes
    first = {m.warc_path: open(m.warc_path, "rb").read() for m in manifest}
    write_warc(pages, str(out), n_shards=4).collect()
    for p, data in first.items():
        assert open(p, "rb").read() == data

    # URI paths fail fast (executor-local writes would scatter shards)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_warc(pages, "s3://bucket/archive", n_shards=2)


# ---------------------------------------------------------------------------
# Urllib3Transport — the production transport factory (§2.5), driven
# through an injected PoolManager-shaped fake (no network, no
# monkeypatching: the fake rides the executor pickle like production)
# ---------------------------------------------------------------------------


class _FakeResponse:
    def __init__(self, status, headers, data):
        self.status, self.headers, self.data = status, headers, data


class _RecordingPool:
    """PoolManager-shaped fake serving from a url dict; records every
    request's kwargs so the contract (redirect/retries disabled, timeout
    forwarded, headers merged) is assertable."""

    def __init__(self, pages):
        self.pages = pages
        self.calls = []

    def request(self, method, url, headers=None, timeout=None,
                redirect=None, retries=None, preload_content=None):
        self.calls.append(
            dict(method=method, url=url, headers=dict(headers or {}),
                 timeout=timeout, redirect=redirect, retries=retries)
        )
        page = self.pages.get(url)
        if page is None:
            return _FakeResponse(404, {}, b"")
        if page.get("raise"):
            import urllib3

            raise urllib3.exceptions.NewConnectionError(None, f"refused: {url}")
        hdrs = {}
        if page.get("content_type"):
            hdrs["Content-Type"] = page["content_type"]
        if page.get("location"):
            hdrs["Location"] = page["location"]
        body = page.get("body", b"")
        if isinstance(body, str):
            body = body.encode()
        return _FakeResponse(int(page.get("status", 200)), hdrs, body)


def test_urllib3_transport_contract():
    from dotnetspider_spark.sources.fetchers import (
        TransportError,
        Urllib3Transport,
    )

    pool = _RecordingPool(
        {
            "http://a.example/ok": {
                "body": "hi", "content_type": "text/html; charset=utf-8"
            },
            "http://a.example/down": {"raise": True},
        }
    )
    send = Urllib3Transport(pool_factory=lambda: pool)()
    status, headers, body = send(
        "GET", "http://a.example/ok", {"X-Custom": "1", "User-Agent": "ua2"}, 8.0
    )
    assert (status, body) == (200, b"hi")
    assert headers["Content-Type"] == "text/html; charset=utf-8"
    call = pool.calls[0]
    # stage owns redirect hops and retry semantics — both must be off
    assert call["redirect"] is False and call["retries"] is False
    assert call["timeout"].total == 8.0
    # defaults present, per-request headers override (case-folded)
    assert call["headers"]["accept-encoding"] == "gzip, deflate"
    assert call["headers"]["user-agent"] == "ua2"
    assert call["headers"]["x-custom"] == "1"
    # default UA is the reference's hardcoded Chrome (Request.cs:20-21)
    send("GET", "http://a.example/ok", None, 1.0)
    assert "Chrome/69" in pool.calls[1]["headers"]["user-agent"]
    # connection failures map to TransportError (-> 599 in the stage)
    with pytest.raises(TransportError):
        send("GET", "http://a.example/down", None, 1.0)


def test_urllib3_transport_default_pool_is_urllib3():
    import urllib3

    from dotnetspider_spark.sources.fetchers import Urllib3Transport

    t = Urllib3Transport(maxsize=3)
    captured = {}
    real = urllib3.PoolManager

    class Spy:
        def __init__(self, **kw):
            captured.update(kw)
            self._p = real(**kw)

        def request(self, *a, **k):  # pragma: no cover - never hit
            raise AssertionError("no network in tests")

    urllib3.PoolManager = Spy
    try:
        t()
    finally:
        urllib3.PoolManager = real
    assert captured == {"maxsize": 3, "retries": False}


def test_http_fetcher_through_urllib3_transport_stage(spark):
    """The FULL mapInPandas stage constructed with the production
    transport class (fake pool injected) — redirect chain resolved,
    target_url recorded, charset decoded, 599 on connection failure."""
    from dotnetspider_spark.sources.fetchers import Urllib3Transport

    pages = {
        "http://a.example/r1": {"status": 302, "location": "/r2"},
        "http://a.example/r2": {"status": 301, "location": "http://b.example/end"},
        "http://b.example/end": {
            "body": "<html>fin</html>", "content_type": "text/html"
        },
        "http://a.example/dead": {"raise": True},
    }
    f = HttpFetcher(
        Urllib3Transport(pool_factory=lambda: _RecordingPool(pages)),
        n_partitions=2,
    )
    out = f.fetch(_batch(spark, ["http://a.example/r1", "http://a.example/dead"]))
    rows = {r.url: r for r in out.collect()}
    r1 = rows["http://a.example/r1"]
    assert r1.status == 200
    assert r1.target_url == "http://b.example/end"
    assert r1.html == "<html>fin</html>"
    assert rows["http://a.example/dead"].status == 599


# ---------------------------------------------------------------------------
# multi-hop redirect chains (Downloader.cs:57-64 budget semantics)
# ---------------------------------------------------------------------------


def _chain_corpus(spark, n_hops, cfg_max=None):
    """url r0 -> r1 -> ... -> r{n_hops} (final serves content)."""
    rows = []
    for k in range(n_hops):
        rows.append(
            (f"http://c.example/r{k}", "c.example", 301, "",
             f"http://c.example/r{k + 1}")
        )
    rows.append(
        (f"http://c.example/r{n_hops}", "c.example", 200,
         "<html>final</html>", None)
    )
    rows.append(("http://c.example/plain", "c.example", 200, "<html>p</html>", None))
    return spark.createDataFrame(
        rows,
        "url string, host string, status int, html string, redirect_to string",
    )


def test_corpus_fetcher_follows_multi_hop_chain(spark):
    corpus = _chain_corpus(spark, 3)
    f = CorpusFetcher(corpus)
    out = f.fetch(_batch(spark, ["http://c.example/r0", "http://c.example/plain"]))
    rows = {r.url: r for r in out.collect()}
    r0 = rows["http://c.example/r0"]
    assert r0.status == 200
    assert r0.target_url == "http://c.example/r3"
    assert r0.html == "<html>final</html>"
    assert list(r0.redirect_hops) == [
        "http://c.example/r1", "http://c.example/r2", "http://c.example/r3"
    ]
    plain = rows["http://c.example/plain"]
    assert plain.status == 200 and plain.target_url == "http://c.example/plain"
    assert plain.redirect_hops is None


def test_corpus_fetcher_redirect_budget_exhaustion(spark):
    """A 12-hop chain against max_redirects=10 surfaces the 11th-hop row's
    own 3xx (the last REQUESTED url) — the loop maps it to http_301."""
    corpus = _chain_corpus(spark, 12)
    f = CorpusFetcher(corpus, max_redirects=10)
    out = f.fetch(_batch(spark, ["http://c.example/r0"]))
    (row,) = out.collect()
    assert row.status == 301
    assert row.target_url == "http://c.example/r10"
    assert len(row.redirect_hops) == 10


def test_http_fetcher_emits_redirect_hops(spark):
    f = HttpFetcher(DictTransport(PAGES), n_partitions=1)
    out = f.fetch(_batch(spark, ["http://a.example/hop1", "http://a.example/ok"]))
    rows = {r.url: r for r in out.collect()}
    assert list(rows["http://a.example/hop1"].redirect_hops) == [
        "http://a.example/hop2", "http://b.example/end"
    ]
    assert rows["http://a.example/ok"].redirect_hops is None


def test_chain_crawl_matches_oracle_and_marks_hops_seen(spark):
    """Exact-order crawl over a chained-redirect corpus (datagen
    redirect_chain_len=3): engine fetch order + seen set == pyref
    oracle, and every intermediate hop identity is in the final seen
    set. Exact mode (global_limit=1) because batched iterations can
    legitimately fetch a chain head and its target in the SAME batch,
    while the sequential oracle marks the target seen first — the same
    order-dependence caveat as depth-capped batched crawls."""
    from dotnetspider_spark.crawler.loop import CrawlConfig, crawl
    from dotnetspider_spark.pyref.oracle import Request, crawl as pycrawl
    from dotnetspider_spark.testing.datagen import (
        CorpusConfig, gen_corpus, gen_corpus_local, gen_robots, gen_seeds,
        seed_rows,
    )

    cfg = CorpusConfig(
        n_pages=66, n_hosts=4, redirect_every=11, redirect_chain_len=3,
        with_payload=False, links_per_page=4,
    )
    corpus = gen_corpus(spark, cfg, parallelism=2).cache()
    corpus.count()
    res = crawl(
        spark, corpus, gen_seeds(spark, cfg, k=3),
        CrawlConfig(dfs=True, max_depth=3, global_limit=1,
                    per_host_limit=None, max_iterations=200),
        robots=gen_robots(spark, cfg),
    )
    pres = pycrawl(
        cfg, [Request(**r) for r in seed_rows(cfg, 3)], dfs=True, max_depth=3
    )
    assert res.fetch_order() == pres.fetch_order
    engine_seen = {r.identity for r in res.seen.collect()}
    assert engine_seen == pres.seen
    # at least one full multi-hop chain was traversed, and each hop
    # identity is individually present in the seen set
    from dotnetspider_spark.pyref.oracle import Request as Req

    local = {r["url"]: r for r in gen_corpus_local(cfg)}
    chained = [
        u for u, r in local.items()
        if r.get("redirect_to")
        and local.get(r["redirect_to"], {}).get("redirect_to")
    ]
    fetched_urls = set(res.fetch_order())
    hit = [u for u in chained if u in fetched_urls]
    assert hit, "fixture produced no traversed multi-hop chain"
    for u in hit:
        cur = local[u]
        while cur.get("redirect_to"):
            nxt = cur["redirect_to"]
            assert Req(url=nxt).identity() in engine_seen
            cur = local[nxt]
    corpus.unpersist()


def test_chain_budget_exhaustion_matches_oracle(spark):
    """chain_len=12 > budget 10: chain heads error as http_301 in both
    engine and oracle; fetch order, seen set, and error reasons match
    (exact-order mode, same caveat as above)."""
    from dotnetspider_spark.crawler.loop import CrawlConfig, crawl
    from dotnetspider_spark.pyref.oracle import Request, crawl as pycrawl
    from dotnetspider_spark.testing.datagen import (
        CorpusConfig, gen_corpus, gen_robots, gen_seeds, seed_rows,
    )

    cfg = CorpusConfig(
        n_pages=96, n_hosts=4, redirect_every=16, redirect_chain_len=12,
        with_payload=False, links_per_page=4,
    )
    corpus = gen_corpus(spark, cfg, parallelism=2).cache()
    corpus.count()
    res = crawl(
        spark, corpus, gen_seeds(spark, cfg, k=3),
        CrawlConfig(dfs=True, max_depth=3, global_limit=1,
                    per_host_limit=None, max_iterations=200),
        robots=gen_robots(spark, cfg),
    )
    pres = pycrawl(
        cfg, [Request(**r) for r in seed_rows(cfg, 3)], dfs=True, max_depth=3
    )
    assert res.fetch_order() == pres.fetch_order
    assert {r.identity for r in res.seen.collect()} == pres.seen
    eng_errs = {
        (r.url, r.reason)
        for r in res.errors.select("url", "reason").collect()
    }
    ora_errs = {(u, reason) for (u, _retried, reason) in pres.errors}
    assert eng_errs == ora_errs
    assert any(reason == "http_301" for _u, reason in eng_errs), eng_errs
    corpus.unpersist()


# ---------------------------------------------------------------------------
# cookie state (CookieInjector / CookieContainer affinity,
# Downloader.cs:74,102-173)
# ---------------------------------------------------------------------------


class EchoCookieTransport:
    """Echoes the received cookie header back in the body; /login sets a
    session cookie and redirects to /account on the same host; /away
    redirects cross-host."""

    def __call__(self):
        def send(method, url, headers, timeout_s):
            cookie = ""
            if headers:
                cookie = next(
                    (v for k, v in headers.items() if k.lower() == "cookie"),
                    "",
                )
            if url.endswith("/login"):
                return 302, {
                    "location": "/account",
                    "set-cookie": "sid=abc123; Path=/; HttpOnly",
                }, b""
            if url.endswith("/away"):
                return 302, {
                    "location": "http://other.example/land",
                    "set-cookie": "sid=leakme",
                }, b""
            return 200, {}, f"cookie={cookie}".encode()

        return send


def test_set_cookie_reaches_next_same_host_request(spark):
    """A login response's set-cookie must ride the next same-host send —
    here the redirect hop to /account (one row, deterministic order)."""
    f = HttpFetcher(EchoCookieTransport(), n_partitions=1)
    (row,) = f.fetch(_batch(spark, ["http://c.example/login"])).collect()
    assert row.status == 200
    assert row.target_url == "http://c.example/account"
    assert row.html == "cookie=sid=abc123"


def test_cookies_do_not_leak_across_hosts(spark):
    """A cross-host redirect must NOT carry the first host's jar."""
    f = HttpFetcher(EchoCookieTransport(), n_partitions=1)
    (row,) = f.fetch(_batch(spark, ["http://c.example/away"])).collect()
    assert row.target_url == "http://other.example/land"
    assert row.html == "cookie="


def test_seed_cookies_injected_per_host(spark):
    """Constructor-seeded jars (the CookieInjector analog) ride every
    send to that host; other hosts stay clean; row-level cookie headers
    are preserved after the jar's."""
    f = HttpFetcher(
        EchoCookieTransport(), n_partitions=1,
        cookies={"c.example": {"lang": "en", "tz": "utc"}},
    )
    batch = _batch(
        spark, ["http://c.example/page", "http://other.example/page"]
    ).withColumn(
        "headers",
        F.when(
            F.col("url").contains("other"),
            F.create_map(F.lit("cookie"), F.lit("own=1")),
        ),
    )
    rows = {r.url: r for r in f.fetch(batch).collect()}
    assert rows["http://c.example/page"].html == "cookie=lang=en; tz=utc"
    assert rows["http://other.example/page"].html == "cookie=own=1"


def test_http_fetcher_captures_retry_after_seconds(spark):
    pages = {
        "http://t.example/limited": {
            "status": 429, "body": "slow down", "retry_after": 30,
        },
        "http://t.example/dated": {
            # HTTP-date form: not parseable without wall-clock anchoring
            "status": 429, "body": "x",
            "retry_after": "Wed, 21 Oct 2026 07:28:00 GMT",
        },
        "http://t.example/fine": {"status": 200, "body": "ok"},
    }
    f = HttpFetcher(DictTransport(pages), n_partitions=1)
    out = f.fetch(_batch(spark, list(pages)))
    rows = {r.url: r for r in out.collect()}
    assert rows["http://t.example/limited"].retry_after_s == 30
    assert rows["http://t.example/dated"].retry_after_s is None
    assert rows["http://t.example/fine"].retry_after_s is None


def test_adaptive_backoff_honors_retry_after(spark):
    from dotnetspider_spark.operators.frontier import adaptive_backoff

    rows = (
        [("polite", 429, 60)] * 10 + [("polite", 200, None)] * 90
        + [("quiet", 200, None)] * 50
    )
    df = spark.createDataFrame(
        rows, "host string, status int, retry_after_s long"
    )
    out = {
        r.host: r
        for r in adaptive_backoff(
            df, base_delay_ms=100, retry_after_col="retry_after_s"
        ).collect()
    }
    # multiplier says 2x100=200ms, but the server asked for 60s: 60s wins
    assert out["polite"].multiplier == 2
    assert out["polite"].max_retry_after_s == 60
    assert out["polite"].delay_ms == 60_000
    # no retry-after observed: multiplier delay stands
    assert out["quiet"].max_retry_after_s is None
    assert out["quiet"].delay_ms == 100


def test_conditional_get_roundtrip_and_304(spark):
    """Revisit-crawl conditional GET: the first fetch captures the
    validators (resp_etag / resp_last_modified); feeding them back as
    etag / last_modified batch columns sends If-None-Match /
    If-Modified-Since and an unchanged page answers 304 with no body."""
    pages = {
        "http://c.example/page": {
            "status": 200, "body": "<html>v1</html>",
            "etag": 'W/"abc123"', "last_modified": "Tue, 19 Aug 2026 00:00:00 GMT",
        },
    }
    f = HttpFetcher(DictTransport(pages), n_partitions=1)
    first = f.fetch(_batch(spark, ["http://c.example/page"])).collect()[0]
    assert first.status == 200 and first.html == "<html>v1</html>"
    assert first.resp_etag == 'W/"abc123"'
    assert first.resp_last_modified == "Tue, 19 Aug 2026 00:00:00 GMT"

    revisit = (
        _batch(spark, ["http://c.example/page"])
        .withColumn("etag", F.lit(first.resp_etag))
        .withColumn("last_modified", F.lit(first.resp_last_modified))
    )
    second = f.fetch(revisit).collect()[0]
    assert second.status == 304
    assert second.html is None and second.bytes is None
    # validators are re-captured so the NEXT revisit can reuse them
    assert second.resp_etag == 'W/"abc123"'

    # stale validator: full 200 response
    stale = _batch(spark, ["http://c.example/page"]).withColumn(
        "etag", F.lit('W/"old"')
    )
    third = f.fetch(stale).collect()[0]
    assert third.status == 200 and third.html == "<html>v1</html>"


# ---------------------------------------------- loopback integration


def test_urllib3_transport_against_local_socket(spark):
    """Round-4 verdict task 7: pin the REAL urllib3 call signature
    end-to-end against a live socket — a stdlib http.server on
    127.0.0.1 (no external network). Covers: 200 + headers (UA
    default), manual redirect hop with target_url, gzip
    Content-Encoding decode, 404 passthrough, and connection-refused
    -> 599 transient mapping."""
    import gzip
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from dotnetspider_spark.sources.fetchers import (
        HttpFetcher,
        Urllib3Transport,
    )

    seen_headers = {}

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib naming)
            seen_headers[self.path] = {k.lower(): v for k, v in self.headers.items()}
            if self.path == "/ok":
                body = b"<html>live</html>"
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            elif self.path == "/redir":
                self.send_response(302)
                self.send_header("Location", "/ok")
                self.send_header("Content-Length", "0")
                self.end_headers()
            elif self.path == "/gz":
                body = gzip.compress(b"<html>zipped</html>")
                self.send_response(200)
                self.send_header("Content-Type", "text/html")
                self.send_header("Content-Encoding", "gzip")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()

        def log_message(self, *a):  # silent
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    try:
        base = f"http://127.0.0.1:{port}"
        # a port guaranteed free RIGHT NOW (bind ephemeral, read, close)
        # so the connect is refused -> 599; arithmetic on the server
        # port could collide with a live listener and flake
        import socket as _socket

        probe = _socket.socket()
        probe.bind(("127.0.0.1", 0))
        dead_port = probe.getsockname()[1]
        probe.close()
        dead = f"http://127.0.0.1:{dead_port}/x"
        urls = [f"{base}/ok", f"{base}/redir", f"{base}/gz",
                f"{base}/missing", dead]
        f = HttpFetcher(Urllib3Transport(), n_partitions=1, timeout_s=5)
        got = {r.url: r for r in f.fetch(_batch(spark, urls)).collect()}

        ok = got[f"{base}/ok"]
        assert ok.status == 200 and ok.html == "<html>live</html>"
        assert ok.content_type.startswith("text/html")
        r = got[f"{base}/redir"]
        assert r.status == 200 and r.target_url == f"{base}/ok"
        assert r.redirect_hops == [f"{base}/ok"]
        gz = got[f"{base}/gz"]
        assert gz.status == 200 and gz.html == "<html>zipped</html>"
        assert got[f"{base}/missing"].status == 404
        assert got[dead].status == 599  # transport error -> transient
        # the reference's hardcoded Chrome UA went out on the wire
        assert seen_headers["/ok"]["user-agent"] == Urllib3Transport.USER_AGENT
    finally:
        srv.shutdown()
        srv.server_close()
