"""Engine-vs-oracle crawl equivalence (SURVEY §5/§7.3).

The pure-Python oracle (tests/test_pyref.py pins it to the reference's
test semantics) is the ground truth; these tests assert the Spark engine
reproduces it:

- exact single-threaded poll order, DFS (LIFO) and BFS (FIFO), via
  ``global_limit=1``;
- fetched-URL set + final URL-seen identity set equality in batched
  (politeness) mode — the guarantee the multi-threaded reference itself
  makes (QueueSchedulerTest.cs:11-32 asserts counts only);
- politeness invariant: at most k same-host fetches per iteration;
- kill-and-resume from a parquet snapshot reaches the identical final
  state (north rule: crawls resume exactly).
"""

from __future__ import annotations

import shutil

import pytest

from dotnetspider_spark.crawler.loop import CrawlConfig, crawl
from dotnetspider_spark.pyref.oracle import Request, crawl as pycrawl
from dotnetspider_spark.testing.datagen import (
    CorpusConfig,
    gen_corpus,
    gen_robots,
    gen_seeds,
    seed_rows,
)

TINY = CorpusConfig(n_pages=60, n_hosts=4)
SMALL = CorpusConfig(n_pages=300, n_hosts=8)


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    df = gen_corpus(spark, TINY, parallelism=2).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def small_corpus(spark):
    df = gen_corpus(spark, SMALL, parallelism=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.mark.parametrize("dfs", [True, False], ids=["dfs", "bfs"])
def test_exact_poll_order_matches_reference(spark, tiny_corpus, dfs):
    res = crawl(
        spark,
        tiny_corpus,
        gen_seeds(spark, TINY, k=2),
        CrawlConfig(dfs=dfs, max_depth=2, global_limit=1, per_host_limit=None),
        robots=gen_robots(spark, TINY),
    )
    pres = pycrawl(
        TINY, [Request(**r) for r in seed_rows(TINY, 2)], dfs=dfs, max_depth=2
    )
    assert res.fetch_order() == pres.fetch_order
    assert res.fetch_order()  # non-trivial crawl


def test_batched_crawl_matches_reference_sets(spark, small_corpus):
    res = crawl(
        spark,
        small_corpus,
        gen_seeds(spark, SMALL, k=5),
        CrawlConfig(dfs=True, max_depth=3, per_host_limit=8),
        robots=gen_robots(spark, SMALL),
    )
    pres = pycrawl(
        SMALL, [Request(**r) for r in seed_rows(SMALL, 5)], dfs=True, max_depth=3
    )
    fetched = res.fetched.select("url", "iter", "rank", "host").collect()
    assert {r.url for r in fetched} == set(pres.fetch_order)
    assert {r.identity for r in res.seen.collect()} == pres.seen
    # politeness: within an iteration, at most k fetches per host and
    # ranks are contiguous per (iter, host)
    per = {}
    for r in fetched:
        per.setdefault((r.iter, r.host), []).append(r.rank)
    for ranks in per.values():
        assert len(ranks) <= 8
    # metrics lineage recorded every iteration
    assert len(res.metrics) == res.iterations
    assert sum(m["n_ok"] for m in res.metrics) == len(fetched)


def test_kill_and_resume_reaches_identical_state(spark, small_corpus, tmp_path_factory):
    ck = str(tmp_path_factory.mktemp("ckpt"))
    shutil.rmtree(ck, ignore_errors=True)
    seeds = gen_seeds(spark, SMALL, k=5)
    robots = gen_robots(spark, SMALL)
    kw = dict(dfs=True, max_depth=3, per_host_limit=8, checkpoint_dir=ck)
    crawl(spark, small_corpus, seeds, CrawlConfig(max_iterations=3, **kw), robots=robots)
    res = crawl(
        spark, small_corpus, seeds, CrawlConfig(**kw), robots=robots, resume=True
    )
    pres = pycrawl(
        SMALL, [Request(**r) for r in seed_rows(SMALL, 5)], dfs=True, max_depth=3
    )
    assert {r.url for r in res.fetched.select("url").collect()} == set(pres.fetch_order)
    assert {r.identity for r in res.seen.collect()} == pres.seen


def test_delay_derived_politeness_budget(spark, small_corpus):
    """crawl_delay_ms -> per-iteration per-host budget k=ceil(wall/delay)
    (SleepTime made per-host, SURVEY §2.2). With wall=1000ms: delay 500
    -> <=2 fetches/host/iter; delay 100 -> <=10; delay 0 -> uncapped."""
    import pyspark.sql.functions as F

    delays = (
        small_corpus.select("host").distinct()
        .withColumn(
            "crawl_delay_ms",
            F.when(F.col("host").endswith("0.example"), 500).otherwise(100),
        )
    )
    res = crawl(
        spark,
        small_corpus,
        gen_seeds(spark, SMALL, k=5),
        CrawlConfig(dfs=True, max_depth=3, per_host_limit=None, iter_wall_ms=1000),
        robots=gen_robots(spark, SMALL),
        host_delays=delays,
    )
    fetched = res.fetched.select("url", "iter", "host").collect()
    per = {}
    for r in fetched:
        per.setdefault((r.iter, r.host), 0)
        per[(r.iter, r.host)] += 1
    for (it, host), n in per.items():
        cap = 2 if host.endswith("0.example") else 10
        assert n <= cap, f"iter {it} host {host}: {n} > {cap}"
    assert fetched  # crawl actually ran


def test_t2_closure_crawl_matches_oracle(spark):
    """Larger-corpus crawl to closure (no depth cap): exact fetched-URL
    set + seen-set equality vs the oracle, and NO per-iteration wall
    blow-up (regression: Spark 4 localCheckpoint carries pre-checkpoint
    stats onto the truncated plan; size estimates compounded ~3x per
    iteration into million-digit BigIntegers until the driver stalled —
    state now lives in parquet snapshot tables).

    NB: with a max_depth cap, batched and sequential crawls legitimately
    trim different subtrees (first-discovery depth is order-dependent),
    so set equality is asserted without a cap (closure) or in exact-order
    mode only.
    """
    import time as _time

    cfg = CorpusConfig(n_pages=1000, n_hosts=12)
    corpus = gen_corpus(spark, cfg, parallelism=4).cache()
    corpus.count()
    res = crawl(
        spark,
        corpus,
        gen_seeds(spark, cfg, k=10),
        CrawlConfig(
            dfs=True, max_depth=None, per_host_limit=32, max_iterations=80,
        ),
        robots=gen_robots(spark, cfg),
    )
    pres = pycrawl(
        cfg, [Request(**r) for r in seed_rows(cfg, 10)], dfs=True, max_depth=None
    )
    assert {r.url for r in res.fetched.select("url").collect()} == set(pres.fetch_order)
    assert {r.identity for r in res.seen.collect()} == pres.seen
    # iteration walls must stay flat: last three <= 4x median of first five
    walls = [m["wall_ms"] for m in res.metrics]
    if len(walls) >= 10:
        med = sorted(walls[:5])[2]
        assert max(walls[-3:]) <= 4 * med, walls
    corpus.unpersist()


def test_retry_cycle_new_identity(spark, tiny_corpus):
    """A 500-page is retried with retried+1 (new identity) and every retry
    identity lands in seen (Design.md:17-18 — reference behavior, pinned)."""
    import pyspark.sql.functions as F

    # pick a 500 page from the tiny corpus and seed it directly
    bad = tiny_corpus.filter(F.col("status") == 500).select("url").first()
    if bad is None:
        pytest.skip("tiny corpus has no 500 page")
    seeds = spark.createDataFrame([(bad.url,)], "url string")
    res = crawl(
        spark,
        tiny_corpus,
        seeds,
        CrawlConfig(dfs=True, per_host_limit=4, cycle_retry_times=3),
    )
    # never fetched, but 1 seed + 3 retries = 4 identities seen
    assert res.fetched.count() == 0
    assert res.seen.count() == 4


def _proc_page_id(url: str) -> int:
    import re

    return int(re.search(r"/(\d+)\.html$", url).group(1))


def _engine_processor(df):
    """Deterministic page processor: page_id %% 7 == 3 -> exception,
    page_id %% 5 == 2 -> zero result items, else one item."""
    import pyspark.sql.functions as F

    pid = F.nullif(
        F.regexp_extract(F.col("url"), r"/(\d+)\.html$", 1), F.lit("")
    ).cast("long")
    return df.withColumn("proc_error", F.pmod(pid, F.lit(7)) == 3).withColumn(
        "n_results", F.when(F.pmod(pid, F.lit(5)) == 2, 0).otherwise(1)
    )


def _oracle_processor(url, page):
    pid = _proc_page_id(url)
    if pid % 7 == 3:
        raise RuntimeError("processor boom")
    return 0 if pid % 5 == 2 else 1


def test_errors_table_matches_oracle(spark, small_corpus):
    """failing.log analog (Spider.cs:993-994): denied / missing /
    retries-exhausted rows are PERSISTED with reasons, matching the
    pyref oracle's error log exactly."""
    res = crawl(
        spark,
        small_corpus,
        gen_seeds(spark, SMALL, k=5),
        CrawlConfig(dfs=True, max_depth=3, per_host_limit=8),
        robots=gen_robots(spark, SMALL),
    )
    pres = pycrawl(
        SMALL, [Request(**r) for r in seed_rows(SMALL, 5)], dfs=True, max_depth=3
    )
    got = {(r.url, r.retried, r.reason) for r in res.errors.collect()}
    assert got == set(pres.errors)


def test_processor_exception_cycle_retry(spark, small_corpus):
    """Processor exceptions cycle-retry with retried+1 => new identity
    (Spider.cs:1129-1140, SpiderTest.cs:162-174): fetched set, seen set
    and errors (incl. processor_exception rows) all match the oracle."""
    res = crawl(
        spark,
        small_corpus,
        gen_seeds(spark, SMALL, k=5),
        CrawlConfig(dfs=True, max_depth=3, per_host_limit=8, cycle_retry_times=2),
        robots=gen_robots(spark, SMALL),
        processor=_engine_processor,
    )
    pres = pycrawl(
        SMALL,
        [Request(**r) for r in seed_rows(SMALL, 5)],
        dfs=True,
        max_depth=3,
        cycle_retry_times=2,
        processor=_oracle_processor,
    )
    assert {r.url for r in res.fetched.select("url").collect()} == set(pres.fetch_order)
    assert {r.identity for r in res.seen.collect()} == pres.seen
    got = {(r.url, r.retried, r.reason) for r in res.errors.collect()}
    assert got == set(pres.errors)
    assert any(r[2] == "processor_exception" for r in got)


def test_skip_targets_when_result_empty(spark, small_corpus):
    """SkipTargetRequestsWhenResultIsEmpty (Spider.cs:397,1155): pages
    whose processor yields zero items contribute no child links; the
    reachable set shrinks identically on both sides."""
    kw = dict(dfs=True, max_depth=3)
    res = crawl(
        spark,
        small_corpus,
        gen_seeds(spark, SMALL, k=5),
        CrawlConfig(skip_targets_when_result_empty=True, per_host_limit=8, **kw),
        robots=gen_robots(spark, SMALL),
        processor=_engine_processor,
    )
    pres = pycrawl(
        SMALL,
        [Request(**r) for r in seed_rows(SMALL, 5)],
        skip_targets_when_result_empty=True,
        processor=_oracle_processor,
        **kw,
    )
    base = pycrawl(SMALL, [Request(**r) for r in seed_rows(SMALL, 5)], **kw)
    assert {r.url for r in res.fetched.select("url").collect()} == set(pres.fetch_order)
    assert {r.identity for r in res.seen.collect()} == pres.seen
    # the gate must actually bite on this corpus
    assert len(pres.fetch_order) < len(base.fetch_order)


def test_compaction_preserves_state_equivalence(spark, small_corpus, tmp_path_factory):
    """Aggressive frontier + seen compaction (compact every 2 iterations,
    fold seen at >2 parts) must leave fetched/seen/errors identical to
    the oracle — the delta layout is an I/O optimization, never a
    semantics change."""
    ck = str(tmp_path_factory.mktemp("ckpt_compact"))
    res = crawl(
        spark,
        small_corpus,
        gen_seeds(spark, SMALL, k=5),
        CrawlConfig(
            dfs=True, max_depth=3, per_host_limit=8, checkpoint_dir=ck,
            compact_every=2, seen_compact_parts=2,
        ),
        robots=gen_robots(spark, SMALL),
    )
    pres = pycrawl(
        SMALL, [Request(**r) for r in seed_rows(SMALL, 5)], dfs=True, max_depth=3
    )
    assert {r.url for r in res.fetched.select("url").collect()} == set(pres.fetch_order)
    assert {r.identity for r in res.seen.collect()} == pres.seen
    got = {(r.url, r.retried, r.reason) for r in res.errors.collect()}
    assert got == set(pres.errors)
    # compaction must actually have fired
    import glob

    assert glob.glob(f"{ck}/frontier/compact=*")
    assert glob.glob(f"{ck}/seen/compact=*")


def test_hot_link_extraction_matches_htmlparser_reference():
    """The crawl hot path extracts anchors with a strip+regex scan; it
    must agree with the stdlib-HTMLParser + urljoin reference
    implementation on fuzzed pages covering every link style, quoting
    variant, script/comment embedding, entities, and dot segments."""
    import random
    import re as _re

    import pandas as pd
    from urllib.parse import urljoin, urlsplit, urlunsplit

    from dotnetspider_spark.crawler.parse import _canonical_links, _extract

    ok = _re.compile(r"^https?://")

    def ref_one(h, b):
        out, seen = [], set()
        for raw in _extract(h, include_src=False):
            if not raw or raw.startswith("#") or raw.lower().startswith("javascript:"):
                continue
            try:
                s = urlsplit(urljoin(b or "", raw.strip()))
            except ValueError:
                continue
            canon = urlunsplit(
                (s.scheme.lower(), s.netloc.lower(), s.path or "/", s.query, "")
            )
            if len(canon) < 6 or not ok.match(canon) or canon in seen:
                continue
            seen.add(canon)
            out.append(canon)
        return out

    rng = random.Random(7)
    styles = [
        lambda i: f"http://host{i%9}.example/p/{i}.html",
        lambda i: f"HTTPS://Host{i%9}.EXAMPLE/P/{i}",
        lambda i: f"/p/{i}.html",
        lambda i: f"../up/{i}.html",
        lambda i: f"./same/{i}.html",
        lambda i: f"//host{i%9}.example/pr/{i}",
        lambda i: f"/p/{i}.html?q=a&amp;b=2#frag",
        lambda i: "#top",
        lambda i: "javascript:void(0)",
        lambda i: "",
        lambda i: f"p{i}.html",
        lambda i: f"/a/b/../c/{i}",
        lambda i: f"  /sp/{i}.html ",
        lambda i: f"mailto:x{i}@y.z",
        lambda i: "/dup.html",
        lambda i: f"/a/{i}/..",
        lambda i: f"/a/{i}/.",
        lambda i: f"/tab\t{i}.html",
        lambda i: f"http://h{i%5}.example/nl\n{i}",
        lambda i: f"/.hidden/{i}",
        lambda i: f"http://h{i%5}.example/x/../y{i}",
        # ';' paths: urljoin splits/drops a trailing empty ';params'
        # ("/x;" -> "/x") — the fast paths must defer to the full
        # resolve (round-3 Hypothesis counterexample "/;")
        lambda i: f"/x{i};",
        lambda i: f"/a;b{i}",
        lambda i: f";q{i}",
        lambda i: "/;",
        lambda i: f"http://h{i%5}.example/x{i};",
    ]
    pages, bases = [], []
    for t in range(800):
        parts = []
        for k in range(rng.randrange(0, 12)):
            href = rng.choice(styles)(rng.randrange(100))
            quote = rng.choice(['"', "'", ""])
            if quote == "" and (" " in href or href == ""):
                quote = '"'
            if rng.random() < 0.15:
                parts.append(
                    f'<a title="w>{k}" href={quote or chr(34)}{href}{quote or chr(34)}>x</a>'
                )
            else:
                parts.append(f"<a href={quote}{href}{quote}>x</a>")
            if rng.random() < 0.1:
                parts.append(f"<script>var a=\"<a href='/bad/{k}'>\";</script>")
            if rng.random() < 0.05:
                parts.append(f"<SCRIPT>var b=\"<a href='/BAD/{k}'>\";</SCRIPT>")
            if rng.random() < 0.1:
                parts.append(f"<!-- <a href='/cmt/{k}'>c</a> -->")
            # hyphenated pseudo-href attributes are NOT links (HTMLParser
            # reports data-href/ng-href as distinct attribute names)
            if rng.random() < 0.08:
                parts.append(f"<a data-href='/phantom/{k}'>x</a>")
            if rng.random() < 0.04:
                parts.append(f"<a ng-href='/ng/{k}' href='/real/{k}'>x</a>")
            # marker substrings INSIDE quoted attribute values are plain
            # text to a real parser, not CDATA switches — links before
            # AND after them must survive (r3 review regression)
            if rng.random() < 0.05:
                parts.append(f'<a title="<!--" href="/attr-marker/{k}">x</a>')
            if rng.random() < 0.03:
                parts.append(
                    f'<a onclick="a<script>b" href="/attr-script/{k}">x</a>'
                )
        # truncated/malformed pages: an UNCLOSED <script>/<style>/<!--
        # puts HTMLParser in CDATA/comment mode for the rest of the page —
        # anchors after it (including ones inside the JS text) must vanish
        if rng.random() < 0.08:
            parts.append(f"<script>var c=\"<a href='/bad2/{t}'>\";")
            parts.append(f"<a href='/after-script/{t}'>x</a>")
        elif rng.random() < 0.04:
            parts.append(f"<style>.x{{background:url('/s/{t}')}}")
            parts.append(f"<a href='/after-style/{t}'>x</a>")
        elif rng.random() < 0.04:
            parts.append(f"<!-- open comment <a href='/cmt2/{t}'>")
        pages.append("<html><body>" + "".join(parts) + "</body></html>")
        bases.append(f"http://base{t%7}.example/dir/page{t}.html")
    got = _canonical_links(pd.Series(pages), pd.Series(bases))
    for h, b, g in zip(pages, bases, got):
        assert list(g) == ref_one(h, b)


def test_canonicalize_matches_reference_urlutils_cases():
    """Verbatim port of UrlUtilsTest.cs:7-25 (Selectable.CanonicalizeUrl)
    through the engine's fused link-canonicalization path."""
    import pandas as pd

    from dotnetspider_spark.crawler.parse import _canonical_links

    cases = [
        ("?aa", "http://www.dianping.com/sh/ss/com",
         "http://www.dianping.com/sh/ss/com?aa"),
        ("../aa", "http://www.dianping.com/sh/ss/com",
         "http://www.dianping.com/sh/aa"),
        ("..aa", "http://www.dianping.com/sh/ss/com",
         "http://www.dianping.com/sh/ss/..aa"),
        ("../../aa", "http://www.dianping.com/sh/ss/com/",
         "http://www.dianping.com/sh/aa"),
        ("../../aa", "http://www.dianping.com/sh/ss/com",
         "http://www.dianping.com/aa"),
    ]
    html = pd.Series([f'<a href="{raw}">x</a>' for raw, _, _ in cases])
    base = pd.Series([b for _, b, _ in cases])
    for (_, _, want), got in zip(cases, _canonical_links(html, base)):
        assert list(got) == [want]


def test_bucketed_seen_crawl_matches_oracle(spark, small_corpus, tmp_path_factory):
    """bucketed_seen=True routes dedup through the LSM read path (delta
    dedup + anti-join against a bucketed catalog table); observable crawl
    output must be identical to the oracle, including across a
    kill-and-resume that re-registers the table."""
    ck = str(tmp_path_factory.mktemp("ckpt_bucketed"))
    seeds = gen_seeds(spark, SMALL, k=5)
    robots = gen_robots(spark, SMALL)
    kw = dict(
        dfs=True, max_depth=3, per_host_limit=8, checkpoint_dir=ck,
        bucketed_seen=True, seen_buckets=4, seen_compact_parts=2,
        compact_every=2,
    )
    crawl(spark, small_corpus, seeds, CrawlConfig(max_iterations=3, **kw), robots=robots)
    # simulate a NEW session: drop the catalog registration (files stay —
    # the table is external). Without this the shared pytest session
    # still holds phase 1's saveAsTable entry, the resume path's
    # tableExists short-circuits, and the manifest-bucket-count CREATE
    # path this test exists to pin never executes (vacuous test).
    import hashlib

    _tag = hashlib.md5(ck.encode()).hexdigest()[:10]
    for t in spark.catalog.listTables():
        if t.name.startswith(f"seen_{_tag}"):
            spark.sql(f"DROP TABLE {t.name}")
    # resume with a DIFFERENT cfg.seen_buckets: the manifest persists the
    # layout the table files were written with, so the re-registered
    # table keeps buckets=4 — a mis-declared layout would silently miss
    # seen identities in the bucketed anti-join (re-crawling duplicates)
    res = crawl(
        spark, small_corpus, seeds,
        CrawlConfig(**{**kw, "seen_buckets": 16}), robots=robots, resume=True,
    )
    pres = pycrawl(
        SMALL, [Request(**r) for r in seed_rows(SMALL, 5)], dfs=True, max_depth=3
    )
    assert {r.url for r in res.fetched.select("url").collect()} == set(pres.fetch_order)
    assert {r.identity for r in res.seen.collect()} == pres.seen
    got = {(r.url, r.retried, r.reason) for r in res.errors.collect()}
    assert got == set(pres.errors)


@pytest.mark.parametrize("dfs", [True, False], ids=["dfs", "bfs"])
def test_priority_first_poll_order_matches_reference(spark, tiny_corpus, dfs):
    """Opt-in (priority desc, seq) polling (Page.cs:9 Priority is stored-
    never-read in the reference; its Broker DB orders on it,
    DistributeDesign.md:149-161): exact order vs the pyref oracle at
    global_limit=1."""
    from dotnetspider_spark.testing.datagen import SEED_SCHEMA

    rows = seed_rows(TINY, 6)
    for r, p in zip(rows, [0, 2, 1, 2, 0, 5]):
        r["priority"] = p
    seeds = spark.createDataFrame(rows, SEED_SCHEMA)
    res = crawl(
        spark,
        tiny_corpus,
        seeds,
        CrawlConfig(
            dfs=dfs, max_depth=2, global_limit=1, per_host_limit=None,
            priority_first=True,
        ),
        robots=gen_robots(spark, TINY),
    )
    pres = pycrawl(
        TINY, [Request(**r) for r in rows], dfs=dfs, max_depth=2,
        priority_first=True,
    )
    assert res.fetch_order() == pres.fetch_order
    assert res.fetch_order()
    # priority genuinely reordered the crawl vs the default poll
    base = pycrawl(TINY, [Request(**r) for r in rows], dfs=dfs, max_depth=2)
    assert pres.fetch_order != base.fetch_order


def test_robots_equal_length_tie_prefers_allow(spark):
    """Equal-length allow and deny prefixes must resolve deterministically
    to ALLOW (the robots.txt spec's tie-break) regardless of the rule
    collection order collect_list happens to produce."""
    from dotnetspider_spark.crawler.loop import _robot_rules, _robots_flag

    batch = spark.createDataFrame(
        [("http://h.example/p/x", "h.example")], "url string, host string"
    )
    for rules in (
        [("h.example", "/p/", False), ("h.example", "/p/", True)],
        [("h.example", "/p/", True), ("h.example", "/p/", False)],
    ):
        robots = spark.createDataFrame(
            rules, "host string, path_prefix string, allow boolean"
        )
        (row,) = _robots_flag(batch, _robot_rules(robots)).collect()
        assert row["__allowed"] is True
    # longer deny still beats shorter allow
    robots = spark.createDataFrame(
        [("h.example", "/p/", True), ("h.example", "/p/x", False)],
        "host string, path_prefix string, allow boolean",
    )
    (row,) = _robots_flag(batch, _robot_rules(robots)).collect()
    assert row["__allowed"] is False


def test_robots_wildcard_rules_match_like_googlebot(spark):
    """RFC 9309 wildcard rules: '*' spans any run, trailing '$' anchors
    at the END of path?query, specificity is pattern length, and a
    wildcard rule matches the query string too."""
    from dotnetspider_spark.crawler.loop import _robot_rules, _robots_flag
    from dotnetspider_spark.functions.robots import robots_rules_table

    docs = spark.createDataFrame(
        [("h.example",
          "User-agent: *\n"
          "Disallow: /p/*.pdf$\n"
          "Disallow: /*?session=\n"
          "Allow: /p/keep*.pdf$\n"
          "Disallow: /cal\n")],
        "host string, robots_txt string",
    )
    rules = robots_rules_table(docs)
    cases = {
        "http://h.example/p/a.pdf": False,        # *.pdf$ deny
        "http://h.example/p/a.pdf?x=1": True,     # $ anchors past query
        "http://h.example/p/a.pdfx": True,        # $ anchor: no match
        "http://h.example/p/keepme.pdf": True,    # longer Allow wins
        "http://h.example/x?session=9": False,    # query-string wildcard
        "http://h.example/cal/2024": False,       # plain prefix still works
        "http://h.example/ok": True,
    }
    batch = spark.createDataFrame(
        [(u, "h.example") for u in cases], "url string, host string"
    )
    got = {
        r["url"]: r["__allowed"]
        for r in _robots_flag(batch, _robot_rules(rules)).collect()
    }
    assert got == cases


def test_semicolon_url_same_identity_via_both_parse_paths(spark):
    """A ';'-path href discovered on a marker-free page (regex fast
    path) and on a <script>-bearing page (exact HTMLParser path) must
    canonicalize identically — urljoin drops a trailing empty ';params'
    ("/x;" -> "/x") — so the child dedups to ONE frontier identity
    (round-3 verdict item 2)."""
    import pyspark.sql.functions as F

    from dotnetspider_spark.testing.datagen import CORPUS_SCHEMA, SEED_SCHEMA

    host = "h0.example"
    mk = lambda pid, body: {
        "page_id": pid,
        "url": f"http://{host}/p/{pid}.html",
        "host": host,
        "out_links": [],
        "html": body,
        "image_id": f"img{pid}",
        "bytes": None, "w": 1, "h": 1, "fmt": "png",
        "caption": f"c{pid}", "phash": 0,
        "status": 200, "crawl_delay_ms": 0,
    }
    corpus = spark.createDataFrame(
        [
            mk(0, '<html><a href="/x;">a</a></html>'),
            mk(1, '<html><script>var a=1;</script><a href="/x;">b</a></html>'),
            mk(2, "<html>leaf</html>"),
        ],
        CORPUS_SCHEMA.replace(", redirect_to string", ""),
    ).withColumn("url", F.when(F.col("page_id") == 2,
                               F.lit(f"http://{host}/x"))
                         .otherwise(F.col("url")))
    seeds = spark.createDataFrame(
        [
            dict(url=f"http://{host}/p/0.html", method="GET", referer=None,
                 origin=None, content=None, headers=None, priority=0,
                 depth=1, retried=0, seq=0),
            dict(url=f"http://{host}/p/1.html", method="GET", referer=None,
                 origin=None, content=None, headers=None, priority=0,
                 depth=1, retried=0, seq=1),
        ],
        SEED_SCHEMA,
    )
    res = crawl(spark, corpus, seeds, CrawlConfig(dfs=True, max_depth=2))
    fetched = sorted(r.url for r in res.fetched.select("url").collect())
    # the ';' child resolved to /x (params dropped) and was fetched ONCE
    assert fetched == [
        f"http://{host}/p/0.html",
        f"http://{host}/p/1.html",
        f"http://{host}/x",
    ]
    # exactly one identity per URL in the final seen set: 2 seeds + 1
    # child — had the two parse paths disagreed on the ';' resolve, the
    # child would carry two identities (4 rows)
    assert res.seen.count() == 3


def test_trap_guard_drops_exploding_host_children(spark):
    """Opt-in trap guard (CrawlConfig.trap_guard): a page emitting 120
    one-template calendar links gets its host's children dropped at
    discovery; a page emitting letter-distinct links is untouched. With
    the guard off (default, reference-faithful) the trap children flood
    the frontier."""
    import pyspark.sql.functions as F  # noqa: F401  (parity with siblings)

    from dotnetspider_spark.testing.datagen import CORPUS_SCHEMA, SEED_SCHEMA

    trap_links = "".join(
        f'<a href="/cal/2024/{i}/{i * 3}">d</a>' for i in range(120)
    )
    def _letters(i):
        return "".join("abcdefghij"[int(c)] for c in str(i))
    ok_links = "".join(
        f'<a href="/w/{_letters(i)}">w</a>' for i in range(30)
    )
    mk = lambda pid, host, body: {
        "page_id": pid,
        "url": f"http://{host}/start.html",
        "host": host,
        "out_links": [],
        "html": f"<html>{body}</html>",
        "image_id": f"img{pid}",
        "bytes": None, "w": 1, "h": 1, "fmt": "png",
        "caption": f"c{pid}", "phash": 0,
        "status": 200, "crawl_delay_ms": 0,
    }
    corpus = spark.createDataFrame(
        [
            mk(0, "trap.example", trap_links),
            mk(1, "ok.example", ok_links),
        ],
        CORPUS_SCHEMA.replace(", redirect_to string", ""),
    )
    seeds = spark.createDataFrame(
        [
            dict(url="http://trap.example/start.html", method="GET",
                 referer=None, origin=None, content=None, headers=None,
                 priority=0, depth=1, retried=0, seq=0),
            dict(url="http://ok.example/start.html", method="GET",
                 referer=None, origin=None, content=None, headers=None,
                 priority=0, depth=1, retried=0, seq=1),
        ],
        SEED_SCHEMA,
    )

    guarded = crawl(
        spark, corpus, seeds,
        CrawlConfig(max_depth=2, trap_guard=True, trap_min_urls=100,
                    trap_max_ratio=8.0),
    )
    g_seen_urls = [r.url for r in guarded.fetched.select("url").collect()]
    assert not any("/cal/" in u for u in g_seen_urls)
    # the ok host's children were consumed (fetch-attempted) normally
    assert guarded.metrics[0]["n_trap_hosts"] == 1
    assert guarded.metrics[0]["n_new"] == 30

    unguarded = crawl(spark, corpus, seeds, CrawlConfig(max_depth=2))
    assert unguarded.metrics[0]["n_trap_hosts"] == 0
    assert unguarded.metrics[0]["n_new"] == 150  # trap children flood in


def _throttle_web(spark, throttle_status):
    """A 12-page host answering ``throttle_status`` to every request and
    a 12-page host answering 200, every page a seed at depth 1."""
    from dotnetspider_spark.testing.datagen import CORPUS_SCHEMA, SEED_SCHEMA

    def mk(pid, host, path, status):
        return {
            "page_id": pid, "url": f"http://{host}{path}", "host": host,
            "out_links": [], "html": "<html>x</html>",
            "image_id": f"img{pid}", "bytes": None, "w": 1, "h": 1,
            "fmt": "png", "caption": f"c{pid}", "phash": 0,
            "status": status, "crawl_delay_ms": 0,
        }

    rows = [mk(i, "throttled.example", f"/p/{i}", throttle_status) for i in range(12)]
    rows += [mk(100 + i, "good.example", f"/p/{i}", 200) for i in range(12)]
    corpus = spark.createDataFrame(
        rows, CORPUS_SCHEMA.replace(", redirect_to string", "")
    )

    def seed(url, i):
        return dict(url=url, method="GET", referer=None, origin=None,
                    content=None, headers=None, priority=0, depth=1,
                    retried=0, seq=i)

    seeds = spark.createDataFrame(
        [seed(f"http://throttled.example/p/{i}", i) for i in range(12)]
        + [seed(f"http://good.example/p/{i}", 100 + i) for i in range(12)],
        SEED_SCHEMA,
    )
    return corpus, seeds


def test_adaptive_backoff_parks_throttled_host_then_reprobes(spark):
    """Opt-in adaptive backoff (CrawlConfig.adaptive_backoff): a host
    answering 429 to a full iteration's batch is parked the NEXT
    iteration (no rows consumed — they wait in the frontier), then
    re-probed the iteration after (the one-iteration observation window
    is the AIMD probe). Nothing is lost: every URL is eventually
    consumed. With the flag off, the throttled host polls every
    iteration."""
    import pyspark.sql.functions as F

    corpus, seeds = _throttle_web(spark, 429)
    cfg = CrawlConfig(
        max_depth=1, per_host_limit=4,
        adaptive_backoff=True, backoff_min_observations=4,
    )
    res = crawl(spark, corpus, seeds, cfg)
    # 429s are not successes: throttled polls surface in the ERRORS
    # table (failing.log analog), good polls in fetched — both carry
    # the iteration they were consumed in
    t_iter = {
        r.iter: r.n
        for r in res.errors.filter(F.col("url").contains("throttled"))
        .groupBy("iter").agg(F.count("*").alias("n")).collect()
    }
    g_iter = {
        r.iter: r.n
        for r in res.fetched.filter(F.col("url").contains("good"))
        .groupBy("iter").agg(F.count("*").alias("n")).collect()
    }
    # iter 0: both hosts poll their 4-slot budget
    assert t_iter.get(0) == 4 and g_iter.get(0) == 4
    # iter 1: throttled host parked (4/4 were 429), good host continues
    assert 1 not in t_iter and g_iter.get(1) == 4
    # iter 2: re-probe — throttled host polls again
    assert t_iter.get(2) == 4
    # completeness: every URL of both hosts is eventually consumed
    assert sum(t_iter.values()) == 12 and sum(g_iter.values()) == 12

    # flag off (default): the throttled host is polled every iteration
    res_off = crawl(spark, corpus, seeds, CrawlConfig(max_depth=1,
                                                      per_host_limit=4))
    off_iter1 = res_off.errors.filter(
        (F.col("iter") == 1) & F.col("url").contains("throttled")
    ).count()
    assert off_iter1 == 4


def test_adaptive_backoff_parks_503_host_then_reprobes(spark):
    """The 503 twin of the 429 test: a 503 within the retry budget is
    neither a success nor an error (it comes back as a retry), yet the
    backoff must see it — the fact log holds every status the last
    iteration saw. The host answering 503 to its whole batch is parked
    the next iteration and re-probed the one after; with the flag off
    it is polled every iteration."""
    corpus, seeds = _throttle_web(spark, 503)
    cfg = CrawlConfig(
        max_depth=1, per_host_limit=4, cycle_retry_times=1, max_iterations=3,
        adaptive_backoff=True, backoff_min_observations=4,
    )
    res = crawl(spark, corpus, seeds, cfg)
    # every 503 is a transient fetch of the throttled host; the good
    # host polls its 4-slot budget every iteration
    assert [m["n_transient"] for m in res.metrics] == [4, 0, 4]
    assert [m["n_ok"] for m in res.metrics] == [4, 4, 4]

    res_off = crawl(spark, corpus, seeds, CrawlConfig(
        max_depth=1, per_host_limit=4, cycle_retry_times=1, max_iterations=2,
    ))
    assert [m["n_transient"] for m in res_off.metrics] == [4, 4]


def test_invalid_urls_degrade_instead_of_aborting(spark):
    """Java's URI parser rejects URLs the wild emits constantly (spaces,
    dangling '%'). Every parse_url site uses try_parse_url, so such a
    row must flow through host extraction and the robots gate — NULL
    host, subject '/', no rules matched -> allowed — instead of
    IllegalArgumentException aborting the whole iteration."""
    import pyspark.sql.functions as F

    from dotnetspider_spark.crawler.loop import _robot_rules, _robots_flag
    from dotnetspider_spark.functions.urlops import url_host

    urls = [
        "http://h.example/a b",        # raw space (href='/a b')
        "http://h.example/100%",       # dangling percent escape
        "http://h.example/fine",
    ]
    df = spark.createDataFrame([(u, "h.example") for u in urls],
                               "url string, host string")
    hosts = dict(df.select("url", url_host(F.col("url")).alias("h")).collect())
    assert hosts["http://h.example/fine"] == "h.example"
    assert hosts["http://h.example/a b"] is None
    robots = spark.createDataFrame(
        [("h.example", "/a", False)],
        "host string, path_prefix string, allow boolean",
    )
    verdicts = {
        r["url"]: r["__allowed"]
        for r in _robots_flag(df, _robot_rules(robots)).collect()
    }
    # the parseable URL under /a is denied; the unparseable ones degrade
    # to subject '/' which no rule matches -> allowed
    assert verdicts["http://h.example/fine"] is True
    assert verdicts["http://h.example/a b"] is True
    assert verdicts["http://h.example/100%"] is True


def test_all_optin_defenses_compose(spark, small_corpus):
    """honor_link_policy + trap_guard + adaptive_backoff together: the
    three opt-in defenses run in the SAME iteration pipeline (policy
    swaps the parse UDF, the guard filters discovered children, the
    backoff rewrites budgets) — this pins that their composition
    executes end-to-end and converges, and that the result is a subset
    of the policy-only crawl (the guard and backoff only ever REMOVE
    or DELAY work, never invent it)."""
    seeds = gen_seeds(spark, SMALL, k=5)
    combined = crawl(
        spark, small_corpus, seeds,
        CrawlConfig(max_depth=3, honor_link_policy=True, trap_guard=True,
                    adaptive_backoff=True, max_iterations=30),
        robots=gen_robots(spark, SMALL),
    )
    policy_only = crawl(
        spark, small_corpus, gen_seeds(spark, SMALL, k=5),
        CrawlConfig(max_depth=3, honor_link_policy=True, max_iterations=30),
        robots=gen_robots(spark, SMALL),
    )
    got = {r["url"] for r in combined.fetched.select("url").collect()}
    ref = {r["url"] for r in policy_only.fetched.select("url").collect()}
    assert got, "combined crawl fetched nothing"
    assert got <= ref


def test_adaptive_backoff_rejects_inert_modes(spark):
    with pytest.raises(ValueError, match="budget"):
        crawl(
            spark, None, gen_seeds(spark, TINY, k=1),
            CrawlConfig(adaptive_backoff=True, global_limit=1),
        )
    with pytest.raises(ValueError, match="budget"):
        crawl(
            spark, None, gen_seeds(spark, TINY, k=1),
            CrawlConfig(adaptive_backoff=True, per_host_limit=None),
        )


def test_empty_seed_frame_converges_immediately(spark, tiny_corpus):
    from dotnetspider_spark.testing.datagen import SEED_SCHEMA

    seeds = spark.createDataFrame([], SEED_SCHEMA)
    res = crawl(spark, tiny_corpus, seeds, CrawlConfig(max_iterations=3))
    assert res.fetched.count() == 0
    assert res.seen.count() == 0


def test_resume_preserves_link_policy_semantics(spark, small_corpus,
                                                tmp_path_factory):
    """Kill-and-resume with honor_link_policy on: the resumed crawl
    must reach the same final state as an uninterrupted policy crawl
    (the policy-swapped parse UDF and the checkpoint path compose)."""
    ck = str(tmp_path_factory.mktemp("pol_resume"))
    kw = dict(max_depth=3, honor_link_policy=True)
    seeds = gen_seeds(spark, SMALL, k=5)
    crawl(spark, small_corpus, seeds,
          CrawlConfig(max_iterations=2, checkpoint_dir=ck, **kw),
          robots=gen_robots(spark, SMALL))
    resumed = crawl(spark, small_corpus, gen_seeds(spark, SMALL, k=5),
                    CrawlConfig(checkpoint_dir=ck, **kw),
                    robots=gen_robots(spark, SMALL), resume=True)
    straight = crawl(spark, small_corpus, gen_seeds(spark, SMALL, k=5),
                     CrawlConfig(**kw), robots=gen_robots(spark, SMALL))
    assert {r["url"] for r in resumed.fetched.select("url").collect()} == {
        r["url"] for r in straight.fetched.select("url").collect()
    }
    assert {r["identity"] for r in resumed.seen.collect()} == {
        r["identity"] for r in straight.seen.collect()
    }


def test_static_inputs_evaluated_once_per_crawl(spark, tiny_corpus):
    """The robots rules and the host delays are evaluated once per
    crawl() call, not once per iteration: each comes from a mapInPandas
    that counts the rows it emits."""
    from dotnetspider_spark.testing.datagen import robots_rows

    def counted(df, acc):
        def run(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return df.mapInPandas(run, df.schema)

    sc = spark.sparkContext
    n_rules, n_delays = sc.accumulator(0), sc.accumulator(0)
    delays = spark.createDataFrame(
        [(f"host{h}.example", 100) for h in range(TINY.n_hosts)],
        "host string, crawl_delay_ms int",
    )
    res = crawl(
        spark, tiny_corpus, gen_seeds(spark, TINY, k=2),
        CrawlConfig(dfs=True, max_depth=3, per_host_limit=4),
        robots=counted(gen_robots(spark, TINY), n_rules),
        host_delays=counted(delays, n_delays),
    )
    assert res.iterations >= 3
    assert n_rules.value == len(robots_rows(TINY))
    assert n_delays.value == TINY.n_hosts


def test_seeds_with_seq_skip_the_url_ranking(spark, monkeypatch):
    """seeds_to_frontier ranks only the seeds that lack a seq: when none
    does, the ranking (a sampling job, a checkpoint and a collect) is
    never built."""
    from dotnetspider_spark.crawler import loop

    def no_ranking(df):
        raise AssertionError("_dense_seq_by_url ran on seeds that all carry a seq")

    monkeypatch.setattr(loop, "_dense_seq_by_url", no_ranking)
    fr = loop.seeds_to_frontier(gen_seeds(spark, TINY, k=5))
    assert sorted(r.seq for r in fr.collect()) == list(range(5))


def test_overlapping_seed_reloads_push_each_url_once(spark):
    """Reload semantics (QueueDuplicateRemovedScheduler.cs:137-155): a
    second seed list that overlaps the first, pushed against the first
    list's identities, adds only its new URLs — each URL lands once."""
    from dotnetspider_spark.crawler.loop import seeds_to_frontier
    from dotnetspider_spark.operators.frontier import dedup_push

    cfg = CorpusConfig(n_pages=100, n_hosts=4)
    first = seeds_to_frontier(gen_seeds(spark, cfg, k=10))
    second = dedup_push(
        seeds_to_frontier(gen_seeds(spark, cfg, k=15)),  # 10 overlap
        first.select("identity"),
    )
    urls = [r.url for r in first.unionByName(second).collect()]
    assert len(urls) == len(set(urls)) == 15


def test_processor_that_drops_a_row_fails_loudly(spark, tiny_corpus):
    """The fact log is the consumed set: a processor that returns fewer
    rows than it was given would leave the missing row in the frontier,
    to be fetched again every iteration. The crawl raises at the first
    such iteration instead."""
    import pyspark.sql.functions as F

    from dotnetspider_spark.testing.datagen import page_url

    dropped = page_url(1, TINY)  # a seed, fetched with status 200
    calls = []

    def lossy(df):
        calls.append(1)
        return _engine_processor(df).filter(F.col("url") != dropped)

    with pytest.raises(ValueError, match="same rows, two added columns"):
        crawl(
            spark, tiny_corpus, gen_seeds(spark, TINY, k=2),
            CrawlConfig(dfs=True, max_depth=3, per_host_limit=8, max_iterations=20),
            robots=gen_robots(spark, TINY), processor=lossy,
        )
    assert len(calls) == 1


def test_corpus_that_repeats_a_url_crawls_like_the_plain_corpus(spark, tiny_corpus):
    """A corpus that lists some urls twice still fetches one row per
    batch row: the crawl finishes with the reference's fetched set, one
    fetched row per url, and no error rows."""
    corpus = tiny_corpus.unionByName(tiny_corpus.limit(20))
    assert corpus.select("url").distinct().count() < corpus.count()
    res = crawl(
        spark, corpus, gen_seeds(spark, TINY, k=2),
        CrawlConfig(dfs=True, max_depth=3, per_host_limit=8),
        robots=gen_robots(spark, TINY),
    )
    pres = pycrawl(
        TINY, [Request(**r) for r in seed_rows(TINY, 2)], dfs=True, max_depth=3
    )
    urls = [r.url for r in res.fetched.select("url").collect()]
    assert len(urls) == len(set(urls))
    assert set(urls) == set(pres.fetch_order)
    assert {r.identity for r in res.seen.collect()} == pres.seen


def test_state_layout_one_part_per_small_delta(spark, tmp_path):
    """Each crawled row is written once, in its iteration's fact log,
    which is also the consumed part the frontier anti-joins against: no
    ``consumed`` dir is written. A small fact log or fresh delta is one
    parquet part, although the fetch runs in four partitions, and no
    state dir carries a ``_SUCCESS`` marker (checked on every fact log
    and on every fresh delta a manifest lists)."""
    import glob
    import json
    import os
    import re

    from dotnetspider_spark.sources.fetchers import DictTransport, HttpFetcher
    from dotnetspider_spark.testing.datagen import gen_corpus_local

    cfg = CorpusConfig(n_pages=40, n_hosts=3, with_payload=False)
    pages = {
        r["url"]: {"status": r["status"], "body": r["html"], "content_type": "text/html"}
        for r in gen_corpus_local(cfg)
    }
    ck = str(tmp_path / "ckpt")
    res = crawl(
        spark, None, gen_seeds(spark, cfg, 3),
        CrawlConfig(dfs=True, max_depth=3, per_host_limit=8, checkpoint_dir=ck),
        robots=gen_robots(spark, cfg),
        fetcher=HttpFetcher(DictTransport(pages), n_partitions=4),
    )
    assert res.iterations >= 2
    assert not os.path.exists(f"{ck}/consumed")
    manifests = glob.glob(f"{ck}/manifests/iter=*.json")
    assert len(manifests) == res.iterations
    fresh = set()
    for path in manifests:
        with open(path) as f:
            m = json.load(f)
        consumed = m["consumed_parts"]
        assert consumed and all(
            re.search(r"/fetched/iter=\d+$", p) for p in consumed
        ), consumed
        fresh |= {p for p in m["frontier_parts"] if re.search(r"/fresh/iter=\d+$", p)}
    logs = glob.glob(f"{ck}/fetched/iter=*")
    assert len(logs) == res.iterations
    assert fresh
    for d in logs + sorted(fresh):
        names = os.listdir(d)
        assert "_SUCCESS" not in names, d
        assert len([n for n in names if n.endswith(".parquet")]) == 1, (d, names)
