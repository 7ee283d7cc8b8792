"""Property-based invariants (hypothesis) for the pure-Python cores of
URL canonicalization and the crawl's parsers — the components whose
bugs corrupt a crawl silently (a wrong canonical form splits one URL
into two frontier rows).

These run WITHOUT Spark (numpy/stdlib only), so hundreds of generated
cases cost milliseconds.
"""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st


@settings(max_examples=150, deadline=None)
@given(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=40,
    )
)
@example(path="/;")
@example(path=";x")
@example(path="/a;b")
@example(path="/a;b?q")
@example(path="/x;")
@example(path="http://h.example/x;")
def test_canonicalize_agrees_with_urllib(path):
    """The fused hot-path canonicalizer must agree with the stdlib
    urljoin+urlsplit reference for arbitrary printable hrefs."""
    from urllib.parse import urljoin, urlsplit, urlunsplit

    from dotnetspider_spark.crawler.parse import _canonical_links

    import pandas as pd

    from html import escape

    base = "http://Host1.Example/a/b/c.html?x=1#f"
    # escape() so a path containing '"' or '&' still yields WELL-FORMED
    # markup whose attribute VALUE is exactly `path` after the parser's
    # entity unescape — raw quotes would truncate the attribute and test
    # malformed-HTML recovery instead of canonicalization
    html = f'<a href="{escape(path, quote=True)}">x</a>'
    got = list(_canonical_links(pd.Series([html]), pd.Series([base]))[0])

    raw = path
    # the reference junk gates (Page.cs:121-127,202-222)
    expect = []
    if raw and not raw.startswith("#") and not raw.lower().startswith("javascript:"):
        try:
            s = urlsplit(urljoin(base, raw.strip()))
            canon = urlunsplit(
                (s.scheme.lower(), s.netloc.lower(), s.path or "/", s.query, "")
            )
            if len(canon) >= 6 and canon.startswith(("http://", "https://")):
                expect = [canon]
        except ValueError:
            expect = []
    assert got == expect


# --- traps.url_template vs a pure-python reference ---------------------

_TPL_ALPHABET = "abcdef059/?&=#.-_~%xyzABC"


def _ref_template(url: str) -> str:
    import re as _re

    rest = _re.sub(r"^[a-z][a-z0-9+.-]*://", "", url.lower())
    m = _re.match(r"^[^/?#]*([^?#]*)", rest)
    path = m.group(1) if m else ""
    q = _re.search(r"\?([^#]*)", rest)
    query = q.group(1) if q else ""
    tp = _re.sub(r"[0-9]+", "N", _re.sub(r"\b[0-9a-f]{8,}\b", "H", path))
    names = sorted(p.split("=")[0] for p in query.split("&") if p != "")
    joined = ",".join(names)
    # engine rule: the suffix exists iff the JOINED name string is
    # non-empty (a lone empty-named param like '?=' is junk, no suffix)
    return tp + "?" + joined if joined else tp


@given(
    st.lists(
        st.text(alphabet=_TPL_ALPHABET, min_size=0, max_size=24).map(
            lambda s: "http://h.example/" + s
        ),
        min_size=1,
        max_size=12,
    )
)
@example(["http://h.example/a;b?x=1&x=2"])
@example(["http://h.example/deadbeef00"])
@example(["http://h.example/?="])
@example(["http://h.example/#frag?notquery=1"])
@settings(max_examples=25, deadline=None)
def test_url_template_agrees_with_python_reference(spark, urls):
    import pyspark.sql.functions as F

    from dotnetspider_spark.operators.traps import url_template

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r[0] for r in df.select(url_template(F.col("url"))).collect()]
    assert got == [_ref_template(u) for u in urls]


# --- robots wildcard gate vs a pure-python REP matcher -----------------

# URL-legal chars only: Java's URI parser nulls out (try_parse_url)
# subjects with raw spaces or dangling '%', which the urlsplit-based
# python mirror below would still parse — that engine-level degradation
# is pinned separately in test_crawl (invalid URL -> no crash, allow)
_ROBOTS_PATH_ALPHABET = "ab0/.?=*$-_(&~"


def _py_robots_verdict(subject: str, rules) -> bool:
    """Pure-Python mirror of loop._robots_flag's fold: most specific
    (longest ORIGINAL pattern) matching rule wins, allow on ties, no
    match = allow. Divergence here means Java and Python regex semantics
    disagree on a translated pattern — exactly the bug class this pins."""
    import re as _re

    best = None
    for prefix, allow, rx in rules:
        ok = (
            subject.startswith(prefix)
            if rx is None
            else _re.search(rx, subject) is not None
        )
        if not ok:
            continue
        if (
            best is None
            or len(prefix) > len(best[0])
            or (len(prefix) == len(best[0]) and allow and not best[1])
        ):
            best = (prefix, allow)
    return True if best is None else best[1]


@given(
    st.lists(
        st.tuples(
            st.text(alphabet=_ROBOTS_PATH_ALPHABET, min_size=1, max_size=12),
            st.booleans(),
        ),
        min_size=1,
        max_size=6,
    ),
    st.lists(
        st.text(alphabet=_ROBOTS_PATH_ALPHABET.replace("*", "").replace("$", ""),
                min_size=0, max_size=16),
        min_size=1,
        max_size=8,
    ),
)
@example([("/p/*.d$", False), ("/p/k*", True)], ["p/x.d", "p/kx.d", "q?="])
@example([("/(&~", False)], ["(&~z"])
@settings(max_examples=30, deadline=None)
def test_robots_gate_agrees_with_python_matcher(spark, raw_rules, paths):
    import pyspark.sql.functions as F

    from dotnetspider_spark.crawler.loop import _robot_rules, _robots_flag
    from dotnetspider_spark.functions.robots import pattern_to_regex

    rules = []
    for pat, allow in raw_rules:
        pat = "/" + pat.lstrip("/")
        rx = (
            pattern_to_regex(pat)
            if ("*" in pat or pat.endswith("$"))
            else None
        )
        rules.append((pat, allow, rx))
    urls = ["http://h.example/" + p for p in paths]
    robots = spark.createDataFrame(
        [("h.example", pre, al, rx) for pre, al, rx in rules],
        "host string, path_prefix string, allow boolean, path_re string",
    )
    batch = spark.createDataFrame(
        [(u, "h.example") for u in urls], "url string, host string"
    )
    got = {
        r["url"]: r["__allowed"]
        for r in _robots_flag(batch, _robot_rules(robots)).collect()
    }
    from urllib.parse import urlsplit

    for u in urls:
        s = urlsplit(u)
        subject = (s.path or "/") + (("?" + s.query) if s.query else "")
        assert got[u] == _py_robots_verdict(subject, rules), (u, rules)


# --- fused link parse vs HTMLParser+urljoin reference on raw soup ------

_SOUP_ALPHABET = list('<>="\'/ab c;&#!-hrefscript.?=:x\n\t')


@given(st.text(alphabet=st.sampled_from(_SOUP_ALPHABET), max_size=120))
@example('<a href="/x;">y</a><script>var a="<a href=\'/bad\'>";')
@example('<a title="<!--" href="/keep">k</a>')
@example('<a href=/x>y</a><!-- <a href="/cmt"> ')
@settings(max_examples=300, deadline=None)
def test_fused_parse_agrees_with_htmlparser_on_soup(html):
    """Arbitrary malformed soup (not just well-formed anchors): the
    fused fast-path extractor + canonicalizer must stay byte-identical
    to the stdlib HTMLParser + urljoin reference — any divergence is a
    frontier-identity split. (A 30k-example sweep of this property ran
    clean at round 4; this keeps a 300-example regression in CI.)"""
    import re as _re

    import pandas as pd
    from urllib.parse import urljoin, urlsplit, urlunsplit

    from dotnetspider_spark.crawler.parse import _canonical_links, _extract

    ok = _re.compile(r"^https?://")
    base = "http://h1.example/a/b/c.html?x=1"

    def ref_one(h, b):
        out, seen = [], set()
        for raw in _extract(h, include_src=False):
            if not raw or raw.startswith("#") or raw.lower().startswith(
                "javascript:"
            ):
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

    got = list(_canonical_links(pd.Series([html]), pd.Series([base]))[0])
    assert got == ref_one(html, base), (html,)


# --- policy parse vs fused parse on raw soup ---------------------------

@given(st.text(alphabet=st.sampled_from(_SOUP_ALPHABET), max_size=120))
@example('<a href="/x;">y</a><a href=/x>z</a>')
@example('<a title="<!--" href="/keep">k</a>')
@settings(max_examples=200, deadline=None)
def test_policy_children_subset_of_fused_on_soup(html):
    """Link-policy parse vs fused crawl parse on arbitrary soup: with
    no rel/meta directives GENERATED (the alphabet cannot spell
    'nofollow' as an attribute pair, but can produce every parser edge
    the fused fuzz explores), the policy path must emit exactly the
    fused path's canonical bytes — a mismatch is a frontier-identity
    split between crawls run with and without honor_link_policy."""
    import pandas as pd

    from dotnetspider_spark.crawler.parse import _canonical_links
    from dotnetspider_spark.functions.linkpolicy import _policy_rows

    base = "http://h1.example/a/b/c.html?x=1"
    fused = list(_canonical_links(pd.Series([html]), pd.Series([base]))[0])
    pol = _policy_rows(pd.Series([html]), pd.Series([base]))
    if not pol["nofollow"][0]:
        assert list(pol["children"][0]) == fused, (html,)
    else:  # meta-robots nofollow spelled by chance: children must empty
        assert list(pol["children"][0]) == [], (html,)


# --- feed parser total-robustness on arbitrary XML-ish soup ------------

_XML_ALPHABET = list('<>/"= abcdefghijklmnopqrstuvwxyz:;&#!-.0123456789\n\t')


@given(st.text(alphabet=st.sampled_from(_XML_ALPHABET), max_size=200))
@example("<rss><channel><item><link>x</link>")
@example("<feed><entry><link href=")
@example("<?xml version='1.0'?><rss>&broken;</rss>")
@settings(max_examples=300, deadline=None)
def test_feed_parse_never_throws_and_rows_are_well_formed(xml):
    """A wild feed must never crash the ingest stage: any input yields
    a (possibly empty) list of dicts whose url is a non-empty string
    and whose published is int or None."""
    from dotnetspider_spark.sources.feeds import _parse_feed

    for e in _parse_feed(xml):
        assert e["url"] and isinstance(e["url"], str)
        assert e["published"] is None or isinstance(e["published"], int)
        assert e["kind"] in ("rss", "atom")


# --- X-Robots-Tag scope semantics vs a python reference ----------------

_HDR_ALPHABET = list("abcdefgot:,;  nofilwdexvups_-01")


def _py_xrobots(value: str) -> tuple[bool, bool]:
    """Reference: an 'agent:' token opens a scope covering subsequent
    directives until the next agent token (Google REP semantics for
    comma-joined repeated headers); ':'-carrying DIRECTIVES never open
    a scope."""
    import re

    colon_dirs = {
        "unavailable_after", "max-snippet", "max-image-preview",
        "max-video-preview",
    }
    scope = ""
    noindex = nofollow = False
    for t in (value or "").lower().split(","):
        t = t.strip()
        m = re.match(r"^([a-z0-9_.-]+)\s*:", t)
        if m and m.group(1) not in colon_dirs:
            scope = m.group(1)
            t = re.sub(r"^[a-z0-9_.-]+\s*:\s*", "", t).strip()
        if scope in ("", "dotnetspider"):
            if t in ("noindex", "none"):
                noindex = True
            if t in ("nofollow", "none"):
                nofollow = True
    return noindex, nofollow


def test_x_robots_agrees_with_python_reference(spark):
    """JVM expression vs the python reference over generated headers —
    evaluated in ONE DataFrame pass (a per-example collect would spin
    hundreds of Spark jobs)."""
    from pyspark.sql import functions as F

    from dotnetspider_spark.functions.linkpolicy import x_robots_directives

    rng = __import__("random").Random(3)
    vals = [
        "googlebot: noindex, nofollow",
        "dotnetspider:none",
        "DOTNETSPIDER : noindex ,nofollow",
        "unavailable_after: 1 jan 2031, noindex",
        "noindex,nofollow",
        "none",
        "",
        "otherbot:none",
        "nofollow, googlebot: noindex",  # unscoped first token honored
        "googlebot: noindex, dotnetspider: nofollow",  # per-scope split
        "max-image-preview:large, noindex",  # ':' directive, not agent
        "googlebot: noindex, nofollow",  # scope covers later tokens
    ] + [
        "".join(rng.choice(_HDR_ALPHABET) for _ in range(rng.randrange(40)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i long, v string")
    got = {
        r["i"]: (r["d"]["noindex"], r["d"]["nofollow"])
        for r in df.select(
            "i", x_robots_directives(F.col("v")).alias("d")
        ).collect()
    }
    for i, v in enumerate(vals):
        assert got[i] == _py_xrobots(v), (v,)
