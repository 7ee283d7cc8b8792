"""URL operators — canonicalization, junk filters, host/domain extraction.

Reference behaviors reproduced (reimplemented over columns, not ported):

- ``CanonicalizeUrl``: resolve relative URL against the page URL via RFC
  3986 (``Extraction/Selectable.cs:229-241`` uses ``new Uri(base, rel)``).
  We wrap ``urllib.parse.urljoin`` in an Arrow-batched pandas UDF (the
  north-rule mandates canonicalization as a vectorized Arrow UDF; there is
  no built-in Spark expression for RFC 3986 resolution).
- scheme/junk filter: drop "", "#...", "javascript:", require len>=6 and
  http/https (``Core/Page.cs:121-127,202-222``) — pure built-ins.
- fragment strip ``CleanPound`` (``BasePageProcessor.cs:36,78-81``).
- outbound-link removal by 2-label registrable domain
  (``Selectable.cs:19-36,270-298``).
- ``PatternFilter`` regex include/exclude, exclude wins, empty = accept
  all, seeds (depth==1) bypass (``PatternFilter.cs:29-48``,
  ``BasePageProcessor.cs:59-65``).
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _canonicalize(rel: pd.Series, base: pd.Series) -> pd.Series:
    """RFC 3986 join of (possibly relative) url against base page url.

    Vectorized over Arrow batches; also lowercases scheme+host and strips
    the fragment, the normalization the reference applies implicitly via
    ``System.Uri`` (Selectable.cs:229-241) + CleanPound
    (BasePageProcessor.cs:78-81).
    """
    from urllib.parse import urljoin, urlsplit, urlunsplit

    def canon(pair):
        r, b = pair
        if r is None:
            return None
        try:
            joined = urljoin(b or "", r.strip())
            s = urlsplit(joined)
            return urlunsplit(
                (s.scheme.lower(), s.netloc.lower(), s.path or "/", s.query, "")
            )
        except ValueError:
            return None

    return pd.Series(map(canon, zip(rel, base)), dtype="object")


@lru_cache(maxsize=None)
def _canonicalize_udf():
    # built lazily: pandas_udf parses its DDL type against the live session
    return pandas_udf(_canonicalize, "string")


def canonicalize_udf(rel, base):
    return _canonicalize_udf()(rel, base)


def strip_fragment(url: Column) -> Column:
    """CleanPound: everything after '#' dropped (BasePageProcessor.cs:78-81)."""
    return F.split(url, "#", 2).getItem(0)


def is_fetchable(url: Column) -> Column:
    """Scheme/junk gate of Page.AddTargetRequest (Page.cs:121-127,202-222):
    non-null, len>=6, http(s) scheme, not javascript:/mailto:/#fragment."""
    u = F.lower(F.coalesce(url, F.lit("")))
    return (
        (F.length(u) >= 6)
        & u.rlike("^https?://")
        & ~u.startswith("javascript:")
        & ~u.startswith("mailto:")
    )


def url_host(url: Column) -> Column:
    """Lowercased authority (host[:port] stripped of userinfo/port).

    ``try_parse_url``, not ``parse_url``: Java's URI parser REJECTS urls
    the wild emits constantly (spaces, bad %-escapes), and the strict
    form aborts the whole Spark job on the first such row — one
    ``<a href="/a b">`` anywhere in a fetch batch would kill the
    iteration. Unparseable rows yield NULL host and flow through the
    null-tolerant group-bys instead."""
    return F.lower(F.try_parse_url(url, F.lit("HOST")))


def registrable_domain(url: Column) -> Column:
    """Last-2-label domain, the reference's outbound test key
    (Selectable.cs:270-298 compares 2-label suffixes, no PSL)."""
    host = url_host(url)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.when(
        n >= 2,
        F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1)),
    ).otherwise(host)


def pattern_filter(
    url: Column,
    depth: Column | None = None,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    seeds_bypass: bool = True,
) -> Column:
    """PatternFilter.IsMatch (PatternFilter.cs:29-48): exclude wins; empty
    include set accepts all; seeds (depth==1) bypass when
    Env.FilterDefaultRequest (default true, Env.cs:84)."""
    ok = F.lit(True)
    if include:
        inc = F.lit(False)
        for p in include:
            inc = inc | url.rlike(p)
        ok = ok & inc
    for p in exclude or []:
        ok = ok & ~url.rlike(p)
    if seeds_bypass and depth is not None:
        ok = ok | (depth == 1)
    return ok


def next_page_url(url: Column, pagination_str: str, interval: int = 1) -> Column:
    """AutoIncrementRequestExtractor (AutoIncrementRequestExtractor.cs:35-46):
    find the numeric part of ``pagination_str`` inside the url and add
    ``interval`` — pure built-ins (regexp_extract + replace + arithmetic).
    No entry point calls it yet; it is kept because SURVEY.md (§2.4,
    lines 193-197) maps AutoIncrement to it."""
    import re as _re

    esc = _re.escape(pagination_str).replace(r"\*", r"(\d+)")
    # pagination_str like "p/*" or "_*.html": '*' marks the page number.
    # regexp_extract yields '' (not NULL) on non-matching URLs, and the
    # digits may overflow a long; under ANSI mode a plain cast or add of
    # either throws. A URL without a usable page number yields no next
    # page, matching AutoIncrementRequestExtractor.cs:35-46 (returns
    # null, never throws).
    nxt = F.try_add(F.regexp_extract(url, esc, 1).try_cast("long"), F.lit(interval))
    old = F.regexp_extract(url, esc, 0)
    new = F.concat(
        F.lit(pagination_str.split("*")[0]),
        nxt.cast("string"),
        F.lit(pagination_str.split("*")[1] if "*" in pagination_str else ""),
    )
    return F.when(nxt.isNotNull(), F.replace(url, old, new)).otherwise(F.lit(None))


#: tracking/click-id query parameters stripped by URL normalization —
#: the standard public blocklist (utm_* campaign params, Google/Facebook/
#: Microsoft/Mailchimp click ids)
TRACKING_PARAM_RE = (
    r"(?i)^(utm_[a-z_]+|gclid|fbclid|msclkid|mc_eid|mc_cid|igshid)(=|$)"
)


def strip_tracking_params(url: Column) -> Column:
    """Remove tracking query parameters (utm_*, gclid, fbclid, …) so
    otherwise-identical URLs dedup together — a standard crawl
    normalization the RFC 3986 canonicalizer deliberately does not do
    (it must preserve semantics; this is a policy pass on top).

    Pure JVM column algebra: split off the query, drop blocklisted
    k=v pairs, rejoin preserving the order of the survivors, drop the
    '?' entirely when nothing survives. Fragments are assumed already
    stripped (CleanPound runs first in the canonicalize chain)."""
    # F.get (not getItem): a URL with no '?' splits to 1 element and
    # ANSI mode makes [1] an ArrayIndexOutOfBounds error; get() is NULL
    base = F.get(F.split(url, r"\?", 2), 0)
    query = F.get(F.split(url, r"\?", 2), 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: ~p.rlike(TRACKING_PARAM_RE),
    )
    return F.when(query.isNull(), url).otherwise(
        F.when(F.size(kept) == 0, base).otherwise(
            F.concat(base, F.lit("?"), F.array_join(kept, "&"))
        )
    )
