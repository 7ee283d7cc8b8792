"""Fetchers — the engine's download stage (SURVEY §2.5 sources).

The reference's downloader hierarchy maps onto three fetcher shapes:

- ``CorpusFetcher``   <- FakeDownloader/FileDownloader (canned/offline
  replay, Downloader/FakeDownloader.cs, FileDownloader.cs:24-52): a join
  of the fetch batch against a corpus table. This is the sandbox path
  and the deterministic-test path.
- ``HttpFetcher``     <- HttpClientDownloader (HttpClientDownloader
  .cs:74-188): a ``mapInPandas`` stage, one iterator per host-partition,
  reusing ONE transport per partition (the reference pools clients per
  proxy hash with cookie affinity, :202-271 — per-partition reuse is the
  Spark-native equivalent). The transport is INJECTABLE: the sandbox has
  no network, so tests drive the full stage through ``DictTransport``
  (the FakeDownloader analog); production injects ``Urllib3Transport``
  (pooled urllib3, below) with the identical call contract.
- ``DirectoryFetcher`` <- file downloads saved under ``downloads/host/``
  (Downloader.cs:247-279): reads payload files per row.

Every fetcher returns the same shape: the batch's frontier columns plus
``status:int`` and content columns — the loop is fetcher-agnostic.
``HttpFetcher`` additionally emits ``target_url`` (post-redirect URL,
Downloader.cs:211-220 / HttpClientDownloader.cs:127), ``content_type``,
``encoding`` (charset sniff: header -> meta -> utf-8 default),
``bytes`` and ``fetch_ms``.
"""

from __future__ import annotations

import time
from urllib.parse import urljoin

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class CorpusFetcher:
    """Fetch = join the batch against a corpus table on url.

    ``content_cols`` controls projection: the scheduling loop asks only
    for ``("status", "html")``; the payload stage asks for the image
    columns — column pruning reaches the corpus scan either way.

    If the corpus carries a ``redirect_to`` column, non-null values
    replay redirect CHAINS (the corpus analog of HttpClient
    auto-follow, <= ``max_redirects`` hops, Downloader.cs:57-64): the
    row's ``status``/``html`` come from the FINAL page, ``target_url``
    records the post-redirect URL (Downloader.cs:211-220
    ``page.TargetUrl``) and ``redirect_hops`` the full visited chain
    (for the loop's seen-marking of intermediate identities). A chain
    still 3xx after the budget serves the last hop's OWN row (status
    301 -> the loop's http_3xx error path).

    Scale shape: the redirect CLOSURE is computed ONCE per fetcher
    (not per iteration) by iterating a self-join over only the
    redirecting rows — a small fraction of any real corpus — with an
    early exit when every chain is resolved; per-iteration fetch cost
    stays two hash joins regardless of chain depth.

    A corpus that repeats a url serves one of its rows, so a fetch
    returns exactly one row per batch row (the crawl loop's fact log,
    which is also its consumed set, counts on that).
    """

    def __init__(
        self,
        corpus: DataFrame,
        content_cols: tuple[str, ...] = ("status", "html"),
        follow_redirects: bool | None = None,
        max_redirects: int = 10,
    ):
        self.corpus = corpus
        self.content_cols = content_cols
        #: None = probe once on first fetch (a pushed-filter limit-1 scan)
        #: so redirect-free corpora never pay the per-iteration hop join
        self._follow = follow_redirects
        self.max_redirects = max_redirects
        self._closure: DataFrame | None = None

    def _pages(self, *cols: str) -> DataFrame:
        """The corpus's ``url`` and ``cols``, one row per url."""
        return self.corpus.select("url", *cols).dropDuplicates(["url"])

    def _has_redirects(self) -> bool:
        if self._follow is None:
            self._follow = "redirect_to" in self.corpus.columns and (
                self.corpus.where(F.col("redirect_to").isNotNull()).limit(1).count()
                > 0
            )
        return self._follow

    def _redirect_closure(self) -> DataFrame:
        """(url, final_url, redirect_hops) for every redirecting url.

        Iteratively advances each chain through the redirect edge set
        until no chain advanced or the hop budget is spent. Driver loop
        is bounded by ``max_redirects``; each step joins only the
        still-unresolved chains (monotonically shrinking) against the
        edge set. Cached — the corpus is immutable for a crawl.
        """
        if self._closure is not None:
            return self._closure
        edges = self._pages("redirect_to").filter(F.col("redirect_to").isNotNull())
        state = edges.select(
            "url",
            F.col("redirect_to").alias("final_url"),
            F.array(F.col("redirect_to")).alias("redirect_hops"),
        ).cache()
        for _ in range(self.max_redirects - 1):
            nxt = edges.select(
                F.col("url").alias("__e_url"),
                F.col("redirect_to").alias("__e_to"),
            )
            advanced = (
                state.join(nxt, state["final_url"] == nxt["__e_url"], "left")
                .select(
                    "url",
                    F.coalesce("__e_to", "final_url").alias("final_url"),
                    F.when(
                        F.col("__e_to").isNotNull(),
                        F.array_append("redirect_hops", F.col("__e_to")),
                    )
                    .otherwise(F.col("redirect_hops"))
                    .alias("redirect_hops"),
                    F.col("__e_to").isNotNull().alias("__moved"),
                )
            ).cache()
            moved = advanced.filter(F.col("__moved")).limit(1).count()
            state.unpersist()
            state = advanced.drop("__moved")
            if moved == 0:
                break
        self._closure = state
        return state

    def fetch(self, batch: DataFrame) -> DataFrame:
        has_redirects = self._has_redirects()
        if not has_redirects:
            pages = self._pages(*self.content_cols)
            out = batch.join(pages, "url", "left")
        else:
            closure = self._redirect_closure()
            out = (
                batch.join(closure, "url", "left")
                .withColumn(
                    "target_url", F.coalesce(F.col("final_url"), F.col("url"))
                )
                .drop("final_url")
            )
            tgt = self._pages(*self.content_cols).select(
                F.col("url").alias("target_url"),
                *[F.col(c).alias(f"__t_{c}") for c in self.content_cols],
            )
            out = out.join(tgt, "target_url", "left")
            for c in self.content_cols:
                out = out.withColumn(c, F.col(f"__t_{c}")).drop(f"__t_{c}")
        if "status" in self.content_cols:
            out = out.withColumn("status", F.coalesce(F.col("status"), F.lit(404)))
        return out


class TransportError(Exception):
    """Connection-level failure (timeout, refused, DNS) — the analog of
    the reference's DownloaderException path (Spider.cs:1212-1267 maps it
    to cycle retry); ``HttpFetcher`` surfaces it as status 599."""


class DictTransport:
    """Injectable fake transport (the FakeDownloader analog) backed by a
    plain dict — lets tests drive the FULL ``HttpFetcher`` mapInPandas
    stage with redirects, timeouts and delays but no network.

    ``pages``: url -> dict with optional keys
      ``status`` (default 200), ``body`` (bytes/str, default b""),
      ``content_type`` (header value), ``location`` (redirect target,
      relative allowed), ``raise_timeout`` (bool -> TransportError).
    The instance is pickled into the executor closure; ``__call__``
    follows the transport-factory contract (returns a ``send`` callable —
    "one pooled client per partition"). Each send is appended to
    ``send`` 's ``.log`` (url, monotonic ts) so politeness-delay tests
    can assert same-host spacing inside a partition.
    """

    def __init__(self, pages: dict):
        self.pages = pages

    def __call__(self):
        log: list[tuple[str, float]] = []

        def send(method: str, url: str, headers: dict | None, timeout_s: float):
            log.append((url, time.monotonic()))
            page = self.pages.get(url)
            if page is None:
                return 404, {}, b""
            if page.get("raise_timeout"):
                raise TransportError(f"timeout after {timeout_s}s: {url}")
            hdrs = {}
            if page.get("content_type"):
                hdrs["content-type"] = page["content_type"]
            if page.get("location"):
                hdrs["location"] = page["location"]
            if page.get("set_cookie"):
                hdrs["set-cookie"] = page["set_cookie"]
            if page.get("retry_after") is not None:
                hdrs["retry-after"] = str(page["retry_after"])
            if page.get("etag"):
                hdrs["etag"] = page["etag"]
            if page.get("last_modified"):
                hdrs["last-modified"] = page["last_modified"]
            # conditional GET: validator match -> 304, empty body
            req = {str(k).lower(): str(v) for k, v in (headers or {}).items()}
            if (
                page.get("etag")
                and req.get("if-none-match") == page["etag"]
            ) or (
                page.get("last_modified")
                and req.get("if-modified-since") == page["last_modified"]
            ):
                return 304, hdrs, b""
            body = page.get("body", b"")
            if isinstance(body, str):
                body = body.encode("utf-8")
            return int(page.get("status", 200)), hdrs, body

        send.log = log
        return send


class Urllib3Transport:
    """Production HTTP transport (HttpClientDownloader.cs:74-188): one
    pooled ``urllib3.PoolManager`` per partition, honoring the
    ``send(method, url, headers, timeout_s) -> (status, headers, body)``
    contract the fetch stage drives.

    - auto-redirect DISABLED (``redirect=False``): the stage itself does
      the <=10 manual hops with RFC-3986 resolution (the reference sets
      AllowAutoRedirect and reads the final URL; our stage needs every
      hop to mark intermediate identities seen);
    - retries DISABLED: the loop's AddToCycleRetry path owns retry
      semantics (Spider.cs:1212-1267), a transport-level retry would
      double-count;
    - connection-level failures (timeout, refused, DNS, TLS) raise
      :class:`TransportError` -> status 599 -> transient-retry path;
    - gzip/deflate accepted and transparently decoded (urllib3
      ``decode_content``), mirroring HttpClientDownloader's
      AutomaticDecompression;
    - default User-Agent = the reference's hardcoded Chrome default
      (Request.cs:20-21); per-request headers override defaults.

    ``pool_factory`` is injectable (a zero-arg picklable callable
    returning a PoolManager-shaped object) so tests drive the exact
    production code path without network or executor monkeypatching.
    """

    USER_AGENT = (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/69.0.3497.81 Safari/537.36"
    )

    def __init__(
        self,
        pool_factory=None,
        maxsize: int = 10,
        default_headers: dict | None = None,
    ):
        # config only — the pool is built inside __call__ so the
        # instance pickles into the executor closure cleanly
        self.pool_factory = pool_factory
        self.maxsize = maxsize
        self.default_headers = dict(default_headers or {})

    def __call__(self):
        import urllib3

        if self.pool_factory is not None:
            pool = self.pool_factory()
        else:
            pool = urllib3.PoolManager(maxsize=self.maxsize, retries=False)
        defaults = {
            "user-agent": self.USER_AGENT,
            "accept-encoding": "gzip, deflate",
            **{k.lower(): v for k, v in self.default_headers.items()},
        }

        def send(method, url, headers, timeout_s):
            import urllib3

            merged = dict(defaults)
            if headers:
                merged.update(
                    {str(k).lower(): str(v) for k, v in dict(headers).items()}
                )
            try:
                resp = pool.request(
                    method or "GET",
                    url,
                    headers=merged,
                    timeout=urllib3.Timeout(total=timeout_s),
                    redirect=False,
                    retries=False,
                    preload_content=True,
                )
            except urllib3.exceptions.HTTPError as e:
                # TimeoutError / NewConnectionError / NameResolutionError
                # / SSLError / ProtocolError all subclass HTTPError
                raise TransportError(f"{type(e).__name__}: {url}") from e
            hdrs = dict(resp.headers)
            # dict() collapses repeated Set-Cookie headers (and ", "
            # joining is ambiguous — commas occur in expires dates);
            # hand the stage the intact list instead
            getlist = getattr(resp.headers, "getlist", None)
            if getlist is not None:
                sc = getlist("Set-Cookie")
                if len(sc) > 1:
                    hdrs["Set-Cookie"] = list(sc)
            return int(resp.status), hdrs, resp.data or b""

        return send


def sniff_charset_py(content_type: str | None, body: bytes | None) -> str:
    """Charset detection, header -> <meta> -> utf-8 default — the
    Downloader.cs:211-220 ReadContent order. Pure so the mapInPandas
    fetch stage and tests share it. The PATTERNS are imported from
    ``functions.content`` (the column-expression twin and the DuckDB
    oracle SQL use the same strings — three consumers, one definition;
    ``(?i)`` is inline so no flag argument is needed here either)."""
    import re

    from dotnetspider_spark.functions.content import (
        _CHARSET_HDR,
        _CHARSET_META,
    )

    if content_type:
        m = re.search(_CHARSET_HDR, content_type)
        if m:
            return m.group(1).lower()
    if body:
        head = body[:2048].decode("iso-8859-1", "replace")
        m = re.search(_CHARSET_META, head)
        if m:
            return m.group(1).lower()
    return "utf-8"


def is_media_type_py(content_type: str | None) -> bool:
    """Python twin of ``functions.content.is_media_type`` (same
    EXCLUDE_MEDIA_TYPES substring semantics) for use INSIDE the
    mapInPandas fetch stage, where rows exist as Python values."""
    from dotnetspider_spark.functions.content import EXCLUDE_MEDIA_TYPES

    if not content_type or not content_type.strip():
        return False
    lowered = content_type.lower()
    return not any(t in lowered for t in EXCLUDE_MEDIA_TYPES)


class HttpFetcher:
    """Real-HTTP fetch stage: ``mapInPandas`` over the batch repartitioned
    by host (HttpClientDownloader.cs:74-188 re-expressed).

    - one transport per PARTITION (``transport_factory()`` called once in
      the iterator — the reference pools one HttpClient per proxy hash,
      :202-271);
    - per-host politeness INSIDE the batch: consecutive same-host sends
      sleep to ``crawl_delay_ms`` spacing (the rank cap bounds the batch,
      this spaces it — Spider.cs:181,805 SleepTime);
    - redirects followed manually, <= ``max_redirects`` hops
      (HttpClientDownloader AllowAutoRedirect, :96), each hop resolved
      RFC-3986-relative; final URL -> ``target_url``;
    - success = any 2xx after redirects (Downloader.cs:57-64); transport
      errors -> status 599 (a 5xx, so the loop's transient-retry path
      picks it up — the DownloaderException -> AddToCycleRetry mapping,
      Spider.cs:1212-1267);
    - emits ``status, bytes, target_url, content_type, encoding, html,
      fetch_ms``: html is the body decoded with the sniffed charset
      (header -> meta -> utf-8, Downloader.cs:211-220), done in the SAME
      pass so no second Python crossing.

    The sandbox has no network: production injects
    :class:`Urllib3Transport`; tests inject :class:`DictTransport` (or
    ``Urllib3Transport(pool_factory=fake)``). The stage itself —
    partitioning, delay, redirects, schema — is identical either way.
    """

    EXTRA_SCHEMA = (
        "status int, bytes binary, target_url string, content_type string, "
        "encoding string, html string, fetch_ms long, "
        "redirect_hops array<string>, retry_after_s long, "
        "resp_etag string, resp_last_modified string"
    )

    def __init__(
        self,
        transport_factory,
        timeout_s: float = 8.0,
        max_redirects: int = 10,
        n_partitions: int | None = None,
        crawl_delay_ms: dict[str, int] | None = None,
        cookies: dict[str, dict[str, str]] | None = None,
    ):
        self.transport_factory = transport_factory
        self.timeout_s = timeout_s
        self.max_redirects = max_redirects
        self.n_partitions = n_partitions
        self.crawl_delay_ms = dict(crawl_delay_ms or {})
        #: initial per-HOST cookie jars (the CookieInjector analog,
        #: Downloader.cs:74,102-173). At runtime each partition keeps
        #: its own jar map: set-cookie responses update it, subsequent
        #: same-host sends (redirect hops included) carry it. Host-
        #: partitioning makes the jar authoritative per host — the
        #: Spark-native twin of the reference's CookieContainer-per-
        #: client affinity.
        self.cookies = {h: dict(c) for h, c in (cookies or {}).items()}

    def fetch(self, batch: DataFrame) -> DataFrame:
        import pandas as pd

        factory = self.transport_factory
        timeout_s = self.timeout_s
        max_redirects = self.max_redirects
        delays = self.crawl_delay_ms
        seed_cookies = self.cookies
        out_fields = [f.split()[0] for f in self.EXTRA_SCHEMA.split(", ")]

        def fetch_partition(batches):
            from urllib.parse import urlsplit

            send = factory()  # ONE pooled client per partition
            last_at: dict[str, float] = {}
            jars: dict[str, dict[str, str]] = {
                h: dict(c) for h, c in seed_cookies.items()
            }

            def spaced_send(method, cur, headers):
                # politeness applies to EVERY send, redirect hops
                # included, keyed by the host actually being hit — a
                # chain r1 -> r2 on the same host must still space the
                # two requests (SleepTime, Spider.cs:181,805).
                # .hostname, not .netloc: the delay config and the
                # batch 'host' column use the lowercased port-less host
                # (urlops.url_host), so netloc ('H0.example:8080') would
                # silently miss the lookup and skip the spacing
                hop_host = urlsplit(cur).hostname or ""
                delay = delays.get(hop_host, 0) / 1000.0
                if delay > 0 and hop_host in last_at:
                    wait = last_at[hop_host] + delay - time.monotonic()
                    if wait > 0:
                        time.sleep(wait)
                # cookie injection: the HOP host's jar rides the send
                # (domain-scoped — a cross-host redirect must not leak
                # the previous host's cookies); a row-level cookie
                # header is preserved after the jar's
                jar = jars.get(hop_host)
                if jar:
                    hdr = dict(headers) if headers else {}
                    own = next(
                        (v for k, v in hdr.items() if k.lower() == "cookie"),
                        None,
                    )
                    jar_str = "; ".join(f"{k}={v}" for k, v in jar.items())
                    hdr["cookie"] = f"{jar_str}; {own}" if own else jar_str
                    headers = hdr
                try:
                    st, hd, bd = send(method or "GET", cur, headers, timeout_s)
                finally:
                    last_at[hop_host] = time.monotonic()
                # set-cookie capture (name=value of each cookie line;
                # attributes dropped — the jar is per-host already)
                sc = next(
                    (v for k, v in hd.items() if k.lower() == "set-cookie"),
                    None,
                )
                if sc:
                    for item in sc if isinstance(sc, list) else [sc]:
                        first = str(item).split(";", 1)[0]
                        if "=" in first:
                            n, v = first.split("=", 1)
                            jars.setdefault(hop_host, {})[n.strip()] = (
                                v.strip()
                            )
                return st, hd, bd

            for pdf in batches:
                extras: dict[str, list] = {f: [] for f in out_fields}
                # conditional-GET validators (RFC 9110 §13.1): when the
                # batch carries stored etag / last_modified columns
                # (a revisit crawl re-reading its own resp_* capture),
                # each row sends If-None-Match / If-Modified-Since and
                # a 304 means "unchanged" — no body, no children, the
                # cheapest possible revisit
                etags = pdf["etag"] if "etag" in pdf.columns else [None] * len(pdf)
                lastmods = (
                    pdf["last_modified"]
                    if "last_modified" in pdf.columns
                    else [None] * len(pdf)
                )
                for url, host, method, headers, etag, lastmod in zip(
                    pdf["url"], pdf["host"], pdf["method"], pdf["headers"],
                    etags, lastmods,
                ):
                    if etag is not None or lastmod is not None:
                        headers = dict(headers) if headers else {}
                        if etag is not None:
                            headers["if-none-match"] = str(etag)
                        if lastmod is not None:
                            headers["if-modified-since"] = str(lastmod)
                    t0 = time.monotonic()
                    cur, status, hdrs, body = url, 599, {}, b""
                    hops: list[str] = []
                    try:
                        for hop in range(max_redirects + 1):
                            status, hdrs, body = spaced_send(
                                method, cur, headers
                            )
                            # header names are case-insensitive (RFC
                            # 9110); transports return their own casing
                            hdrs = {k.lower(): v for k, v in hdrs.items()}
                            loc = hdrs.get("location")
                            # only advance when another hop will
                            # actually be fetched: target_url must be a
                            # URL that WAS requested, even when the
                            # redirect budget runs out mid-chain
                            if 300 <= status < 400 and loc and hop < max_redirects:
                                cur = urljoin(cur, loc)
                                hops.append(cur)
                                continue
                            break
                    except TransportError:
                        status, hdrs, body = 599, {}, b""
                    # Retry-After (RFC 9110 §10.2.3) from the FINAL
                    # response: the delta-seconds form only — the
                    # HTTP-date form is rare on throttle responses and
                    # needs wall-clock anchoring the columnar log
                    # cannot carry; unparseable values stay null
                    ra = hdrs.get("retry-after")
                    try:
                        retry_after = (
                            int(str(ra).strip()) if ra is not None else None
                        )
                    except ValueError:
                        retry_after = None
                    ctype = hdrs.get("content-type")
                    if is_media_type_py(ctype):
                        # media payload: bytes only — charset-decoding a
                        # multi-MB image into a garbage string doubles
                        # the Arrow row for a column the loop's media
                        # gate then discards unread
                        enc = sniff_charset_py(ctype, None)
                        html = None
                    else:
                        enc = sniff_charset_py(ctype, body)
                        try:
                            html = body.decode(enc, "replace") if body else None
                        except LookupError:  # unknown codec name in the wild
                            html = (
                                body.decode("utf-8", "replace") if body else None
                            )
                    for f, v in zip(
                        out_fields,
                        (
                            status, bytes(body) if body else None, cur, ctype,
                            enc, html, int((time.monotonic() - t0) * 1000),
                            hops or None, retry_after,
                            hdrs.get("etag"), hdrs.get("last-modified"),
                        ),
                    ):
                        extras[f].append(v)
                for f in out_fields:
                    pdf[f] = pd.Series(extras[f], index=pdf.index, dtype="object")
                yield pdf

        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in batch.schema.fields
        ) + ", " + self.EXTRA_SCHEMA
        n = self.n_partitions or batch.sparkSession.sparkContext.defaultParallelism
        return batch.repartition(n, "host").mapInPandas(fetch_partition, schema)


class DirectoryFetcher:
    """Offline replay of saved payloads: one file per image_id under
    ``root/`` (the reference's downloads/host/path layout). Reads via
    Spark's binaryFile source; join on the derived image_id."""

    def __init__(self, root: str):
        self.root = root

    def fetch(self, batch: DataFrame) -> DataFrame:
        spark = batch.sparkSession
        files = (
            spark.read.format("binaryFile")
            .load(f"{self.root}/*")
            .select(
                # extension class covers JPG/jp2-style names; lowercase-
                # alpha-only returned '' for them -> spurious 404s
                F.regexp_extract(F.col("path"), r"([^/]+)\.[A-Za-z0-9]+$", 1).alias(
                    "image_id"
                ),
                F.col("content").alias("bytes"),
            )
        )
        return batch.join(files, "image_id", "left").withColumn(
            "status", F.when(F.col("bytes").isNull(), 404).otherwise(200)
        )
