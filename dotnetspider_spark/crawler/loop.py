"""The crawl engine: an iterative-batch (BSP) frontier loop, written as
state -> step -> phases.

Replaces the reference's thread-poll loop (Spider.cs:753-831,
HandleRequest :1095-1210) with one deterministic DataFrame job per crawl
iteration (SURVEY §3.1/§7).

State. :class:`CrawlState` is everything one iteration hands the next.
The crawl's tables live as DELTA parquet snapshots under the checkpoint
root, and the state holds their live part lists: the frontier is the
union of additive parts (``frontier/init``/``frontier/compact=N`` plus
``fresh/iter=N`` appends) anti-joined against consumed batch identities
(``consumed/iter=N``, which also carries each batch row's robots verdict
``__allowed``), compacted every ``compact_every`` iterations; ``seen`` is
the identity column of its parts (plus a bucketed compact table under
``bucketed_seen``), and the dedup phase checks candidates against it
with one exact anti-join (``operators.frontier.dedup_push``).
``fetched/iter=N`` is the iteration's fact log: every consumed row, with
the fetch ``status`` (NULL for a robots-denied row) and a ``reason`` that
is NULL on a success, ``retry`` on a row that comes back as a retry, and
the failing.log reason (Spider.cs:993-994) on an error.
:meth:`CrawlState.fetched` and :meth:`CrawlState.errors` are its success
and error views (``errors/iter=N`` dirs of older checkpoints are still
read); the iteration's metrics row is observed on the same write.
``downloads/iter=N`` is the other append-only log.
Per-iteration I/O is therefore O(batch + new links), not O(frontier) —
the property that matters at the 10^10-row design point. The frontier
size is tracked arithmetically (n - consumed + fresh), so no count scan
of the frontier exists at all. Every state
dir is written by :func:`_write_state`, counted (where a count is used)
from the written files' parquet footers by :func:`_rows` (no count job),
and re-read under an explicit schema (no schema-inference job). The
state's fields ARE the checkpoint manifest: :meth:`CrawlState.to_manifest` /
:meth:`CrawlState.from_manifest` are its only codec, shared by the fresh
start, resume, :class:`Checkpointer` and ``crawler.timetravel``. Each
iteration's manifest, ``manifests/iter=N.json``, is atomically renamed
after that iteration's state dirs, so a killed crawl resumes exactly from
the newest one; a fresh start clears them (north rule: snapshot +
per-partition lineage; Iceberg in production — the sandbox ships no
Iceberg runtime jar, so the delta layout emulates its
manifest/snapshot/delete-file model over plain parquet).

Step. :func:`crawl` validates its arguments, pins its static inputs
(the per-host robots rule table and ``host_delays``, persisted for the
call and released on return: the first iteration materializes them and
every later one reads them from memory instead of re-running their
lineage), builds or restores the state, then repeats ``state, row = _step(ctx, state, it)`` until the
frontier is empty or ``max_iterations`` is reached. Each row (the
iteration's scalar metrics) goes to ``CrawlRunResult.metrics`` and to
this module's logger at INFO.

Phases. ``_step`` runs one ``_phase_*`` function per stage, in order:

    backoff     last iteration's fact log statuses -> budget multipliers
    rank        frontier --politeness, DFS/BFS, robots verdict--> batch
                (= consumed delta)
    robots      batch -> allowed / denied (a filter on the stored verdict)
    fetch       allowed --fetcher (corpus join or HTTP)--> outcomes
    redirects   final URLs of redirected fetches -> seen
    media       file-type successes -> downloads (never parsed)
    processor   page-processor hook (n_results, proc_error)
    retries     transient / processor failures -> retried+1 (NEW identity)
    discover    successes --extract links, canonicalize, filters--> children
    dedup       (children ∪ retries) --exact anti-join vs seen--> fresh
    write       fresh delta, then the fact log (metrics row observed)
    compact     frontier/seen compaction every ``compact_every``
    checkpoint  manifest

Ordering fidelity (SURVEY §7.3): every request carries a monotone
total-order key ``seq``. ``global_limit=1`` reproduces the reference's
single-threaded poll order exactly (DFS=LIFO / BFS=FIFO,
QueueDuplicateRemovedScheduler.cs:57-91); batch mode keeps per-host poll
order and set-level equality, which is all the multi-threaded reference
guarantees (QueueSchedulerTest.cs:11-32 asserts only counts when
concurrent).

Scale design (10^10-URL design point):
- scheduling never touches payload columns (the fetch join selects only
  ``status, html`` from the corpus; image bytes live in a separate
  payload table joined only by the validation stage);
- all shuffles key on ``identity`` or ``host`` (narrow columns);
- per-host ranking is salted two-level for Zipf-hot hosts
  (operators.frontier.select_fetch_batch);
- ``global_limit`` mode uses one global window — test-scale only; batch
  mode encodes child seqs from (host-hash, host_rank, link-pos) with no
  global barrier.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import re
import shutil
import tempfile
import time
from dataclasses import dataclass, field, fields

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dotnetspider_spark.crawler.parse import extract_canonical_links_udf
from dotnetspider_spark.functions.content import download_file_path, is_media_type
from dotnetspider_spark.functions.identity import request_identity
from dotnetspider_spark.functions.linkpolicy import extract_policy_links_udf
from dotnetspider_spark.functions.urlops import is_fetchable, url_host
from dotnetspider_spark.operators.frontier import (
    adaptive_backoff,
    dedup_push,
    politeness_budget,
    poll_order,
    select_fetch_batch,
)
from dotnetspider_spark.operators.traps import trap_detection
from dotnetspider_spark.sources.fetchers import CorpusFetcher

_log = logging.getLogger(__name__)

FRONTIER_SCHEMA = (
    "url string, host string, method string, referer string, origin string, "
    "content string, headers map<string,string>, priority int, depth int, "
    "retried int, seq long, identity string"
)
_FRONTIER_COLS = [
    "url", "host", "method", "referer", "origin", "content", "headers",
    "priority", "depth", "retried", "seq", "identity",
]

# seq encoding: iteration in the top bits keeps seqs monotone across
# iterations; within an iteration children order by (parent block, link pos)
_ITER_SHIFT = 45  # (iter+1) << 45; block*2^20+pos stays under 2^45
_BLOCK_BITS = 24  # parent block
_POS_BITS = 20  # link position / retry marker
_MAX_LINK_POS = (1 << _POS_BITS) - 2  # link positions clamp here


@dataclass
class CrawlConfig:
    dfs: bool = True  # default traverse strategy Dfs (DuplicateRemovedScheduler.cs:75)
    max_depth: int | None = None  # Spider.cs:66 default int.MaxValue
    cycle_retry_times: int = 5  # Spider.cs:186
    per_host_limit: int | None = 8  # politeness budget per iteration (SURVEY §2.2)
    iter_wall_ms: int = 1000  # iteration wall budget for delay-derived k
    global_limit: int | None = None  # exact-order emulation; 1 = reference poll
    max_iterations: int = 100_000
    checkpoint_dir: str | None = None
    compact_every: int = 8  # frontier delta-compaction cadence (iterations)
    seen_compact_parts: int = 32  # fold seen deltas when parts exceed this
    #: store the compacted seen table BUCKETED by identity (catalog
    #: parquet table): the per-iteration dedup anti-join then reads the
    #: 10^10-row seen side in place — zero exchange on the big side, only
    #: the batch-sized candidate set shuffles (LSM read path: candidates
    #: first dedup vs the small recent deltas, then anti-join the
    #: bucketed compact). Plan shape proven by
    #: tests/test_plans.py::test_bucketed_seen_join_skips_seen_side_shuffle.
    bucketed_seen: bool = False
    seen_buckets: int = 32
    #: SkipTargetRequestsWhenResultIsEmpty (Spider.cs:397,1155): when a
    #: processor reports zero result items for a page, do not extract its
    #: target links. Only meaningful with a ``processor``.
    skip_targets_when_result_empty: bool = False
    #: media-type file gate (HttpClientDownloader.cs:130-140): when the
    #: fetcher emits ``content_type``, successful fetches whose type is
    #: a file/media type (functions.content.is_media_type) skip decode /
    #: link discovery / extraction. True stores their rows (payload
    #: bytes included when present) under ``downloads/iter=N`` with the
    #: reference's host+path file_path (Downloader.cs:390-395); False —
    #: the reference's ``DownloadFiles`` default — ignores them. Either
    #: way they count as fetched successes and yield no children.
    download_files: bool = False
    #: order polls by (priority desc, seq) instead of seq only. The
    #: reference stores Priority but never reads it (Page.cs:9); its
    #: Broker DB schema orders by priority (DistributeDesign.md:149-161),
    #: so this is exposed as an OPT-IN — default stays reference-faithful.
    priority_first: bool = False
    #: opt-in crawler-trap guard (operators/traps.py; the Heritrix
    #: failure mode — absent in the reference, whose frontier grows
    #: unboundedly on a trap host until SleepTime slows the bleed):
    #: each iteration, newly DISCOVERED children are template-profiled
    #: per host, and hosts whose URL/template ratio explodes past
    #: ``trap_max_ratio`` (with >= ``trap_min_urls`` links in the
    #: batch) contribute no children that iteration. Detection is
    #: per-discovery-batch — a trap page emits its explosion in one
    #: parse — costing one extra aggregate over the persisted children
    #: (the parse UDF runs once) and a literal host filter; the flagged
    #: host list passes through the driver but is bounded by hosts
    #: flagged THIS batch, no cumulative table. Default OFF: the guard
    #: intentionally diverges from reference crawl results.
    trap_guard: bool = False
    trap_min_urls: int = 100
    trap_max_ratio: float = 8.0
    #: opt-in adaptive per-host backoff (operators/frontier.py
    #: adaptive_backoff; AIMD response to 429/503 — absent in the
    #: reference, whose politeness is the static SleepTime): each
    #: iteration reads the PREVIOUS iteration's fetch log (one
    #: column-pruned parquet read of host+status), shrinks throttling
    #: hosts' poll budgets by the multiplier, and parks >=50%-throttle
    #: hosts for one iteration (budget 0 — their frontier rows are NOT
    #: consumed, they simply wait). The one-iteration observation
    #: window makes the control loop self-correcting: a parked host
    #: produces no observations, so the next iteration it re-enters at
    #: multiplier 1 (the AIMD probe). Default OFF: backoff
    #: intentionally diverges from reference crawl ordering.
    adaptive_backoff: bool = False
    backoff_min_observations: int = 20
    #: opt-in REP page-directive policy (functions/linkpolicy.py —
    #: north-rule addition, absent in the reference which follows every
    #: href): discovery drops rel="nofollow"/"ugc"/"sponsored" anchors,
    #: drops ALL children of meta-robots-nofollow pages, and enqueues a
    #: page's <link rel="canonical"> target as an extra child (appended
    #: after the followed links, first-occurrence dedup preserved) so
    #: the canonical variant reaches the frontier. Same fused
    #: one-crossing parse budget as the default path. Default OFF:
    #: policy intentionally diverges from reference crawl results.
    honor_link_policy: bool = False


ERRORS_SCHEMA = (
    "url string, host string, identity string, depth int, retried int, "
    "status int, reason string, iter int"
)
_ERROR_COLS = [c.split()[0] for c in ERRORS_SCHEMA.split(", ")]


@dataclass
class CrawlRunResult:
    fetched: DataFrame  # fetched pages: frontier cols + iter, rank, status
    seen: DataFrame  # identity strings
    frontier: DataFrame  # remaining (empty when converged)
    errors: DataFrame | None = None  # failing.log analog (ERRORS_SCHEMA)
    #: stored media payloads (download_files=True): url/host/identity/
    #: target_url/content_type[/bytes]/file_path/iter rows
    downloads: DataFrame | None = None
    metrics: list[dict] = field(default_factory=list)
    iterations: int = 0

    def fetch_order(self) -> list[str]:
        """URLs in engine poll order — (iter, batch rank) ascending."""
        return [
            r.url
            for r in self.fetched.orderBy("iter", "rank", "url").select("url").collect()
        ]


def _identity(**cols: Column) -> Column:
    """``request_identity`` over the row's own request columns; ``cols``
    replaces some of them (e.g. ``url=F.col("target_url")``)."""
    args = {
        c: F.col(c)
        for c in ("url", "method", "referer", "origin", "content", "retried", "headers")
    }
    args.update(cols)
    return request_identity(args.pop("url"), **args)


def _dense_seq_by_url(df: DataFrame) -> DataFrame:
    """Dense 0-based seq in url order WITHOUT a single-partition window.

    Range-partition on url (partition ids ascend with the range), rank
    within each partition, then add per-partition offsets computed from
    the partition counts (a collect of at most #partitions rows — the
    scalable zip-with-index). Equivalent to
    ``row_number().over(Window.orderBy(url)) - 1`` but every stage is
    distributed; at the 10^10-seed design point the old global window
    funnelled the entire seed set through one task.
    """
    ranged = df.repartitionByRange(F.col("url"))
    withpid = ranged.withColumn("__pid", F.spark_partition_id())
    w = Window.partitionBy("__pid").orderBy("url")
    # pin the partitioning: the count collect below and the final result
    # must see the SAME range boundaries (range partitioning samples)
    ranked = withpid.withColumn("__rn", F.row_number().over(w)).localCheckpoint(
        eager=True
    )
    counts = sorted(
        ranked.groupBy("__pid").agg(F.count("*").alias("__n")).collect(),
        key=lambda r: r["__pid"],
    )
    offset = {}
    acc = 0
    for r in counts:
        offset[r["__pid"]] = acc
        acc += r["__n"]
    if not offset:
        return df.withColumn("seq", F.lit(0).cast("long"))
    omap = F.create_map(
        *[F.lit(x) for pid, off in offset.items() for x in (pid, off)]
    )
    return ranked.withColumn(
        "seq", (omap[F.col("__pid")] + F.col("__rn") - 1).cast("long")
    ).drop("__pid", "__rn")


def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    """Normalize a seed DataFrame into frontier schema: derive host +
    identity, first-push-wins within the seed list (Reload semantics,
    QueueDuplicateRemovedScheduler.cs:137-155)."""
    df = seeds
    for col, default in [
        ("method", F.lit("GET")), ("referer", F.lit(None).cast("string")),
        ("origin", F.lit(None).cast("string")), ("content", F.lit(None).cast("string")),
        ("headers", F.lit(None).cast("map<string,string>")),
        ("priority", F.lit(0)), ("depth", F.lit(1)), ("retried", F.lit(0)),
    ]:
        if col not in df.columns:
            df = df.withColumn(col, default)
        elif col in ("method", "priority", "depth", "retried"):
            # present-but-NULL rows (e.g. Spider.run unions seed sources
            # with allowMissingColumns=True, which fills the narrower
            # frame's columns with NULL) must take the default too: a
            # NULL depth silently drops children at the depth gate, a
            # NULL retried disables cycle retry, and a NULL priority
            # diverges from the oracle under priority_first
            df = df.withColumn(col, F.coalesce(F.col(col), default))
    if "seq" not in df.columns:
        df = _dense_seq_by_url(df)
    else:
        # present-but-NULL seq rows (Spider.run unions seed sources with
        # allowMissingColumns=True) would be DESTROYED downstream:
        # min_by(struct, seq) over an all-NULL key returns a NULL struct,
        # silently losing those seeds. Assign them the same deterministic
        # url-ranked seq as the no-seq path, offset past any explicit seq
        # (2^40 — explicit seqs keep precedence; seq is a long). When
        # every seed has one, the ranking's sampling, checkpoint and
        # collect jobs would only rank an empty set: skip them
        null_seq = df.filter(F.col("seq").isNull())
        if not null_seq.isEmpty():
            df = df.filter(F.col("seq").isNotNull()).unionByName(
                _dense_seq_by_url(null_seq.drop("seq")).withColumn(
                    "seq", (F.col("seq") + F.lit(1 << 40)).cast("long")
                )
            )
    df = df.withColumn("host", url_host(F.col("url"))).withColumn(
        "identity", _identity()
    )
    return dedup_push(df.select(*_FRONTIER_COLS), seen=None)


def _status_ok():
    """Fetch-success predicate: any 2xx (Downloader.cs:57-64
    ``EnsureSuccessStatusCode`` semantics). The corpus replay path only
    ever emits 200, but a real transport returns 201/204/206 etc. —
    those are fetched pages, not ``http_2xx`` error rows."""
    return (F.col("status") >= 200) & (F.col("status") < 300)


_RULE_T = "struct<path_prefix:string,allow:boolean,path_re:string>"


def _robot_rules(robots: DataFrame) -> DataFrame:
    """The per-host rule table ``(host, __rules)`` that :func:`_robots_flag`
    broadcasts, from a rules table (host, path_prefix, allow[, path_re]).
    Rules are tiny config; ``crawl()`` pins this table once per call. A
    rules table without the ``path_re`` column (hand-built configs, older
    fixtures) is treated as all-prefix."""
    if "path_re" not in robots.columns:
        robots = robots.withColumn("path_re", F.lit(None).cast("string"))
    return robots.groupBy("host").agg(
        F.collect_list(F.struct("path_prefix", "allow", "path_re")).alias("__rules")
    )


def _robots_flag(batch: DataFrame, rules: DataFrame) -> DataFrame:
    """Annotate each row with boolean ``__allowed`` against the per-host
    rule table ``rules`` (:func:`_robot_rules`): BROADCAST equi-joined,
    then the most specific matching rule is picked by a JVM-side array
    fold: zero exchanges, zero windows, stays inside whole-stage codegen
    (the previous per-identity window added one shuffle per crawl
    iteration). Plain rules match by path prefix; wildcard rules (RFC
    9309 ``*``/``$``) carry their anchored regex in ``path_re`` and match
    via ``rlike`` — specificity is the ORIGINAL pattern length in both
    cases and ties break to allow, same as Google's matcher. The match
    subject is path?query (Googlebot matches rules against the query
    string too — a plain prefix rule's verdict is unchanged by the
    appended suffix). No rule = allow. Denied rows are kept (flagged):
    the rank phase stores the verdict with the batch, so the loop
    consumes them AND logs them without recomputing the gate."""
    # try_parse_url: an unparseable frontier URL (space, bad %-escape)
    # must not abort the iteration — it degrades to subject "/" and the
    # host's rules decide (no rules = allow), instead of killing the job
    path = F.coalesce(F.try_parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    query = F.try_parse_url(F.col("url"), F.lit("QUERY"))
    subject = F.when(
        query.isNull() | (query == F.lit("")), path
    ).otherwise(F.concat(path, F.lit("?"), query))
    joined = batch.withColumn("__path", subject).join(
        F.broadcast(rules), "host", "left"
    )
    p = F.col("__path")
    matched = F.filter(
        F.coalesce(F.col("__rules"), F.array().cast(f"array<{_RULE_T}>")),
        lambda r: F.when(
            r["path_re"].isNull(), p.startswith(r["path_prefix"])
        ).otherwise(F.rlike(p, r["path_re"])),
    )
    # longest prefix wins; equal lengths tie-break to ALLOW (the Google
    # robots.txt spec's rule for equally-specific rules) — collect_list
    # order varies across partitions, so without this the verdict of an
    # allow/deny pair of identical length could flip between runs
    best = F.aggregate(
        matched,
        F.lit(None).cast(_RULE_T),
        lambda acc, r: F.when(
            acc.isNull()
            | (F.length(r["path_prefix"]) > F.length(acc["path_prefix"]))
            | (
                (F.length(r["path_prefix"]) == F.length(acc["path_prefix"]))
                & r["allow"]
                & ~acc["allow"]
            ),
            r,
        ).otherwise(acc),
    )
    return joined.withColumn(
        "__allowed", F.coalesce(best["allow"], F.lit(True))
    ).drop("__rules", "__path")


def _discover_children(success: DataFrame, cfg: CrawlConfig, iter_base) -> DataFrame:
    """success(frontier cols + html + __block) -> child frontier rows.

    Link extraction, the junk gate (Page.cs:121-127), canonicalization
    (Selectable.cs:229-241) and the within-page first-occurrence dedup
    (TargetRequests HashSet, Page.cs:37) are FUSED into one pandas UDF
    (parse.extract_canonical_links_udf): one Python boundary crossing per
    page instead of one per raw link, and no per-page window shuffle.
    """
    # relative links resolve against the POST-redirect URL when the
    # fetcher recorded one (page.TargetUrl, Downloader.cs:211-220)
    base = (
        F.coalesce(F.col("target_url"), F.col("url"))
        if "target_url" in success.columns
        else F.col("url")
    )
    if cfg.honor_link_policy:
        pol = extract_policy_links_udf(F.col("html"), base)
        # canonical target appended after the followed links (position
        # order of real links preserved for seq); array_distinct keeps
        # first occurrence, so a canonical already linked in-body does
        # not duplicate
        links = F.array_distinct(
            F.when(
                pol["canonical"].isNotNull() & (pol["canonical"] != base),
                F.concat(pol["children"], F.array(pol["canonical"])),
            ).otherwise(pol["children"])
        )
    else:
        links = extract_canonical_links_udf(F.col("html"), base)
    canon = success.select(
        F.col("referer").alias("__p_referer"),
        F.col("origin").alias("__p_origin"),
        F.col("headers").alias("__p_headers"),
        F.col("depth").alias("__p_depth"),
        F.col("__block"),
        F.posexplode(links).alias("__pos", "url"),
    ).filter(is_fetchable(F.col("url")))
    child = canon.select(
        F.col("url"),
        url_host(F.col("url")).alias("host"),
        F.lit("GET").alias("method"),
        # inheritance: child keeps PARENT's referer/origin/headers
        # (Page.cs:157-181) — not the parent URL
        F.col("__p_referer").alias("referer"),
        F.col("__p_origin").alias("origin"),
        F.lit(None).cast("string").alias("content"),
        F.col("__p_headers").alias("headers"),
        F.lit(0).alias("priority"),
        (F.col("__p_depth") + 1).alias("depth"),
        F.lit(0).alias("retried"),
        (
            iter_base
            + F.col("__block") * (1 << _POS_BITS)
            + F.least(F.col("__pos") + 1, F.lit(_MAX_LINK_POS))
        ).cast("long").alias("seq"),
    )
    if cfg.max_depth is not None:
        child = child.filter(F.col("depth") <= cfg.max_depth)
    return child.withColumn("identity", _identity())


def _with_block(batch: DataFrame) -> DataFrame:
    """Parent block id: scale-safe (host-hash, rank) encoding — no global
    barrier; used as the high bits of child seq numbers."""
    return batch.withColumn(
        "__block",
        F.pmod(F.xxhash64("host"), F.lit(1 << (_BLOCK_BITS - 6))) * (1 << 6)
        + F.least(F.col("rank"), F.lit(63)),
    )


def _apply_backoff(fr_b: DataFrame, backoff) -> DataFrame:
    """Shrink the ``__budget`` column by the adaptive-backoff verdicts:
    cooldown hosts poll nothing this iteration (their frontier rows are
    not consumed — they wait), throttling hosts keep at least one slot
    (the AIMD probe that detects recovery). ``backoff`` is a broadcast
    (host, multiplier, cooldown) frame or None (no-op)."""
    if backoff is None:
        return fr_b
    adj = F.when(
        F.coalesce(F.col("cooldown"), F.lit(False)), F.lit(0)
    ).otherwise(
        F.greatest(
            F.floor(
                F.col("__budget")
                / F.coalesce(F.col("multiplier"), F.lit(1)).cast("double")
            ),
            F.lit(1),
        )
    )
    return (
        fr_b.join(backoff, "host", "left")
        .withColumn("__budget", adj.cast("int"))
        .drop("multiplier", "cooldown")
    )


_MANIFEST_RE = re.compile(r"^iter=(\d+)\.json$")


def manifest_path(root: str, it: int) -> str:
    """Where iteration ``it``'s manifest lives under checkpoint ``root``."""
    return f"{root}/manifests/iter={it}.json"


def list_snapshots(root: str) -> list[int]:
    """Iterations with a retained manifest under checkpoint ``root``,
    ascending (``crawler.timetravel`` re-exports this)."""
    d = f"{root}/manifests"
    names = os.listdir(d) if os.path.isdir(d) else []
    return sorted(int(m.group(1)) for m in map(_MANIFEST_RE.match, names) if m)


def read_manifest(root: str, it: int) -> dict | None:
    """Iteration ``it``'s manifest, or None when there is none."""
    try:
        with open(manifest_path(root, it)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


class Checkpointer:
    """Manifest writer over the parquet delta-snapshot layout.

    The crawl loop writes the state tables (fresh/consumed/seen_extra/
    downloads and the fetched fact log as ``<root>/<table>/iter=N``
    parquet dirs, frontier compactions as ``frontier/compact=N``; older
    checkpoints also hold ``errors/iter=N``, which their manifests list,
    and ``metrics/iter=N``, which nothing reads); this class adds one
    atomically-renamed ``manifests/iter=N.json`` per COMPLETE iteration
    holding the live state-part lists (written after that iteration's
    state dirs, so a crash mid-iteration resumes from the previous
    consistent snapshot) — the Iceberg-manifest analog. Manifests are
    never overwritten by later iterations, so each one stays a readable
    snapshot (data parts are append-only too: compaction writes NEW dirs)
    until ``crawler.timetravel.expire_snapshots`` reclaims it; the newest
    is the one a resume continues from.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def save_manifest(self, it: int, state: dict) -> None:
        """Mark iteration ``it`` complete; ``state`` is
        :meth:`CrawlState.to_manifest`."""
        payload = {"last_iter": it, "ts": time.time(), **state}
        os.makedirs(f"{self.root}/manifests", exist_ok=True)
        tmp = f"{self.root}/manifests/.iter={it}.json.tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, manifest_path(self.root, it))

    def load_manifest(self) -> dict | None:
        """The newest manifest, or None before the first checkpoint."""
        its = list_snapshots(self.root)
        return read_manifest(self.root, its[-1]) if its else None

    def last_iter(self) -> int | None:
        m = self.load_manifest()
        return None if m is None else m["last_iter"]

    def clear(self) -> None:
        """Forget every manifest, so a fresh crawl into a reused root
        serves none of the earlier crawl's snapshots (older versions also
        kept the newest one as ``_MANIFEST.json``)."""
        shutil.rmtree(f"{self.root}/manifests", ignore_errors=True)
        if os.path.exists(f"{self.root}/_MANIFEST.json"):
            os.remove(f"{self.root}/_MANIFEST.json")


_FETCHED_SCHEMA = (
    FRONTIER_SCHEMA + ", status int, rank int, target_url string, iter int"
)
#: the fact log ``fetched/iter=N``: every consumed row (module docstring);
#: a ``fetched`` dir of an older checkpoint holds successes only and
#: reads with ``reason`` NULL
_LOG_SCHEMA = _FETCHED_SCHEMA + ", reason string"
_RETRY = "retry"  # the log reason of a row that comes back as a retry


def _read(spark: SparkSession, schema: str | StructType, paths: list[str]) -> DataFrame:
    """Parquet ``paths`` under an explicit schema (no schema-inference
    job; an iteration dir may hold no part files; a narrower schema is a
    column-pruned read), or an empty frame when there are none."""
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def _write_state(df: DataFrame, path: str) -> None:
    """Write ``df`` as the parquet state dir ``path``, replacing it.
    Every state-dir write goes through here; the one other state write
    is the bucketed-seen catalog table (:func:`_write_seen_table`)."""
    df.write.mode("overwrite").parquet(path)


def _rows(path: str) -> int:
    """Row count of the state dir ``path``, summed on the driver from its
    part files' parquet footers, so it runs no Spark job (an
    ``Observation`` would not do: it never fires on a zero-task write)."""
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
    )


@dataclass(kw_only=True)
class CrawlState:
    """Everything one crawl iteration hands the next.

    Every field is a checkpoint-manifest key, in manifest order: the
    live part lists of the delta tables (module docstring), the frontier
    size, and the bucketed compact of ``seen`` under ``bucketed_seen``
    (catalog name, the bucket count its files were written with, and
    its path).

    Cross-iteration state lives in parquet, NOT in checkpointed RDDs.
    Spark 4's ``localCheckpoint`` copies the pre-checkpoint plan's
    statistics onto the truncated node
    (``LogicalRDD.rewriteStatsAndConstraints``), so size estimates
    compound multiplicatively across iterations until the driver stalls
    multiplying million-digit BigIntegers (observed via jstack; iteration
    walls grew ~3x per iteration). Parquet round-trips reset stats to
    file-size reality and ARE the engine's table design anyway (Iceberg
    snapshots in production). ``localCheckpoint`` is still used WITHIN an
    iteration, where plans are bounded.
    """

    frontier_parts: list[str]
    consumed_parts: list[str]
    seen_parts: list[str]
    fetched_paths: list[str]
    #: absent from manifests written before these logs existed; no
    #: longer appended to (errors live in the fetched fact log)
    errors_paths: list[str] = field(default_factory=list)
    downloads_paths: list[str] = field(default_factory=list)
    n_frontier: int
    seen_table: str | None = None
    seen_table_buckets: int | None = None
    seen_table_path: str | None = None

    @classmethod
    def from_manifest(cls, m: dict) -> CrawlState:
        return cls(**{k: m[k] for k in _MANIFEST_KEYS if k in m})

    def to_manifest(self) -> dict:
        return {k: getattr(self, k) for k in _MANIFEST_KEYS}

    def paths(self) -> list[str]:
        """Every parquet dir this state references."""
        lists = [k for k in _MANIFEST_KEYS if k.endswith(("_parts", "_paths"))]
        table = [self.seen_table_path] if self.seen_table_path else []
        return [p for k in lists for p in getattr(self, k)] + table

    def frontier(self, spark: SparkSession) -> DataFrame:
        """The live frontier: its parts anti-joined against the consumed
        batch identities."""
        fr = _read(spark, FRONTIER_SCHEMA, self.frontier_parts)
        if self.consumed_parts:
            cons = _read(spark, "identity string", self.consumed_parts)
            fr = fr.join(cons, "identity", "left_anti")
        return fr

    def fetched(self, spark: SparkSession) -> DataFrame:
        """The fact log's success view: every fetched 2xx row (media
        included) of its listed iterations, in ``_FETCHED_SCHEMA``."""
        log = _read(spark, _LOG_SCHEMA, self.fetched_paths)
        return log.filter(F.col("reason").isNull() & _status_ok()).drop("reason")

    def errors(self, spark: SparkSession) -> DataFrame:
        """The fact log's error view, the failing.log analog
        (``ERRORS_SCHEMA``), plus the ``errors`` dirs that checkpoints
        written before the single fact log listed."""
        errs = (
            _read(spark, _LOG_SCHEMA, self.fetched_paths)
            .filter(F.col("reason") != _RETRY)  # NULL (success) drops too
            .select(*_ERROR_COLS)
        )
        if self.errors_paths:
            errs = _read(spark, ERRORS_SCHEMA, self.errors_paths).unionByName(errs)
        return errs

    def seen(self, spark: SparkSession) -> DataFrame:
        """Every seen identity (1 column). The bucketed compact is read by
        PATH, so a snapshot whose table name the crawl has since dropped
        (metadata only — the table is external) still reads."""
        table = [self.seen_table_path] if self.seen_table_path else []
        return _read(spark, "identity string", table + self.seen_parts)


_MANIFEST_KEYS = [f.name for f in fields(CrawlState)]


@dataclass
class _Ctx:
    """What the phases of one ``crawl()`` call share and never change."""

    spark: SparkSession
    cfg: CrawlConfig
    root: str
    ckpt: Checkpointer
    fetcher: object
    #: the pinned per-host robots rule table (:func:`_robot_rules`)
    robots: DataFrame | None
    #: the pinned (host, crawl_delay_ms) table
    host_delays: DataFrame | None
    processor: object


def _write_seen_table(
    ctx: _Ctx, state: CrawlState, seen: DataFrame, version: int
) -> None:
    """Fold ``seen`` (every identity) into a NEW bucketed catalog table,
    emptying the seen deltas. The superseded table's name is dropped;
    the table is external, so its files stay for time travel."""
    cfg = ctx.cfg
    name = f"seen_{hashlib.md5(ctx.root.encode()).hexdigest()[:10]}_v{version}"
    path = f"{ctx.root}/seen_bucketed/v={version}"
    (
        seen.select("identity")
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(cfg.seen_buckets, "identity")
        .sortBy("identity")
        .option("path", path)
        .saveAsTable(name)
    )
    old = state.seen_table
    state.seen_table, state.seen_table_buckets, state.seen_table_path = (
        name, cfg.seen_buckets, path,
    )
    state.seen_parts = []
    if old is not None:
        ctx.spark.sql(f"DROP TABLE IF EXISTS {old}")


def _initial_state(ctx: _Ctx, seeds: DataFrame, resume: bool) -> tuple[CrawlState, int]:
    """The state of the last complete iteration (``resume``) or of the
    seeds, with the first iteration to run."""
    spark, cfg = ctx.spark, ctx.cfg
    if resume:
        m = ctx.ckpt.load_manifest()
        if m is None:
            raise ValueError(f"no manifest under {ctx.root}")
        state = CrawlState.from_manifest(m)
        if state.seen_table is not None:
            # the bucket count MUST be the one the files were written
            # with — re-declaring with the current cfg.seen_buckets would
            # mis-declare the layout and the bucketed anti-join would
            # silently miss seen identities (re-crawling duplicates)
            state.seen_table_buckets = int(state.seen_table_buckets or cfg.seen_buckets)
            if not spark.catalog.tableExists(state.seen_table):
                spark.sql(
                    f"CREATE TABLE {state.seen_table} (identity STRING) USING parquet "
                    f"CLUSTERED BY (identity) SORTED BY (identity) "
                    f"INTO {state.seen_table_buckets} BUCKETS "
                    f"LOCATION '{state.seen_table_path}'"
                )
        return state, m["last_iter"] + 1
    ctx.ckpt.clear()
    init = f"{ctx.root}/frontier/init"
    # seeds_to_frontier may scan the seeds more than once
    seeds = seeds.persist()
    try:
        _write_state(seeds_to_frontier(seeds), init)
    finally:
        seeds.unpersist()
    state = CrawlState(
        frontier_parts=[init], consumed_parts=[], seen_parts=[init], fetched_paths=[],
        n_frontier=_rows(init),
    )
    if cfg.bucketed_seen:
        _write_seen_table(ctx, state, _read(spark, "identity string", [init]), 0)
    return state, 0


# ------------------------------------------------------------------ phases


def _phase_backoff(ctx: _Ctx, state: CrawlState) -> DataFrame | None:
    """Opt-in adaptive backoff: per-host budget multipliers from the
    PREVIOUS iteration's fetch statuses (column-pruned host+status
    reads); None when off. The one-iteration window keeps the control
    loop self-correcting (see ``CrawlConfig.adaptive_backoff``)."""
    # the last fact log holds every status the last iteration saw,
    # 503s that come back as retries included
    logs = state.fetched_paths[-1:]
    if not ctx.cfg.adaptive_backoff or not logs:
        return None
    # an older checkpoint's log held successes only, with that
    # iteration's failures in a separate errors dir of the same name
    name = os.path.basename(logs[0])
    logs += [p for p in state.errors_paths[-1:] if os.path.basename(p) == name]
    # robots-denied rows log status NULL and were never SENT — counting
    # them dilutes the throttle rate and can suppress a deserved cooldown
    sent = _read(ctx.spark, "host string, status int", logs).filter(
        F.col("status").isNotNull()
    )
    return F.broadcast(
        adaptive_backoff(
            sent, min_observations=ctx.cfg.backoff_min_observations
        ).select("host", "multiplier", "cooldown")
    )


def _with_budget(ctx: _Ctx, frontier: DataFrame, backoff) -> DataFrame:
    """Add the per-host poll budget column ``__budget`` when budgets
    differ by host: robots crawl delays (k = ⌈iter_wall/delay⌉, the
    reference's SleepTime made per-host, capped by ``per_host_limit``)
    and/or backoff, which shrinks them. Otherwise the frontier comes
    back as is and the batch uses the literal ``per_host_limit``."""
    cfg = ctx.cfg
    if ctx.host_delays is not None:
        budget = politeness_budget(
            cfg.iter_wall_ms, F.coalesce(F.col("crawl_delay_ms"), F.lit(0))
        )
        if cfg.per_host_limit is not None:
            budget = F.least(budget, F.lit(cfg.per_host_limit))
        frontier = (
            frontier.join(F.broadcast(ctx.host_delays), "host", "left")
            .withColumn("__budget", budget)
            .drop("crawl_delay_ms")
        )
    elif backoff is not None:
        frontier = frontier.withColumn("__budget", F.lit(cfg.per_host_limit))
    else:
        return frontier
    return _apply_backoff(frontier, backoff)


def _phase_rank(
    ctx: _Ctx, state: CrawlState, it: int, frontier: DataFrame, backoff
) -> tuple[DataFrame, int]:
    """Select this iteration's batch, flag each row's robots verdict
    (``__allowed``) and persist it as the consumed delta in ONE job: the
    parquet write is the checkpoint (the batch is re-read from it,
    truncating the rank plan), its identity column IS the consumed
    anti-join part, and the stored verdict is what the robots phase and
    the fact log read, so the rules are joined once per iteration.
    O(batch) I/O; the frontier is NOT rewritten. Returns the batch and
    its size."""
    cfg = ctx.cfg
    if cfg.global_limit is not None:
        # exact reference poll order — ONE global window; test scale only
        w = Window.orderBy(*poll_order(cfg.dfs, cfg.priority_first), F.col("url").asc())
        batch = (
            frontier.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= cfg.global_limit)
            .withColumn("__block", F.col("rank"))
        )
    else:
        fr = _with_budget(ctx, frontier, backoff)
        if "__budget" in fr.columns:
            limit = {"budget_col": "__budget"}
        else:
            limit = {"per_host_limit": cfg.per_host_limit}
        batch = _with_block(
            select_fetch_batch(
                fr, dfs=cfg.dfs, priority_first=cfg.priority_first, **limit
            )
            .withColumnRenamed("host_rank", "rank")
            .drop("__budget")
        )
    if ctx.robots is not None:
        batch = _robots_flag(batch, ctx.robots)
    path = f"{ctx.root}/consumed/iter={it}"
    _write_state(batch, path)
    state.consumed_parts.append(path)
    return _read(ctx.spark, batch.schema, [path]), _rows(path)


def _phase_robots(batch: DataFrame) -> tuple[DataFrame, DataFrame | None]:
    """(allowed, denied or None without robots rules): a filter on the
    verdict the rank phase stored. Denied rows are consumed, not
    fetched, and logged as ``robots_denied``."""
    if "__allowed" not in batch.columns:
        return batch, None
    ok = F.col("__allowed")
    return batch.filter(ok).drop("__allowed"), batch.filter(~ok).drop("__allowed")


def _phase_fetch(ctx: _Ctx, allowed: DataFrame) -> tuple[DataFrame, bool]:
    """Fetch via the pluggable fetcher (corpus-join replay or mapInPandas
    HTTP per host-partition), checkpointed because later phases re-read
    it. Also says whether the fetcher can redirect (emits ``target_url``);
    when it cannot, the redirect phase (a count job and maybe a delta
    write) is skipped."""
    fetched = ctx.fetcher.fetch(allowed)
    redirects = "target_url" in fetched.columns
    if not redirects:
        fetched = fetched.withColumn("target_url", F.col("url"))
    return fetched.localCheckpoint(eager=True), redirects


def _phase_redirects(ctx: _Ctx, state: CrawlState, it: int, fetched: DataFrame) -> None:
    """Post-redirect dedup (page.TargetUrl, Downloader.cs:211-220):
    successful fetches that landed elsewhere mark the FINAL url's
    identity seen — a virgin GET with the metadata the row's children
    would inherit — so later links to it are not fetched twice. Runs
    before this iteration's dedup (children may already link to it)."""
    redirected = fetched.filter(_status_ok() & (F.col("target_url") != F.col("url")))
    if "redirect_hops" in fetched.columns:
        # multi-hop chains: EVERY visited hop (intermediates + final) is
        # marked seen, so a later link to any point of the chain is a
        # dup (Downloader.cs:57-64 follows the whole chain in one request)
        redirected = redirected.select(
            F.explode("redirect_hops").alias("target_url"),
            "referer", "origin", "headers",
        )
    extra = redirected.select(
        _identity(
            url=F.col("target_url"), method=F.lit("GET"),
            content=F.lit(None).cast("string"), retried=F.lit(0),
        ).alias("identity")
    ).distinct()
    path = f"{ctx.root}/seen_extra/iter={it}"
    _write_state(extra, path)
    if _rows(path) > 0:
        state.seen_parts.append(path)


def _phase_media(
    ctx: _Ctx, state: CrawlState, it: int, fetched: DataFrame
) -> tuple[DataFrame, DataFrame | None]:
    """(successes to parse, media successes or None). Media-type file
    gate (HttpClientDownloader.cs:130-140): successes whose Content-Type
    marks a FILE payload are never decoded, parsed or extracted.
    ``download_files`` stores them under downloads/iter=N with the
    reference's host+path file_path (Downloader.cs:390-395; its "file
    already exists" skip is the upstream identity dedup); otherwise (the
    DownloadFiles default) they are ignored. Either way they remain
    fetched successes and yield no children."""
    success = fetched.filter(_status_ok())
    if "content_type" not in fetched.columns:
        if ctx.cfg.download_files:
            # the config asked for media downloads but this fetcher
            # cannot say what is media — completing the crawl with
            # downloads=None and no diagnostic hides real behavior
            raise ValueError(
                "download_files=True needs a fetcher that emits "
                "content_type (HttpFetcher, or CorpusFetcher with "
                "content_cols including 'content_type') — this fetcher "
                f"returned columns {fetched.columns}"
            )
        return success, None
    is_media = is_media_type(F.col("content_type"))
    media = success.filter(is_media)
    if ctx.cfg.download_files:
        path = f"{ctx.root}/downloads/iter={it}"
        downloads = media.select(
            "url", "host", "identity", "target_url", "content_type",
            *(["bytes"] if "bytes" in media.columns else []),
            download_file_path(F.col("target_url")).alias("file_path"),
        ).withColumn("iter", F.lit(it))
        _write_state(downloads, path)
        state.downloads_paths.append(path)
    return success.filter(~is_media), media


def _phase_processor(
    ctx: _Ctx, fetched: DataFrame, success: DataFrame, media: DataFrame | None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Page-processor hook (Spider.cs:1129-1163): (successes, successes
    to extract links from, outcomes). The outcomes are the fetched rows
    with the processed ones replaced by the processor's output, which
    flags its failures in ``proc_error``."""
    if ctx.processor is None:
        return success, success, fetched
    proc = ctx.processor(success).localCheckpoint(eager=True)
    outcomes = fetched.filter(~_status_ok())
    if media is not None:
        outcomes = outcomes.unionByName(media)
    outcomes = outcomes.unionByName(proc, allowMissingColumns=True)
    success = proc.filter(~F.col("proc_error"))
    linkable = success
    if ctx.cfg.skip_targets_when_result_empty:
        # SkipTargetRequestsWhenResultIsEmpty (Spider.cs:397,1155)
        linkable = success.filter(F.col("n_results") > 0)
    return success, linkable, outcomes


def _proc_failed(outcomes: DataFrame) -> Column:
    """Whether an outcome row is a processor failure."""
    if "proc_error" not in outcomes.columns:
        return F.lit(False)
    return F.coalesce(F.col("proc_error"), F.lit(False))


def _phase_retries(ctx: _Ctx, outcomes: DataFrame, iter_base: Column) -> DataFrame:
    """Transient fetches (5xx) and processor failures within the retry
    budget come back with retried+1, i.e. a NEW identity."""
    failed = (F.col("status") >= 500) | _proc_failed(outcomes)
    src = outcomes.filter(failed & (F.col("retried") < ctx.cfg.cycle_retry_times))
    return src.select(
        "url", "host", "method", "referer", "origin", "content", "headers",
        "priority", "depth",
        (F.col("retried") + 1).alias("retried"),
        (iter_base + F.col("__block") * (1 << _POS_BITS)).cast("long").alias("seq"),
    ).withColumn("identity", _identity())


def _phase_discover(
    ctx: _Ctx, linkable: DataFrame, iter_base: Column
) -> tuple[DataFrame, int, DataFrame | None]:
    """Child requests of the successes, then the opt-in trap guard, which
    drops the children of hosts whose discovered-URL/template ratio
    exploded in this batch. Returns (children, number of trap hosts, the
    persisted children to release once the fresh delta is written)."""
    cfg = ctx.cfg
    children = _discover_children(linkable, cfg, iter_base)
    if not cfg.trap_guard:
        return children, 0, None
    # persist: the guard's profile aggregate is an extra action over the
    # parse-UDF lineage, which must not re-extract every page's links
    children = cached = children.persist()
    # flagged hosts are tiny by construction (hosts flagged THIS batch);
    # collecting them lets the drop be a literal filter — no second
    # evaluation of the profile aggregate on the anti-join's build side
    flagged = [
        r.host
        for r in trap_detection(
            children, min_urls=cfg.trap_min_urls, max_ratio=cfg.trap_max_ratio,
            host_col="host",
        )
        .filter(F.col("trap"))
        .select("host")
        .collect()
    ]
    if flagged:
        # NULL-safe: `~NULL.isin(...)` is NULL under 3VL and a bare
        # filter would silently drop unparseable-host children (the
        # try_parse_url degradation path) any iteration the guard fires
        children = children.filter(
            F.col("host").isNull() | ~F.col("host").isin(flagged)
        )
    return children, len(flagged), cached


def _phase_dedup(
    ctx: _Ctx, state: CrawlState, children: DataFrame, retries: DataFrame
) -> DataFrame:
    """(children ∪ retries) minus every seen identity: the fresh rows.
    The seen check is the exact ``dedup_push`` anti-join; under
    ``bucketed_seen`` the same exact set is read as recent deltas plus
    the bucketed compact."""
    spark = ctx.spark
    candidates = children.select(*_FRONTIER_COLS).unionByName(
        retries.select(*_FRONTIER_COLS)
    )
    if state.seen_table is not None:
        # LSM read path: within-batch + recent-delta dedup first (small
        # side), then anti-join the bucketed compact — the big seen side
        # is read in place, no exchange
        deltas = None
        if state.seen_parts:
            deltas = _read(spark, "identity string", state.seen_parts)
        return dedup_push(candidates, deltas).join(
            spark.table(state.seen_table).hint("merge").select("identity"),
            "identity",
            "left_anti",
        )
    return dedup_push(candidates, state.seen(spark))


def _fact_log(
    ctx: _Ctx, it: int, outcomes: DataFrame, denied: DataFrame | None
) -> DataFrame:
    """Iteration ``it``'s fact log (``_LOG_SCHEMA``): every outcome row
    with its ``reason`` — NULL on a success, ``retry`` on a row that
    comes back as a retry, else the failing.log reason (Spider.cs:993-994:
    missing / retries exhausted / unclassified status / processor
    exception) — and every robots-denied row, status NULL."""
    status, crt = F.col("status"), ctx.cfg.cycle_retry_times
    exhausted = F.col("retried") >= crt
    reason = (
        F.when(
            _proc_failed(outcomes),
            F.when(exhausted, F.lit("processor_exception")).otherwise(F.lit(_RETRY)),
        )
        .when(status == 404, F.lit("missing"))
        .when(
            status >= 500,
            F.when(exhausted, F.lit("retries_exhausted")).otherwise(F.lit(_RETRY)),
        )
        .when(~_status_ok(), F.concat(F.lit("http_"), status.cast("string")))
    )
    cols = [*_FRONTIER_COLS, "status", "rank", "target_url"]
    log = outcomes.select(*cols, reason.alias("reason"))
    if denied is not None:
        log = log.unionByName(
            denied.select(
                *_FRONTIER_COLS,
                F.lit(None).cast("int").alias("status"),
                "rank",
                F.lit(None).cast("string").alias("target_url"),
                F.lit("robots_denied").alias("reason"),
            )
        )
    return log.select(*cols, F.lit(it).alias("iter"), "reason")


def _phase_write(
    ctx: _Ctx, state: CrawlState, it: int, fresh: DataFrame,
    trap_cached: DataFrame | None, log: DataFrame, n_consumed: int,
) -> tuple[int, dict]:
    """Persist the fresh delta and append it to the frontier and seen,
    then persist the fact log, observing the iteration's scalar metrics
    on that same write. Each write IS the materialization (one job).
    Returns the fresh row count and the scalars."""
    root = ctx.root
    path = f"{root}/fresh/iter={it}"
    _write_state(fresh, path)
    n_fresh = _rows(path)
    if trap_cached is not None:  # parse lineage materialized; release
        trap_cached.unpersist()
    if n_fresh > 0:
        state.frontier_parts.append(path)
        state.seen_parts.append(path)
    status = F.col("status")
    sent = ~F.col("reason").eqNullSafe("robots_denied")
    obs = Observation(f"crawl-iter-{it}")
    if n_consumed > 0:
        # a zero-row batch (every host parked by adaptive backoff) runs
        # the write as a zero-task job, so the Observation never fires
        # and .get ASSERTS instead of returning zeros — observe only
        # when there is something to observe
        log = log.observe(
            obs,
            F.sum(sent.cast("int")).alias("n_fetch"),
            F.sum(_status_ok().cast("int")).alias("n_ok"),
            F.sum((status >= 500).cast("int")).alias("n_transient"),
            F.sum((status == 404).cast("int")).alias("n_missing"),
            # distinct hosts fetched (a NULL host counts as one, as in a
            # groupBy); the set is bounded by the hosts of one batch
            (
                F.size(F.collect_set(F.when(sent, F.col("host"))))
                + F.coalesce(
                    F.max((sent & F.col("host").isNull()).cast("int")), F.lit(0)
                )
            ).alias("n_hosts"),
        )
    path = f"{root}/fetched/iter={it}"
    _write_state(log, path)
    state.fetched_paths.append(path)
    scal = obs.get if n_consumed > 0 else {}
    n_fetch, n_ok, n_tr, n_miss, n_hosts = (
        int(scal.get(k) or 0)
        for k in ("n_fetch", "n_ok", "n_transient", "n_missing", "n_hosts")
    )
    return n_fresh, {
        "n_batch": n_fetch,
        "n_ok": n_ok,
        "n_transient": n_tr,
        "n_missing": n_miss,
        # unclassified statuses (3xx/4xx≠404)
        "n_other": n_fetch - n_ok - n_tr - n_miss,
        "n_denied": n_consumed - n_fetch,
        "n_hosts": n_hosts,
    }


def _phase_compact(ctx: _Ctx, state: CrawlState, it: int) -> None:
    """Every ``compact_every`` iterations, rewrite the live frontier as
    ONE part, bounding the part lists and plan depth. Past
    ``seen_compact_parts`` seen deltas, fold those too (LSM-style
    tiering: an O(seen) rewrite amortized over >=32 iterations keeps the
    dedup anti-join a bounded-fan-in union at the 1000-iteration design
    point)."""
    cfg, spark = ctx.cfg, ctx.spark
    if (it + 1) % cfg.compact_every or state.n_frontier == 0:
        return
    path = f"{ctx.root}/frontier/compact={it}"
    _write_state(state.frontier(spark), path)
    state.frontier_parts, state.consumed_parts = [path], []
    if len(state.seen_parts) <= cfg.seen_compact_parts:
        return
    if cfg.bucketed_seen:
        _write_seen_table(ctx, state, state.seen(spark), it)
    else:
        path = f"{ctx.root}/seen/compact={it}"
        _write_state(state.seen(spark), path)
        state.seen_parts = [path]


def _phase_checkpoint(ctx: _Ctx, state: CrawlState, it: int) -> None:
    """Mark iteration ``it`` complete: written after all its state dirs,
    so a crash mid-iteration resumes from the previous snapshot."""
    ctx.ckpt.save_manifest(it, state.to_manifest())


def _step(ctx: _Ctx, state: CrawlState, it: int) -> tuple[CrawlState, dict]:
    """Iteration ``it``: every phase, in order. Advances ``state`` in
    place and returns it with the iteration's metrics row."""
    t0 = time.monotonic()
    n_start = state.n_frontier
    iter_base = F.lit((it + 1) << _ITER_SHIFT)
    frontier = state.frontier(ctx.spark)
    backoff = _phase_backoff(ctx, state)
    batch, n_consumed = _phase_rank(ctx, state, it, frontier, backoff)
    allowed, denied = _phase_robots(batch)
    fetched, redirects = _phase_fetch(ctx, allowed)
    if redirects:
        _phase_redirects(ctx, state, it, fetched)
    success, media = _phase_media(ctx, state, it, fetched)
    success, linkable, outcomes = _phase_processor(ctx, fetched, success, media)
    retries = _phase_retries(ctx, outcomes, iter_base)
    children, n_trap_hosts, trap_cached = _phase_discover(ctx, linkable, iter_base)
    fresh = _phase_dedup(ctx, state, children, retries)
    n_fresh, scalars = _phase_write(
        ctx, state, it, fresh, trap_cached, _fact_log(ctx, it, outcomes, denied),
        n_consumed,
    )
    state.n_frontier += n_fresh - n_consumed
    row = {
        "iter": it,
        "n_frontier": n_start,
        **scalars,
        "n_new": n_fresh,
        "n_trap_hosts": n_trap_hosts,
        "wall_ms": int((time.monotonic() - t0) * 1000),
    }
    _phase_compact(ctx, state, it)
    _phase_checkpoint(ctx, state, it)
    return state, row


def crawl(
    spark: SparkSession,
    corpus: DataFrame | None,
    seeds: DataFrame,
    cfg: CrawlConfig | None = None,
    robots: DataFrame | None = None,
    host_delays: DataFrame | None = None,
    resume: bool = False,
    processor=None,
    fetcher=None,
) -> CrawlRunResult:
    """Run the crawl to frontier exhaustion (or max_iterations).

    ``fetcher``: optional fetch stage (sources.fetchers protocol: a
    ``fetch(batch) -> DataFrame`` adding ``status``/``html`` and
    optionally ``target_url``/``content_type``/``encoding``/``bytes``).
    Default: ``CorpusFetcher(corpus)`` — offline replay;
    ``HttpFetcher(transport_factory)`` is the live mapInPandas HTTP stage
    (Downloader.cs:57-64 mapping). After a redirect, links resolve
    against ``target_url`` and the final URL counts as seen.

    ``host_delays``: optional (host, crawl_delay_ms) table — per-host
    politeness budgets k=⌈iter_wall/delay⌉ (the reference's SleepTime
    made per-host, SURVEY §2.2); hosts without a row are capped only by
    ``per_host_limit``. Broadcast-joined (config-sized table).

    ``processor``: optional ``Callable[[DataFrame], DataFrame]`` — given
    the success rows (frontier cols + ``html``), must return them with
    two added columns: ``n_results int`` (items the page processor
    yielded) and ``proc_error boolean`` (processor threw). Mirrors the
    reference's page-processor hook (Spider.cs:1129-1163):
    ``proc_error`` rows cycle-retry with retried+1 ⇒ new identity (like
    a transient fetch) and land in the errors table once retries are
    exhausted; ``n_results == 0`` rows skip target-link extraction when
    ``cfg.skip_targets_when_result_empty`` (SpiderTest.cs:162-174).

    State (:class:`CrawlState`, module docstring) lives under
    ``cfg.checkpoint_dir`` (or a temp dir); ``resume=True`` continues
    from its last complete iteration.
    """
    cfg = cfg or CrawlConfig()
    if cfg.adaptive_backoff and (
        cfg.global_limit is not None
        or (cfg.per_host_limit is None and host_delays is None)
    ):
        # in these modes no budget column exists for the multiplier to
        # shrink — backoff would silently be inert while still paying
        # the per-iteration log read + aggregate; failing loudly beats
        # a 100%-throttling host being polled at full rate unwarned
        raise ValueError(
            "adaptive_backoff needs a per-host budget to act on: set "
            "per_host_limit (or pass host_delays) and do not combine "
            "with global_limit"
        )
    if fetcher is None:
        if corpus is None:
            # fail fast with configuration context — CorpusFetcher(None)
            # would otherwise crash mid-iteration with a bare
            # AttributeError after the seed write already ran
            raise ValueError(
                "crawl() needs a corpus DataFrame or an explicit fetcher "
                "(no ambient network in this engine)"
            )
        fetcher = CorpusFetcher(corpus)  # projects (url, status, html) only
    root = cfg.checkpoint_dir or tempfile.mkdtemp(prefix="spark-crawl-state-")
    # the static inputs, persisted for this call: the first iteration
    # materializes them and every later one reads them from memory instead
    # of re-running their lineage (a Python-RDD scan of a createDataFrame
    # list, a mapInPandas robots parse). Both are broadcast sides, read
    # whole on every use, so each is kept as one partition (one task)
    rules = delays = None
    if robots is not None:
        rules = _robot_rules(robots).coalesce(1).persist()
    if host_delays is not None:
        delays = host_delays.select("host", "crawl_delay_ms").coalesce(1).persist()
    try:
        ctx = _Ctx(
            spark=spark, cfg=cfg, root=root, ckpt=Checkpointer(spark, root),
            fetcher=fetcher, robots=rules, host_delays=delays,
            processor=processor,
        )
        state, start_iter = _initial_state(ctx, seeds, resume)
        metrics: list[dict] = []
        it = start_iter
        while it < cfg.max_iterations and state.n_frontier > 0:
            state, row = _step(ctx, state, it)
            _log.info("crawl %s", row)
            metrics.append(row)
            it += 1
    finally:
        for df in (rules, delays):
            if df is not None:
                df.unpersist()
    return CrawlRunResult(
        fetched=state.fetched(spark),
        seen=state.seen(spark),
        frontier=(
            state.frontier(spark)
            if state.n_frontier
            else spark.createDataFrame([], FRONTIER_SCHEMA)
        ),
        errors=state.errors(spark),
        downloads=(
            spark.read.parquet(*state.downloads_paths)
            if state.downloads_paths
            else None
        ),
        metrics=metrics,
        iterations=it - start_iter,
    )
