"""Frontier scheduling operators — the core of the engine.

Re-expresses the reference's scheduler stack as DataFrame programs:

- ``DuplicateRemovedScheduler.Push`` (DuplicateRemovedScheduler.cs:81-98):
  dedup-then-enqueue -> within-batch ``dropDuplicates('identity')`` + a
  left-anti join against the ``seen`` table.
- ``QueueDuplicateRemovedScheduler.Poll`` (QueueDuplicateRemovedScheduler
  .cs:57-91): DFS pops the most recently pushed (LIFO), BFS the oldest
  (FIFO) -> ``row_number()`` over a window ordered by the monotone push
  sequence ``seq`` (desc for DFS, asc for BFS).
- politeness: the reference sleeps ``SleepTime`` (default 100 ms) per
  worker thread after every request (Spider.cs:181,805). In BSP terms an
  iteration of wall-budget W ms may fetch at most
  ``k = ceil(W / delay_ms(host))`` URLs from one host -> per-host top-k.
- hot-host skew (north rule): rank within salted sub-groups first, then a
  cheap exact re-rank of the small per-host survivor set, so one Zipf-hot
  host never serializes a single task.

Every request carries a total-order key ``seq`` (assigned at creation,
monotone in push order: seeds get seed index, children get
``(iter << 40) | (parent_rank << 20) | link_index``-style encodings from
the crawl loop). Single-threaded reference order is exactly: BFS =
ascending seq; DFS = descending seq among pushed-so-far (SURVEY §7.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def dedup_push(
    candidates: DataFrame,
    seen: DataFrame | None,
    identity_col: str = "identity",
) -> DataFrame:
    """Push semantics of DuplicateRemovedScheduler.cs:81-98.

    Within the batch, the FIRST push of an identity wins (the reference
    processes pushes in order; later duplicates are dropped) — implemented
    as min-seq-per-identity rather than dropDuplicates so the surviving
    row is deterministic. Across batches, a left-anti join against the
    accumulated ``seen`` identities drops anything already crawled.

    Scale note: both sides shuffle on ``identity`` only (narrow key); the
    anti-join never touches payload columns, and at 10^10 rows the seen
    side is pre-bucketed by identity so AQE plans a shuffle-free probe of
    matching buckets. This anti-join is the crawl loop's only seen
    check: a bloom prefilter (operators.bloom) in front of it measured
    slower at every seen size tried, because the rows it cannot rule
    out still need this O(seen) join.

    First-per-key is a ``min_by`` aggregation, not a window: aggregation
    gets a map-side partial combine (each task pre-reduces its duplicates
    before the exchange) and skips the per-partition sort a
    ``row_number()`` window would force — measurably better scaling on
    wide candidate batches.
    """
    others = [c for c in candidates.columns if c != identity_col]
    first = (
        candidates.groupBy(identity_col)
        .agg(F.min_by(F.struct(*others), F.col("seq")).alias("__r"))
        .select(identity_col, "__r.*")
        .select(*candidates.columns)
    )
    if seen is None:
        return first
    # no .distinct() on the seen side: left-anti only tests existence,
    # so right-side duplicates cannot change the output — and distinct
    # would force a full shuffle+aggregate of the ENTIRE accumulated
    # seen set every iteration (O(seen) work the 10^10-row design point
    # forbids)
    return first.join(
        seen.select(F.col(identity_col)), on=identity_col, how="left_anti"
    )


def push_all(candidates: DataFrame) -> DataFrame:
    """``QueueScheduler`` push: NO dedup at all — the reference installs a
    FakeDuplicateRemover whose IsDuplicate always returns false and only
    counts pushes (QueueScheduler.cs:11-34), so every request (duplicates
    included) enqueues. The total-pushed counter is ``.count()`` on the
    result; ResetDuplicateCheck throws in the reference and has no analog
    here (there is no dedup state to reset)."""
    return candidates


def poll_order(dfs: bool = True, priority_first: bool = False) -> list[Column]:
    """LIFO/FIFO ordering key (QueueDuplicateRemovedScheduler.cs:57-91);
    default traverse strategy is DFS (DuplicateRemovedScheduler.cs:75).

    ``priority_first`` prepends ``priority desc`` — the reference stores
    ``Page.Priority`` (Page.cs:9) but never orders on it; its Broker DB
    design does (DistributeDesign.md:149-161), so the engine exposes it
    as an opt-in while the default stays reference-faithful (seq only)."""
    seq = [F.col("seq").desc()] if dfs else [F.col("seq").asc()]
    return [F.col("priority").desc()] + seq if priority_first else seq


def politeness_budget(iter_wall_ms: Column | int, delay_ms: Column) -> Column:
    """Max same-host fetches in one iteration: ceil(wall / delay); a host
    with delay 0 is uncapped (reference's global SleepTime analog,
    Spider.cs:181,805 -> per-host per-iteration budget, SURVEY §2.2)."""
    wall = F.lit(iter_wall_ms) if isinstance(iter_wall_ms, int) else iter_wall_ms
    return F.when(delay_ms <= 0, F.lit(2_147_483_647)).otherwise(
        F.ceil(wall / delay_ms).cast("int")
    )


def select_fetch_batch(
    frontier: DataFrame,
    dfs: bool = True,
    per_host_limit: int | None = None,
    budget_col: str | None = None,
    salt_buckets: int = 16,
    priority_first: bool = False,
) -> DataFrame:
    """One iteration's fetch batch: per-host top-k in DFS/BFS order.

    Two-level rank to survive Zipf-hot hosts (north rule): rank first
    inside ``(host, salt)`` sub-groups (salt = xxhash64(url) mod
    salt_buckets) and keep only k-per-subgroup survivors, THEN
    exact-rank the <= k*buckets survivors per host. Result is identical
    to a direct per-host rank (proof: the true per-host top-k is
    contained in the union of per-salt top-k), but the expensive first
    pass parallelizes across salt buckets. Salting is UNCONDITIONAL —
    deciding per-host whether to salt would itself cost a counting pass
    over the frontier, and on uniform hosts the extra narrow window adds
    only a second local sort of already-k-bounded groups.

    ``budget_col``: optional per-row int column (from politeness_budget)
    used as the host's k; else ``per_host_limit``; else unlimited order
    only.
    """
    order = poll_order(dfs, priority_first)
    k_expr = (
        F.col(budget_col)
        if budget_col
        else (F.lit(per_host_limit) if per_host_limit is not None else None)
    )
    if k_expr is None:
        w = Window.partitionBy("host").orderBy(*order)
        return frontier.withColumn("host_rank", F.row_number().over(w))

    cheap_k = per_host_limit if per_host_limit is not None else None
    salted = frontier.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets))
    )
    w_salt = Window.partitionBy("host", "__salt").orderBy(*order)
    pre = (
        salted.withColumn("__srn", F.row_number().over(w_salt))
        .filter(F.col("__srn") <= (k_expr if cheap_k is None else F.lit(cheap_k)))
        .drop("__srn", "__salt")
    )
    w_host = Window.partitionBy("host").orderBy(*order)
    return (
        pre.withColumn("host_rank", F.row_number().over(w_host))
        .filter(F.col("host_rank") <= k_expr)
    )


def revisit_schedule(
    history: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    hash_col: str = "content_hash",
    seq_col: str | None = None,
    min_interval_s: int = 3600,
    max_interval_s: int = 7 * 86400,
) -> DataFrame:
    """Adaptive recrawl scheduling (Cho & Garcia-Molina's change-driven
    revisit policy, public): per URL, the next fetch interval doubles
    for every consecutive fetch that observed NO content change and
    resets to ``min_interval_s`` on a change, clamped to
    [min_interval_s, max_interval_s]. The reference crawls once
    (frontier rows are consumed); a continuous-crawl deployment feeds
    this table back in as seed priorities.

    Input: fetch history rows (url, ts, content_hash[, seq]); ``seq``
    breaks equal-timestamp ties deterministically. Output one row per
    URL: (url, n_fetches, n_changes, unchanged_streak, next_interval_s).

    Shape: one url-keyed window (change flags + reverse row number) and
    one url-keyed aggregation — both partition-parallel on the url key;
    no global window, nothing driver-side. unchanged_streak counts the
    TRAILING no-change observations: min reverse-rank among changed
    rows - 1, or n_fetches - 1 when the content never changed (the
    first fetch has no baseline and is not an observation).
    """
    order = [F.col(ts_col).asc()] + (
        [F.col(seq_col).asc()] if seq_col else []
    )
    w = Window.partitionBy(url_col).orderBy(*order)
    w_desc = Window.partitionBy(url_col).orderBy(
        *[c.desc() for c in
          ([F.col(ts_col)] + ([F.col(seq_col)] if seq_col else []))]
    )
    prev = F.lag(F.col(hash_col)).over(w)
    flags = history.select(
        F.col(url_col).alias("url"),
        F.when(prev.isNotNull(), prev != F.col(hash_col)).alias("changed"),
        F.row_number().over(w_desc).alias("rn_desc"),
    )
    streak = F.coalesce(
        F.min(F.when(F.col("changed"), F.col("rn_desc"))) - 1,
        F.count("*") - 1,
    )
    interval = F.least(
        F.lit(float(max_interval_s)),
        F.lit(float(min_interval_s)) * F.pow(F.lit(2.0), streak),
    )
    return flags.groupBy("url").agg(
        F.count("*").alias("n_fetches"),
        F.sum(F.when(F.col("changed"), 1).otherwise(0)).alias("n_changes"),
        streak.cast("bigint").alias("unchanged_streak"),
        interval.cast("bigint").alias("next_interval_s"),
    )


def crawl_delta(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    digest_col: str = "digest",
) -> DataFrame:
    """Snapshot diff between two crawls of the same corpus — the
    incremental-crawl primitive (Cho & Garcia-Molina's evolution
    experiments; operationally the Internet Archive's CDX revisit
    records): classify every URL as ``added`` (new crawl only),
    ``removed`` (old crawl only), ``changed`` (both, digest differs)
    or ``unchanged``. Downstream, ``added`` + ``changed`` is the
    re-process set (only those pages re-enter extraction/curation) and
    the per-host change rate feeds :func:`revisit_schedule`.

    Shape: ONE full-outer equi-join keyed on url — both sides shuffle
    on the url key, partition-parallel, no skew concern (urls are
    unique per snapshot by contract; duplicate urls within a snapshot
    should be collapsed upstream by the seen-set). Digest columns ride
    along for audit. Returns (url, status, old_digest, new_digest).
    """
    o = old.select(
        F.col(url_col).alias("url"), F.col(digest_col).alias("old_digest")
    )
    nw = new.select(
        F.col(url_col).alias("url"), F.col(digest_col).alias("new_digest")
    )
    joined = o.join(nw, "url", "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select("url", status.alias("status"), "old_digest", "new_digest")


def crawl_delay_report(
    frontier: DataFrame,
    delays: DataFrame,
    host_col: str = "host",
    delay_col: str = "crawl_delay_ms",
    floor_ms: int = 200,
) -> DataFrame:
    """Per-host frontier drain forecast under the politeness budget.

    The reference serializes same-host fetches behind ``SleepTime``
    (Spider.cs; SURVEY §2.2) and exits on ``EmptySleepTime`` — so the
    wall-clock to drain a host's queue is ``pending * effective_delay``
    regardless of cluster size. This report surfaces that per-host
    ceiling BEFORE the crawl burns iterations on it: hosts whose
    drain time dominates get demoted or sharded by the operator
    (robots permitting) instead of discovered-the-slow-way.

    ``frontier``: one row per pending URL carrying ``host_col``.
    ``delays``: per-host robots ``Crawl-delay`` (ms); hosts absent or
    below ``floor_ms`` get the floor (the engine's SleepTime analog).

    Shape: one host-keyed partial-agg count over the frontier, then a
    broadcast join against the delays side (|hosts with robots rules|
    << |frontier|). No windows, no driver state. Returns
    (host, n_pending, effective_delay_ms, drain_s) — drain_s rounded
    to 6 so the verdict is engine-portable.
    """
    pending = frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pending")
    )
    d = delays.select(
        F.col(host_col).alias("host"),
        F.col(delay_col).cast("long").alias("__delay"),
    )
    eff = F.greatest(
        F.coalesce(F.col("__delay"), F.lit(floor_ms)), F.lit(floor_ms)
    ).cast("long")
    return (
        pending.join(F.broadcast(d), "host", "left")
        .select(
            "host",
            "n_pending",
            eff.alias("effective_delay_ms"),
            F.round(
                F.col("n_pending") * eff / F.lit(1000.0), 6
            ).alias("drain_s"),
        )
    )


def adaptive_backoff(
    fetch_log: DataFrame,
    host_col: str = "host",
    status_col: str = "status",
    base_delay_ms: int = 200,
    min_observations: int = 20,
    retry_after_col: str | None = None,
) -> DataFrame:
    """Per-host adaptive politeness from observed throttle signals —
    the AIMD-style response every production crawler layers on top of
    static robots delays (Heritrix's retry-delay politics; RFC 6585
    429 + Retry-After semantics): hosts that answer with 429/503 get
    multiplicatively longer delays, hosts above a hard throttle rate
    get a cooldown flag so the scheduler parks them for an iteration.

    Deterministic rule (oracle-replayable, no floats in the verdict):
    with throttle rate r = n_throttle / n over ``min_observations``+
    fetches, the delay multiplier is 1 / 2 / 4 / 8 for
    r < 5% / < 20% / < 50% / ≥ 50%, and ``cooldown`` is set at ≥ 50%.
    Hosts with fewer than ``min_observations`` rows keep multiplier 1
    (no evidence, no punishment — they also stay out of cooldown).

    Shape: ONE partial-agg'd host groupBy over the fetch log (the map
    side reduces each partition to |hosts| rows before the exchange);
    everything after is column algebra on the host table. The output
    joins back onto the frontier as the ``delay_ms`` politeness input
    of ``select_fetch_batch`` — config-sized, so that join broadcasts.

    ``retry_after_col``: optional column of server-sent Retry-After
    delta-seconds (RFC 9110 §10.2.3 — the fetch stage emits it as
    ``retry_after_s``): the per-host MAX rides the same aggregation and
    the final delay honors whichever is longer, the multiplier delay or
    the server's explicit ask. An explicit server signal beats an
    inferred one, so it applies regardless of ``min_observations``.

    Returns (host, n_fetches, n_throttle, throttle_rate, multiplier,
    [max_retry_after_s,] delay_ms, cooldown).
    """
    throttle = F.col(status_col).isin(429, 503)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.sum(throttle.cast("long")).cast("long").alias("n_throttle"),
    ]
    if retry_after_col is not None:
        aggs.append(
            F.max(F.col(retry_after_col))
            .cast("long")
            .alias("max_retry_after_s")
        )
    per = fetch_log.groupBy(F.col(host_col).alias("host")).agg(*aggs)
    rate = F.col("n_throttle") / F.col("n_fetches").cast("double")
    enough = F.col("n_fetches") >= min_observations
    mult = (
        F.when(~enough, F.lit(1))
        .when(rate < 0.05, F.lit(1))
        .when(rate < 0.20, F.lit(2))
        .when(rate < 0.50, F.lit(4))
        .otherwise(F.lit(8))
        .cast("int")
    )
    delay = mult.cast("long") * F.lit(base_delay_ms)
    cols = [
        F.col("host"),
        F.col("n_fetches"),
        F.col("n_throttle"),
        F.round(rate, 6).alias("throttle_rate"),
        mult.alias("multiplier"),
    ]
    if retry_after_col is not None:
        cols.append(F.col("max_retry_after_s"))
        delay = F.greatest(
            delay, F.coalesce(F.col("max_retry_after_s") * 1000, F.lit(0))
        )
    cols.append(delay.alias("delay_ms"))
    cols.append((enough & (rate >= 0.50)).alias("cooldown"))
    return per.select(*cols)


def select_fetch_batch_ip(
    frontier: DataFrame,
    host_ip: DataFrame,
    per_host_limit: int = 8,
    per_ip_limit: int | None = None,
    dfs: bool = True,
    priority_first: bool = False,
    salt_buckets: int = 16,
) -> DataFrame:
    """Politeness at BOTH the vhost and the physical-server level.

    The reference budgets per host name (SleepTime per site) — but at
    web scale thousands of virtual hosts resolve to one server, and a
    per-host budget alone hammers shared infrastructure (the classic
    Mercator/Heritrix per-IP queue concern). This composes the per-host
    batch (``select_fetch_batch``, salted two-level rank) with a second
    per-IP cap over the survivors.

    ``host_ip``: (host, ip) mapping from the resolver cache. Joined
    plainly (hosts are ~10^4x fewer than frontier rows; AQE broadcasts
    when small). Unresolved hosts fall back to their own bucket —
    politeness never LOOSENS because DNS lagged.

    The IP rank reuses the salted two-level shape (salt on host hash):
    a 10^5-vhost server contributes at most per_host_limit rows per
    host into per-(ip, salt) groups, so no single window task sees the
    whole server's candidates.
    """
    order = poll_order(dfs, priority_first)
    batch = select_fetch_batch(
        frontier, dfs, per_host_limit, None, salt_buckets, priority_first
    )
    ip_col = F.coalesce(F.col("ip"), F.col("host"))
    # the resolver cache may hold several rows per host (multi-A-record
    # hosts, stale + fresh entries); joining it raw would duplicate
    # every surviving frontier row for such hosts and silently exceed
    # the per-host limit. Collapse to a deterministic one-row-per-host
    # mapping (min ip) — a tiny-table agg, AQE still broadcasts it.
    one_ip = host_ip.groupBy("host").agg(F.min("ip").alias("ip"))
    j = batch.join(one_ip, "host", "left").withColumn("ip", ip_col)
    if per_ip_limit is None:
        return j
    # seq is unique per HOST, not per IP: co-hosted vhosts can tie, and
    # row_number over a partial order is nondeterministic (and breaks
    # the salted-prefilter ≡ direct-window equivalence, which assumes a
    # total order) — extend to a total order with (host, url)
    ip_order = [*order, F.col("host").asc(), F.col("url").asc()]
    salt = F.pmod(F.xxhash64(F.col("host")), F.lit(salt_buckets))
    w_salt = Window.partitionBy(F.col("ip"), salt).orderBy(*ip_order)
    pre = (
        j.withColumn("__irn", F.row_number().over(w_salt))
        .filter(F.col("__irn") <= per_ip_limit)
        .drop("__irn")
    )
    w_ip = Window.partitionBy("ip").orderBy(*ip_order)
    return (
        pre.withColumn("ip_rank", F.row_number().over(w_ip))
        .filter(F.col("ip_rank") <= per_ip_limit)
    )


def aged_priority(
    frontier: DataFrame,
    current_iter: int,
    enqueued_col: str = "enqueued_iter",
    priority_col: str = "priority",
    aging_every: int = 4,
    max_boost: int = 100,
) -> DataFrame:
    """Starvation guard for priority-first polling: under a pure
    ``priority desc`` order a steady stream of high-priority
    discoveries can park low-priority URLs forever (the classic aging
    fix from OS schedulers, applied to crawl frontiers): effective
    priority grows by 1 every ``aging_every`` iterations a row has
    waited, capped at ``max_boost`` so ancient junk cannot outrank
    genuinely hot work by unbounded amounts.

    Pure map-side integer arithmetic (whole-stage codegen; no shuffle,
    no state): age derives from the row's enqueue iteration, which the
    engine already carries. Feed the ``eff_priority`` column into
    ``select_fetch_batch(priority_first=True)`` in place of priority.
    """
    if aging_every <= 0:
        raise ValueError("aging_every must be positive")
    boost = F.least(
        F.floor(
            (F.lit(current_iter) - F.col(enqueued_col)) / aging_every
        ).cast("int"),
        F.lit(max_boost),
    )
    return frontier.withColumn(
        "eff_priority",
        (F.col(priority_col) + F.greatest(boost, F.lit(0))).cast("int"),
    )


def robots_refetch_due(
    fetch_log: DataFrame,
    now_epoch: int,
    ttl_s: int = 24 * 3600,
    host_col: str = "host",
    ts_col: str = "fetched_at",
) -> DataFrame:
    """Which hosts' robots.txt must be refetched before their next
    batch: RFC 9309 §2.4 allows caching the rules for up to 24 hours
    (longer only when the file is unreachable), so a long-running crawl
    cannot keep using the snapshot it fetched on day one.

    Input: the robots fetch log (host, fetched_at epoch seconds —
    append-only, multiple rows per host across refetches). One
    host-keyed max() partial agg; emits (host, last_fetch, age_s, due).
    Hosts absent from the log entirely are due by definition — anti-
    join the active host list against this table's ``due = false``
    rows to get the full refetch set.
    """
    return (
        fetch_log.groupBy(F.col(host_col).alias("host"))
        .agg(F.max(F.col(ts_col)).cast("long").alias("last_fetch"))
        .withColumn(
            "age_s", (F.lit(now_epoch) - F.col("last_fetch")).cast("long")
        )
        .withColumn("due", F.col("age_s") >= ttl_s)
    )


def crawl_budget_allocation(
    host_stats: DataFrame,
    total_budget: int,
    host_col: str = "host",
    weight_cols: tuple = ("reputation", "change_rate"),
    min_per_host: int = 1,
) -> DataFrame:
    """Split a global per-iteration fetch budget across hosts by
    quality x freshness weight (the crawl-budget allocation search
    engines describe publicly: high-reputation, frequently-changing
    sites earn more fetches; junk farms starve to the floor).

    weight = product of ``weight_cols`` (composable: host_reputation's
    quality prior x crawl_delta's change rate); budget_i =
    max(min_per_host, floor(total * w_i / SUM w)). The SUM is ONE
    scalar aggregate broadcast back (same shape as the PageRank
    dangling mass) — no window over all hosts, no driver loop; feed
    the result into ``select_fetch_batch(budget_col=...)``.
    """
    w = F.lit(1.0)
    for c in weight_cols:
        w = w * F.coalesce(F.col(c).cast("double"), F.lit(0.0))
    weighted = host_stats.select(F.col(host_col).alias("host"), w.alias("__w"))
    total_w = weighted.agg(F.sum("__w").alias("tw"))
    return (
        weighted.crossJoin(F.broadcast(total_w))
        .select(
            "host",
            F.greatest(
                F.floor(
                    F.lit(total_budget) * F.col("__w")
                    / F.when(F.col("tw") > 0, F.col("tw")).otherwise(
                        F.lit(1.0)
                    )
                ).cast("int"),
                F.lit(min_per_host),
            ).alias("budget"),
        )
    )
