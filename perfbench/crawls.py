"""``drain``: ``crawler.loop.crawl`` end to end over loopback HTTP,
checked against ``pyref.oracle.crawl`` on the same generated web.

The crawl covers a closed synthetic web (``testing.datagen``)
breadth-first to ``max_depth=3`` until the frontier is empty. Its
iteration count is pinned by construction, so every seed runs the same
three iterations and per-seed figures stay comparable: iterations 0-2
fetch depths 1-3, and the transient (500) pages are seeded, so their
2-retry chain ends in iteration 2 as well. It stops after iteration 1
and finishes with ``crawl(resume=True)``.

Per-host budgets never bind (the hottest host has fewer than
``per_host_limit`` URLs in any batch, and ``iter_wall_ms`` lifts the
500 ms delay budget to that limit): a binding budget would make the
depth-limited fetch set depend on poll order, and the order-free
oracle comparison would no longer hold. The budget join still runs.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from collections import Counter
from dataclasses import asdict, dataclass, replace

from perfbench import harness


@dataclass(frozen=True)
class CrawlWorkload:
    name: str = "drain"
    n_pages: int = 400
    n_hosts: int = 4
    links_per_page: int = 8
    #: pages 0..n_seeds-1, plus every transient page so that its retry
    #: chain starts at iteration 0
    n_seeds: int = 100
    per_host_limit: int = 512
    iter_wall_ms: int = 256_000
    max_depth: int = 3
    cycle_retry_times: int = 2
    #: iterations before stopping and finishing with ``crawl(resume=True)``
    first_leg: int = 2
    #: bloom sizing for the traced replay of the bloom-pruned dedup path
    bloom_per_bucket: int = 8192
    bloom_buckets: int = 8

    def corpus(self, seed: int):
        from dotnetspider_spark.testing.datagen import CorpusConfig

        return CorpusConfig(
            n_pages=self.n_pages, n_hosts=self.n_hosts, seed=seed,
            with_payload=False, links_per_page=self.links_per_page,
        )

    def cache_dir(self, seed: int) -> str:
        tag = hashlib.md5(json.dumps(asdict(self), sort_keys=True).encode()).hexdigest()[:10]
        return os.path.join(harness.CACHE_DIR, f"{self.name}-{tag}-s{seed}")

    def crawl_config(self, checkpoint_dir: str, max_iterations: int):
        from dotnetspider_spark.crawler.loop import CrawlConfig

        return CrawlConfig(
            dfs=False, max_depth=self.max_depth,
            cycle_retry_times=self.cycle_retry_times,
            per_host_limit=self.per_host_limit, iter_wall_ms=self.iter_wall_ms,
            checkpoint_dir=checkpoint_dir, max_iterations=max_iterations,
        )


DRAIN = CrawlWorkload()


def seed_rows(w: CrawlWorkload, seed: int) -> list[dict]:
    from dotnetspider_spark.testing.datagen import page_url

    cfg = w.corpus(seed)
    step = cfg.fail_500_every
    pages = list(range(w.n_seeds)) + [i for i in range(step, w.n_pages, step) if i >= w.n_seeds]
    return [
        {"url": page_url(i, cfg), "method": "GET", "referer": None, "origin": None,
         "content": None, "headers": None, "priority": 0, "depth": 1, "retried": 0,
         "seq": n}
        for n, i in enumerate(pages)
    ]


# --------------------------------------------------------------- inputs


def _oracle_task(w: CrawlWorkload, seed: int) -> dict:
    from dotnetspider_spark.pyref import oracle

    res = oracle.crawl(
        w.corpus(seed), [oracle.Request(**r) for r in seed_rows(w, seed)],
        dfs=False, max_depth=w.max_depth, cycle_retry_times=w.cycle_retry_times,
    )
    errors = Counter(reason for _, _, reason in res.errors)
    return {
        "fetched": sorted(set(res.fetch_order)),
        "seen": sorted(res.seen),
        "errors": dict(errors),
        # every transient page is fetched once plus once per retry
        "transient": errors["retries_exhausted"] * (w.cycle_retry_times + 1),
    }


def prepare(w: CrawlWorkload, seed: int) -> dict:
    """Run the oracle once per seed, in a spawned process so the
    measured process keeps none of its memory; cached on disk. The
    corpus itself is served by ``httpd.py``, which generates it."""
    d = w.cache_dir(seed)
    done = os.path.join(d, "oracle.json")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        expected = harness.in_workers([(_oracle_task, (w, seed))])[0]
        with open(done + ".tmp", "w") as f:
            json.dump(expected, f)
        os.replace(done + ".tmp", done)
    with open(done) as f:
        exp = json.load(f)
    return {
        "fetched": set(exp["fetched"]), "seen": set(exp["seen"]),
        "errors": Counter(exp["errors"]), "transient": exp["transient"],
    }


# -------------------------------------------------------------- checking


def compare(expected: dict, got: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, notes): every oracle output is one checked
    item; a fetched URL or seen identity on one side only, an error
    count off by k, or k unpredicted transient fetches (status 599
    transport errors) count as failures."""
    notes = []
    failed = 0
    for key in ("fetched", "seen"):
        diff = expected[key] ^ got[key]
        if diff:
            notes.append(f"{key}: {len(diff)} differ, e.g. {sorted(diff)[:3]}")
        failed += len(diff)
    reasons = set(expected["errors"]) | set(got["errors"])
    err = sum(abs(expected["errors"][r] - got["errors"][r]) for r in reasons)
    if err:
        notes.append(f"errors by reason: expected {dict(expected['errors'])}, got {dict(got['errors'])}")
    failed += err
    tr = abs(expected["transient"] - got["transient"])
    if tr:
        notes.append(f"transient fetches: expected {expected['transient']}, got {got['transient']}")
    failed += tr
    attempted = (
        len(expected["fetched"]) + len(expected["seen"])
        + sum(expected["errors"].values()) + expected["transient"]
    )
    return attempted, failed, notes


def observe(result, metrics: list[dict]) -> dict:
    return {
        "fetched": {r.url for r in result.fetched.select("url").collect()},
        "seen": {r.identity for r in result.seen.select("identity").collect()},
        "errors": Counter(
            {r.reason: r["count"] for r in result.errors.groupBy("reason").count().collect()}
        ),
        "transient": sum(m["n_transient"] for m in metrics),
    }


# --------------------------------------------------------------- session


class Session:
    """One set-up: the loopback server, a Spark session and the
    registered inputs."""

    def __init__(self, w: CrawlWorkload, seed: int, event_log: bool = False):
        self.w, self.seed = w, seed
        self.spark = self.server = None
        self._start_server()
        self.spark = harness.start_spark(event_log)
        self._register()

    def _start_server(self) -> None:
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(harness.ROOT, "perfbench", "httpd.py"),
             "--n-pages", str(self.w.n_pages), "--n-hosts", str(self.w.n_hosts),
             "--links", str(self.w.links_per_page), "--seed", str(self.seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.server.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"loopback server did not start: {line!r}")
        self.port = int(line.split()[1])

    def _register(self) -> None:
        import urllib3

        from dotnetspider_spark.sources.fetchers import HttpFetcher, Urllib3Transport
        from dotnetspider_spark.testing.datagen import SEED_SCHEMA, gen_robots, host_delay_ms

        spark, w = self.spark, self.w
        self.seeds = spark.createDataFrame(seed_rows(w, self.seed), SEED_SCHEMA)
        self.robots = gen_robots(spark, w.corpus(self.seed))
        hosts = [f"host{h}.example" for h in range(w.n_hosts)]
        self.delays = spark.createDataFrame(
            [(h, host_delay_ms(h)) for h in hosts], "host string, crawl_delay_ms int"
        )
        proxy = functools.partial(
            urllib3.ProxyManager, f"http://127.0.0.1:{self.port}", maxsize=1, retries=False
        )
        self.fetcher = HttpFetcher(Urllib3Transport(pool_factory=proxy), n_partitions=harness.nproc())

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.server is not None:
            self.server.stdin.close()
            self.server.terminate()
            self.server.wait(timeout=10)
            self.server = None


# ------------------------------------------------------------ one crawl


class JobProbe:
    """Traced-run job accounting: the crawl runs under Spark job group
    ``crawl``, except that the resumed leg runs under ``resume`` until
    its first fetch."""

    GROUPS = ("crawl", "resume")

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def before_leg(self, resume: bool) -> None:
        self.sc.setJobGroup("resume" if resume else "crawl", "perfbench")

    def on_fetch(self, n: int) -> None:
        if n == 1:
            self.sc.setJobGroup("crawl", "perfbench")

    def after_leg(self) -> None:
        self.sc.setJobGroup("check", "perfbench")


def crawl_unit(s: Session, ck: str, probe: JobProbe | None = None) -> dict:
    """One crawl to exhaustion, stopped after ``first_leg`` iterations
    and finished with ``crawl(resume=True)``."""
    from dotnetspider_spark.crawler.loop import crawl

    legs = []

    def run_leg(cfg, resume):
        if probe is not None:
            probe.before_leg(resume)
        fetcher = harness.TimedFetcher(s.fetcher, probe.on_fetch if probe else None)
        t0 = harness.mark()
        res = crawl(
            s.spark, None, s.seeds, cfg, robots=s.robots,
            host_delays=s.delays, resume=resume, fetcher=fetcher,
        )
        legs.append({"t0": t0, "wall": harness.steal_free_s(t0, harness.mark()), "calls": fetcher.calls,
                     "metrics": res.metrics})
        if probe is not None:
            probe.after_leg()
        return res

    cfg = s.w.crawl_config(ck, s.w.first_leg)
    run_leg(cfg, resume=False)
    res = run_leg(replace(cfg, max_iterations=100_000), resume=True)
    metrics = [m for leg in legs for m in leg["metrics"]]
    resumed = legs[1]
    return {
        "result": res,
        "metrics": metrics,
        "legs": legs,
        "n_fetch": sum(m["n_batch"] for m in metrics),
        "wall": sum(leg["wall"] for leg in legs),
        "gaps": [g for leg in legs for g in harness.fetch_gaps(leg["calls"])],
        "resume_s": resumed["calls"][0][0][0] - resumed["t0"][0] if resumed["calls"] else 0.0,
    }


# ------------------------------------------------------------ timed run


def timed(w: CrawlWorkload, seed: int, seconds: float) -> dict:
    """Three set-ups (the first also launches the JVM; set-up time is
    their median), then whole crawls on the last one until the next
    would end past ``seconds``, at least one; every crawl is checked."""
    expected = prepare(w, seed)
    harness.log("oracle ready")
    ck = os.path.join(harness.RUN_DIR, "ckpt")
    units, setups, attempted, failed, notes = [], [], 0, 0, []
    with harness.RssSampler() as rss:
        s = None
        for _ in range(3):
            if s is not None:
                s.close()
            t = harness.mark()
            s = Session(w, seed)
            setups.append(harness.steal_free_s(t, harness.mark()))
        harness.log(f"set up x{len(setups)}")
        try:
            t_start = time.monotonic()
            while True:
                shutil.rmtree(ck, ignore_errors=True)
                u = crawl_unit(s, ck)
                harness.log(f"crawl {len(units) + 1}: {u['wall']:.1f}s, {u['n_fetch']} fetches")
                u["state_bytes"] = harness.tree_bytes(ck)[0]
                a, f, n = compare(expected, observe(u["result"], u["metrics"]))
                attempted, failed, notes = attempted + a, failed + f, notes + n
                units.append(u)
                elapsed = time.monotonic() - t_start
                if elapsed * (len(units) + 1) / len(units) > seconds:
                    break
        finally:
            s.close()
    m = harness.median
    return {
        "metrics": {
            "items_per_s": m(u["n_fetch"] / u["wall"] for u in units),
            "iter_p50_s": m(g for u in units for g in u["gaps"]),
            "state_bytes_per_item": m(u["state_bytes"] / u["n_fetch"] for u in units),
            "peak_rss_mb": rss.peak_mb,
            "setup_s": m(setups),
        },
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
        "info": {
            "crawls": len(units),
            "iterations": [len(u["metrics"]) for u in units],
            "fetches": [u["n_fetch"] for u in units],
            "resume_s": [round(u["resume_s"], 4) for u in units],
            "setups_s": [round(x, 4) for x in setups],
        },
    }


# ----------------------------------------------------------- traced run

_CKPT_TABLES = {
    "consumed": ["consumed"], "fresh": ["fresh"], "fetched": ["fetched"],
    "errors": ["errors"], "metrics": ["metrics"], "frontier": ["frontier"],
    "seen": ["seen", "seen_extra", "seen_bucketed"], "blooms": ["blooms"],
}


def checkpoint_layers(ck: str, iterations: int) -> dict:
    total, files = harness.tree_bytes(ck)
    out = {"ckpt.bytes_per_iter": total / iterations, "ckpt.files_per_iter": files / iterations}
    for table, dirs in _CKPT_TABLES.items():
        out[f"ckpt.bytes.{table}"] = sum(harness.tree_bytes(os.path.join(ck, d))[0] for d in dirs)
    return out


_SPAN_METRICS = {
    "frontier.rank": "frontier.rank_s", "fetch": "fetch.s", "parse": "parse.s",
    "identity": "identity.s", "dedup": "dedup.s", "write": "write.s",
    "bloom.build": "bloom.build_s", "bloom.probe": "bloom.probe_s",
}


def replay(s: Session, ck: str, metrics: list[dict], tracer: harness.Tracer) -> dict:
    """Re-run the crawl's heaviest iteration one public call at a time,
    from the checkpointed state it started from, materializing each
    call's output inside its span. Heaviest = most URLs fetched plus
    pushed: the deepest iteration fetches the most but pushes no
    children past ``max_depth``, so it would leave dedup unmeasured.

    After the crawl's own exact dedup, the same candidates also go
    through the bloom-pruned path (``build_blooms`` over the seen set,
    ``probe_blooms``), so the bloom layer is measured on this input
    although the timed crawl does not enable it."""
    from pyspark.sql import functions as F

    from dotnetspider_spark.crawler.loop import FRONTIER_SCHEMA
    from dotnetspider_spark.crawler.parse import extract_canonical_links_udf
    from dotnetspider_spark.functions.identity import request_identity
    from dotnetspider_spark.functions.urlops import is_fetchable, url_host
    from dotnetspider_spark.operators.bloom import BloomParams, build_blooms, probe_blooms
    from dotnetspider_spark.operators.frontier import (
        dedup_push,
        politeness_budget,
        select_fetch_batch,
    )

    w, spark = s.w, s.spark
    h = max(range(len(metrics)), key=lambda i: metrics[i]["n_batch"] + metrics[i]["n_new"])
    if h == 0:
        fr_parts, cons_parts, seen_parts = [f"{ck}/frontier/init"], [], [f"{ck}/frontier/init"]
    else:
        with open(f"{ck}/manifests/iter={h - 1}.json") as f:
            m = json.load(f)
        fr_parts, cons_parts, seen_parts = m["frontier_parts"], m["consumed_parts"], m["seen_parts"]
    frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(*fr_parts)
    if cons_parts:
        consumed = spark.read.schema("identity string").parquet(*cons_parts)
        frontier = frontier.join(consumed, "identity", "left_anti")
    seen = spark.read.schema("identity string").parquet(*seen_parts)
    ok = (F.col("status") >= 200) & (F.col("status") < 300)
    out = {}

    def span(name):
        return tracer.span(name, parent="replay")

    with span("frontier.rank"):
        budget = F.least(
            politeness_budget(w.iter_wall_ms, F.coalesce(F.col("crawl_delay_ms"), F.lit(0))),
            F.lit(w.per_host_limit),
        )
        ranked = frontier.join(F.broadcast(s.delays), "host", "left").withColumn(
            "__budget", budget
        ).drop("crawl_delay_ms")
        batch = select_fetch_batch(ranked, dfs=False, budget_col="__budget").drop("__budget")
        batch = batch.localCheckpoint(eager=True)
    out["frontier.batch_rows"] = batch.count()
    out["frontier.hosts"] = batch.select("host").distinct().count()
    # the generated robots rules deny exactly the /private/ prefix
    allowed = batch.filter(~F.col("url").contains("/private/"))

    with span("fetch"):
        fetched = s.fetcher.fetch(allowed).localCheckpoint(eager=True)
    c = fetched.agg(
        F.count(F.lit(1)).alias("n"), F.sum(ok.cast("int")).alias("ok"),
        F.sum((F.col("status") == 599).cast("int")).alias("te"),
    ).first()
    out["fetch.rows"] = c["n"]
    out["fetch.ok_ratio"] = (c["ok"] or 0) / max(c["n"], 1)
    out["fetch.transport_errors"] = c["te"] or 0

    with span("parse"):
        pages = fetched.filter(ok).select(
            "depth",
            extract_canonical_links_udf(F.col("html"), F.coalesce("target_url", "url")).alias("links"),
        ).localCheckpoint(eager=True)
    c = pages.agg(F.count(F.lit(1)).alias("n"), F.sum(F.size("links")).alias("links")).first()
    out["parse.pages"] = c["n"]
    out["parse.links"] = c["links"] or 0

    with span("identity"):
        cand = pages.select(
            (F.col("depth") + 1).alias("depth"), F.posexplode("links").alias("seq", "url")
        ).filter(is_fetchable(F.col("url")) & (F.col("depth") <= w.max_depth)).select(
            "url", url_host(F.col("url")).alias("host"), "depth",
            F.col("seq").cast("long").alias("seq"),
            request_identity(F.col("url")).alias("identity"),
        ).localCheckpoint(eager=True)
    out["dedup.candidates"] = cand.count()

    with span("dedup"):
        fresh = dedup_push(cand, seen).localCheckpoint(eager=True)
    out["dedup.fresh"] = fresh.count()
    out["dedup.fresh_ratio"] = out["dedup.fresh"] / max(out["dedup.candidates"], 1)
    with span("write"):
        fresh.write.mode("overwrite").parquet(os.path.join(harness.RUN_DIR, "replay-fresh"))

    params = BloomParams(expected_per_bucket=w.bloom_per_bucket, n_buckets=w.bloom_buckets)
    with span("bloom.build"):
        blooms = build_blooms(seen, params).localCheckpoint(eager=True)
    with span("bloom.probe"):
        probed = probe_blooms(dedup_push(cand, None), blooms, params).localCheckpoint(eager=True)
    c = probed.agg(
        F.count(F.lit(1)).alias("n"), F.sum((~F.col("maybe_seen")).cast("int")).alias("fast")
    ).first()
    out["bloom.fast_path_ratio"] = (c["fast"] or 0) / max(c["n"], 1)

    for span_name, metric in _SPAN_METRICS.items():
        out[metric] = tracer.seconds(span_name)
    crawl_path = sum(
        sp["end"] - sp["start"] for sp in tracer.spans
        if sp["parent"] == "replay" and not sp["name"].startswith("bloom.")
    )
    out["replay.iteration"] = h
    out["replay.uncovered_s"] = metrics[h]["wall_ms"] / 1000 - crawl_path
    return out


def traced(w: CrawlWorkload, seed: int, seconds: float) -> dict:
    """Per-layer numbers: one crawl under job-group accounting with the
    Spark event log on, then a layer-by-layer replay of its heaviest
    iteration."""
    expected = prepare(w, seed)
    ck = os.path.join(harness.RUN_DIR, "ckpt")
    tracer = harness.Tracer()
    s = Session(w, seed, event_log=True)
    try:
        with tracer.span("crawl"):
            u = crawl_unit(s, ck, JobProbe(s.spark))
        jobs, stages, tasks = harness.group_counts(s.spark, list(JobProbe.GROUPS))
        resume_jobs = harness.group_counts(s.spark, ["resume"])[0]
        attempted, failed, notes = compare(expected, observe(u["result"], u["metrics"]))
        iters = len(u["metrics"])
        out = checkpoint_layers(ck, iters)
        s.spark.sparkContext.setJobGroup("replay", "perfbench")
        with tracer.span("replay"):
            out.update(replay(s, ck, u["metrics"], tracer))
    finally:
        s.close()  # stopping Spark completes the event log
    logs = harness.read_event_logs()
    intervals = harness.job_intervals(logs, set(JobProbe.GROUPS))
    driver_gaps = []
    for leg in u["legs"]:
        epochs = [c[1] for c in leg["calls"]]
        driver_gaps += [(b - a) - harness.covered(intervals, a, b) for a, b in zip(epochs, epochs[1:])]
    out.update(harness.task_totals(logs, set(JobProbe.GROUPS)))
    out.update({
        "loop.iterations": iters,
        "loop.jobs_per_iter": jobs / iters,
        "loop.stages_per_iter": stages / iters,
        "loop.tasks_per_iter": tasks / iters,
        "loop.driver_gap_s": harness.median(driver_gaps),
        "loop.resume_jobs": resume_jobs,
        "loop.resume_s": u["resume_s"],
    })
    tracer.write(os.path.join(harness.RUN_DIR, "spans.json"))
    return {"metrics": out, "attempted": attempted, "failed": failed, "notes": notes, "info": {}}
