"""Resume after process death.

A child process runs a crawl and dies with ``os._exit`` at a chosen
point of its second iteration: the phase is monkeypatched in the child,
so the engine carries no fault-injection knob. This test's own process,
whose Spark session never saw that crawl, then resumes it from the
checkpoint; the result must equal the pyref oracle's.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from dotnetspider_spark.crawler.loop import CrawlConfig, crawl, list_snapshots
from dotnetspider_spark.pyref.oracle import Request, crawl as pycrawl
from dotnetspider_spark.testing.datagen import (
    CorpusConfig,
    gen_corpus,
    gen_robots,
    gen_seeds,
    seed_rows,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = CorpusConfig(n_pages=60, n_hosts=4)
KILLED = 86  # the child's exit status when it died where it was told to

#: the child: argv = checkpoint dir, kill point
CHILD = r"""
import os, sys
from dotnetspider_spark.crawler import loop
from dotnetspider_spark.session import get_spark
from dotnetspider_spark.testing.datagen import (
    CorpusConfig, gen_corpus, gen_robots, gen_seeds,
)

ck, point = sys.argv[1], sys.argv[2]
KILL_AT = 1  # the second iteration: the first one's manifest is on disk

def die(*_):
    os._exit(%(killed)d)

if point == "after_fact_log":
    write = loop._phase_write

    def dying_write(ctx, state, it, *args):
        out = write(ctx, state, it, *args)  # the fact log is its last write
        if it == KILL_AT:
            die()
        return out

    loop._phase_write = dying_write
else:
    checkpoint = loop._phase_checkpoint

    def dying_checkpoint(ctx, state, it):
        if it == KILL_AT:
            os.replace = die  # the temp manifest is written, never renamed
        checkpoint(ctx, state, it)

    loop._phase_checkpoint = dying_checkpoint

spark = get_spark(
    "crash-child", master="local[2]", shuffle_partitions=2,
    extra={"spark.driver.memory": "1g", "spark.ui.enabled": "false"},
)
cfg = CorpusConfig(n_pages=%(n_pages)d, n_hosts=%(n_hosts)d)
loop.crawl(
    spark, gen_corpus(spark, cfg, parallelism=2), gen_seeds(spark, cfg, k=4),
    loop.CrawlConfig(dfs=True, max_depth=3, per_host_limit=8, checkpoint_dir=ck),
    robots=gen_robots(spark, cfg),
)
""" % {"killed": KILLED, "n_pages": TINY.n_pages, "n_hosts": TINY.n_hosts}


@pytest.mark.parametrize("point", ["after_fact_log", "before_manifest_rename"])
def test_resume_after_process_death_matches_oracle(spark, tmp_path, point):
    ck = str(tmp_path / "ckpt")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    ))
    child = subprocess.run(
        [sys.executable, "-c", CHILD, ck, point],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert child.returncode == KILLED, child.stderr[-3000:]
    # the second iteration wrote state but never completed
    assert list_snapshots(ck) == [0]
    assert os.path.isdir(f"{ck}/fetched/iter=1")
    if point == "before_manifest_rename":
        assert os.path.exists(f"{ck}/manifests/.iter=1.json.tmp")

    res = crawl(
        spark, gen_corpus(spark, TINY, parallelism=2), gen_seeds(spark, TINY, k=4),
        CrawlConfig(dfs=True, max_depth=3, per_host_limit=8, checkpoint_dir=ck),
        robots=gen_robots(spark, TINY), resume=True,
    )
    pres = pycrawl(
        TINY, [Request(**r) for r in seed_rows(TINY, 4)], dfs=True, max_depth=3
    )
    assert res.iterations >= 1
    assert {r.url for r in res.fetched.select("url").collect()} == set(pres.fetch_order)
    assert {r.identity for r in res.seen.collect()} == pres.seen
    got = sorted((r.url, r.retried, r.reason) for r in res.errors.collect())
    assert got == sorted(pres.errors)
