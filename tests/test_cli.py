"""CLI runner (Startup.cs:20-42 analog): a tiny crawl driven end-to-end
from a config file in a real subprocess."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_cli_runs_crawl_from_config(tmp_path, spark):
    from dotnetspider_spark.testing.datagen import (
        CorpusConfig, gen_corpus, gen_robots, page_url,
    )

    cfg = CorpusConfig(n_pages=40, n_hosts=3, with_payload=False)
    gen_corpus(spark, cfg, parallelism=2).write.mode("overwrite").parquet(
        str(tmp_path / "corpus")
    )
    gen_robots(spark, cfg).write.mode("overwrite").parquet(
        str(tmp_path / "robots")
    )
    conf = {
        "name": "cli-test",
        "master": "local[2]",
        "shuffle_partitions": 2,
        "seeds": [page_url(0, cfg), page_url(1, cfg)],
        "corpus": str(tmp_path / "corpus"),
        "robots": str(tmp_path / "robots"),
        "strategy": "dfs",
        "max_depth": 2,
        "per_host_limit": 8,
        "output": str(tmp_path / "out"),
    }
    cfg_path = tmp_path / "crawl.yaml"
    import yaml

    cfg_path.write_text(yaml.safe_dump(conf))
    env = dict(os.environ, PYTHONPATH="/root/repo")
    proc = subprocess.run(
        [sys.executable, "-m", "dotnetspider_spark", "--config", str(cfg_path)],
        # generous: the subprocess boots its own JVM and pays ~10 tiny-job
        # fixed costs per crawl iteration while sharing the box with the
        # pytest session's JVM — measured ~270 s under contention
        capture_output=True, text=True, timeout=600, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["fetched"] > 0
    assert summary["frontier_left"] == 0  # crawl converged
    fetched = spark.read.parquet(str(tmp_path / "out" / "fetched"))
    assert fetched.count() == summary["fetched"]
    assert (tmp_path / "out" / "metrics.json").exists()


def test_config_maps_opt_in_crawl_flags(spark):
    from dotnetspider_spark.__main__ import build_spider

    spider = build_spider(
        spark,
        {
            "seeds": ["http://h.example/"],
            "honor_link_policy": True,
            "trap_guard": True,
            "adaptive_backoff": True,
        },
    )
    cfg = spider.config
    assert cfg.honor_link_policy and cfg.trap_guard and cfg.adaptive_backoff


def test_config_sets_only_what_the_file_sets(spark):
    from dotnetspider_spark.__main__ import build_spider
    from dotnetspider_spark.crawler.loop import CrawlConfig

    seeds = {"seeds": ["http://h.example/"]}
    assert build_spider(spark, seeds).config == CrawlConfig()
    cfg = build_spider(
        spark,
        {
            **seeds,
            "strategy": "BFS",
            "per_host_limit": 3,
            "max_iterations": "7",  # a quoted number is still coerced
            "compact_every": 1,  # not a CLI key: ignored
            "use_bloom": True,  # a retired key: old config files still load
        },
    ).config
    assert cfg == CrawlConfig(dfs=False, per_host_limit=3, max_iterations=7)
