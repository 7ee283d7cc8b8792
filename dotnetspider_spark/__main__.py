"""CLI runner — the ``Startup.cs`` analog (Core/Startup.cs:20-42).

The reference boots a spider from command-line switches
(``-s:SpiderType -i:identity -a:args -d:distribute``); the Spark-native
equivalent is a config-file-driven ``spark-submit`` entry point:

    python -m dotnetspider_spark --config crawl.yaml [--resume]
    spark-submit --py-files engine.zip -m dotnetspider_spark ...

Config (YAML or JSON) — every key optional unless marked:

    name: my-crawl              # Spark app name
    master: local[8]            # omit under spark-submit (its master wins)
    shuffle_partitions: 8
    seeds: [http://h0.example/p/0.html, ...]   # inline seed URLs, or
    seed_file: seeds.parquet                   # a seed-schema parquet
    corpus: corpus.parquet      # REQUIRED: offline fetch source (sandbox)
    corpus_columns: [status, html, content_type, bytes]  # fetch projection
                                # (default [status, html]; include
                                # content_type to activate the media gate)
    robots: robots.parquet      # (host, path_prefix, allow) rules table
    host_delays: delays.parquet # (host, crawl_delay_ms)
    strategy: dfs | bfs         # default dfs
    max_depth: 3
    cycle_retry_times: 5
    per_host_limit: 8
    priority_first: false
    download_files: false       # store media-type payloads (downloads/);
                                # needs content_type in corpus_columns
                                # (or an HTTP fetcher) to have any effect
    bucketed_seen: false
    seen_buckets: 32
    checkpoint_dir: state/      # enables --resume
    output: out/                # fetched/, errors/ parquet + metrics.json

Exit code 0 on success; a one-line JSON summary goes to stdout (the
monitor-flush analog, Spider.cs:753-831 reporting).
"""

from __future__ import annotations

import argparse
import json
import sys


def load_config(path: str) -> dict:
    with open(path) as f:
        text = f.read()
    if path.endswith((".yaml", ".yml")):
        import yaml

        return yaml.safe_load(text)
    return json.loads(text)


#: config keys that set the ``CrawlConfig`` field of the same name, by
#: coercion (``strategy`` sets ``dfs``)
_AS_GIVEN = ("max_depth", "per_host_limit", "checkpoint_dir")
_INTS = ("cycle_retry_times", "seen_buckets", "max_iterations")
_BOOLS = (
    "priority_first", "bucketed_seen", "download_files",
    "honor_link_policy", "trap_guard", "adaptive_backoff",
)


def build_spider(spark, cfg: dict):
    from dotnetspider_spark.crawler.loop import CrawlConfig
    from dotnetspider_spark.spider import Spider

    # only what the file sets: every other field keeps CrawlConfig's default
    kw = {k: cfg[k] for k in _AS_GIVEN if k in cfg}
    kw |= {k: int(cfg[k]) for k in _INTS if k in cfg}
    kw |= {k: bool(cfg[k]) for k in _BOOLS if k in cfg}
    if "strategy" in cfg:
        kw["dfs"] = cfg["strategy"].lower() != "bfs"
    spider = Spider(spark, CrawlConfig(**kw))
    if "corpus" in cfg:
        corpus_df = spark.read.parquet(cfg["corpus"])
        spider.set_corpus(corpus_df)
        if cfg.get("corpus_columns"):
            # widen the fetch projection beyond (status, html) — e.g.
            # content_type activates the media gate, bytes rides along
            # into downloads/ when download_files is set
            from dotnetspider_spark.sources.fetchers import CorpusFetcher

            spider.set_fetcher(
                CorpusFetcher(
                    corpus_df, content_cols=tuple(cfg["corpus_columns"])
                )
            )
    if cfg.get("seeds"):
        spider.add_seeds(list(cfg["seeds"]))
    if cfg.get("seed_file"):
        spider.add_seed_df(spark.read.parquet(cfg["seed_file"]))
    if cfg.get("robots"):
        spider.add_robots(spark.read.parquet(cfg["robots"]))
    if cfg.get("host_delays"):
        spider.set_host_delays(spark.read.parquet(cfg["host_delays"]))
    return spider


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m dotnetspider_spark",
        description="Run a crawl from a config file (Startup.cs analog)",
    )
    p.add_argument("--config", required=True, help="YAML or JSON crawl config")
    p.add_argument(
        "--resume", action="store_true",
        help="resume from the config's checkpoint_dir manifest",
    )
    args = p.parse_args(argv)
    cfg = load_config(args.config)

    from dotnetspider_spark.session import get_spark

    spark = get_spark(
        cfg.get("name", "dotnetspider-spark"),
        master=cfg.get("master"),
        shuffle_partitions=cfg.get("shuffle_partitions"),
    )
    spider = build_spider(spark, cfg)
    res = spider.run(resume=args.resume)

    out = cfg.get("output")
    if out:
        res.crawl.fetched.write.mode("overwrite").parquet(f"{out}/fetched")
        if res.crawl.errors is not None:
            res.crawl.errors.write.mode("overwrite").parquet(f"{out}/errors")
        if res.crawl.downloads is not None:
            res.crawl.downloads.write.mode("overwrite").parquet(f"{out}/downloads")
        # Hadoop FS, not a local open(): `output` may be an hdfs://-style
        # URI in cluster runs — the parquet writes above would succeed
        # and then a local open() would crash before the summary prints
        jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{out}/metrics.json")
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        stream = fs.create(jpath, True)
        try:
            stream.write(bytearray(json.dumps(res.crawl.metrics), "utf-8"))
        finally:
            stream.close()
    summary = {
        "iterations": res.crawl.iterations,
        "fetched": res.crawl.fetched.count(),
        "errors": res.crawl.errors.count() if res.crawl.errors is not None else 0,
        "frontier_left": res.crawl.frontier.count(),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
