"""Spider — the user-facing facade mirroring the reference's API.

The reference's programmatic surface (SURVEY §3.1-3.2):

    var spider = new Spider();           spider.AddRequests(urls);
    spider.Scheduler = ...;              spider.AddPageProcessor(p);
    spider.AddPipeline(pipeline);        spider.Depth = 3;
    spider.Run();

maps 1:1 onto:

    spider = Spider(spark).add_seeds(urls).set_corpus(corpus_df)
    spider.traverse(dfs=True).depth(3).retry_times(5)
    spider.add_robots(robots_df)
    spider.add_entity_model(model)                  # AddEntityType<T>
    spider.add_pipeline(table, mode="insert_ignore")  # AddPipeline
    result = spider.run()                           # Run()

``run()`` drives the BSP crawl loop (crawler/loop.py), then compiles
each registered entity model into a projection over the fetched pages
(extraction/model.py) and writes the items through each pipeline's
write mode (sinks/tables.py) — the reference's
download -> process -> pipeline chain, batched.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession

from dotnetspider_spark.crawler.loop import CrawlConfig, CrawlRunResult, crawl
from dotnetspider_spark.extraction.model import EntityModel, extract
from dotnetspider_spark.sinks.tables import ParquetTable
from dotnetspider_spark.testing.datagen import SEED_SCHEMA


@dataclass
class SpiderResult:
    crawl: CrawlRunResult
    items: dict[str, DataFrame] = field(default_factory=dict)

    @property
    def errors(self) -> DataFrame | None:
        """failing.log analog (Spider.cs:993-994): persisted failed rows."""
        return self.crawl.errors


class Spider:
    """Fluent crawl builder over the BSP engine."""

    def __init__(self, spark: SparkSession, config: CrawlConfig | None = None):
        self.spark = spark
        self.config = config or CrawlConfig()
        self._seed_rows: list[dict] = []
        self._seed_df: DataFrame | None = None
        self._corpus: DataFrame | None = None
        self._robots: DataFrame | None = None
        self._models: list[EntityModel] = []
        self._pipelines: list[tuple[ParquetTable, str]] = []
        self._processor = None
        self._host_delays: DataFrame | None = None
        self._fetcher = None

    # ------------------------------------------------------------ seeds

    def add_seeds(self, urls: list[str], depth: int = 1) -> "Spider":
        """AddRequests (Spider.cs:607-621); seed depth=1 (Page.cs:47-50)."""
        base = len(self._seed_rows)
        for i, u in enumerate(urls):
            self._seed_rows.append(
                {
                    "url": u, "method": "GET", "referer": None, "origin": None,
                    "content": None, "headers": None, "priority": 0,
                    "depth": depth, "retried": 0, "seq": base + i,
                }
            )
        return self

    def add_seed_df(self, df: DataFrame) -> "Spider":
        # union, never overwrite: add_feeds() also lands here, and
        # chain order must not silently discard a seed source
        self._seed_df = (
            df
            if self._seed_df is None
            else self._seed_df.unionByName(df, allowMissingColumns=True)
        )
        return self

    def add_feeds(self, feeds: DataFrame) -> "Spider":
        """Seed from fetched RSS/Atom feed documents (host, feed_xml):
        entries parse (sources/feeds.py), gate on fetchability like
        crawl discovery, and enter as seed rows with the published
        epoch as seq — fresher entries poll first under the default
        DFS order. Composable with add_seeds/add_seed_df (union)."""
        from dotnetspider_spark.sources.feeds import feed_seeds

        return self.add_seed_df(feed_seeds(feeds))

    # ----------------------------------------------------------- config

    def traverse(self, dfs: bool = True) -> "Spider":
        """TraverseStrategy (default Dfs, DuplicateRemovedScheduler.cs:75)."""
        self.config = replace(self.config, dfs=dfs)
        return self

    def depth(self, max_depth: int) -> "Spider":
        """Spider.Depth (Spider.cs:66)."""
        self.config = replace(self.config, max_depth=max_depth)
        return self

    def retry_times(self, n: int) -> "Spider":
        """CycleRetryTimes (Spider.cs:186)."""
        self.config = replace(self.config, cycle_retry_times=n)
        return self

    def politeness(self, per_host_limit: int) -> "Spider":
        """Per-iteration per-host fetch budget (SleepTime analog)."""
        self.config = replace(self.config, per_host_limit=per_host_limit)
        return self

    def checkpoint(self, path: str) -> "Spider":
        self.config = replace(self.config, checkpoint_dir=path)
        return self

    def use_bucketed_seen(self, n_buckets: int = 32) -> "Spider":
        """Store the compacted seen set as an identity-bucketed catalog
        table: dedup anti-joins read the big side in place (LSM path)."""
        self.config = replace(
            self.config, bucketed_seen=True, seen_buckets=n_buckets
        )
        return self

    # ---------------------------------------------------------- sources

    def set_corpus(self, corpus: DataFrame) -> "Spider":
        """The fetch source (CorpusFetcher / FakeDownloader analog)."""
        self._corpus = corpus
        return self

    def set_fetcher(self, fetcher) -> "Spider":
        """Explicit fetch stage (sources.fetchers protocol) — e.g.
        ``HttpFetcher(transport_factory)`` for live HTTP, replacing the
        default CorpusFetcher replay (Downloader hierarchy, SURVEY §2.5)."""
        self._fetcher = fetcher
        return self

    def add_robots(self, robots: DataFrame) -> "Spider":
        """Rules table (host, path_prefix, allow); see functions.robots
        for parsing raw robots.txt documents into this shape."""
        self._robots = robots
        return self

    def set_host_delays(self, delays: DataFrame) -> "Spider":
        """(host, crawl_delay_ms) table -> per-host politeness budgets
        k=ceil(iter_wall/delay) (SleepTime made per-host, SURVEY §2.2)."""
        self._host_delays = delays
        return self

    def set_processor(self, fn) -> "Spider":
        """AddPageProcessor analog (Spider.cs:1129-1163): ``fn`` maps the
        success-page DataFrame to itself + ``n_results int`` +
        ``proc_error boolean``; error rows cycle-retry with a new
        identity, exhausted ones land in the errors table."""
        self._processor = fn
        return self

    def skip_when_result_empty(self, on: bool = True) -> "Spider":
        """SkipTargetRequestsWhenResultIsEmpty (Spider.cs:397,1155):
        pages whose processor yields zero items contribute no links."""
        self.config = replace(self.config, skip_targets_when_result_empty=on)
        return self

    # ------------------------------------------------- extraction/sinks

    def add_entity_model(self, model: EntityModel) -> "Spider":
        """AddEntityType<T> (EntitySpider.cs:39-58)."""
        self._models.append(model)
        return self

    def add_pipeline(self, table: ParquetTable, mode: str = "insert_ignore") -> "Spider":
        """AddPipeline; mode = insert | insert_ignore | upsert
        (DbEntityPipeline write modes, DbEntityPipeline.cs:105-138)."""
        assert mode in ("insert", "insert_ignore", "upsert")
        self._pipelines.append((table, mode))
        return self

    # --------------------------------------------------------------- run

    def run(self, resume: bool = False) -> SpiderResult:
        if self._corpus is None and self._fetcher is None:
            raise ValueError(
                "set_corpus() or set_fetcher() required (no ambient network)"
            )
        if self._models and self._corpus is None:
            # validate BEFORE the crawl runs: this uses configuration
            # only, and raising after a converged multi-hour crawl would
            # discard the entire result
            raise ValueError(
                "entity extraction re-reads page content from the corpus; "
                "set_corpus() is required alongside add_entity_model()"
            )
        # inline add_seeds() rows and an add_seed_df() frame COMBINE —
        # dropping one silently (e.g. a CLI config with both `seeds:`
        # and `seed_file:`) would crawl fewer pages with no diagnostic.
        # Both carry explicit seq columns; duplicate identities across
        # the two sources collapse first-push-wins in seeds_to_frontier.
        seeds = self._seed_df
        if self._seed_rows:
            inline = self.spark.createDataFrame(self._seed_rows, SEED_SCHEMA)
            seeds = inline if seeds is None else seeds.unionByName(
                inline, allowMissingColumns=True
            )
        if seeds is None:
            raise ValueError("no seeds")
        res = crawl(
            self.spark, self._corpus, seeds, self.config,
            robots=self._robots, host_delays=self._host_delays,
            resume=resume, processor=self._processor, fetcher=self._fetcher,
        )
        items: dict[str, DataFrame] = {}
        if self._models:
            # re-join fetched urls to the corpus html (the loop's fetched
            # table carries frontier cols; content lives in the corpus).
            # Join on the POST-REDIRECT url when present: a 301 source
            # url's corpus row is an empty stub — the html that was
            # actually fetched lives under target_url (Downloader.cs:
            # 211-220 replaces the request url after redirects)
            import pyspark.sql.functions as F

            fetched_cols = ["url", "depth", "iter", "rank"]
            content_url = (
                F.coalesce("target_url", "url")
                if "target_url" in res.fetched.columns
                else F.col("url")
            )
            pages = (
                res.fetched.select(*fetched_cols, content_url.alias("__curl"))
                .join(
                    self._corpus.select(F.col("url").alias("__curl"), "html"),
                    "__curl",
                    "inner",
                )
                .drop("__curl")
            )
            for model in self._models:
                out = extract(model, pages, content_col="html", page_key="url")
                items[model.name] = out
                for table, mode in self._pipelines:
                    getattr(table, mode)(out)
        return SpiderResult(crawl=res, items=items)
