"""Structured Streaming seed ingestion — the continuous-reload path.

The reference's distributed mode feeds seeds continuously into the
frontier (Redis ``Reload`` batches of 1000, RedisScheduler.cs:230-285;
DB-paged lazy frontier, PagingQueueDuplicateRemovedScheduler.cs:56-155).
The crawl engine itself stays deliberately iterative-batch (SURVEY §7.1:
reproducible ordering + a 10^10-key seen set rule out streaming state
stores), but seed ARRIVAL is a genuine stream: new seed files land in a
directory and must flow into the frontier with exactly-once semantics.

``stream_seeds_into_frontier`` runs a ``readStream`` file source over a
seed directory and, per micro-batch, dedup-pushes the new seeds into the
frontier/seen snapshot tables via ``foreachBatch`` — the same
``dedup_push`` operator the batch loop uses, so a seed that raced in
twice (or was already crawled) is dropped exactly like a re-``Push``.
Checkpointing is Spark's own streaming checkpoint (source offsets) plus
the engine's snapshot tables, so a restart resumes both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dotnetspider_spark.crawler.loop import seeds_to_frontier
from dotnetspider_spark.operators.frontier import dedup_push
from dotnetspider_spark.testing.datagen import SEED_SCHEMA


def stream_seeds(spark: SparkSession, seed_dir: str) -> DataFrame:
    """File-source stream of seed rows (one parquet file = one reload)."""
    return (
        spark.readStream.schema(SEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(seed_dir)
    )


def _commit_batch(df: DataFrame, table_path: str, batch_id: int) -> None:
    """Idempotent per-batch append: stage the batch, then move its files
    into the table under deterministic batch-keyed names. A replayed
    micro-batch (driver crash between the frontier and seen appends —
    the window a plain ``mode("append")`` pair leaves open) first clears
    any files from its own previous partial attempt, so re-running
    converges to exactly one copy. The staging dir starts with ``_`` so
    parquet readers ignore it mid-commit. Local-FS rename semantics,
    matching the engine's manifest convention (crawler/loop.py
    ``os.replace``); production swaps this for Hadoop FS rename or an
    Iceberg transactional append."""
    import glob
    import os
    import shutil

    stage = f"{table_path}/_staging_batch_{batch_id}"
    df.write.mode("overwrite").parquet(stage)
    for old in glob.glob(f"{table_path}/batch{batch_id}-*.parquet"):
        os.remove(old)
    for i, p in enumerate(sorted(glob.glob(f"{stage}/part-*"))):
        os.replace(p, f"{table_path}/batch{batch_id}-{i:05d}.parquet")
    shutil.rmtree(stage, ignore_errors=True)


def stream_seeds_into_frontier(
    spark: SparkSession,
    seed_dir: str,
    frontier_path: str,
    seen_path: str,
    checkpoint_dir: str,
):
    """Start the ingestion query; returns the StreamingQuery.

    Each micro-batch: normalize seeds -> identity -> anti-join the
    accumulated ``seen`` table -> append survivors to both ``frontier``
    and ``seen`` parquet tables (the batch loop's input state).
    """

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        _ingest_seed_batch(batch_df, batch_id, frontier_path, seen_path)

    return (
        stream_seeds(spark, seed_dir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _ingest_seed_batch(
    batch_df: DataFrame, batch_id: int, frontier_path: str, seen_path: str
) -> None:
    """Shared micro-batch body for every seed-shaped stream: normalize
    -> identity -> anti-join the accumulated ``seen`` table -> append
    survivors to both snapshot tables, exactly-once via the batch-keyed
    staged rename."""
    from pyspark.errors import AnalysisException

    spark_b = batch_df.sparkSession
    fresh = seeds_to_frontier(batch_df)
    try:
        seen = spark_b.read.parquet(seen_path).select("identity")
    except AnalysisException:  # first batch: no seen table yet.
        # ONLY path-not-found: a transient FS/permission error must
        # fail the (replayable) batch, not silently disable dedup
        seen = None
    fresh = dedup_push(fresh, seen) if seen is not None else fresh
    # one materialization for both writes — the lineage includes the
    # anti-join against the full seen table, the batch's dominant cost
    fresh = fresh.persist()
    try:
        _commit_batch(fresh, frontier_path, batch_id)
        _commit_batch(fresh.select("identity"), seen_path, batch_id)
    finally:
        fresh.unpersist()


FEED_STREAM_SCHEMA = "host string, feed_xml string"


def stream_feeds(spark: SparkSession, feed_dir: str) -> DataFrame:
    """File-source stream of fetched feed documents (one file = one
    feed-poll drop)."""
    return (
        spark.readStream.schema(FEED_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )


def stream_feeds_into_frontier(
    spark: SparkSession,
    feed_dir: str,
    frontier_path: str,
    seen_path: str,
    checkpoint_dir: str,
):
    """Continuous feed-poll ingestion: RSS/Atom documents land in
    ``feed_dir``; each micro-batch parses them (sources/feeds.py),
    turns entries into seed rows — ``seq`` = published epoch so FRESHER
    entries poll first under the default DFS order — and pushes them
    through the same exactly-once dedup path as seed reload. A URL
    announced by two feeds (or already crawled) is dropped exactly like
    a re-``Push``."""
    from dotnetspider_spark.sources.feeds import feed_seeds

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        _ingest_seed_batch(
            feed_seeds(batch_df), batch_id, frontier_path, seen_path
        )

    return (
        stream_feeds(spark, feed_dir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
