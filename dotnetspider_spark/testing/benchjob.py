"""The ONE definition of the benchmark crawl-iteration job.

Both benchmark harnesses — ``bench.py`` (the cheap per-round headline
number) and ``tools/bench_child.py`` (the two-cluster-size scaling
evidence) — measure "one full crawl iteration in the engine's real
shape". That shape must be a single definition: two copies silently
drift, and then the scaling-efficiency number and the throughput number
stop measuring the same job. The page FIXTURES stay per-harness (the
headline bench uses small pages so the driver can run it every round;
the scaling bench uses ~2 KB / 24-anchor pages so the job is
compute-representative), but the frontier generator, the bucketed
corpus layout and the iteration pipeline live here.

Pipeline (the engine's iteration, crawler/loop.py):

    politeness-ranked batch (salted two-level per-host rank)
    -> fetch join against the STORED url-bucketed page corpus
       (corpus side read in place: zero html-row exchange)
    -> fused link-parse/canonicalize pandas UDF (one Arrow crossing)
    -> child identity -> child dedup (min_by) -> anti-join vs the
       iteration's seen delta (broadcast; the check against the full
       seen set is the crawl loop's exact anti-join, not timed here)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dotnetspider_spark.crawler.parse import extract_canonical_links_udf
from dotnetspider_spark.functions.identity import request_identity
from dotnetspider_spark.functions.urlops import is_fetchable
from dotnetspider_spark.operators.frontier import dedup_push, select_fetch_batch


def zipf_u(col: str = "id") -> F.Column:
    """Deterministic uniform [0,1) from a row id (no RNG, executor-side)."""
    return F.pmod(F.xxhash64(col), F.lit(1 << 20)) / F.lit(float(1 << 20))


def zipf_hostnum(col: str = "id") -> F.Column:
    """Zipf-ish host id: 2^(14u) spans 1..16384 hosts with a hot head."""
    return F.floor(F.pow(F.lit(2.0), zipf_u(col) * 14)).cast("long")


def zipf_frontier(
    spark: SparkSession, rows: int, parts: int, with_depth: bool = False
) -> DataFrame:
    """The benchmark frontier: ``rows`` URLs over Zipf-skewed hosts."""
    df = (
        spark.range(rows, numPartitions=parts)
        .withColumn("hostnum", zipf_hostnum())
        .withColumn(
            "host", F.concat(F.lit("host"), F.col("hostnum"), F.lit(".example"))
        )
        .withColumn(
            "url",
            F.concat(F.lit("http://"), F.col("host"), F.lit("/p/"), F.col("id")),
        )
        .withColumn("seq", F.col("id"))
        .drop("hostnum")
    )
    if with_depth:
        df = df.withColumn("depth", F.lit(1)).withColumn("retried", F.lit(0))
    return df


def store_bucketed_corpus(
    spark: SparkSession,
    corpus: DataFrame,
    parts: int,
    path: str,
    table: str = "bench_corpus",
) -> str:
    """Persist the synthetic page corpus as a STORED url-bucketed+sorted
    table — the engine's 100 TB layout for every big table it joins (the
    bucketed seen set, the Iceberg page store). The fetch join then
    reads the page side IN PLACE (zero corpus-side exchange, no sort)
    and shuffles only the narrow batch columns. Synthesis is setup, not
    crawl work: production pages arrive fetched+stored once."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        corpus.write.mode("overwrite")
        .bucketBy(parts, "url")
        .sortBy("url")
        .option("path", path)
        .saveAsTable(table)
    )
    return table


def crawl_iteration(
    spark: SparkSession,
    frontier: DataFrame,
    rows: int,
    table: str = "bench_corpus",
    per_host_limit: int = 256,
    with_depth: bool = False,
) -> int:
    """Run ONE crawl iteration against the stored corpus; returns the
    fresh-children count (forces full execution)."""
    batch = select_fetch_batch(frontier, dfs=True, per_host_limit=per_host_limit)
    fetch_cols = ["url", "depth"] if with_depth else ["url"]
    fetched = (
        batch.select(*fetch_cols)
        .join(spark.table(table).hint("merge"), "url", "inner")
        .select(*fetch_cols, "html")
    )
    links = F.posexplode(
        extract_canonical_links_udf(F.col("html"), F.col("url"))
    ).alias("pos", "curl2")
    if with_depth:
        exploded = fetched.select(F.col("depth"), links)
        children = (
            exploded.filter(is_fetchable(F.col("curl2")))
            .select(
                F.col("curl2").alias("url"),
                (F.col("depth") + 1).alias("depth"),
                F.xxhash64("curl2").alias("seq"),
            )
            .withColumn("identity", request_identity(F.col("url")))
        )
    else:
        exploded = fetched.select(links)
        children = (
            exploded.filter(is_fetchable(F.col("curl2")))
            .select(
                F.col("curl2").alias("url"), F.xxhash64("curl2").alias("seq")
            )
            .withColumn("identity", request_identity(F.col("url")))
        )
    seen_delta = spark.range(0, rows, 5).select(
        F.md5(F.concat_ws("|", F.lit("seen"), F.col("id"))).alias("identity")
    )
    fresh = dedup_push(children, F.broadcast(seen_delta))
    return fresh.select(F.count("*")).collect()[0][0]


def resolvable_corpus(spark: SparkSession, rows: int, parts: int) -> DataFrame:
    """Synthetic page corpus whose anchors RESOLVE to other corpus rows:
    each anchor is an absolute URL carrying the target id's own Zipf
    host, so iteration i's children are iteration i+1's fetchable
    frontier (the single-iteration bench's relative anchors point at
    parent-host URLs that mostly miss the corpus — fine for one
    timed iteration, useless for convergence)."""
    def anchor(salt: int) -> F.Column:
        t = F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(rows))
        tu = F.pmod(F.xxhash64(t), F.lit(1 << 20)) / F.lit(float(1 << 20))
        thost = F.floor(F.pow(F.lit(2.0), tu * 14)).cast("long")
        return F.concat(
            F.lit('<a href="http://host'), thost, F.lit(".example/p/"), t,
            F.lit('">l</a>'),
        )

    return (
        spark.range(rows, numPartitions=parts)
        .withColumn("hostnum", zipf_hostnum())
        .withColumn(
            "url",
            F.concat(F.lit("http://host"), F.col("hostnum"),
                     F.lit(".example/p/"), F.col("id")),
        )
        .withColumn(
            "html",
            F.concat(
                F.lit("<html><body>"), anchor(1), anchor(2), anchor(3),
                anchor(4), F.lit('<a href="#f">j</a><p class="cap">c '),
                F.col("id"), F.lit("</p></body></html>"),
            ),
        )
        .select("url", "html")
    )


def crawl_convergence(
    spark: SparkSession,
    rows: int,
    parts: int,
    ckpt_root: str,
    table: str = "bench_corpus_conv",
    iters: int = 3,
    per_host_limit: int = 256,
) -> list[dict]:
    """Multi-iteration crawl: children of iteration i become iteration
    i+1's frontier, with REAL checkpoint I/O in the timed wall — each
    iteration writes its fresh-children frontier and its seen delta as
    parquet and the next iteration reads the frontier back (lineage
    cut), exactly like the engine loop's delta-snapshot layout. The
    seen set carries true request identities and grows every
    iteration, so the dedup anti-join prunes against an accumulating
    multi-part table rather than a fixed synthetic delta.

    Returns one dict per iteration: ``{iter, wall_s, batch, fresh}``.
    """
    import os
    import time

    # seed a QUARTER of the corpus URL space: anchors target the full
    # space, so later iterations discover genuinely unseen pages (a
    # full-space seed would put every possible child in seen/iter=0 and
    # the crawl would trivially converge at iteration 1)
    frontier = zipf_frontier(spark, rows // 4, parts).select(
        "url", "host", "seq"
    )
    seen_paths = [os.path.join(ckpt_root, "seen", "iter=0")]
    frontier.select(
        request_identity(F.col("url")).alias("identity")
    ).write.mode("overwrite").parquet(seen_paths[0])

    host_re = r"http://([^/]+)/"
    out = []
    for i in range(1, iters + 1):
        t0 = time.monotonic()
        batch = select_fetch_batch(
            frontier, dfs=True, per_host_limit=per_host_limit
        )
        fetched = (
            batch.select("url")
            .join(spark.table(table).hint("merge"), "url", "inner")
            .select("url", "html")
        )
        links = F.posexplode(
            extract_canonical_links_udf(F.col("html"), F.col("url"))
        ).alias("pos", "curl2")
        children = (
            fetched.select(links)
            .filter(is_fetchable(F.col("curl2")))
            .select(
                F.col("curl2").alias("url"),
                F.regexp_extract("curl2", host_re, 1).alias("host"),
                F.xxhash64("curl2").alias("seq"),
            )
            .withColumn("identity", request_identity(F.col("url")))
        )
        seen = spark.read.parquet(*seen_paths)
        fresh = dedup_push(children, seen)
        fr_path = os.path.join(ckpt_root, "frontier", f"iter={i}")
        fresh.select("url", "host", "seq", "identity").write.mode(
            "overwrite"
        ).parquet(fr_path)
        delta_path = os.path.join(ckpt_root, "seen", f"iter={i}")
        # read back the persisted frontier (lineage cut) and derive the
        # seen delta from it — identities of everything now enqueued
        frontier = spark.read.parquet(fr_path)
        frontier.select("identity").write.mode("overwrite").parquet(delta_path)
        seen_paths.append(delta_path)
        wall = time.monotonic() - t0
        # metrics counts AFTER the wall stops: a crawl iteration needs
        # the writes above, not these scalars (batch.count would even
        # recompute the ranking stage and double-charge it)
        out.append(
            {
                "iter": i,
                "wall_s": round(wall, 3),
                "batch": batch.count(),
                "fresh": frontier.count(),
            }
        )
    return out
