"""Physical-plan quality gates — pushdown, pruning, broadcast, codegen.

The 100 TB design point lives or dies on plan shape, not code style:
filters must reach the parquet scan, scheduling must never read payload
columns, small dims must broadcast. These tests read
``explain('formatted')`` output so a regression in plan quality fails CI
like a wrong answer would.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") >= 5).select("l_orderkey", "l_linenumber")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1].split("\n")[0]


def test_column_pruning_scheduling_never_reads_payload(spark):
    """The frontier path must scan only narrow columns even when the
    source table carries image bytes."""
    from dotnetspider_spark.testing.datagen import CorpusConfig, gen_corpus

    corpus = gen_corpus(spark, CorpusConfig(n_pages=50, n_hosts=4), parallelism=2)
    path = "/tmp/plan_corpus_parquet"
    corpus.write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    sched_view = pages.select("url", "status", "html").filter(F.col("status") == 200)
    plan = _plan(sched_view)
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "bytes" not in read_schema
    assert "phash" not in read_schema
    assert "url" in read_schema


def test_small_dim_broadcasts(spark):
    n = spark.read.parquet(f"{SF}/nation.parquet")
    r = spark.read.parquet(f"{SF}/region.parquet")
    df = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_robots_gate_uses_broadcast(spark):
    from dotnetspider_spark.crawler.loop import (
        _robot_rules, _robots_flag, seeds_to_frontier,
    )
    from dotnetspider_spark.testing.datagen import (
        CorpusConfig, gen_robots, gen_seeds,
    )

    cfg = CorpusConfig(n_pages=50, n_hosts=4)
    frontier = seeds_to_frontier(gen_seeds(spark, cfg, 10)).withColumn(
        "rank", F.lit(1)
    )
    rules = _robot_rules(gen_robots(spark, cfg))
    gated = _robots_flag(frontier, rules).filter("__allowed")
    plan = _plan(gated)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the gate itself must add no shuffle: longest-prefix pick is an
    # array fold, not a per-identity window
    assert "Window" not in plan


def test_dedup_partial_aggregation(spark):
    """min_by dedup must plan as HashAggregate (partial+final), not a
    Window sort — the map-side combine is the scale property."""
    from dotnetspider_spark.operators.frontier import dedup_push

    cand = spark.range(1000).select(
        F.md5(F.col("id").cast("string")).alias("identity"),
        F.col("id").alias("seq"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
    )
    plan = _plan(dedup_push(cand, None))
    assert "HashAggregate" in plan or "SortAggregate" in plan
    assert "Window" not in plan


def test_whole_stage_codegen_covers_identity(spark):
    from dotnetspider_spark.functions.identity import request_identity

    df = spark.range(100).select(
        request_identity(F.concat(F.lit("http://h/"), F.col("id"))).alias("identity")
    )
    # formatted mode marks codegen'd operators with "[codegen id : N]"
    plan = _plan(df)
    assert "codegen id" in plan
    # the md5 identity projection itself sits inside the codegen span
    assert "md5" in plan and plan.index("md5") > plan.index("codegen id")


def test_seed_seq_has_no_single_partition_window(spark):
    """seeds_to_frontier's dense seq must never funnel the whole seed set
    through one task (the 10^10-seed design point): no SinglePartition
    exchange may appear in its plan."""
    from dotnetspider_spark.crawler.loop import seeds_to_frontier
    from dotnetspider_spark.testing.datagen import CorpusConfig, gen_seeds

    cfg = CorpusConfig(n_pages=200, n_hosts=4)
    fr = seeds_to_frontier(gen_seeds(spark, cfg, 100))
    assert "SinglePartition" not in _plan(fr)


def test_model_take_plans_as_top_k(spark):
    """ModelDefinition.Take must plan as TakeOrderedAndProject (per-
    partition top-K), never a single-partition row_number window."""
    from dotnetspider_spark.extraction.model import EntityModel, Field, extract

    df = spark.range(1000).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.concat(F.lit("body "), F.col("id")).alias("html"),
    )
    model = EntityModel(
        name="m",
        fields=(Field("n", "regex", r"body (\d+)", dtype="bigint"),),
        take=5,
    )
    out = extract(model, df, content_col="html", page_key="url")
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert out.count() == 5


def test_bucketed_seen_join_skips_seen_side_shuffle(spark, tmp_path):
    """The 10^10-row seen-table design point: stored bucketed by
    identity, the per-iteration dedup anti-join reads buckets in place —
    the seen side contributes NO exchange; only the (much smaller)
    candidate batch shuffles."""
    import re

    spark.sql("DROP TABLE IF EXISTS seen_bucketed_t")
    seen = spark.range(20000).select(
        F.md5(F.col("id").cast("string")).alias("identity")
    )
    (
        seen.write.mode("overwrite")
        .bucketBy(8, "identity").sortBy("identity")
        .saveAsTable("seen_bucketed_t")
    )
    try:
        cand = spark.range(2000).select(
            F.md5((F.col("id") * 7).cast("string")).alias("identity"),
            F.col("id").alias("seq"),
        )
        out = cand.join(
            spark.table("seen_bucketed_t").hint("merge"), "identity", "left_anti"
        )
        plan = _plan(out)
        assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan
        # exactly one exchange: the candidate side; the bucketed scan
        # feeds its sort/join directly
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange == 1, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS seen_bucketed_t")


def test_embedding_band_join_carries_ids_only(spark):
    """embedding_neardup_pairs' band self-join must shuffle (id, band)
    only — at 10^10 x d floats, carrying vectors through the 8-way band
    explode would multiply exchange bytes by n_bands (VERDICT r2 #2).
    Every hashpartitioning exchange on a band key must have a narrow
    input row: no array column may appear in its Input/Output lists."""
    import re

    from dotnetspider_spark.operators.ann import embedding_neardup_pairs

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    # at sf0.001 the tiny sides broadcast; force the at-scale shape
    # (shuffle join) so the exchange payload is actually visible
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(embedding_neardup_pairs(e, threshold=0.9))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # formatted explain: each "(N) Exchange" has a detail block with
    # "Input [k]: [col#1, ...]" — find band-keyed exchanges and check
    # their inputs are free of the embedding/vector columns
    blocks = re.split(r"\n\n", plan)
    checked = 0
    for b in blocks:
        if not re.match(r"\(\d+\) Exchange", b):
            continue
        m = re.search(r"hashpartitioning\(([^)]*)\)", b)
        if not m or "band" not in m.group(1):
            continue
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
        assert inp is not None, b
        assert "embedding" not in inp.group(1) and "v#" not in inp.group(1), b
        checked += 1
    assert checked >= 2, plan  # both sides of the band self-join


def test_priority_order_query_plans_as_top_k(spark):
    import __spark_entry__ as em

    plan = _plan(em.q_priority_order(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_no_unbounded_single_partition_window_in_any_query(spark):
    """Sweep EVERY registered query: a Window over an Exchange
    SinglePartition is a one-task funnel of its whole input — allowed
    only when a TakeOrderedAndProject/GlobalLimit bounds that input
    first (VERDICT r2 #3). Plan-only sweep: nothing executes except the
    few operators (kmeans/CC) that materialize during plan build."""
    import __spark_entry__ as em

    skip = {
        # iterative/codec pipelines execute real jobs to BUILD their
        # result DataFrame; their plan shape is pinned by their own tests
        "ann_ivf_topk", "docs_neardup_clusters", "docs_neardup_keep",
        "docs_neardup_verified", "image_dedup_canonical",
        "image_dedup_keep", "crawl_schedule_iteration",
        # runs the ENTIRE engine crawl loop (~25 checkpointed
        # iterations) to build its result; window-free output shape
        # (iter arithmetic, no global window) + values pinned by the
        # driver's hash gate
        "crawl_order_parity",
    }
    import re

    def has_unpartitioned_window(plan: str) -> bool:
        # a window's partition columns are the leading args of its
        # windowspecdefinition; order columns carry ASC/DESC. No
        # partition column => the whole input funnels through one task.
        # (The old "SinglePartition AND Window anywhere in the plan"
        # text check false-positived on queries that combine a
        # partitioned window with an unrelated scalar aggregate, whose
        # final agg is legitimately a SinglePartition exchange.)
        for m in re.finditer(
            r"windowspecdefinition\((.*?)specifiedwindowframe", plan
        ):
            head = m.group(1).strip().rstrip(",").strip()
            if not head:
                return True
            parts = [p.strip() for p in head.split(",") if p.strip()]
            if all((" ASC" in p) or (" DESC" in p) for p in parts):
                return True
        return False

    offenders = {}
    for name, fn in em.queries().items():
        if name in skip:
            continue
        plan = _plan(fn(spark, SF))
        if has_unpartitioned_window(plan):
            if "TakeOrderedAndProject" not in plan and "GlobalLimit" not in plan:
                offenders[name] = plan
    assert not offenders, list(offenders)


def test_ivf_search_reads_fraction_of_bucketed_base(spark, tmp_path):
    """The IVF scale path: base persisted BUCKETED by IVF bucket id; the
    nprobe candidate join must (a) prune the bucketed scan to the probed
    buckets only when probes are a literal list, or at minimum (b) join
    bucket-to-bucket with no exchange on the bucketed base side."""
    import re

    from dotnetspider_spark.operators.ann import (
        assign_buckets, train_centroids,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = train_centroids(e, k=8, iterations=1)
    spark.sql("DROP TABLE IF EXISTS ivf_base_t")
    (
        assign_buckets(e.select("vec_id", "embedding"), cents)
        .write.mode("overwrite")
        .bucketBy(8, "bucket").sortBy("bucket")
        .saveAsTable("ivf_base_t")
    )
    try:
        base = spark.table("ivf_base_t")
        probes = spark.createDataFrame([(0, 0), (0, 3), (1, 5)], "q int, bucket int")
        # small probe set: planner broadcasts it — base side never
        # shuffles (bucketing is then rightly ignored)
        plan = _plan(probes.join(base, "bucket"))
        assert "BroadcastHashJoin" in plan, plan
        for b in re.split(r"\n\n", plan):
            if re.match(r"\(\d+\) Exchange", b) and "hashpartitioning" in b:
                inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
                assert inp and "embedding" not in inp.group(1), b
        # at-scale shape (probe side too big to broadcast): the bucketed
        # layout must absorb the base side's exchange entirely
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(probes.hint("merge").join(base, "bucket"))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "Bucketed: true" in plan, plan
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange == 1, plan  # probe side only
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_base_t")


def test_minhash_signature_is_map_only(spark):
    """MinHash signatures must compute as a per-row fold — zero Exchange
    in the plan. The explode+groupBy shape ships every token through a
    shuffle keyed by doc id (10^13 rows at the design point) for a value
    each row can compute locally."""
    import re

    from dotnetspider_spark.operators.textdedup import minhash_signature

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon doc "), F.col("id")).alias(
            "text"
        ),
    )
    plan = _plan(minhash_signature(docs, "doc_id", "text", k=8))
    assert not re.search(r"\(\d+\) Exchange", plan), plan
    assert "Generate" not in plan, plan  # no explode either


def test_cross_corpus_band_join_never_ships_text(spark):
    """dedup_against_corpus: every exchange keyed on the LSH (band, key)
    must carry narrow rows — document text may never ride the band
    shuffle (the corpus side is 10^10 docs; shipping text would dwarf
    the band keys by ~3 orders of magnitude)."""
    import re

    from dotnetspider_spark.operators.textdedup import dedup_against_corpus

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    new = d.filter("doc_id % 3 = 0")
    corpus = d.filter("doc_id % 3 != 0")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(dedup_against_corpus(new, corpus, k=4))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    checked = 0
    for b in re.split(r"\n\n", plan):
        if not re.match(r"\(\d+\) Exchange", b):
            continue
        m = re.search(r"hashpartitioning\(([^)]*)\)", b)
        if not m or "key" not in m.group(1):
            continue
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
        assert inp is not None, b
        assert "text#" not in inp.group(1), b
        checked += 1
    assert checked >= 2, plan  # new side and corpus side of the band join


def test_domain_quota_prefilters_mega_hosts_before_window(spark):
    """domain_quota must compose the hash-threshold prefilter with the
    exact rank: the plan broadcasts the (tiny) mega-host count table and
    filters on the hash BEFORE the host window, so one 10^8-page host
    can't serialize a window task — and the survivor set stays
    byte-identical to the pure-window form (same hash orders both)."""
    from pyspark.sql import Window

    from dotnetspider_spark.operators.curation import domain_quota
    from dotnetspider_spark.operators.textdedup import _hash64

    rows = [(f"d{i}", "mega.example" if i < 2000 else f"h{i % 7}.example")
            for i in range(2300)]
    df = spark.createDataFrame(rows, "doc_id string, host string")
    out = domain_quota(df, host_col="host", key_col="doc_id", quota=10)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan
    # the hash filter must sit BELOW the window (prefilter, not post):
    # formatted-plan operator ids grow downstream, so the __h Filter's
    # id must be smaller than the Window's
    import re

    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window", plan)]
    filt_ids = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) Filter", plan)
        if "__h" in plan[m.start():m.start() + 400]
    ]
    assert win_ids and filt_ids, plan
    assert min(filt_ids) < min(win_ids), (filt_ids, win_ids)
    # exact equivalence vs the pure-window form
    h = _hash64(F.concat(F.lit("quota|"), F.col("doc_id")))
    w = Window.partitionBy("host").orderBy(h.asc(), F.col("doc_id").asc())
    ref = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .drop("__rn")
    )
    got = {(r.doc_id, r.host) for r in out.collect()}
    want = {(r.doc_id, r.host) for r in ref.collect()}
    assert got == want
    # the prefilter actually bit: mega host kept exactly quota rows
    assert sum(1 for _d, h_ in got if h_ == "mega.example") == 10


def test_bpe_pair_counts_compresses_to_word_table_first(spark):
    """The pair stage must read the word-FREQUENCY table (Heaps'-law
    sized), not token occurrences: plan shows the word aggregate BELOW
    the pair explode, and the final cut is top-k, not a global sort."""
    from dotnetspider_spark.operators.tokenizer import bpe_pair_counts

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bpe_pair_counts(docs, k=10))
    assert "TakeOrderedAndProject" in plan
    # two generate stages (token explode, pair explode) with an
    # aggregate between them — the Sennrich compression
    gen_positions = [i for i, ln in enumerate(plan.splitlines()) if "Generate" in ln]
    agg_positions = [i for i, ln in enumerate(plan.splitlines()) if "HashAggregate" in ln]
    assert len(gen_positions) >= 2
    assert any(g1 < a < g2 for a in agg_positions
               for g1, g2 in [(min(gen_positions), max(gen_positions))])


def test_hard_negatives_filter_precedes_topk(spark):
    """Positives exclusion is a literal filter under the top-k — the
    plan must show TakeOrderedAndProject with no Window and no global
    Sort above the scored aggregate."""
    from dotnetspider_spark.operators.retrieval import hard_negatives

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(hard_negatives(docs, ["spark"], positive_ids=[1, 2], k=5))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_dedup_source_priority_has_no_window_and_no_text_shuffle(spark):
    """Winner election is a partial-agg'd min_by — no Window operator;
    the text column must not ride the exchange (only its hash does)."""
    from dotnetspider_spark.operators.curation import dedup_source_priority

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup_source_priority(docs, {"src0": 0}))
    assert "Window" not in plan
    # the hash-keyed exchange carries __key/__id/__prio, never text
    exchange_sections = [
        s for s in plan.split("(")
        if s.startswith("Exchange") and "__key" in s
    ]
    assert all("text" not in s for s in exchange_sections)


def test_trap_detection_is_two_level_aggregate_no_window(spark):
    from dotnetspider_spark.operators.traps import trap_detection

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    urls = docs.select(
        F.concat(F.lit("http://h"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".example/p/"), F.col("doc_id").cast("string")).alias("url")
    )
    plan = _plan(trap_detection(urls))
    assert "Window" not in plan
    import re

    # exactly two shuffles: (host,template) compress, then (host) report
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2


def test_dsir_weight_join_broadcasts_and_never_ships_text(spark):
    """dsir_weights: the log-ratio table is B rows and must broadcast
    back onto the token pass (a shuffle join would ship every token —
    10^13 rows at the design point); no exchange may carry the raw
    text column, and there must be no Window anywhere."""
    import re

    from dotnetspider_spark.operators.importance import dsir_weights

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dsir_weights(d, F.col("lang") == "en", n_buckets=64))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    for b in re.split(r"\n\n", plan):
        if not re.match(r"\(\d+\) Exchange", b):
            continue
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
        assert inp is not None, b
        assert "text#" not in inp.group(1), b


def test_sniff_fast_path_is_jvm_map_only(spark):
    """sniff_image_meta fast path: pure codegen'd projection — no
    Python/Arrow eval node, no Exchange. At 10^10 rows this runs at
    parquet-scan speed; any Python crossing here would ship every
    payload byte through Arrow."""
    from dotnetspider_spark.operators.images import sniff_image_meta

    df = spark.createDataFrame(
        [("a", b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)],
        "image_id string, bytes binary",
    )
    plan = _plan(sniff_image_meta(df))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "mapInPandas" not in plan.lower(), plan


def test_pq_adc_scan_side_is_python_free(spark):
    """pq_adc_topk's scan over the codes table must be pure codegen —
    the LUT lookup (element_at/transform/aggregate) runs JVM-side, and
    the only Arrow UDF in the whole plan is the per-query LUT builder
    on the tiny broadcast side. At 10^10 codes, a Python stage on the
    scan side would bottleneck the whole search."""
    import re

    from dotnetspider_spark.operators.ann import (
        pq_adc_topk,
        pq_formula_codebook,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = pq_formula_codebook()
    # pre-materialized codes table (the stored index): the scan must
    # not re-enter Python for scoring
    codes = spark.createDataFrame(
        [(i, [i % 4, (i * 3) % 4, (i * 5) % 4, (i * 7) % 4]) for i in range(200)],
        "vec_id long, codes array<int>",
    )
    plan = _plan(
        pq_adc_topk(codes, e.filter(F.col("vec_id") < 3), cb, k=5)
    )
    # exactly one Arrow/Python eval node (the query-side LUT UDF) —
    # formatted explain prints each node in the tree AND as a detail
    # block, so count the numbered detail blocks only
    evals = re.findall(r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython)", plan)
    assert len(evals) == 1, f"expected 1 Python stage, saw {len(evals)}"
    # ... and it feeds the BROADCAST side, not the codes scan: the
    # broadcast exchange's block must be the one downstream of the UDF
    blocks = re.split(r"\n\n", plan)
    for b in blocks:
        if re.match(r"\(\d+\) (ArrowEvalPython|BatchEvalPython)", b):
            assert "lut" in b or "pythonUDF" in b
    # the scoring projection is JVM expression work on the scan side
    assert "aggregate(transform(codes" in plan or "aggregate(" in plan


def test_resolution_dedup_rank_never_ships_payload(spark):
    """resolution_dedup's window exchange must carry the slim
    (id, phash, w, h) projection only — at 10^10 images, shipping the
    bytes column through the phash hash-partitioning would multiply the
    exchange by the payload size for columns the rank never reads."""
    import re

    from dotnetspider_spark.operators.images import resolution_dedup

    pairs = spark.createDataFrame(
        [(i, i % 7, 100, 100, bytearray(b"\x89PNG" * 10)) for i in range(50)],
        "image_id long, phash long, w int, h int, bytes binary",
    )
    plan = _plan(resolution_dedup(pairs))
    blocks = re.split(r"\n\n", plan)
    checked = 0
    for b in blocks:
        if not re.match(r"\(\d+\) Exchange", b):
            continue
        m = re.search(r"hashpartitioning\(([^)]*)\)", b)
        if not m or "phash" not in m.group(1):
            continue
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
        assert inp and "bytes" not in inp.group(1), b
        checked += 1
    assert checked >= 1


def test_asof_join_is_single_shuffle_no_range_join(spark):
    """asof_join's plan must be the union + window shape: exchanges key
    on the join key only (no range/theta join — no
    BroadcastNestedLoopJoin / CartesianProduct anywhere), and no
    single-partition exchange (the window partitions by key)."""
    from dotnetspider_spark.operators.temporal import asof_join

    left = spark.range(1000).select(
        (F.col("id") % 13).cast("string").alias("k"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
        F.col("id"),
    )
    right = spark.range(100).select(
        (F.col("id") % 13).cast("string").alias("k"),
        F.timestamp_seconds(F.col("id") * 7).alias("ts"),
        F.col("id").alias("v"),
    )
    plan = _plan(asof_join(left, right, key="k", payload=["v"]))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "SinglePartition" not in plan
    # the one data exchange keys on the as-of key
    assert "hashpartitioning(__k" in plan


def test_exact_quantiles_has_no_global_sort(spark):
    """exact_quantiles must rank within groups (hashpartitioning on the
    group key) and never plan a global sort or single-partition
    exchange; the counts side joins broadcast."""
    from dotnetspider_spark.operators.temporal import exact_quantiles

    df = spark.range(10000).select(
        (F.col("id") % 20).cast("string").alias("host"),
        (F.col("id") % 97).cast("double").alias("value"),
        F.col("id").alias("event_id"),
    )
    plan = _plan(exact_quantiles(df, "host", "value", tie_break="event_id"))
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan  # global sort's exchange kind
    assert "hashpartitioning(host" in plan
    assert "BroadcastHashJoin" in plan  # per-group counts come back tiny


def test_tfidf_simjoin_never_ships_text(spark):
    """The postings self-join shuffles (id, token, weight) triples —
    the document text column must not appear in any exchange input
    (ids-only discipline, same gate as the minhash/embedding paths)."""
    import re

    from dotnetspider_spark.operators.simjoin import tfidf_simjoin

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(tfidf_simjoin(docs, threshold=0.3, max_df=50))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    for b in re.split(r"\n\n", plan):
        if not re.match(r"\(\d+\) Exchange", b):
            continue
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
        assert inp is None or "text#" not in inp.group(1), b


def test_clip_score_is_map_only_no_exchange(spark):
    """clip_score is a pure mapInPandas pass-through: a single Python
    stage over the scan, no exchange of MB-scale payload rows at any
    cardinality."""
    from dotnetspider_spark.operators.multimodal import clip_score

    pairs = spark.range(64).select(
        F.col("id").cast("string").alias("image_id"),
        F.lit(b"\x00").alias("bytes"),
        F.lit(8).alias("w"), F.lit(8).alias("h"),
        F.lit("png").alias("fmt"),
        F.lit("a red test card").alias("caption"),
    )
    plan = _plan(clip_score(pairs))
    assert "Exchange" not in plan
    assert plan.count("MapInPandas (") == 1  # one stage (tree line)


def test_linear_head_score_is_jvm_map_only(spark):
    """The frozen linear head must stay a pure map-side JVM expression:
    no Exchange (10^10-row scan is bandwidth-bound only) and no Python
    worker (ArrowEvalPython/BatchEvalPython) — the whole point of the
    plan-literal weight form."""
    import re

    from dotnetspider_spark.operators.ann import linear_head_score

    df = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=1) for _ in range(8)]).alias("embedding"),
    )
    plan = _plan(linear_head_score(df, [0.1] * 8, bias=0.5))
    assert not re.search(r"\(\d+\) Exchange", plan), plan
    assert "Python" not in plan, plan


def test_hash_split_is_map_only(spark):
    """Split membership is a pure function of the id — any Exchange in
    this plan means someone turned a map into a shuffle."""
    import re

    from dotnetspider_spark.operators.curation import hash_split

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    plan = _plan(hash_split(df, "doc_id"))
    assert not re.search(r"\(\d+\) Exchange", plan), plan
    assert "Python" not in plan, plan


def test_focused_scores_single_partial_agg(spark):
    """Anchor relevance: exactly one exchange (the dst-keyed agg) with a
    map-side partial HashAggregate before it — the linear-accumulation
    form must not sort or window."""
    import re

    from dotnetspider_spark.operators.retrieval import focused_scores

    links = spark.range(200).select(
        F.concat(F.lit("p"), (F.col("id") % 10).cast("string")).alias("dst"),
        F.lit("api docs click").alias("anchor"),
    )
    plan = _plan(focused_scores(links, ["api", "docs"]))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Sort" not in plan and "Window" not in plan, plan


def test_ip_batch_windows_stay_salted(spark):
    """select_fetch_batch_ip: every Window partition key must include a
    salt or a bounded survivor set — the plan must contain the four
    two-level windows (host,salt / host / ip,salt / ip) and no window
    over the RAW frontier keyed by ip alone before the host cut."""
    from dotnetspider_spark.operators.frontier import select_fetch_batch_ip

    fr = spark.range(500).select(
        F.concat(F.lit("h"), (F.col("id") % 20).cast("string")).alias("host"),
        F.concat(F.lit("http://u/"), F.col("id").cast("string")).alias("url"),
        F.lit(0).alias("priority"),
        F.col("id").alias("seq"),
    )
    host_ip = spark.range(20).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        F.concat(F.lit("ip"), (F.col("id") % 3).cast("string")).alias("ip"),
    )
    plan = _plan(
        select_fetch_batch_ip(fr, host_ip, per_host_limit=2, per_ip_limit=3)
    )
    assert plan.count("Window") >= 4, plan


def test_phash_blocklist_corpus_side_never_shuffles(spark):
    """Blocklist screening at 10^10 images: the corpus side must reach
    the band join without an Exchange (map-side explode into a
    BroadcastHashJoin); no BroadcastNestedLoopJoin (the degenerate
    unbanded shape) and no SortMergeJoin anywhere."""
    from dotnetspider_spark.operators.validate import phash_blocklist_screen

    imgs = spark.range(1000).select(
        F.col("id").alias("image_id"), F.xxhash64("id").alias("phash")
    )
    bl = spark.range(10).select(F.xxhash64("id", F.lit(1)).alias("phash"))
    import re

    plan = _plan(phash_blocklist_screen(imgs, bl))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # band join + flag join, nothing else
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan
    # the only plain Exchange is the tiny hits aggregate — never keyed
    # on the corpus image_id upstream of the band join
    plain = re.findall(r"\(\d+\) Exchange hashpartitioning\(([a-z_]+)", plan)
    assert all(k == "id" for k in plain) and len(plain) <= 1, plan
