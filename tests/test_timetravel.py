"""Snapshot time travel over the crawl checkpoint (crawler/timetravel).

Ground truth: the crawl is deterministic, so the state a FULL run's
snapshot-N reconstructs must equal the final state of an identical run
STOPPED at iteration N. Expiry is delete-by-unreference: kept
snapshots must remain fully readable afterwards.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from dotnetspider_spark.crawler.loop import Checkpointer, CrawlConfig, crawl
from dotnetspider_spark.crawler.timetravel import (
    expire_snapshots,
    fetched_as_of,
    frontier_as_of,
    list_snapshots,
    load_snapshot_manifest,
    seen_as_of,
)
from dotnetspider_spark.testing.datagen import (
    CorpusConfig,
    gen_corpus,
    gen_robots,
    gen_seeds,
)

TINY = CorpusConfig(n_pages=60, n_hosts=4)


@pytest.fixture(scope="module")
def corpus(spark):
    df = gen_corpus(spark, TINY, parallelism=2).cache()
    df.count()
    yield df
    df.unpersist()


def _run(spark, corpus, ck, max_iterations=None, resume=False):
    kw = dict(dfs=True, max_depth=3, per_host_limit=8, checkpoint_dir=ck)
    if max_iterations is not None:
        kw["max_iterations"] = max_iterations
    return crawl(
        spark,
        corpus,
        gen_seeds(spark, TINY, k=4),
        CrawlConfig(**kw),
        robots=gen_robots(spark, TINY),
        resume=resume,
    )


def _ids(df):
    return {r.identity for r in df.select("identity").collect()}


def test_snapshot_equals_stopped_run(spark, corpus, tmp_path_factory):
    ck_full = str(tmp_path_factory.mktemp("tt_full"))
    ck_stop = str(tmp_path_factory.mktemp("tt_stop"))
    _run(spark, corpus, ck_full)
    _run(spark, corpus, ck_stop, max_iterations=2)

    it = Checkpointer(spark, ck_stop).last_iter()
    assert it is not None
    # the full run retained a manifest for that same iteration
    assert it in list_snapshots(ck_full)

    assert _ids(frontier_as_of(spark, ck_full, it)) == _ids(
        frontier_as_of(spark, ck_stop, it)
    )
    assert _ids(seen_as_of(spark, ck_full, it)) == _ids(
        seen_as_of(spark, ck_stop, it)
    )
    f_full, f_stop = (
        fetched_as_of(spark, ck_full, it),
        fetched_as_of(spark, ck_stop, it),
    )
    assert (f_full is None) == (f_stop is None)
    if f_full is not None:
        assert {r.url for r in f_full.select("url").collect()} == {
            r.url for r in f_stop.select("url").collect()
        }


def test_snapshots_are_monotone_and_final_matches_result(
    spark, corpus, tmp_path_factory
):
    ck = str(tmp_path_factory.mktemp("tt_mono"))
    res = _run(spark, corpus, ck)
    snaps = list_snapshots(ck)
    assert snaps == sorted(snaps) and len(snaps) >= 2
    seen_sets = [_ids(seen_as_of(spark, ck, it)) for it in snaps]
    for a, b in zip(seen_sets, seen_sets[1:]):
        assert a <= b  # seen set only grows
    assert seen_sets[-1] == _ids(res.seen)
    # final pending frontier of an exhausted crawl is empty
    assert frontier_as_of(spark, ck, snaps[-1]).count() == 0


def test_expire_keeps_newest_readable_and_drops_old(
    spark, corpus, tmp_path_factory
):
    ck = str(tmp_path_factory.mktemp("tt_exp"))
    res = _run(spark, corpus, ck)
    snaps = list_snapshots(ck)
    assert len(snaps) >= 3
    before = _ids(seen_as_of(spark, ck, snaps[-1]))

    out = expire_snapshots(ck, keep_last=1)
    assert out["kept"] == [snaps[-1]]
    assert out["deleted_manifests"] == len(snaps) - 1
    assert list_snapshots(ck) == [snaps[-1]]

    # kept snapshot fully readable after deletion (forces file reads)
    assert _ids(seen_as_of(spark, ck, snaps[-1])) == before == _ids(res.seen)
    assert frontier_as_of(spark, ck, snaps[-1]).count() == 0
    f = fetched_as_of(spark, ck, snaps[-1])
    assert f is not None and f.count() > 0

    # expired snapshots fail loudly, not wrongly
    with pytest.raises(ValueError, match="no snapshot manifest"):
        load_snapshot_manifest(ck, snaps[0])


def test_expire_rejects_keep_zero(tmp_path):
    with pytest.raises(ValueError):
        expire_snapshots(str(tmp_path), keep_last=0)


def test_expire_with_different_root_spelling_keeps_state(
    spark, corpus, tmp_path_factory
):
    """Manifests record paths as spelled at CRAWL time; expiring via a
    relative spelling of the same root must not delete state the kept
    snapshot references (regression: normpath string-compare treated
    every referenced dir as unreferenced)."""
    import os

    ck = str(tmp_path_factory.mktemp("tt_spell"))
    res = _run(spark, corpus, ck)
    snaps = list_snapshots(ck)
    before = _ids(seen_as_of(spark, ck, snaps[-1]))

    cwd = os.getcwd()
    os.chdir(os.path.dirname(ck))
    try:
        rel = os.path.basename(ck)
        expire_snapshots(rel, keep_last=1)
    finally:
        os.chdir(cwd)
    # kept snapshot fully readable through the ORIGINAL absolute root
    assert _ids(seen_as_of(spark, ck, snaps[-1])) == before == _ids(res.seen)
    f = fetched_as_of(spark, ck, snaps[-1])
    assert f is not None and f.count() > 0


#: the manifest is an on-disk format: old checkpoints and perfbench's
#: replay read these keys, and they are written in this order
MANIFEST_KEYS = [
    "last_iter", "ts", "frontier_parts", "consumed_parts", "seen_parts",
    "fetched_paths", "errors_paths", "downloads_paths", "n_frontier",
    "seen_table", "seen_table_buckets", "seen_table_path",
]


def _to_parent_layout(spark, ck: str) -> None:
    """Rewrite the checkpoint under ``ck`` into the layout written before
    the single fact log: ``fetched/iter=N`` holds the successes only,
    ``errors/iter=N`` the failures, ``consumed/iter=N`` every batch row,
    and the manifest lists the errors dirs under ``errors_paths`` and
    the consumed dirs under ``consumed_parts``."""
    m = Checkpointer(spark, ck).load_manifest()
    m["errors_paths"] = []
    consumed = set(m["consumed_parts"])
    m["consumed_parts"] = []
    for path in m["fetched_paths"]:
        log = spark.read.parquet(path)
        if path in consumed:
            batch = path.replace("/fetched/", "/consumed/")
            log.drop("reason", "status", "target_url", "iter").write.parquet(batch)
            m["consumed_parts"].append(batch)
        errors = path.replace("/fetched/", "/errors/")
        log.filter("reason IS NULL").drop("reason").write.parquet(path + ".old")
        log.filter("reason <> 'retry'").select(
            "url", "host", "identity", "depth", "retried", "status", "reason",
            "iter",
        ).write.parquet(errors)
        shutil.rmtree(path)
        os.rename(path + ".old", path)
        m["errors_paths"].append(errors)
    with open(f"{ck}/manifests/iter={m['last_iter']}.json", "w") as f:
        json.dump(m, f)


def _errors(df):
    return {(r.url, r.retried, r.reason, r.iter) for r in df.collect()}


def test_manifest_format_pinned_and_old_manifest_resumes(
    spark, corpus, tmp_path_factory
):
    ck = str(tmp_path_factory.mktemp("tt_fmt"))
    _run(spark, corpus, ck, max_iterations=2)
    m = Checkpointer(spark, ck).load_manifest()
    assert list(m) == MANIFEST_KEYS
    assert m["last_iter"] == 1
    full = _run(spark, corpus, str(tmp_path_factory.mktemp("tt_fmt_full")))
    full_urls = {r.url for r in full.fetched.select("url").collect()}

    # a checkpoint in the layout of separate errors dirs, and a copy of
    # it whose manifest predates the errors/downloads logs altogether
    _to_parent_layout(spark, ck)
    ck_old = str(tmp_path_factory.mktemp("tt_fmt_old")) + "/ckpt"
    shutil.copytree(ck, ck_old)
    with open(f"{ck_old}/manifests/iter=1.json") as f:
        m = json.loads(f.read().replace(ck, ck_old))
    for key in ("errors_paths", "downloads_paths"):
        del m[key]
    with open(f"{ck_old}/manifests/iter=1.json", "w") as f:
        json.dump(m, f)

    res = _run(spark, corpus, ck, resume=True)
    assert {r.url for r in res.fetched.select("url").collect()} == full_urls
    assert _ids(res.seen) == _ids(full.seen)
    assert _errors(res.errors) == _errors(full.errors)

    res = _run(spark, corpus, ck_old, resume=True)
    assert {r.url for r in res.fetched.select("url").collect()} == full_urls
    assert _ids(res.seen) == _ids(full.seen)
    # the errors of the two iterations before the resume are unlisted
    assert res.errors.filter(F.col("iter") < 2).count() == 0
    assert res.errors.count() > 0


def test_fresh_crawl_into_reused_dir_drops_old_snapshots(
    spark, corpus, tmp_path_factory
):
    """A fresh crawl into a checkpoint dir that holds an earlier crawl
    serves none of its snapshots: their part dirs are being overwritten.
    The new crawl then resumes exactly like a clean run."""
    ck = str(tmp_path_factory.mktemp("tt_reuse"))
    # the clean run; collected now, as the fresh crawl overwrites its files
    clean = _run(spark, corpus, ck)
    clean_urls = {r.url for r in clean.fetched.select("url").collect()}
    clean_ids, clean_snaps = _ids(clean.seen), list_snapshots(ck)
    assert len(clean_snaps) >= 3
    _run(spark, corpus, ck, max_iterations=1)
    assert list_snapshots(ck) == [0]
    assert Checkpointer(spark, ck).last_iter() == 0

    res = _run(spark, corpus, ck, resume=True)
    assert {r.url for r in res.fetched.select("url").collect()} == clean_urls
    assert _ids(res.seen) == clean_ids
    assert list_snapshots(ck) == clean_snaps


def test_state_writer_counts_rows_from_footers(spark, tmp_path):
    """The footer count of a dir the one state writer wrote (no Spark
    job) equals ``df.count()``, empty and multi-partition frames alike."""
    from dotnetspider_spark.crawler.loop import _rows, _write_state

    empty = spark.createDataFrame([], "identity string")
    many = spark.range(0, 1000, numPartitions=7).selectExpr(
        "cast(id as string) as identity"
    )
    for i, df in enumerate((empty, many, many.filter("identity < '5'"))):
        path = str(tmp_path / f"t{i}")
        _write_state(df, path)
        assert _rows(path) == df.count()


def test_expire_reclaims_blooms_and_metrics_dirs(spark, corpus, tmp_path_factory):
    """``blooms/iter=N`` and ``metrics/iter=N`` dirs, which older versions
    of the loop wrote and no manifest lists, are deleted on expiry, and
    every kept snapshot stays readable."""
    ck = str(tmp_path_factory.mktemp("tt_old_dirs"))
    _run(spark, corpus, ck)
    old_dirs = [
        f"{ck}/{sub}/iter={it}" for sub in ("blooms", "metrics") for it in (0, 1)
    ]
    for path in old_dirs:
        spark.range(3).write.parquet(path)
    keep = list_snapshots(ck)[-2:]

    def snapshot(it):
        return (
            _ids(frontier_as_of(spark, ck, it)),
            _ids(seen_as_of(spark, ck, it)),
            {r.url for r in fetched_as_of(spark, ck, it).select("url").collect()},
        )

    before = {it: snapshot(it) for it in keep}

    out = expire_snapshots(ck, keep_last=2)
    assert out["kept"] == keep
    assert set(old_dirs) <= set(out["deleted_dirs"])
    assert not any(os.path.exists(p) for p in old_dirs)
    assert {it: snapshot(it) for it in keep} == before
