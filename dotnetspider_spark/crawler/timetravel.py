"""Snapshot time travel over the crawl checkpoint — the Iceberg
``VERSION AS OF`` / ``expire_snapshots`` analog for the delta-parquet
state layout.

The loop checkpoints every iteration: state tables are append-only
parquet part dirs (compaction writes NEW dirs and merely drops old
ones from the CURRENT manifest's lists — files stay), and
``Checkpointer.save_manifest`` writes one ``manifests/iter=N.json`` per
checkpoint, never overwritten by a later iteration (a fresh crawl into
the same root clears them). The newest is the one a resume reads; this
module reads the same files through the same reader
(``crawler.loop.read_manifest``). Together those give real snapshot
isolation: any retained manifest reconstructs the exact
frontier / seen / fetched state after iteration N, long after the
crawl moved on — audits ("what did the frontier look like when the
trap hit?"), incremental diffing (:func:`operators.frontier
.crawl_delta` between two snapshots), and point-in-time restarts all
read history without replaying it.

The reference has no analog — its scheduler state is process memory,
gone on exit (QueueDuplicateRemovedScheduler.cs holds a List + HashSet);
the Broker design persists only the CURRENT queue. Snapshot history is
what the distributed re-expression adds, per the north rule's
"checkpointed snapshots carrying per-partition lineage + metrics".

Scale notes: a snapshot read costs exactly what a resume costs — the
manifest's part lists are opened directly (column-pruned parquet
reads), nothing is copied at snapshot time. Retention is the only real
cost (un-expired parts hold disk), which is what
:func:`expire_snapshots` bounds — delete-by-unreference, never
delete-by-age-of-file, so a kept manifest can never dangle.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from dotnetspider_spark.crawler.loop import (
    CrawlState,
    list_snapshots,
    manifest_path,
    read_manifest,
)

__all__ = [
    "list_snapshots",
    "load_snapshot_manifest",
    "frontier_as_of",
    "seen_as_of",
    "fetched_as_of",
    "expire_snapshots",
]

#: subdirs whose unreferenced children expiry deletes: the state tables
#: compaction supersedes, plus ``blooms`` and ``metrics``, which older
#: versions of the loop wrote and no manifest lists. The fact logs
#: (fetched/errors/downloads) are never compacted away, so every live
#: manifest references their full history and unreference-based expiry
#: leaves them alone by construction.
_STATE_SUBDIRS = (
    "frontier",
    "fresh",
    "consumed",
    "seen",
    "seen_extra",
    "seen_bucketed",
    "blooms",
    "metrics",
)


def load_snapshot_manifest(root: str, iteration: int) -> dict:
    """The exact manifest checkpointed at ``iteration``. No nearest-match
    fallback: the crawl checkpoints every iteration, so a missing one was
    expired (or never ran) and must fail loudly rather than silently
    answer for a different iteration."""
    m = read_manifest(root, iteration)
    if m is None:
        raise ValueError(
            f"no snapshot manifest for iteration {iteration} under {root} "
            f"(retained: {list_snapshots(root)})"
        )
    return m


def _state_as_of(root: str, iteration: int) -> CrawlState:
    return CrawlState.from_manifest(load_snapshot_manifest(root, iteration))


def frontier_as_of(
    spark: SparkSession, root: str, iteration: int
) -> DataFrame:
    """The PENDING frontier exactly as iteration ``iteration+1`` would
    have seen it: fresh parts anti-joined against consumed identities,
    the same reconstruction a resume performs."""
    return _state_as_of(root, iteration).frontier(spark)


def seen_as_of(spark: SparkSession, root: str, iteration: int) -> DataFrame:
    """The seen identity set after iteration ``iteration`` (1 column),
    bucketed compact included (read by path, as the crawl drops
    superseded table names)."""
    return _state_as_of(root, iteration).seen(spark)


def fetched_as_of(
    spark: SparkSession, root: str, iteration: int
) -> DataFrame | None:
    """All rows fetched in iterations <= ``iteration`` (the success view
    of the fact log's prefix, read from the manifest's path list); None
    before the first fetch."""
    state = _state_as_of(root, iteration)
    return state.fetched(spark) if state.fetched_paths else None


def expire_snapshots(root: str, keep_last: int = 2) -> dict:
    """Reclaim history: keep the newest ``keep_last`` manifests (the
    one a resume reads is always among them — it is the newest), delete
    older manifest files, then delete any STATE part dir no kept
    manifest references (``blooms``/``metrics`` dirs of older
    checkpoints are never referenced, so they all go). Fact-log dirs
    (fetched/errors/downloads) are never candidates: being append-only
    lists, every surviving manifest references them.

    Returns {"kept": [iters], "deleted_manifests": n, "deleted_dirs":
    [paths]} for the caller's audit log. Delete-by-unreference only: a
    kept snapshot remains fully readable afterwards (the test pins
    this)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    snaps = list_snapshots(root)
    keep = snaps[-keep_last:]
    drop = snaps[: -keep_last] if keep_last < len(snaps) else []

    referenced: set[str] = set()
    for it in keep:
        # realpath, not normpath: manifests may record the root as
        # written at CRAWL time ("./ckpt") while expire is called with an
        # absolute or symlinked spelling — a string compare would find
        # nothing referenced and delete state the kept snapshots still
        # need. realpath alone cannot anchor a RELATIVE manifest path
        # recorded under a different cwd, so the (state-subdir, child)
        # suffix rides along as a second key — under-deleting is the
        # safe direction here.
        for p in _state_as_of(root, it).paths():
            referenced.add(os.path.realpath(p))
            parts = os.path.normpath(p).split(os.sep)
            if len(parts) >= 2:
                referenced.add((parts[-2], parts[-1]))

    deleted_dirs: list[str] = []
    for sub in _STATE_SUBDIRS:
        base = f"{root}/{sub}"
        if not os.path.isdir(base):
            continue
        for child in sorted(os.listdir(base)):
            path = f"{base}/{child}"
            if (
                os.path.realpath(path) not in referenced
                and (sub.split(os.sep)[-1], child) not in referenced
            ):
                shutil.rmtree(path, ignore_errors=True)
                deleted_dirs.append(path)

    for it in drop:
        try:
            os.remove(manifest_path(root, it))
        except FileNotFoundError:
            pass

    return {
        "kept": keep,
        "deleted_manifests": len(drop),
        "deleted_dirs": deleted_dirs,
    }
