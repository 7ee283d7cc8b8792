"""Benchmark entry point.

    python3 perfbench/run.py --workload drain --seed 1 --seconds 15 --trace 0

Runs one workload, checks its output against the oracle / ground truth,
prints every metric with its unit, and as the LAST stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` — end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. Exits
1 when the check fails, 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: name -> unit; the same set is reported by every workload
END_TO_END = {
    "items_per_s": "1/s",
    "iter_p50_s": "s",
    "state_bytes_per_item": "B",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

_CKPT = ["consumed", "fresh", "fetched", "errors", "metrics", "frontier", "seen", "blooms"]
#: name -> unit; a layer a workload does not run reports 0
PER_LAYER = {
    "loop.jobs_per_iter": "count", "loop.stages_per_iter": "count",
    "loop.tasks_per_iter": "count", "loop.driver_gap_s": "s",
    "loop.resume_jobs": "count", "loop.resume_s": "s",
    "ckpt.bytes_per_iter": "B", "ckpt.files_per_iter": "count",
    **{f"ckpt.bytes.{t}": "B" for t in _CKPT},
    "frontier.rank_s": "s", "frontier.batch_rows": "count", "frontier.hosts": "count",
    "identity.s": "s", "dedup.s": "s", "dedup.candidates": "count",
    "dedup.fresh": "count", "dedup.fresh_ratio": "ratio",
    "bloom.build_s": "s", "bloom.probe_s": "s", "bloom.fast_path_ratio": "ratio",
    "fetch.s": "s", "fetch.rows": "count", "fetch.ok_ratio": "ratio",
    "fetch.transport_errors": "count",
    "parse.s": "s", "parse.pages": "count", "parse.links": "count",
    "write.s": "s",
    "validate.s": "s", "validate.rows": "count", "validate.valid_ratio": "ratio",
    "neardup.s": "s", "neardup.pairs": "count",
    "sink.s": "s", "sink.bytes": "B", "sink.shards": "count",
    "spark.task_s": "s", "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
    "spark.gc_s": "s", "replay.uncovered_s": "s",
}

WORKLOADS = ("drain", "images")


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    if name == "images":
        from perfbench import images

        return (images.traced if trace else images.timed)(seed, seconds)
    from perfbench import crawls

    return (crawls.traced if trace else crawls.timed)(crawls.DRAIN, seed, seconds)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        import dotnetspider_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import harness

    harness.prepare_env()
    before = harness.process_tree()
    start = harness.mark()
    try:
        res = run_workload(a.workload, a.seed, a.seconds, bool(a.trace))
        _, busy, steal = (y - x for x, y in zip(start, harness.mark()))
        res["info"]["steal_share"] = round(steal / max(busy + steal, 1e-9), 4)
    except Exception:
        traceback.print_exc()
        res = None
    finally:
        harness.log("shutting down")
        started = [p for p in harness.process_tree() if p not in before]
        harness.shutdown_jvm()
        harness.log("JVM stopped")
        harness.wait_descendants_gone(started)
        harness.log("all child processes ended")
    if res is None:
        return 1

    units = PER_LAYER if a.trace else END_TO_END
    metrics = {k: {"value": res["metrics"].get(k, 0), "unit": u} for k, u in units.items()}
    attempted, failed = res["attempted"], res["failed"]
    print(f"workload={a.workload} seed={a.seed} trace={a.trace}")
    for k, v in metrics.items():
        print(f"  {k:28s} {v['value']:>16.6g} {v['unit']}")
    for k, v in sorted(res["metrics"].items()):
        if k not in metrics:
            print(f"  {k:28s} {v:>16.6g} (extra)")
    print(f"  {'failed_share':28s} {failed / max(attempted, 1):>16.6g} ratio "
          f"({failed} failed / {attempted} attempted)")
    for k, v in res["info"].items():
        print(f"  {k}: {v}")
    for n in res["notes"]:
        print(f"  MISMATCH {n}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
