"""Benchmark self-tests: a tiny smoke run of every workload, repeatable
traced counts, and checks that the correctness comparisons catch a
single wrong output.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import dataclasses
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import crawls, harness, images

TINY_DRAIN = dataclasses.replace(crawls.DRAIN, n_pages=60, n_seeds=8)
TINY_IMAGES = images.ImagesWorkload(
    n_base=12, sides=(16, 24), truncated=2, altered=2, neardups=2, n_shards=2
)


@pytest.fixture(scope="module", autouse=True)
def env():
    harness.prepare_env()
    yield


def test_drain_smoke():
    r = crawls.timed(TINY_DRAIN, seed=7, seconds=0)
    assert r["attempted"] > 0
    assert r["failed"] == 0, r["notes"]
    assert r["info"]["crawls"] == 1
    assert all(v > 0 for v in r["metrics"].values()), r["metrics"]


def test_images_smoke():
    r = images.timed(seed=7, seconds=0, wl=TINY_IMAGES)
    assert r["attempted"] > 0
    assert r["failed"] == 0, r["notes"]
    assert all(v > 0 for v in r["metrics"].values()), r["metrics"]


def test_traced_counts_repeat():
    keys = ("loop.jobs_per_iter", "loop.stages_per_iter", "loop.tasks_per_iter",
            "dedup.candidates", "dedup.fresh", "parse.pages", "parse.links")
    a, b = (crawls.traced(TINY_DRAIN, seed=7, seconds=0) for _ in range(2))
    assert a["failed"] == b["failed"] == 0
    assert {k: a["metrics"][k] for k in keys} == {k: b["metrics"][k] for k in keys}
    assert a["metrics"]["loop.jobs_per_iter"] > 0 and a["metrics"]["bloom.probe_s"] > 0


def test_crawl_check_catches_one_wrong_output():
    expected = crawls.prepare(TINY_DRAIN, 7)
    assert crawls.compare(expected, copy.deepcopy(expected))[1] == 0

    dropped = copy.deepcopy(expected)
    dropped["fetched"].remove(sorted(dropped["fetched"])[0])
    _, failed, notes = crawls.compare(expected, dropped)
    assert failed == 1 and notes

    transport_error = copy.deepcopy(expected)
    transport_error["transient"] += 1  # one 599 the oracle does not predict
    assert crawls.compare(expected, transport_error)[1] == 1


def test_images_check_catches_one_flipped_flag():
    truth = images.prepare(TINY_IMAGES, 7)
    got = {"valid": dict(truth["valid"]), "pairs": set(truth["pairs"]),
           "samples": images.expected_keep(truth)}
    assert images.compare(truth, got)[1] == 0
    some = sorted(got["valid"])[0]
    got["valid"][some] = not got["valid"][some]
    _, failed, notes = images.compare(truth, got)
    assert failed == 1 and notes


def test_covered_is_union_length():
    assert harness.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert harness.covered([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == pytest.approx(1)
    assert harness.covered([], 0, 1) == 0


def test_fails_without_engine(tmp_path):
    """Run from a directory holding only the benchmark: non-zero exit,
    no result line."""
    shutil.copytree(os.path.join(harness.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(harness.ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "drain", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
