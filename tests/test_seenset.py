"""Partitioned bloom-filter membership tests."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dotnetspider_spark.operators.bloom import BloomParams, build_blooms, probe_blooms

P = BloomParams(expected_per_bucket=5_000, fpp=0.01, n_buckets=8)


def _ids(spark, lo, hi, extra_cols=False):
    df = spark.range(lo, hi).select(
        F.md5(F.concat(F.lit("id"), F.col("id"))).alias("identity"),
        F.col("id").alias("seq"),
    )
    return df


@pytest.fixture(scope="module")
def seen(spark):
    df = _ids(spark, 0, 20_000).cache()
    df.count()
    yield df
    df.unpersist()


def test_bloom_no_false_negatives_and_bounded_fpp(spark, seen):
    blooms = build_blooms(seen, P)
    cand = _ids(spark, 10_000, 30_000)  # half seen, half new
    probed = probe_blooms(cand, blooms, P).cache()
    assert probed.filter((F.col("seq") < 20_000) & ~F.col("maybe_seen")).count() == 0
    fp = probed.filter((F.col("seq") >= 20_000) & F.col("maybe_seen")).count()
    assert fp / 10_000 < 0.05  # fpp 0.01 nominal, wide margin
    probed.unpersist()
