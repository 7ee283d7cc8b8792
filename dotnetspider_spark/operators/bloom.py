"""Partitioned bloom-filter URL-seen set — a vectorized membership filter.

Reference: ``BloomFilterDuplicateRemover`` (BloomFilterDuplicateRemover
.cs:26-58; default fpp 0.01) over ``BloomFilter`` (BloomFilter.cs:37-74,
129-158) — a single in-memory c*n-bit array with k=⌈−log₂p⌉ salted
HMACSHA1 hashes. One machine, one filter.

Spark re-expression (SURVEY §2.1/§4.3): the seen set is hash-
partitioned into N buckets by ``pmod(xxhash64(identity), N)``; each
bucket owns an independent bloom filter stored as one binary row in a
``blooms`` table. Both 64-bit hash lanes (``xxhash64(identity)`` and
``xxhash64(identity, 1)``) are computed JVM-side by built-in expressions;
the Python side only does numpy bitset arithmetic over whole Arrow
batches (input_hint: no per-row Python). Index derivation uses
Kirsch–Mitzenmacher double hashing — FP-rate-equivalent to the
reference's k independent HMACs, not bit-identical.

``probe_blooms`` has no false negatives: ``maybe_seen`` False is
definitive, True means "run an exact check". This is NOT a crawl-loop
path. The loop's seen check is the exact anti-join
(``operators.frontier.dedup_push``). A bloom prune in front of it
measured 2.0–3.3x slower per iteration at every size from 10^4 to 10^7
seen identities (4 vCPU): the "maybe seen" rows still need the O(seen)
anti-join, so the prune shrinks only the candidate side, which is
already small, and adds a filter build and probe on top.

Scale notes: filters ride a table of N rows × m/8 bytes (256 buckets ×
1.2 MB covers 10^9 seen at fpp 0.01; at 10^10 raise N, not m — buckets
stay executor-cache-sized and build/probe stays embarrassingly
parallel).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_SCHEMA = "bucket int, m long, k int, n_items long, bits binary"


@dataclass(frozen=True)
class BloomParams:
    """Sizing per bucket. Defaults mirror the reference's fpp=0.01
    (BloomFilterDuplicateRemover.cs:27) at 4M expected items/bucket."""

    expected_per_bucket: int = 4_000_000
    fpp: float = 0.01
    n_buckets: int = 64

    @property
    def m_bits(self) -> int:
        n = max(self.expected_per_bucket, 1)
        m = -n * math.log(self.fpp) / (math.log(2) ** 2)
        return max(64, int(m))

    @property
    def k_hashes(self) -> int:
        return max(1, int(round(-math.log2(self.fpp))))


def _with_lanes(df: DataFrame, params: BloomParams, identity_col: str) -> DataFrame:
    """JVM-side hash lanes + bucket id; Python never hashes strings."""
    ident = F.col(identity_col)
    return df.withColumn("__h1", F.xxhash64(ident)).withColumn(
        "__h2", F.xxhash64(ident, F.lit(1))
    ).withColumn("__bucket", F.pmod(F.col("__h1"), F.lit(params.n_buckets)).cast("int"))


def _indices(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """Kirsch–Mitzenmacher: idx_j = (h1 + j*h2) mod m, shape (k, n)."""
    j = np.arange(k, dtype=np.uint64)[:, None]
    return (
        (h1.astype(np.uint64)[None, :] + j * h2.astype(np.uint64)[None, :])
        % np.uint64(m)
    )


def build_blooms(
    seen: DataFrame,
    params: BloomParams | None = None,
    identity_col: str = "identity",
) -> DataFrame:
    """Fold identities into per-bucket bloom rows (``BLOOM_SCHEMA``)."""
    params = params or BloomParams()
    m, k = params.m_bits, params.k_hashes
    lanes = _with_lanes(seen, params, identity_col).select("__bucket", "__h1", "__h2")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros((m + 7) // 8, dtype=np.uint8)
        idx = _indices(
            pdf["__h1"].to_numpy(), pdf["__h2"].to_numpy(), k, m
        ).reshape(-1)
        np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
        return pd.DataFrame(
            {
                "bucket": [int(pdf["__bucket"].iloc[0])],
                "m": [m],
                "k": [k],
                "n_items": [len(pdf)],
                "bits": [bits.tobytes()],
            }
        )

    return lanes.groupBy("__bucket").applyInPandas(fold, BLOOM_SCHEMA)


def probe_blooms(
    candidates: DataFrame,
    blooms: DataFrame,
    params: BloomParams | None = None,
    identity_col: str = "identity",
    flag_col: str = "maybe_seen",
) -> DataFrame:
    """Append ``maybe_seen`` — False is definitive (bloom has no false
    negatives); True means "run the exact check".

    Cogrouped by bucket so each task holds its bucket's filter exactly
    once — the filter bytes are never replicated per candidate row.
    """
    params = params or BloomParams()
    lanes = _with_lanes(candidates, params, identity_col)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in lanes.schema.fields
    ) + f", {flag_col} boolean"

    def probe(cand: pd.DataFrame, bloom: pd.DataFrame) -> pd.DataFrame:
        if bloom.empty:
            cand[flag_col] = False
            return cand
        m = int(bloom["m"].iloc[0])
        k = int(bloom["k"].iloc[0])
        bits = np.frombuffer(bytes(bloom["bits"].iloc[0]), dtype=np.uint8)
        idx = _indices(cand["__h1"].to_numpy(), cand["__h2"].to_numpy(), k, m)
        hit = (bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        cand[flag_col] = hit.all(axis=0).astype(bool)
        return cand

    return (
        lanes.groupBy("__bucket")
        .cogroup(blooms.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
        .drop("__h1", "__h2", "__bucket")
    )
