"""Payload validation — decoded-pixel PSNR, caption equality, phash dedup.

North-rule stage: fetched image+caption payloads are validated per-row
against the reference corpus via decoded-pixel PSNR>=40 dB (lossy) /
exact pixels (lossless) and exact caption equality, with phash-based
near-duplicate detection as a banded self-join stage. The reference's
closest machinery is the file-download branch (Downloader.cs:247-279,
"file exists" skip :308-313) — it has no image validation; this stage is
the image-graft extension mandated by BASELINE.json.

Implementation notes:
- decode + PSNR run in an Arrow-batched pandas UDF over the engine's own
  codecs (codec/png.py, and codec/jpeg.py for baseline JPEG); a row whose
  fetched and reference payloads are the same bytes under the same format
  tag is decoded once, and an undecodable payload still fails closed.
- the scheduling path never sees ``bytes``; only this stage joins the
  payload columns, keyed on ``image_id`` (input_hint schema).
- near-dup banding: a 64-bit phash splits into 5 disjoint 13-bit bands;
  two hashes within Hamming distance 4 differ in at most 4 bands, so by
  pigeonhole they collide exactly on >=1 band — the self-join on
  (band_id, band_value) finds every such pair with no false negatives,
  then the exact popcount filter drops false candidates. At 10^10 rows
  the join is shuffle-partitioned by band value; hot bands (common
  imagery) are the skew risk and ride AQE skew-split.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

PSNR_THRESHOLD_DB = 40.0
_N_BANDS = 5
_BAND_BITS = 13  # 5 x 13 = 65 >= 64 bits covered


def _psnr_series(
    bytes_a: pd.Series, fmt_a: pd.Series, bytes_b: pd.Series, fmt_b: pd.Series
) -> pd.Series:
    from dotnetspider_spark.codec.png import decode_image, psnr

    out = np.empty(len(bytes_a), dtype=np.float64)
    for n, (ba, fa, bb, fb) in enumerate(zip(bytes_a, fmt_a, bytes_b, fmt_b)):
        if ba is None or bb is None:
            out[n] = 0.0
            continue
        try:
            da = decode_image(bytes(ba), fa)
            # decoding is deterministic: equal bytes under an equal tag
            # decode to equal pixels, so decode them once
            db = da if fa == fb and ba == bb else decode_image(bytes(bb), fb)
            out[n] = psnr(da, db)
        except (NotImplementedError, ValueError):
            out[n] = float("nan")
    return pd.Series(out)


@lru_cache(maxsize=None)
def _psnr_udf():
    return pandas_udf(_psnr_series, "double")


def psnr_udf(bytes_a, fmt_a, bytes_b, fmt_b):
    """Decoded-pixel PSNR in dB (inf -> identical; nan -> undecodable)."""
    return _psnr_udf()(bytes_a, fmt_a, bytes_b, fmt_b)


def _phash_series(data: pd.Series, fmt: pd.Series) -> pd.Series:
    from dotnetspider_spark.codec.png import decode_image, phash64

    def one(pair):
        b, f = pair
        if b is None:
            return None
        try:
            return phash64(decode_image(bytes(b), f))
        except (NotImplementedError, ValueError):
            return None

    return pd.Series(map(one, zip(data, fmt)), dtype="object")


@lru_cache(maxsize=None)
def _phash_udf():
    return pandas_udf(_phash_series, "long")


def phash_udf(data, fmt):
    """64-bit perceptual hash of the decoded image (codec/png.py)."""
    return _phash_udf()(data, fmt)


def validate_payloads(
    fetched: DataFrame,
    reference: DataFrame,
    threshold_db: float = PSNR_THRESHOLD_DB,
) -> DataFrame:
    """Per-row invariant vs the reference corpus (north rule).

    Both sides carry the input_hint schema (image_id, bytes, fmt,
    caption). Returns one row per fetched image with ``psnr_db``,
    ``caption_ok``, ``pixels_ok`` and the rollup flag ``valid``. The join
    keys on ``image_id`` — at scale both sides are bucketed on it, so
    this is the only stage that shuffles payload bytes.
    """
    ref = reference.select(
        F.col("image_id"),
        F.col("bytes").alias("__ref_bytes"),
        F.col("fmt").alias("__ref_fmt"),
        F.col("caption").alias("__ref_caption"),
    )
    joined = fetched.select("image_id", "bytes", "fmt", "caption").join(
        ref, "image_id", "inner"
    )
    scored = joined.withColumn(
        "psnr_db",
        psnr_udf(F.col("bytes"), F.col("fmt"), F.col("__ref_bytes"), F.col("__ref_fmt")),
    ).withColumn("caption_ok", F.col("caption") == F.col("__ref_caption"))
    return scored.select(
        "image_id",
        "psnr_db",
        "caption_ok",
        # lossless formats must be pixel-exact (psnr inf); lossy pass >= 40 dB.
        # Undecodable payloads surface as NULL (Arrow maps the UDF's NaN to
        # null) or NaN (which Spark orders ABOVE all doubles, so a bare `>=`
        # would wave garbage through) — both must FAIL, hence the coalesce
        # + isnan guards
        F.coalesce(
            ~F.isnan(F.col("psnr_db"))
            & F.when(F.col("fmt") == "png", F.col("psnr_db") == float("inf"))
            .otherwise(F.col("psnr_db") >= threshold_db),
            F.lit(False),
        ).alias("pixels_ok"),
    ).withColumn(
        "valid", F.coalesce(F.col("caption_ok") & F.col("pixels_ok"), F.lit(False))
    )


def phash_bands(phash: F.Column):
    """Split a 64-bit phash into 5 disjoint 13-bit band values."""
    u = phash.cast("long")
    bands = []
    for b in range(_N_BANDS):
        shifted = F.shiftrightunsigned(u, b * _BAND_BITS)
        bands.append((shifted.bitwiseAND(F.lit((1 << _BAND_BITS) - 1))).alias(f"b{b}"))
    return bands


def phash_near_duplicates(
    images: DataFrame,
    max_hamming: int = 4,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """All pairs with phash Hamming distance <= max_hamming.

    Banded LSH self-join (no false negatives for max_hamming <= 4 with 5
    bands, see module docstring) + exact ``bit_count(xor)`` verify. Pairs
    are emitted once (id_a < id_b) and deduped across bands.
    """
    assert max_hamming < _N_BANDS, "bands guarantee requires hamming < n_bands"
    src = images.select(
        F.col(id_col).alias("id"), F.col(phash_col).alias("ph"),
        F.posexplode(F.array(*phash_bands(F.col(phash_col)))).alias("band", "band_val"),
    )
    right = src.select(
        F.col("id").alias("id_b"), F.col("ph").alias("ph_b"),
        F.col("band").alias("band_b"), F.col("band_val").alias("band_val_b"),
    )
    pairs = src.join(
        right,
        (F.col("band") == F.col("band_b"))
        & (F.col("band_val") == F.col("band_val_b"))
        & (F.col("id") < F.col("id_b")),
    )
    exact = pairs.withColumn(
        "hamming", F.bit_count(F.col("ph").bitwiseXOR(F.col("ph_b")))
    ).filter(F.col("hamming") <= max_hamming)
    return (
        exact.groupBy(F.col("id").alias("id_a"), F.col("id_b"))
        .agg(F.first("hamming").alias("hamming"))
    )


def phash_blocklist_screen(
    images: DataFrame,
    blocklist: DataFrame,
    max_hamming: int = 4,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """Screen a corpus against a curated blocklist of known-bad image
    phashes (the standard hash-matching stage of an image ingest
    pipeline; the north-star's phash near-dup detection as a
    BROADCAST-join stage): flag every image within ``max_hamming`` of
    any blocklist entry.

    Scale shape: the blocklist (10^4-10^6 hashes) explodes into 5
    13-bit bands and BROADCASTS; the 10^10-row corpus explodes its
    bands map-side and hash-joins the broadcast — no corpus shuffle,
    no BroadcastNestedLoopJoin (an unbanded broadcast with a
    bit_count(xor) predicate degenerates to per-row scans of the whole
    blocklist). Same 5-band pigeonhole guarantee as
    ``phash_near_duplicates``: zero false negatives for
    ``max_hamming < 5``. Returns (id, blocked, min_hamming NULL when
    clean) — one row per input image.
    """
    if max_hamming >= _N_BANDS:  # a bare assert vanishes under -O and
        # would silently void the zero-false-negative guarantee of a
        # SAFETY screen
        raise ValueError(
            f"phash_blocklist_screen: max_hamming {max_hamming} needs "
            f"hamming < {_N_BANDS} bands for the pigeonhole guarantee"
        )
    bl = blocklist.select(
        F.col(phash_col).alias("bl_ph"),
        F.posexplode(F.array(*phash_bands(F.col(phash_col)))).alias(
            "band", "band_val"
        ),
    ).distinct()
    src = images.select(
        F.col(id_col).alias("id"), F.col(phash_col).alias("ph"),
        F.posexplode(F.array(*phash_bands(F.col(phash_col)))).alias(
            "band", "band_val"
        ),
    )
    hits = (
        src.join(F.broadcast(bl), ["band", "band_val"])
        .withColumn(
            "hamming", F.bit_count(F.col("ph").bitwiseXOR(F.col("bl_ph")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("id")
        .agg(F.min("hamming").cast("int").alias("min_hamming"))
    )
    # hits is bounded by the blocklist's true-match neighborhood (tiny
    # vs the corpus) — broadcast it back so the corpus side never
    # shuffles for the flag join; ids are unique per input contract, so
    # no distinct (a corpus-wide distinct would be the very shuffle
    # this operator exists to avoid)
    return images.select(F.col(id_col).alias("id")).join(
        F.broadcast(hits), "id", "left"
    ).select(
        "id",
        F.col("min_hamming").isNotNull().alias("blocked"),
        "min_hamming",
    )
