"""Image-corpus curation operators over the north-rule pair table
(``image_id, bytes, w, h, fmt, caption, phash``).

These are the image-payload counterparts of the text curation ops in
:mod:`curation` — the stages an image+caption training-data pipeline
(LAION-5B, DataComp) runs between the crawl and the trainer: exact
byte-level dedup, caption-level dedup, aspect-ratio bucketing into
fixed training resolutions, and phash similarity search. All four are
pure built-in column expressions (no Python crossing); the only
shuffles are the key-group ones the semantics require, and each is
bounded (digest / normalized caption / (bucket, shard) keys — never a
global sort, never the image bytes).

No reference analog (DotnetSpider stores downloads but does not curate
them); the published pipelines cited per-function are the spec.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def image_digest(data: Column) -> Column:
    """Portable content digest of an image payload: md5 over the
    UPPERCASE hex encoding of the bytes. Hex-first keeps the digest
    engine-portable (DuckDB's md5() accepts only VARCHAR; both engines
    hex() blobs identically), which is what makes the dedup oracle
    checkable. One codegen'd expression."""
    return F.md5(F.hex(data))


def image_exact_dedup(
    pairs: DataFrame,
    bytes_col: str = "bytes",
    id_col: str = "image_id",
) -> DataFrame:
    """Exact byte-level image dedup: keep the minimum-id row per
    content digest (LAION-style URL+content dedup reduced to the
    content half). Digest is computed map-side, so the shuffle ships
    (digest, id) pairs grouped by a 128-bit key — uniformly
    distributed, no skew guard needed — and the survivor set joins
    back by id so image bytes never cross the dedup exchange."""
    digests = pairs.select(
        F.col(id_col), image_digest(F.col(bytes_col)).alias("__digest")
    )
    keep = digests.groupBy("__digest").agg(F.min(id_col).alias(id_col))
    return pairs.join(keep.select(id_col), id_col, "semi")


def caption_dedup(
    pairs: DataFrame,
    caption_col: str = "caption",
    id_col: str = "image_id",
) -> DataFrame:
    """Caption-level dedup: keep the minimum-id pair per normalized
    caption. DataComp ablations show repeated boilerplate captions
    ("image", "product photo") dominate crawled pair sets; grouping on
    the normalized form (lowercase, punctuation stripped, whitespace
    collapsed — :func:`curation.normalize_text`) catches
    trivially-reworded repeats. Same ships-ids-only shape as
    :func:`image_exact_dedup`."""
    from .curation import normalize_text

    keys = pairs.select(
        F.col(id_col), normalize_text(F.col(caption_col)).alias("__cap")
    )
    keep = keys.groupBy("__cap").agg(F.min(id_col).alias(id_col))
    return pairs.join(keep.select(id_col), id_col, "semi")


def aspect_bucket_batches(
    pairs: DataFrame,
    buckets: list[tuple[int, int]] | None = None,
    batch_size: int = 64,
    n_shards: int = 256,
    salt: str = "abb",
    id_col: str = "image_id",
    drop_partial: bool = True,
) -> DataFrame:
    """Aspect-ratio bucketing (NovelAI / SDXL training recipe): assign
    every image to the training resolution whose aspect ratio is
    nearest its own, then group same-bucket images into fixed-size
    batches so a trainer never mixes shapes inside one step.

    Nearest bucket = argmin over ``|w/h - bw/bh|``; both divisions and
    the subtraction are single correctly-rounded IEEE ops, so the
    distances (and therefore the assignment, ties broken by bucket
    index) are bit-identical across engines — the published recipes
    bucket by log-aspect, but ``Math.log`` is not correctly rounded in
    Java, which would make the oracle flaky at midpoints. Buckets are
    a handful of literals, so the argmin is one ``array_min`` over an
    inline array<struct<dist,idx>> — map-only codegen.

    Batch numbering at scale: a window per bucket alone would sort one
    mega-bucket (most web images are 1:1 or 4:3) in a single task, so
    rows are first sharded by a portable hash into ``n_shards``
    independent streams per bucket and numbered within (bucket, shard)
    — the :func:`curation.pack_sequences` argument: any partition into
    size-``batch_size`` groups is a valid batching, and this one is
    deterministic (hash order), independent of arrival order, and
    bounded at ~bucket/n_shards rows per window task. ``drop_partial``
    drops each shard's trailing short batch (trainers want full
    batches; expected loss is n_shards*batch_size/2 rows per bucket,
    negligible at corpus scale).

    Returns (id, bucket_w, bucket_h, shard, batch_index).
    """
    from .textdedup import _hash64

    if buckets is None:
        # SDXL's published 1024^2-area ladder, trimmed to the common core
        buckets = [
            (512, 2048), (704, 1408), (832, 1216), (1024, 1024),
            (1216, 832), (1408, 704), (2048, 512),
        ]
    if batch_size < 1 or n_shards < 1:
        raise ValueError("batch_size and n_shards must be >= 1")

    aspect = F.col("w").cast("double") / F.col("h").cast("double")
    cands = F.array(
        *[
            F.struct(
                F.abs(aspect - F.lit(float(bw) / float(bh))).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, (bw, bh) in enumerate(buckets)
        ]
    )
    best_i = F.array_min(cands).getField("i")
    h = _hash64(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string")))
    assigned = pairs.select(
        F.col(id_col),
        best_i.alias("__b"),
        F.pmod(h, F.lit(n_shards)).alias("shard"),
        h.alias("__h"),
    )
    w = Window.partitionBy("__b", "shard").orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    numbered = assigned.withColumn(
        "batch_index",
        ((F.row_number().over(w) - 1) / batch_size).cast("long"),
    )
    if drop_partial:
        # full-batch count per (bucket, shard): a count over the same
        # window partitioning — reuses the numbering exchange, no join
        n_full = (
            F.count(F.lit(1)).over(Window.partitionBy("__b", "shard"))
            / batch_size
        ).cast("long")
        numbered = numbered.withColumn("__nfull", n_full).filter(
            F.col("batch_index") < F.col("__nfull")
        )
    bw = F.element_at(
        F.array(*[F.lit(b[0]) for b in buckets]), F.col("__b") + 1
    )
    bh = F.element_at(
        F.array(*[F.lit(b[1]) for b in buckets]), F.col("__b") + 1
    )
    return numbered.select(
        id_col,
        bw.alias("bucket_w"),
        bh.alias("bucket_h"),
        "shard",
        "batch_index",
    )


def phash_topk(
    images: DataFrame,
    query_phash: int,
    k: int = 10,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """Perceptual-hash similarity search: the ``k`` images nearest a
    query phash by Hamming distance. The scan side is one map-only
    ``bit_count(phash XOR query)`` expression (no join, no Python) and
    the top-k is orderBy+limit -> TakeOrderedAndProject, so the full
    corpus is never sorted — each task keeps a k-row heap and the
    driver merges. This is the point-query twin of the batch
    :func:`validate.phash_near_duplicates` band join (reverse-image
    lookup, dedup-cluster inspection)."""
    dist = F.bit_count(
        F.col(phash_col).bitwiseXOR(F.lit(int(query_phash)).cast("long"))
    )
    return (
        images.select(F.col(id_col), dist.cast("int").alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# container-header sniffing (magic bytes -> fmt, w, h) — metadata integrity
# ---------------------------------------------------------------------------
# At ingest scale the (w, h, fmt) columns arrive from whatever wrote the
# record, not from the bytes; a corrupt or mislabeled payload poisons
# every stage keyed on them (aspect bucketing, resize batch shapes,
# decode dispatch). Header sniffing is the standard cheap screen: every
# raster container states its pixel dimensions at a fixed offset in the
# first few dozen bytes (PNG IHDR, GIF logical screen descriptor, BMP
# DIB header, the sandbox FJPG stand-in) — only real JPEG needs a
# marker-segment scan (SOF frame header at a variable offset).
#
# The fixed-offset formats are sniffed with PURE BUILT-IN column
# algebra (substring/hex/conv over the binary column — whole-stage
# codegen, zero Python, no shuffle), so the common case never leaves
# the JVM even at 10^10 rows. Only rows whose magic says "real JPEG"
# take the Arrow-batched SOF scan, and they are split off by filter so
# non-JPEG payload bytes never cross into Python.

_MAGIC_PNG = "89504E470D0A1A0A"  # \x89PNG\r\n\x1a\n
_MAGIC_FJPG = "464A5047"  # b"FJPG" (codec/png.py deterministic stand-in)
_MAGIC_JPEG = "FFD8FF"  # SOI + first marker byte
_MAGIC_GIF87 = "474946383761"  # GIF87a
_MAGIC_GIF89 = "474946383961"  # GIF89a
_MAGIC_BMP = "424D"  # BM
_MAGIC_RIFF = "52494646"  # RIFF (WEBP when bytes 9..12 say WEBP)
_MAGIC_WEBP = "57454250"


def _hexat(data: Column, off: int, n: int) -> Column:
    """Uppercase hex of the n bytes at 1-based byte offset ``off``."""
    return F.hex(F.substring(data, off, n))


def _be(data: Column, off: int, n: int) -> Column:
    """Big-endian unsigned int of n bytes at 1-based offset ``off``."""
    return F.conv(_hexat(data, off, n), 16, 10).cast("long")


def _le(data: Column, off: int, n: int) -> Column:
    """Little-endian unsigned int of n bytes at 1-based offset ``off``."""
    out = F.lit(0).cast("long")
    for i in range(n):
        out = out + _be(data, off + i, 1) * F.lit(256**i).cast("long")
    return out


def sniff_fmt(data: Column) -> Column:
    """Container format from magic bytes, or NULL if unrecognized. One
    codegen'd CASE over constant-width prefixes. The FJPG stand-in
    reports ``jpeg`` (it is this corpus's lossy slot — decode_image
    dispatches on the same tag)."""
    return (
        F.when(_hexat(data, 1, 8) == _MAGIC_PNG, F.lit("png"))
        .when(_hexat(data, 1, 4) == _MAGIC_FJPG, F.lit("jpeg"))
        .when(_hexat(data, 1, 3) == _MAGIC_JPEG, F.lit("jpeg"))
        .when(
            _hexat(data, 1, 6).isin(_MAGIC_GIF87, _MAGIC_GIF89), F.lit("gif")
        )
        .when(
            (_hexat(data, 1, 4) == _MAGIC_RIFF)
            & (_hexat(data, 9, 4) == _MAGIC_WEBP),
            F.lit("webp"),
        )
        .when(_hexat(data, 1, 2) == _MAGIC_BMP, F.lit("bmp"))
    )


def sniff_dims(data: Column) -> tuple[Column, Column]:
    """(width, height) columns parsed from the fixed-offset container
    headers; NULL where the container is unrecognized, truncated, or
    stores dims at a variable offset (real JPEG -> SOF scan; WEBP ->
    three sub-formats, out of scope). BMP height is signed (negative =
    top-down row order) so it is two's-complement-decoded and abs'd."""
    ln = F.octet_length(data)
    bmp_h_raw = _le(data, 23, 4)
    bmp_h = F.abs(
        F.when(bmp_h_raw >= F.lit(2**31), bmp_h_raw - F.lit(2**32)).otherwise(
            bmp_h_raw
        )
    )
    w = (
        F.when((_hexat(data, 1, 8) == _MAGIC_PNG) & (ln >= 24), _be(data, 17, 4))
        .when((_hexat(data, 1, 4) == _MAGIC_FJPG) & (ln >= 9), _be(data, 5, 2))
        .when(
            (_hexat(data, 1, 6).isin(_MAGIC_GIF87, _MAGIC_GIF89)) & (ln >= 10),
            _le(data, 7, 2),
        )
        .when((_hexat(data, 1, 2) == _MAGIC_BMP) & (ln >= 26), _le(data, 19, 4))
    )
    h = (
        F.when((_hexat(data, 1, 8) == _MAGIC_PNG) & (ln >= 24), _be(data, 21, 4))
        .when((_hexat(data, 1, 4) == _MAGIC_FJPG) & (ln >= 9), _be(data, 7, 2))
        .when(
            (_hexat(data, 1, 6).isin(_MAGIC_GIF87, _MAGIC_GIF89)) & (ln >= 10),
            _le(data, 9, 2),
        )
        .when((_hexat(data, 1, 2) == _MAGIC_BMP) & (ln >= 26), bmp_h)
    )
    return w, h


def jpeg_dims(data: bytes) -> tuple[int, int] | None:
    """(w, h) from a real JPEG stream by walking marker segments to the
    SOF frame header (ITU T.81 B.2.2: markers 0xC0-0xCF excluding DHT
    0xC4, JPG 0xC8, DAC 0xCC carry the frame dims as BE u16 height then
    width at segment offset +5/+7). Returns None if no SOF is found
    before the stream ends. Pure function — also the pytest reference
    for the Arrow scan stage."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(data)
    while i + 3 < n:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:  # standalone markers
            i += 2
            continue
        seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
        if seg_len < 2:
            return None
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 <= n:
                h = int.from_bytes(data[i + 5 : i + 7], "big")
                w = int.from_bytes(data[i + 7 : i + 9], "big")
                return w, h
            return None
        i += 2 + seg_len
    return None


def sniff_image_meta(
    images: DataFrame,
    data_col: str = "bytes",
    scan_real_jpeg: bool = False,
) -> DataFrame:
    """Add ``sniff_fmt``/``sniff_w``/``sniff_h`` parsed from the payload
    bytes.

    The fixed-offset formats (PNG/FJPG/GIF/BMP) are one map-only
    codegen'd projection — no Python, no shuffle, runs at scan speed.
    With ``scan_real_jpeg=True``, rows whose magic is a real JPEG SOI
    are split off by filter and take an Arrow-batched :func:`jpeg_dims`
    scan (mapInPandas), then union back — the filter split means
    non-JPEG payloads never cross into Python. Both branches re-read
    the (column-pruned) source; at 10^10 rows that is two scans of the
    bytes column on disjoint row sets, still cheaper than shipping
    every payload through Arrow."""
    w, h = sniff_dims(F.col(data_col))
    fast = images.select(
        "*",
        sniff_fmt(F.col(data_col)).alias("sniff_fmt"),
        w.cast("int").alias("sniff_w"),
        h.cast("int").alias("sniff_h"),
    )
    if not scan_real_jpeg:
        return fast
    import pandas as pd

    is_real = F.coalesce(
        (F.octet_length(F.col(data_col)) >= 4)
        & (_hexat(F.col(data_col), 1, 3) == _MAGIC_JPEG),
        F.lit(False),
    )
    fast_part = fast.filter(~is_real)
    schema = fast.schema

    def scan(batches):
        for pdf in batches:
            dims = pdf[data_col].map(
                lambda b: jpeg_dims(bytes(b)) if b is not None else None
            )
            pdf = pdf.copy()
            pdf["sniff_w"] = pd.array(
                [d[0] if d else None for d in dims], dtype="Int32"
            )
            pdf["sniff_h"] = pd.array(
                [d[1] if d else None for d in dims], dtype="Int32"
            )
            yield pdf

    jpeg_part = fast.filter(is_real).mapInPandas(scan, schema)
    return fast_part.unionByName(jpeg_part)


def metadata_integrity(
    images: DataFrame,
    data_col: str = "bytes",
    scan_real_jpeg: bool = False,
) -> DataFrame:
    """Screen declared (fmt, w, h) metadata against the sniffed header:
    adds ``meta_ok`` + ``meta_reason`` (``unreadable`` — magic not
    recognized / header truncated; ``fmt_mismatch``; ``dim_mismatch``;
    ``unverified`` — container recognized but dims not parseable from a
    fixed offset, e.g. real JPEG without the scan pass). Fail-closed:
    only a fully matching header is ``ok``, same posture as
    validate.validate_payloads (PSNR screen)."""
    sniffed = sniff_image_meta(images, data_col, scan_real_jpeg)
    reason = (
        F.when(F.col("sniff_fmt").isNull(), F.lit("unreadable"))
        .when(F.col("sniff_fmt") != F.col("fmt"), F.lit("fmt_mismatch"))
        .when(
            F.col("sniff_w").isNull() | F.col("sniff_h").isNull(),
            F.lit("unverified"),
        )
        .when(
            (F.col("sniff_w") != F.col("w")) | (F.col("sniff_h") != F.col("h")),
            F.lit("dim_mismatch"),
        )
        .otherwise(F.lit("ok"))
    )
    return sniffed.withColumn("meta_reason", reason).withColumn(
        "meta_ok", F.col("meta_reason") == "ok"
    )


def resolution_dedup(
    pairs: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    w_col: str = "w",
    h_col: str = "h",
    max_group: int = 10_000,
) -> DataFrame:
    """Keep the HIGHEST-RESOLUTION copy per perceptual-hash group — the
    LAION/DataComp rule for near-identical images that differ only by
    rescaling (thumbnails, CDN size variants): grouping on exact phash
    catches them (rescaling preserves the 64-bit DCT hash), and the
    largest pixel count is the copy worth training on. Ties break to
    the lower id so the verdict is engine-portable.

    Shape: the rank runs over (id, phash, w, h) ONLY — a projection
    made map-side, so payload bytes never enter the group exchange —
    and one window per phash group ranks by pixel count. Groups are
    near-dup-sized by construction, but a degenerate hash (solid-color
    fills, tracking pixels share one phash) could serialize a task at
    10^10 images: groups wider than ``max_group`` keep EVERYTHING and
    are flagged instead of ranked (prune-not-drop — the same
    boilerplate-cap reasoning as ``archive.mirror_hosts``), one extra
    count over the same window partition, no second shuffle.

    Returns (id, phash, w, h, n_copies, keep, degenerate)."""
    from pyspark.sql import Window

    slim = pairs.select(
        F.col(id_col),
        F.col(phash_col).alias("phash"),
        F.col(w_col).cast("long").alias("w"),
        F.col(h_col).cast("long").alias("h"),
    )
    wrank = Window.partitionBy("phash").orderBy(
        (F.col("w") * F.col("h")).desc(), F.col(id_col).asc()
    )
    wall = Window.partitionBy("phash")
    return (
        slim.withColumn("__rn", F.row_number().over(wrank))
        .withColumn("n_copies", F.count(F.lit(1)).over(wall).cast("long"))
        .withColumn("degenerate", F.col("n_copies") > max_group)
        .withColumn(
            "keep", F.col("degenerate") | (F.col("__rn") == 1)
        )
        .drop("__rn")
    )


def cross_modal_dedup(
    pairs: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str = "phash",
    max_hamming: int = 4,
) -> DataFrame:
    """Pair-level dedup across BOTH modalities: two image-caption pairs
    are duplicates when their images are phash-near (Hamming <=
    ``max_hamming``, banded join — :func:`validate.phash_near_duplicates`)
    OR their normalized captions are identical. Both edge sets union
    into one graph; connected components keep the minimum-id pair per
    cluster (LAION-5B dedups on URL+phash, DataComp on image content
    regardless of caption — this is the conjunction a pipeline running
    both ends up with, done in ONE component pass instead of two
    sequential dedups that can split a cluster).

    Scale shape: caption edges are the STAR form (group-min id ->
    member), so a boilerplate caption shared by 10^6 pairs contributes
    10^6-1 edges, not 10^12 — same skew discipline as the banded phash
    side. The caption group key is ``md5(normalize_text(caption))``
    (128-bit: at 10^10 pairs a 64-bit key would already expect birthday
    collisions), so exchanges carry ids + fixed-width digests only —
    caption text and image bytes never shuffle; the survivor set
    anti-joins back by id.
    """
    from .curation import normalize_text
    from .graph import dedup_keep_canonical
    from .validate import phash_near_duplicates

    img_edges = phash_near_duplicates(
        pairs.select(id_col, phash_col),
        max_hamming=max_hamming,
        id_col=id_col,
        phash_col=phash_col,
    ).select("id_a", "id_b")

    keys = pairs.select(
        F.col(id_col),
        F.md5(normalize_text(F.col(caption_col))).alias("__cap"),
    )
    grp = keys.groupBy("__cap").agg(F.min(id_col).alias("id_a"))
    cap_edges = (
        keys.join(grp, "__cap")
        .filter(F.col(id_col) != F.col("id_a"))
        .select("id_a", F.col(id_col).alias("id_b"))
    )

    edges = img_edges.unionByName(cap_edges)
    return dedup_keep_canonical(pairs, edges, id_col=id_col)


def vit_token_costs(
    pairs: DataFrame,
    patch: int = 14,
    max_tokens: int | None = None,
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Vision-transformer token cost per image — the planning number an
    image-training pipeline budgets by (Dosovitskiy et al., ICLR 2021:
    an image becomes ceil(w/p)*ceil(h/p) patch tokens + 1 [CLS]).

    Adds ``tokens`` (long) and, when ``max_tokens`` is set, ``fits``
    (image usable without a resize pass). Pure JVM integer arithmetic
    on the metadata columns — the 10^10-row cost plan never touches
    ``bytes``, so with parquet column pruning the scan reads two int32
    columns. Feed into ``aspect_bucket_batches`` for bucketed batching
    or aggregate per resolution tier for epoch cost estimates.
    """
    tokens = (
        F.ceil(F.col(w_col) / patch) * F.ceil(F.col(h_col) / patch) + 1
    ).cast("long")
    out = pairs.withColumn("tokens", tokens)
    if max_tokens is not None:
        out = out.withColumn("fits", F.col("tokens") <= max_tokens)
    return out


def aspect_resize_plan(
    assigned: DataFrame,
    w_col: str = "w",
    h_col: str = "h",
    bw_col: str = "bucket_w",
    bh_col: str = "bucket_h",
) -> DataFrame:
    """Deterministic scale-then-center-crop plan for aspect-bucketed
    training (the SDXL-style preprocessing step after bucket
    assignment): scale by max(bucket_w/w, bucket_h/h) so the shorter
    relative side fills the bucket, round the resized dims, then crop
    the centered bucket window.

    Pure JVM arithmetic on metadata — the actual resample runs in the
    (sandbox-stubbed) codec stage; THIS is the part that must be
    reproducible across engines, because crop offsets change pixels
    and therefore every downstream phash/PSNR check. Emits
    (resize_w, resize_h, crop_x, crop_y) alongside the input columns.
    """
    scale = F.greatest(
        F.col(bw_col) / F.col(w_col), F.col(bh_col) / F.col(h_col)
    )
    rw = F.round(F.col(w_col) * scale).cast("int")
    rh = F.round(F.col(h_col) * scale).cast("int")
    return (
        assigned.withColumn("resize_w", F.greatest(rw, F.col(bw_col)))
        .withColumn("resize_h", F.greatest(rh, F.col(bh_col)))
        .withColumn(
            "crop_x",
            F.floor((F.col("resize_w") - F.col(bw_col)) / 2).cast("int"),
        )
        .withColumn(
            "crop_y",
            F.floor((F.col("resize_h") - F.col(bh_col)) / 2).cast("int"),
        )
    )


def contrastive_batches(
    pairs: DataFrame,
    id_col: str = "image_id",
    host_col: str = "host",
    seed: str = "cb",
) -> DataFrame:
    """Same-source-free batch assignment for contrastive training:
    in-batch negatives from the SAME site are often near-duplicates or
    stylistically correlated (CLIP-style training treats every other
    item in the batch as a negative, so same-host items poison the
    loss). Assign batch = the item's deterministic rank WITHIN its
    host — batch b then holds at most one item per host by
    construction.

    One host-keyed window whose partitions are single-host row sets
    (bounded by domain_quota upstream at the design point); rank order
    is a portable salted hash so batches are stable across runs and
    engines. Batches near max(per-host count) get sparse — feed
    through ``domain_quota`` first to bound the tail.
    """
    from .textdedup import _hash64

    h = _hash64(
        F.concat(F.lit(seed + "|"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(host_col).orderBy(h.asc(), F.col(id_col).asc())
    return pairs.select(
        F.col(id_col),
        F.col(host_col),
        (F.row_number().over(w) - 1).cast("long").alias("batch"),
    )


def jpeg_quality_screen(
    df: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    min_quality: int | None = None,
) -> DataFrame:
    """Estimate each JPEG payload's ENCODER quality setting from its
    stored quantization tables and optionally gate on it — the
    LAION-style curation screen that drops heavily re-compressed
    images (a q<60 re-save destroys high-frequency detail no amount of
    downstream filtering recovers; caption-image models train on it
    anyway unless screened).

    Header-walk only (codec/jpeg.read_dqt): no entropy decode, so the
    screen costs ~microseconds per image regardless of resolution —
    orders cheaper than decode-based quality metrics, which is what
    makes it viable as a FIRST-pass gate at 10^10 images. Arrow-batched
    pandas UDF; no per-row Python at the Spark API level.

    Adds ``jpeg_quality int`` (NULL for non-JPEG rows and corrupt
    streams — decode-validation owns those) and ``jpeg_quality_exact
    boolean`` (the table IS a libjpeg-scaled Annex K table, i.e. the
    inversion is bit-exact, not approximated). ``min_quality`` filters
    jpeg rows below the bar while passing non-JPEG rows through
    (fail-open here: corrupt bytes are validate_payloads' job to kill,
    a screen must not silently eat them).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: `pd` is function-local, so get_type_hints cannot
    # resolve them under `from __future__ import annotations`; the
    # explicit returnType carries the schema instead
    def est(data, fmt):
        from dotnetspider_spark.codec.jpeg import (
            estimate_quality,
            read_dqt,
        )

        qs, exact = [], []
        for b, f in zip(data, fmt):
            if f != "jpeg" or b is None or bytes(b[:2]) != b"\xff\xd8":
                qs.append(None)
                exact.append(None)
                continue
            try:
                tables = read_dqt(bytes(b))
                q, ex = estimate_quality(tables[min(tables)])
                qs.append(q)
                exact.append(ex)
            except (ValueError, KeyError):
                qs.append(None)
                exact.append(None)
        return pd.DataFrame({"q": qs, "ex": exact})

    udf = pandas_udf(est, "q int, ex boolean")
    out = df.withColumn("__jq", udf(F.col(bytes_col), F.col(fmt_col)))
    out = out.withColumn("jpeg_quality", F.col("__jq.q")).withColumn(
        "jpeg_quality_exact", F.col("__jq.ex")
    ).drop("__jq")
    if min_quality is not None:
        out = out.filter(
            F.col("jpeg_quality").isNull()
            | (F.col("jpeg_quality") >= min_quality)
        )
    return out


def exif_extract(
    df: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    normalize_orientation: bool = False,
) -> DataFrame:
    """EXIF metadata extraction from JPEG payloads (codec/jpeg.read_exif
    — APP1/TIFF header walk, no pixel decode): ``exif_orientation``,
    ``exif_datetime``, ``exif_make``, ``exif_model`` columns, NULL for
    non-JPEG rows, EXIF-less images and corrupt streams. The capture
    timestamp and camera model are standard stratification/dedup keys
    for image training sets; orientation is required to decode
    display-correct pixels.

    ``normalize_orientation=True`` additionally rewrites ``bytes`` so
    pixels are orientation-1 (decode -> apply_orientation -> re-encode
    PNG) — opt-in because it trades a full transcode for viewer
    correctness; the metadata pass alone stays header-only cheap. A
    transcoded row then says what its bytes hold: ``fmt`` 'png',
    ``exif_orientation`` 1 and, when the frame has ``w``/``h`` columns,
    the new pixel dimensions (a 90° rotation swaps them). A row whose
    transcode fails keeps all of these as they were.
    Arrow-batched pandas UDFs; no per-row Python at the Spark API
    level.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def meta(data, fmt):
        from dotnetspider_spark.codec.jpeg import read_exif

        ori, dt, mk, md = [], [], [], []
        for b, f in zip(data, fmt):
            rec = {}
            if f == "jpeg" and b is not None and bytes(b[:2]) == b"\xff\xd8":
                try:
                    rec = read_exif(bytes(b))
                except ValueError:
                    rec = {}
            ori.append(rec.get("orientation"))
            dt.append(rec.get("datetime"))
            mk.append(rec.get("make"))
            md.append(rec.get("model"))
        return pd.DataFrame(
            {"o": ori, "dt": dt, "mk": mk, "md": md}
        )

    udf = pandas_udf(meta, "o int, dt string, mk string, md string")
    out = (
        df.withColumn("__ex", udf(F.col(bytes_col), F.col(fmt_col)))
        .withColumn("exif_orientation", F.col("__ex.o"))
        .withColumn("exif_datetime", F.col("__ex.dt"))
        .withColumn("exif_make", F.col("__ex.mk"))
        .withColumn("exif_model", F.col("__ex.md"))
        .drop("__ex")
    )
    if not normalize_orientation:
        return out

    def fix(data, fmt, ori):
        import numpy as np

        from dotnetspider_spark.codec.jpeg import (
            apply_orientation,
            decode_jpeg,
        )
        from dotnetspider_spark.codec.png import encode_png

        rows = []
        for b, f, o in zip(data, fmt, ori):
            # w/h stay NULL unless the row is transcoded
            row = (None if b is None else bytes(b), f, None, None)
            # NULL ints arrive as NaN in the Arrow->pandas series
            if f == "jpeg" and b is not None and not pd.isna(o) and int(o) > 1:
                try:
                    px = apply_orientation(decode_jpeg(bytes(b)), int(o))
                    png = encode_png(np.ascontiguousarray(px))
                    row = (png, "png", px.shape[1], px.shape[0])
                except (ValueError, NotImplementedError):
                    # corrupt/unsupported: keep ORIGINAL bytes AND fmt —
                    # the fmt flip must track transcode success, a 'png'
                    # label over jpeg bytes would poison decode dispatch
                    pass
            rows.append(row)
        return pd.DataFrame(rows, columns=["b", "f", "w", "h"])

    fix_udf = pandas_udf(fix, "b binary, f string, w int, h int")
    out = (
        out.withColumn(
            "__fx",
            fix_udf(F.col(bytes_col), F.col(fmt_col),
                    F.col("exif_orientation")),
        )
        .withColumn(bytes_col, F.col("__fx.b"))
        .withColumn(fmt_col, F.col("__fx.f"))
    )
    done = F.col("__fx.w").isNotNull()  # transcoded: pixels are upright
    out = out.withColumn(
        "exif_orientation",
        F.when(done, F.lit(1)).otherwise(F.col("exif_orientation")),
    )
    for c in ("w", "h"):
        if c in df.columns:
            out = out.withColumn(
                c,
                F.when(done, F.col(f"__fx.{c}").cast(df.schema[c].dataType))
                .otherwise(F.col(c)),
            )
    return out.drop("__fx")
