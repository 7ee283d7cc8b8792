"""Image-corpus curation ops (operators/images.py): exact/caption
dedup, aspect-ratio batch bucketing, phash top-k."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from dotnetspider_spark.operators.images import (
    aspect_bucket_batches,
    caption_dedup,
    image_digest,
    image_exact_dedup,
    phash_topk,
)


def _pairs(spark, rows):
    return spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, caption string"
    )


def test_image_digest_matches_hashlib(spark):
    row = _pairs(
        spark, [("a", b"\xab\xcd\x00PNG", 1, 1, "")]
    ).select(image_digest(F.col("bytes")).alias("d")).first()
    assert row.d == hashlib.md5(b"\xab\xcd\x00PNG".hex().upper().encode()).hexdigest()


def test_image_exact_dedup_keeps_min_id_per_content(spark):
    df = _pairs(
        spark,
        [
            ("b", b"\x01\x02", 1, 1, "x"),
            ("a", b"\x01\x02", 1, 1, "y"),  # same bytes, lower id wins
            ("c", b"\x01\x03", 1, 1, "z"),
            ("d", b"", 1, 1, "w"),
            ("e", b"", 1, 1, "v"),
        ],
    )
    kept = sorted(r.image_id for r in image_exact_dedup(df).collect())
    assert kept == ["a", "c", "d"]


def test_caption_dedup_groups_normalized_forms(spark):
    df = _pairs(
        spark,
        [
            ("1", b"1", 1, 1, "Product  Photo!"),
            ("2", b"2", 1, 1, "product photo"),  # normalizes equal to "1"
            ("3", b"3", 1, 1, "a red bicycle"),
        ],
    )
    kept = sorted(r.image_id for r in caption_dedup(df).collect())
    assert kept == ["1", "3"]


BUCKETS = [(512, 1024), (1024, 1024), (1024, 512)]


def test_aspect_bucket_nearest_assignment_and_full_batches(spark):
    # 30 portrait-ish + 5 square images; batch_size 4, one shard so the
    # partial-batch drop is exactly computable
    rows = [(f"p{i:02d}", b"", 300, 600, "") for i in range(30)]
    rows += [(f"s{i}", b"", 500, 500, "") for i in range(5)]
    out = aspect_bucket_batches(
        _pairs(spark, rows),
        buckets=BUCKETS,
        batch_size=4,
        n_shards=1,
    ).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault((r.bucket_w, r.bucket_h), []).append(r)
    # portrait 0.5 aspect -> (512,1024); square -> (1024,1024)
    assert set(by_bucket) == {(512, 1024), (1024, 1024)}
    # 30 portraits -> 7 full batches of 4 = 28 rows kept; 5 squares -> 4
    assert len(by_bucket[(512, 1024)]) == 28
    assert len(by_bucket[(1024, 1024)]) == 4
    for rows_ in by_bucket.values():
        sizes = {}
        for r in rows_:
            sizes[r.batch_index] = sizes.get(r.batch_index, 0) + 1
        assert set(sizes.values()) == {4}


def test_aspect_bucket_deterministic_across_partitionings(spark):
    rows = [(f"i{i:03d}", b"", 100 + i, 200, "") for i in range(50)]
    a = aspect_bucket_batches(
        _pairs(spark, rows).repartition(1), buckets=BUCKETS, batch_size=4,
        n_shards=8,
    )
    b = aspect_bucket_batches(
        _pairs(spark, rows).repartition(16), buckets=BUCKETS, batch_size=4,
        n_shards=8,
    )
    key = lambda r: (r.image_id, r.bucket_w, r.bucket_h, r.shard, r.batch_index)
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


def test_aspect_bucket_tie_breaks_to_lowest_index(spark):
    # aspect exactly between buckets 0 (0.5) and 1 (1.0): 0.75 is
    # equidistant -> lowest bucket index wins on both engines
    out = aspect_bucket_batches(
        _pairs(spark, [("t", b"", 3, 4, "")]),
        buckets=BUCKETS,
        batch_size=1,
        n_shards=1,
    ).first()
    assert (out.bucket_w, out.bucket_h) == (512, 1024)


def test_aspect_bucket_rejects_bad_params(spark):
    with pytest.raises(ValueError):
        aspect_bucket_batches(_pairs(spark, []), batch_size=0)


def test_phash_topk_matches_brute_force(spark):
    rows = [("i%d" % i, i * 2654435761 % (1 << 60)) for i in range(200)]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    q = 123456789
    got = [(r.image_id, r.hamming) for r in phash_topk(df, q, k=5).collect()]
    ref = sorted(
        ((i, bin(p ^ q).count("1")) for i, p in rows),
        key=lambda t: (t[1], t[0]),
    )[:5]
    assert got == ref


def test_phash_topk_plan_is_take_ordered(spark):
    df = spark.createDataFrame(
        [("a", 1)], "image_id string, phash long"
    )
    plan = phash_topk(df, 7, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# header sniffing / metadata integrity
# ---------------------------------------------------------------------------

import struct

import numpy as np

from dotnetspider_spark.codec.png import encode_fakejpeg, encode_png
from dotnetspider_spark.operators.images import (
    jpeg_dims,
    metadata_integrity,
    sniff_image_meta,
)


def _img_rows(spark, rows):
    return spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )


def _minimal_jpeg(w: int, h: int, sof: int = 0xC0) -> bytes:
    """Real-JPEG byte stream: SOI, APP0 (JFIF), DQT stub, SOF, EOI."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
    sof_seg = (
        bytes([0xFF, sof])
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", h, w)
        + b"\x01\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + dqt + sof_seg + b"\xff\xd9"


def test_sniff_png_and_fjpg_roundtrip(spark):
    rng = np.random.default_rng(7)
    png = encode_png(rng.integers(0, 256, (7, 11, 3), dtype=np.uint8))
    fj = encode_fakejpeg(rng.integers(0, 256, (9, 13, 3), dtype=np.uint8))
    out = {
        r.image_id: r
        for r in sniff_image_meta(
            _img_rows(
                spark,
                [("p", png, 11, 7, "png"), ("f", fj, 13, 9, "jpeg")],
            )
        ).collect()
    }
    assert (out["p"].sniff_fmt, out["p"].sniff_w, out["p"].sniff_h) == ("png", 11, 7)
    assert (out["f"].sniff_fmt, out["f"].sniff_w, out["f"].sniff_h) == ("jpeg", 13, 9)


def test_sniff_gif_bmp_headers(spark):
    gif = b"GIF89a" + struct.pack("<HH", 300, 200) + b"\x00" * 4
    # BMP with NEGATIVE height (top-down row order) -> abs'd
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480) + b"\x00" * 8
    out = {
        r.image_id: r
        for r in sniff_image_meta(
            _img_rows(spark, [("g", gif, 0, 0, "gif"), ("b", bmp, 0, 0, "bmp")])
        ).collect()
    }
    assert (out["g"].sniff_fmt, out["g"].sniff_w, out["g"].sniff_h) == ("gif", 300, 200)
    assert (out["b"].sniff_fmt, out["b"].sniff_w, out["b"].sniff_h) == ("bmp", 640, 480)


def test_jpeg_dims_marker_walk():
    # baseline, progressive, and a DRI segment before the SOF
    assert jpeg_dims(_minimal_jpeg(47, 33)) == (47, 33)
    assert jpeg_dims(_minimal_jpeg(1024, 768, sof=0xC2)) == (1024, 768)
    dri = b"\xff\xdd" + struct.pack(">H", 4) + b"\x00\x10"
    j = _minimal_jpeg(5, 6)
    assert jpeg_dims(j[:2] + dri + j[2:]) == (5, 6)
    assert jpeg_dims(b"\xff\xd8\xff\xd9") is None  # no SOF
    assert jpeg_dims(b"garbage") is None


def test_sniff_real_jpeg_needs_scan_pass(spark):
    j = _minimal_jpeg(47, 33)
    df = _img_rows(spark, [("j", j, 47, 33, "jpeg")])
    fast = sniff_image_meta(df).first()
    assert fast.sniff_fmt == "jpeg" and fast.sniff_w is None
    scanned = sniff_image_meta(df, scan_real_jpeg=True).first()
    assert (scanned.sniff_w, scanned.sniff_h) == (47, 33)
    # the scan pass must not disturb non-JPEG rows
    png = encode_png(np.zeros((2, 3, 3), dtype=np.uint8))
    both = {
        r.image_id: r
        for r in sniff_image_meta(
            _img_rows(spark, [("j", j, 47, 33, "jpeg"), ("p", png, 3, 2, "png")]),
            scan_real_jpeg=True,
        ).collect()
    }
    assert (both["p"].sniff_w, both["p"].sniff_h) == (3, 2)
    assert (both["j"].sniff_w, both["j"].sniff_h) == (47, 33)


def test_metadata_integrity_reasons(spark):
    rng = np.random.default_rng(3)
    png = encode_png(rng.integers(0, 256, (4, 5, 3), dtype=np.uint8))
    rows = [
        ("ok", png, 5, 4, "png"),
        ("wrong_dim", png, 6, 4, "png"),
        ("wrong_fmt", png, 5, 4, "jpeg"),
        ("garbage", b"\x00\x01\x02", 5, 4, "png"),
        ("truncated", png[:12], 5, 4, "png"),
        ("real_jpeg", _minimal_jpeg(7, 8), 7, 8, "jpeg"),
    ]
    out = {
        r.image_id: (r.meta_ok, r.meta_reason)
        for r in metadata_integrity(_img_rows(spark, rows)).collect()
    }
    assert out["ok"] == (True, "ok")
    assert out["wrong_dim"] == (False, "dim_mismatch")
    assert out["wrong_fmt"] == (False, "fmt_mismatch")
    assert out["garbage"] == (False, "unreadable")
    assert out["truncated"] == (False, "unverified")  # magic intact, dims gone
    assert out["real_jpeg"] == (False, "unverified")  # fail-closed w/o scan
    with_scan = {
        r.image_id: (r.meta_ok, r.meta_reason)
        for r in metadata_integrity(
            _img_rows(spark, rows), scan_real_jpeg=True
        ).collect()
    }
    assert with_scan["real_jpeg"] == (True, "ok")


def test_resolution_dedup_keeps_largest_and_caps_degenerate(spark):
    from dotnetspider_spark.operators.images import resolution_dedup

    rows = (
        # one phash group with three sizes: largest (2) wins
        [(0, 7, 100, 100), (1, 7, 640, 480), (2, 7, 1024, 768)]
        # pixel-count tie: lower id (3) wins
        + [(3, 8, 200, 300), (4, 8, 300, 200)]
        # singleton
        + [(5, 9, 50, 50)]
        # degenerate group: > max_group members, ALL kept + flagged
        + [(100 + i, 0, 10, 10) for i in range(12)]
    )
    df = spark.createDataFrame(rows, "image_id long, phash long, w int, h int")
    out = {r.image_id: r for r in resolution_dedup(df, max_group=10).collect()}
    assert [out[i].keep for i in (0, 1, 2)] == [False, False, True]
    assert out[3].keep and not out[4].keep
    assert out[5].keep and out[5].n_copies == 1
    for i in range(12):
        assert out[100 + i].keep and out[100 + i].degenerate
    assert not out[2].degenerate


def test_cross_modal_dedup_unions_both_edge_sets(spark):
    """A cluster chained through BOTH relations collapses to one
    survivor: phash pairs (0,1)(2,3)(4,5) + caption groups {0,1,2} and
    {3,4,5} connect 0..5 into a single component; 6 is isolated."""
    from dotnetspider_spark.operators.images import cross_modal_dedup

    rows = [
        (0, 0x0, "cap A"), (1, 0x3, "cap A"), (2, 0xFF, "cap A"),
        (3, 0xFC, "cap B"), (4, 0xFF00, "cap B"), (5, 0xFF03, "cap B"),
        (6, 0xFFFF0000, "unique caption"),
    ]
    df = spark.createDataFrame(
        rows, "image_id long, phash long, caption string"
    )
    kept = sorted(
        r.image_id for r in cross_modal_dedup(df, max_hamming=4).collect()
    )
    assert kept == [0, 6]


def test_cross_modal_dedup_caption_only_and_phash_only(spark):
    """Each relation alone also dedups: same caption with far phashes,
    near phashes with distinct captions."""
    from dotnetspider_spark.operators.images import cross_modal_dedup

    rows = [
        (10, 0x0, "Same, Caption!"), (11, 0xFFFF, "same caption"),
        (20, 0xF0F0, "left"), (21, 0xF0F3, "right"),
        (30, 0x0F0F0F0F0F, "alone"),
    ]
    df = spark.createDataFrame(
        rows, "image_id long, phash long, caption string"
    )
    kept = sorted(
        r.image_id for r in cross_modal_dedup(df, max_hamming=4).collect()
    )
    # 11 falls to 10 via normalized caption; 21 falls to 20 via phash
    assert kept == [10, 20, 30]


def test_vit_token_costs_arithmetic_and_pruning(spark):
    from dotnetspider_spark.operators.images import vit_token_costs

    pairs = spark.createDataFrame(
        [(1, 224, 224), (2, 225, 224), (3, 14, 14), (4, 1024, 1024)],
        "image_id long, w int, h int",
    )
    got = {
        r["image_id"]: (r["tokens"], r["fits"])
        for r in vit_token_costs(pairs, patch=14, max_tokens=1024).collect()
    }
    # 224/14=16 -> 16*16+1; 225 -> ceil=17
    assert got[1] == (257, True)
    assert got[2] == (17 * 16 + 1, True)
    assert got[3] == (2, True)
    assert got[4] == (74 * 74 + 1, False)
    # cost plan must never touch a bytes column if present
    with_bytes = pairs.withColumn("bytes", F.lit(b"x"))
    plan_df = vit_token_costs(with_bytes, patch=14).select(
        "image_id", "tokens"
    )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    assert "bytes" not in buf.getvalue().split("Output")[-1][:400]


def test_aspect_resize_plan_covers_bucket_and_centers(spark):
    from dotnetspider_spark.operators.images import aspect_resize_plan

    rows = [(1, 1024, 512, 512, 512), (2, 300, 900, 512, 512),
            (3, 512, 512, 512, 512)]
    df = spark.createDataFrame(
        rows, "image_id long, w int, h int, bucket_w int, bucket_h int"
    )
    got = {r["image_id"]: r for r in aspect_resize_plan(df).collect()}
    for _id, w, h, bw, bh in rows:
        r = got[_id]
        # resized always covers the bucket window
        assert r["resize_w"] >= bw and r["resize_h"] >= bh
        # crop window fits and is centered
        assert 0 <= r["crop_x"] <= r["resize_w"] - bw
        assert abs((r["resize_w"] - bw) - 2 * r["crop_x"]) <= 1
    assert (got[1]["resize_w"], got[1]["resize_h"]) == (1024, 512)
    assert got[3]["crop_x"] == 0 and got[3]["crop_y"] == 0


def test_contrastive_batches_never_repeat_host_in_batch(spark):
    from dotnetspider_spark.operators.images import contrastive_batches

    pairs = spark.createDataFrame(
        [(i, f"h{i % 4}") for i in range(40)], "image_id long, host string"
    )
    rows = contrastive_batches(pairs).collect()
    seen = set()
    for r in rows:
        key = (r["batch"], r["host"])
        assert key not in seen, "same host twice in one batch"
        seen.add(key)
    # deterministic across invocations
    again = contrastive_batches(pairs).collect()
    assert {(r["image_id"], r["batch"]) for r in rows} == {
        (r["image_id"], r["batch"]) for r in again
    }


def test_jpeg_quality_screen_estimates_and_gates(spark):
    """Encoder-quality screen (images.jpeg_quality_screen): bit-exact
    libjpeg quality inversion from the stored DQT, non-JPEG and corrupt
    rows pass through with NULL (fail-open — validate owns corrupt),
    min_quality gates only the measured jpeg rows."""
    from dotnetspider_spark.codec.jpeg import encode_jpeg
    from dotnetspider_spark.operators.images import jpeg_quality_screen

    px = np.full((8, 8, 3), 200, np.uint8)
    rows = [
        ("low", encode_jpeg(px, 35), "jpeg"),
        ("mid", encode_jpeg(px, 75), "jpeg"),
        ("high", encode_jpeg(px, 95), "jpeg"),
        ("png", encode_png(px), "png"),
        ("bad", b"\xff\xd8garbage", "jpeg"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r.image_id: (r.jpeg_quality, r.jpeg_quality_exact)
           for r in jpeg_quality_screen(df).collect()}
    assert got["low"] == (35, True)
    assert got["mid"] == (75, True)
    assert got["high"] == (95, True)
    assert got["png"] == (None, None)
    assert got["bad"] == (None, None)

    kept = {r.image_id for r in
            jpeg_quality_screen(df, min_quality=60).collect()}
    assert kept == {"mid", "high", "png", "bad"}


def test_jpeg_quality_screen_on_datagen_corpus(spark):
    """The synthetic corpus's lossy rows are real JPEGs at quality 92
    since round 5 — the screen must recover exactly that on every one."""
    from dotnetspider_spark.operators.images import jpeg_quality_screen
    from dotnetspider_spark.testing.datagen import CorpusConfig, gen_corpus

    corpus = gen_corpus(spark, CorpusConfig(n_pages=100, n_hosts=4),
                        parallelism=2)
    est = jpeg_quality_screen(corpus.filter(F.col("fmt") == "jpeg"))
    rows = est.select("jpeg_quality", "jpeg_quality_exact").collect()
    assert rows and all(
        r.jpeg_quality == 92 and r.jpeg_quality_exact for r in rows
    )


def test_exif_extract_and_orientation_normalize(spark):
    """images.exif_extract: metadata columns from APP1, NULLs for
    exif-less/non-jpeg rows; normalize_orientation=True transcodes
    rotated payloads to orientation-1 PNG with the pixels transformed."""
    from dotnetspider_spark.codec.jpeg import (
        apply_orientation,
        build_exif,
        decode_jpeg,
        encode_jpeg,
    )
    from dotnetspider_spark.codec.png import decode_png
    from dotnetspider_spark.operators.images import exif_extract

    base = np.zeros((8, 12, 3), np.uint8)
    base[0, :4] = [255, 0, 0]  # asymmetric marker
    rows = [
        ("rot", encode_jpeg(base, 95, exif=build_exif(
            6, "2024:05:06 07:08:09", "acme", "cam")), "jpeg"),
        ("plain", encode_jpeg(base, 95), "jpeg"),
        ("png", encode_png := None or b"", "png"),
    ]
    # a real png row
    from dotnetspider_spark.codec.png import encode_png as _ep

    rows[2] = ("png", _ep(base), "png")
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    meta = {r.image_id: r for r in exif_extract(df).collect()}
    assert meta["rot"].exif_orientation == 6
    assert meta["rot"].exif_make == "acme"
    assert meta["plain"].exif_orientation is None
    assert meta["png"].exif_orientation is None

    fixed = {r.image_id: r for r in
             exif_extract(df, normalize_orientation=True).collect()}
    assert fixed["rot"].fmt == "png"
    want = apply_orientation(decode_jpeg(rows[0][1]), 6)
    assert (decode_png(bytes(fixed["rot"].bytes)) == want).all()
    # untouched rows keep their bytes + fmt
    assert fixed["plain"].fmt == "jpeg"
    assert bytes(fixed["plain"].bytes) == rows[1][1]


def test_exif_normalize_keeps_fmt_when_transcode_fails(spark):
    # a corrupt jpeg claiming orientation 6: the fmt flip must track
    # transcode SUCCESS — labeling jpeg bytes 'png' would poison the
    # decode dispatch downstream
    from dotnetspider_spark.codec.jpeg import build_exif, encode_jpeg
    from dotnetspider_spark.operators.images import exif_extract

    good = encode_jpeg(np.zeros((8, 8, 3), np.uint8), 90,
                       exif=build_exif(6))
    corrupt = good[:60]  # headers with EXIF intact, scan truncated
    df = spark.createDataFrame(
        [("c", corrupt, "jpeg")], "image_id string, bytes binary, fmt string"
    )
    row = exif_extract(df, normalize_orientation=True).collect()[0]
    assert row.exif_orientation == 6  # metadata still parsed
    assert row.fmt == "jpeg" and bytes(row.bytes) == corrupt


def test_exif_normalize_updates_orientation_and_dims(spark):
    # after a successful transcode the row describes its NEW bytes:
    # orientation 1, and w/h of the rotated pixels; an untouched row and
    # a failed transcode keep their orientation and w/h
    from dotnetspider_spark.codec.jpeg import build_exif, encode_jpeg
    from dotnetspider_spark.operators.images import exif_extract

    base = np.zeros((8, 12, 3), np.uint8)
    rot = encode_jpeg(base, 90, exif=build_exif(6))
    df = spark.createDataFrame(
        [
            ("rot", rot, "jpeg", 12, 8),
            ("corrupt", rot[:60], "jpeg", 12, 8),
            ("plain", encode_jpeg(base, 90), "jpeg", 12, 8),
        ],
        "image_id string, bytes binary, fmt string, w int, h int",
    )
    got = {
        r.image_id: (r.fmt, r.exif_orientation, r.w, r.h)
        for r in exif_extract(df, normalize_orientation=True).collect()
    }
    assert got == {
        "rot": ("png", 1, 8, 12),
        "corrupt": ("jpeg", 6, 12, 8),
        "plain": ("jpeg", None, 12, 8),
    }
