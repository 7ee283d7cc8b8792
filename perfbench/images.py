"""``images``: ``operators.validate`` → ``phash_near_duplicates`` →
``sinks.webdataset`` over a generated image+caption table in the
BASELINE ``input_hint`` schema, checked against the generator's ground
truth.

The table holds PNG and real baseline JPEG payloads of 32-96 px a side
(sizes cycle by row index, so every seed decodes the same pixel
volume), a fixed number of corrupted rows (JPEG payloads cut in half,
captions edited after the reference copy was taken) and a fixed number
of injected near-duplicates (a base image with one pixel flipped).
PNG payloads are never truncated: the PNG decoder raises ``zlib.error``
on a cut stream, which ``validate_payloads`` does not catch, so such a
row fails the whole job instead of being flagged invalid.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tarfile
import time
from contextlib import nullcontext
from dataclasses import asdict, dataclass

from perfbench import harness


@dataclass(frozen=True)
class ImagesWorkload:
    n_base: int = 96
    sides: tuple[int, ...] = (32, 48, 64, 80, 96)
    truncated: int = 10  # JPEG payloads cut in half: the decoder must reject them
    altered: int = 6  # captions that no longer match the reference
    neardups: int = 12  # one-pixel variants of base images
    n_shards: int = 4
    max_hamming: int = 4

    @property
    def n_rows(self) -> int:
        return self.n_base + self.neardups

    def cache_dir(self, seed: int) -> str:
        tag = hashlib.md5(json.dumps(asdict(self), sort_keys=True).encode()).hexdigest()[:10]
        return os.path.join(harness.CACHE_DIR, f"images-{tag}-s{seed}")


IMAGES = ImagesWorkload()


def image_id(seed: int, i: int) -> str:
    return f"s{seed}-{i:06d}"


#: Rows whose id is congruent mod 50 share size and format (sizes cycle
#: over 25 ids, formats over 2); every role is given to one row of a
#: fixed set of classes, so each seed decodes the same pixel volume and
#: only which rows (and their pixels) play the roles changes.
_CLASSES = 50


def plan(wl: ImagesWorkload, seed: int) -> dict:
    """Near-duplicate bases (classes 0..), truncated JPEG rows (even
    classes after them) and altered captions (the classes after those),
    one seeded member per class."""
    import numpy as np

    rng = np.random.default_rng([seed, 12])

    def member(c: int) -> int:
        return c + _CLASSES * int(rng.integers(0, (wl.n_base - 1 - c) // _CLASSES + 1))

    trunc_from = wl.neardups + wl.neardups % 2  # truncated classes must be even (JPEG)
    alter_from = trunc_from + 2 * wl.truncated
    if alter_from + wl.altered > min(_CLASSES, wl.n_base):
        raise ValueError("more corrupted and near-duplicate rows than size/format classes")
    return {
        "base_of": {wl.n_base + k: member(k) for k in range(wl.neardups)},
        "truncated": {member(trunc_from + 2 * k) for k in range(wl.truncated)},
        "altered": {member(alter_from + k) for k in range(wl.altered)},
    }


def _rows(wl: ImagesWorkload, seed: int, ids: list[int], base_of: dict[int, int]) -> list[dict]:
    """Clean rows (reference copies) for ``ids``."""
    import numpy as np

    from dotnetspider_spark.codec.jpeg import encode_jpeg
    from dotnetspider_spark.codec.png import decode_image, encode_png, phash64

    out = []
    for i in ids:
        b = base_of.get(i, i)
        w = wl.sides[b % len(wl.sides)]
        h = wl.sides[(b // len(wl.sides)) % len(wl.sides)]
        px = np.random.default_rng([seed, 11, b]).integers(0, 256, (h, w, 3), dtype=np.uint8)
        if b != i:
            px[0, 0] = 255 - px[0, 0]
        fmt = "jpeg" if b % 2 == 0 else "png"
        data = encode_jpeg(px, 92) if fmt == "jpeg" else encode_png(px)
        out.append({
            "image_id": image_id(seed, i), "bytes": data, "w": w, "h": h, "fmt": fmt,
            "caption": f"Synthetic card {i}: a {['red', 'blue', 'green', 'ochre'][i % 4]} test pattern.",
            "phash": phash64(decode_image(data, fmt)),
        })
    return out


def _write(rows: list[dict], path: str) -> None:
    """Four parquet files per core: the scan splits into that many
    tasks, which keeps every core busy to the end of the decode stage;
    contiguous slices mix formats and sizes evenly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()),
    ])
    os.makedirs(path)
    n = 4 * harness.nproc()
    for k in range(n):
        part = pa.Table.from_pylist(rows[k * len(rows) // n:(k + 1) * len(rows) // n], schema=schema)
        pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))


def ground_truth(rows: list[dict], invalid: set[str], max_hamming: int) -> dict:
    """Valid flag per id, and the exact near-duplicate pair set among
    valid rows by brute force over the phashes."""
    valid = {r["image_id"]: r["image_id"] not in invalid for r in rows}
    hashes = sorted((r["image_id"], r["phash"] & (2**64 - 1)) for r in rows if valid[r["image_id"]])
    pairs = [
        [a, b]
        for k, (a, ha) in enumerate(hashes)
        for b, hb in hashes[k + 1:]
        if bin(ha ^ hb).count("1") <= max_hamming
    ]
    return {"valid": valid, "pairs": pairs}


def prepare(wl: ImagesWorkload, seed: int) -> dict:
    """Generate (in spawned workers) and cache the fetched table, the
    reference table and the ground truth for one seed."""
    d = wl.cache_dir(seed)
    done = os.path.join(d, "truth.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        p = plan(wl, seed)
        n = harness.nproc()
        ids = list(range(wl.n_rows))
        chunks = harness.in_workers([(_rows, (wl, seed, ids[k::n], p["base_of"])) for k in range(n)])
        rows = sorted((r for c in chunks for r in c), key=lambda r: r["image_id"])
        _write(rows, os.path.join(d, "reference"))
        fetched = []
        for k, r in enumerate(rows):
            r = dict(r)
            if k in p["truncated"]:
                r["bytes"] = r["bytes"][: len(r["bytes"]) // 2]
            if k in p["altered"]:
                r["caption"] += " (edited)"
            fetched.append(r)
        _write(fetched, os.path.join(d, "fetched"))
        invalid = {image_id(seed, k) for k in p["truncated"] | p["altered"]}
        with open(done + ".tmp", "w") as f:
            json.dump(ground_truth(rows, invalid, wl.max_hamming), f)
        os.replace(done + ".tmp", done)
    with open(done) as f:
        t = json.load(f)
    return {"valid": t["valid"], "pairs": {tuple(p) for p in t["pairs"]}}


def expected_keep(truth: dict) -> int:
    dropped = {b for _, b in truth["pairs"]}
    return sum(1 for i, v in truth["valid"].items() if v and i not in dropped)


def compare(truth: dict, got: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, notes): one checked item per row flag, per
    true near-dup pair, and the written sample count; a flag that
    disagrees, a pair on one side only, or each sample too many or too
    few in the shards is one failure."""
    notes = []
    ids = set(truth["valid"]) | set(got["valid"])
    bad_flags = sorted(i for i in ids if truth["valid"].get(i) != got["valid"].get(i))
    if bad_flags:
        notes.append(f"valid flags: {len(bad_flags)} differ, e.g. {bad_flags[:3]}")
    bad_pairs = truth["pairs"] ^ got["pairs"]
    if bad_pairs:
        notes.append(f"near-dup pairs: {len(bad_pairs)} differ, e.g. {sorted(bad_pairs)[:3]}")
    keep = expected_keep(truth)
    bad_samples = abs(keep - got["samples"])
    if bad_samples:
        notes.append(f"shard samples: expected {keep}, got {got['samples']}")
    failed = len(bad_flags) + len(bad_pairs) + bad_samples
    return len(truth["valid"]) + len(truth["pairs"]) + 1, failed, notes


# ------------------------------------------------------------- pipeline


def register(spark, wl: ImagesWorkload, seed: int) -> list:
    """The fetched and the reference table."""
    d = wl.cache_dir(seed)
    return [spark.read.parquet(os.path.join(d, t)) for t in ("fetched", "reference")]


def pipeline(fetched, reference, out_dir: str, wl: ImagesWorkload, tracer=None) -> dict:
    """validate → near-dup → shard write of the valid, non-duplicate
    rows. Each stage's output is materialized before the next starts."""
    from pyspark.sql import functions as F

    from dotnetspider_spark.operators.validate import phash_near_duplicates, validate_payloads
    from dotnetspider_spark.sinks.webdataset import write_webdataset

    def span(name):
        return tracer.span(name, parent="pass") if tracer is not None else nullcontext()

    with span("validate"):
        v = validate_payloads(fetched, reference).select("image_id", "valid").localCheckpoint(eager=True)
    flags = {r.image_id: r.valid for r in v.collect()}
    valid = fetched.join(v.filter(F.col("valid")).select("image_id"), "image_id")
    with span("neardup"):
        pairs = {
            (r.id_a, r.id_b)
            for r in phash_near_duplicates(valid, max_hamming=wl.max_hamming).select("id_a", "id_b").collect()
        }
    dropped = sorted({b for _, b in pairs})
    keep = valid.filter(~F.col("image_id").isin(dropped)) if dropped else valid
    with span("sink"):
        manifest = write_webdataset(keep, out_dir, wl.n_shards).collect()
    return {"valid": flags, "pairs": pairs, "manifest": manifest}


def shard_samples(out_dir: str) -> int:
    """Samples actually in the tars: one image and one caption member each."""
    members = 0
    for name in os.listdir(out_dir):
        if name.startswith("shard-") and name.endswith(".tar"):
            with tarfile.open(os.path.join(out_dir, name)) as t:
                members += len(t.getmembers())
    return members // 2


#: a single ~5 s pass varies by 10-15% from pass to pass on a shared
#: host; the median of at least this many is steadier
_MIN_PASSES = 4


#: untimed full passes before the timed ones. They cover first use of
#: every plan shape, Python worker start-up, engine imports in the
#: workers and JIT warm-up; after a single one, the next two passes
#: still ran 10-20% slower than the rest.
_WARMUP_PASSES = 2


def warm_up(tables: list, wl: ImagesWorkload) -> float:
    t = time.monotonic()
    for _ in range(_WARMUP_PASSES):
        pipeline(*tables, os.path.join(harness.RUN_DIR, "warmup"), wl)
    return time.monotonic() - t


def timed(seed: int, seconds: float, wl: ImagesWorkload = IMAGES) -> dict:
    """Untimed warm-up passes, then full passes for ``seconds`` and at
    least ``_MIN_PASSES``; every pass is checked."""
    truth = prepare(wl, seed)
    harness.log("inputs and ground truth ready")
    out_dir = os.path.join(harness.RUN_DIR, "shards")
    setups, passes, attempted, failed, notes = [], [], 0, 0, []
    with harness.RssSampler() as rss:
        spark = None
        for _ in range(3):
            if spark is not None:
                spark.stop()
            t = harness.mark()
            spark = harness.start_spark()
            tables = register(spark, wl, seed)
            setups.append(harness.steal_free_s(t, harness.mark()))
        harness.log(f"set up x{len(setups)}")
        try:
            warmup = warm_up(tables, wl)
            harness.log(f"warm-up: {warmup:.1f}s")
            t_start = time.monotonic()
            while True:
                shutil.rmtree(out_dir, ignore_errors=True)
                t = harness.mark()
                got = pipeline(*tables, out_dir, wl)
                wall = harness.steal_free_s(t, harness.mark())
                harness.log(f"pass {len(passes) + 1}: {wall:.1f}s")
                got["samples"] = shard_samples(out_dir)
                a, f, n = compare(truth, got)
                attempted, failed, notes = attempted + a, failed + f, notes + n
                passes.append((wall, harness.tree_bytes(out_dir)[0]))
                elapsed = time.monotonic() - t_start
                if len(passes) >= _MIN_PASSES and elapsed * (len(passes) + 1) / len(passes) > seconds:
                    break
        finally:
            spark.stop()
    m = harness.median
    return {
        "metrics": {
            "items_per_s": m(wl.n_rows / w for w, _ in passes),
            "iter_p50_s": m(w for w, _ in passes),
            "state_bytes_per_item": m(b / wl.n_rows for _, b in passes),
            "peak_rss_mb": rss.peak_mb,
            "setup_s": m(setups),
        },
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
        "info": {
            "warmup_s": round(warmup, 4),
            "passes_s": [round(w, 4) for w, _ in passes],
            "rows": wl.n_rows,
            "setups_s": [round(x, 4) for x in setups],
        },
    }


def traced(seed: int, seconds: float, wl: ImagesWorkload = IMAGES) -> dict:
    """Per-layer numbers: after the same warm-up passes as the timed
    run, one pass with a span around each stage and the Spark event log
    on."""
    truth = prepare(wl, seed)
    out_dir = os.path.join(harness.RUN_DIR, "shards")
    tracer = harness.Tracer()
    spark = harness.start_spark(event_log=True)
    try:
        tables = register(spark, wl, seed)
        warm_up(tables, wl)
        spark.sparkContext.setJobGroup("pipeline", "perfbench")
        with tracer.span("pass"):
            got = pipeline(*tables, out_dir, wl, tracer)
        spark.sparkContext.setJobGroup("check", "perfbench")
    finally:
        spark.stop()
    got["samples"] = shard_samples(out_dir)
    attempted, failed, notes = compare(truth, got)
    out = harness.task_totals(harness.read_event_logs(), {"pipeline"})
    n_valid = sum(got["valid"].values())
    out.update({
        "validate.s": tracer.seconds("validate"),
        "validate.rows": len(got["valid"]),
        "validate.valid_ratio": n_valid / max(len(got["valid"]), 1),
        "neardup.s": tracer.seconds("neardup"),
        "neardup.pairs": len(got["pairs"]),
        "sink.s": tracer.seconds("sink"),
        "sink.bytes": harness.tree_bytes(out_dir)[0],
        "sink.shards": len(got["manifest"]),
    })
    tracer.write(os.path.join(harness.RUN_DIR, "spans.json"))
    return {"metrics": out, "attempted": attempted, "failed": failed, "notes": notes, "info": {}}
