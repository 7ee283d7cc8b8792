"""Minimal pure-stdlib PNG codec (8-bit RGB, non-interlaced).

The container has no PIL/imageio, so the engine ships its own codec for
the image-payload path (BASELINE.json input_hint: ``bytes:binary`` +
decoded-pixel PSNR validation). Encode writes filter-type-0 scanlines +
zlib; decode handles all five standard filter types so any conforming
8-bit RGB PNG round-trips. Everything operates on ``numpy uint8 (h, w,
3)`` arrays and is called from pandas UDFs on whole Arrow batches — there
is no per-row Python at the Spark API level.

Real baseline JPEG is handled by the sibling pure-Python ITU T.81 codec
(``codec/jpeg.py``) — ``decode_image`` dispatches on the JPEG SOI magic.
Lossy rows in the synthetic corpus may also use :func:`encode_fakejpeg`
— a clearly marked deterministic stand-in container (magic ``FJPG``)
that stores quantized pixels, losing low bits exactly like a
high-quality JPEG would (PSNR in the 40-55 dB band) at a fraction of
the pure-Python DCT cost; it remains the fast path for bulk corpus
generation, while correctness fixtures exercise the real codec.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_FAKEJPEG_MAGIC = b"FJPG"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """uint8 (h, w, 3) -> PNG bytes (filter 0, zlib level 6)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit truecolor
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, w: int, ch: int = 3) -> np.ndarray:
    """Reverse PNG scanline filters 0-4 (bpp = ``ch`` bytes/pixel). Sub
    is a per-channel running sum and Up one vector add (uint8 arithmetic
    wraps mod 256); Average and Paeth depend on the byte just decoded, so
    they run over Python ints."""
    n, bpp = w * ch, ch
    rows = raw.reshape(h, n + 1)
    out = np.empty((h, n), np.uint8)
    prev = np.zeros(n, np.uint8)
    for y in range(h):
        ftype, line = rows[y, 0], rows[y, 1:]
        if ftype == 0:
            out[y] = line
        elif ftype == 1:  # Sub
            px = line.reshape(w, ch)
            out[y] = np.cumsum(px, axis=0, dtype=np.uint8).reshape(n)
        elif ftype == 2:  # Up
            out[y] = line + prev
        elif ftype in (3, 4):
            cur, up = line.tolist(), prev.tolist()
            if ftype == 3:  # Average
                for x in range(min(bpp, n)):
                    cur[x] = (cur[x] + (up[x] >> 1)) & 0xFF
                for x in range(bpp, n):
                    cur[x] = (cur[x] + ((cur[x - bpp] + up[x]) >> 1)) & 0xFF
            else:  # Paeth; with no left neighbour it predicts from above
                for x in range(min(bpp, n)):
                    cur[x] = (cur[x] + up[x]) & 0xFF
                for x in range(bpp, n):
                    a, b, c = cur[x - bpp], up[x], up[x - bpp]
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    if pa <= pb and pa <= pc:
                        cur[x] = (cur[x] + a) & 0xFF
                    else:
                        cur[x] = (cur[x] + (b if pb <= pc else c)) & 0xFF
            out[y] = cur
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        prev = out[y]
    return out.reshape(h, w, ch)


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 (h, w, 3).

    8-bit non-interlaced grayscale (color type 0, replicated to RGB),
    truecolor (2) and truecolor+alpha (6, alpha dropped — payload
    validation compares color, compositing is a training-time choice).
    Palette/16-bit/interlaced raise NotImplementedError loudly; a
    truncated or corrupt chunk header or IDAT stream raises ValueError.
    """
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, 0
    h = bitdepth = coltype = interlace = 0
    idat = b""
    try:
        while pos < len(data):
            (length,) = struct.unpack(">I", data[pos : pos + 4])
            tag = data[pos + 4 : pos + 8]
            body = data[pos + 8 : pos + 8 + length]
            if tag == b"IHDR":
                w, h, bitdepth, coltype, _, _, interlace = struct.unpack(
                    ">IIBBBBB", body
                )
            elif tag == b"IDAT":
                idat += body
            elif tag == b"IEND":
                break
            pos += 12 + length
        if bitdepth != 8 or interlace != 0 or coltype not in (0, 2, 6):
            raise NotImplementedError(
                "only 8-bit non-interlaced gray/RGB/RGBA PNG supported"
            )
        raw = np.frombuffer(zlib.decompress(idat), np.uint8)
    except (struct.error, zlib.error) as e:
        # network bytes fail closed: the validate UDFs catch ValueError
        raise ValueError(f"corrupt PNG: {e}") from e
    ch = {0: 1, 2: 3, 6: 4}[coltype]
    out = _unfilter(raw, h, w, ch)
    if coltype == 0:
        return np.repeat(out, 3, axis=2)
    if coltype == 6:
        return np.ascontiguousarray(out[:, :, :3])
    return out


def encode_fakejpeg(pixels: np.ndarray, quality: int = 90) -> bytes:
    """Deterministic lossy stand-in for JPEG (STUB — see module docstring).

    Quantizes each channel to ``step = max(1, round((100-quality)/12))``
    levels lost, then stores zlib'd quantized pixels. quality=90 -> step 1
    (lossless-ish); quality=50 -> step 4 (~42 dB PSNR on noise images).
    """
    h, w, _ = pixels.shape
    step = max(1, round((100 - quality) / 12)) * 2
    q = (pixels.astype(np.int32) // step * step + step // 2).clip(0, 255)
    body = zlib.compress(q.astype(np.uint8).tobytes(), 6)
    return _FAKEJPEG_MAGIC + struct.pack(">HHB", w, h, quality) + body


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """Dispatch by format tag: PNG, real baseline JPEG (codec/jpeg.py,
    pure-Python ITU T.81), or the FJPG deterministic stand-in container
    kept for fast synthetic-corpus generation."""
    if fmt == "png":
        return decode_png(data)
    if fmt == "jpeg":
        if data[:4] == _FAKEJPEG_MAGIC:
            w, h, _q = struct.unpack(">HHB", data[4:9])
            raw = np.frombuffer(zlib.decompress(data[9:]), np.uint8)
            return raw.reshape(h, w, 3)
        from dotnetspider_spark.codec.jpeg import decode_jpeg

        return decode_jpeg(data)
    raise ValueError(f"unknown image format {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    if a.shape != b.shape:
        return 0.0
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash: grayscale -> 8x8 mean-pool -> DCT-II -> sign
    of the top-left 8x8 AC block vs its median. Deterministic numpy-only."""
    g = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = g.shape
    # resample to 32x32 by index mapping (nearest; deterministic)
    yi = (np.arange(32) * h // 32).clip(0, h - 1)
    xi = (np.arange(32) * w // 32).clip(0, w - 1)
    s = g[np.ix_(yi, xi)]
    n = 32
    k = np.arange(n)
    basis = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    d = basis @ s @ basis.T
    block = d[:8, :8].flatten()
    med = np.median(block[1:])  # skip DC
    bits = (block > med).astype(np.uint64)
    out = np.uint64(0)
    for i, bit in enumerate(bits):
        out |= np.uint64(bit) << np.uint64(i)
    v = int(out)
    return v - (1 << 64) if v >= (1 << 63) else v  # signed int64 (phash:long)
