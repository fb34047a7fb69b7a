"""Image payload handling — deterministic stand-in codec + pHash.

The container has no PIL/libjpeg, so real PNG/JPEG codecs are STUBBED by
a clearly-marked deterministic fake with the same *semantics* the
invariants need (BASELINE.json input_hint: decoded-pixel allclose,
PSNR ≥ 40 dB for lossy, bit-exact for lossless):

* ``fmt == "png"``  → zlib-compressed raw RGB, bit-exact round trip.
* ``fmt == "jpeg"`` → quantize-to-step-6 + zlib — genuinely lossy with
  PSNR ≈ 43 dB, so the ≥ 40 dB gate is a real check, not a tautology.

All Spark-side plumbing (binary columns, Arrow batches, mapInPandas
signatures) is real; only the codec bytes differ from libpng/libjpeg.
Swap ``encode_image``/``decode_image`` for PIL on a cluster with the
libs installed.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MAGIC = b"MSIM"  # fake-codec container magic
_JPEG_STEP = 6  # quantization step → MSE ≈ step²/12 ≈ 3 → PSNR ≈ 43 dB


def synth_pixels(idx: int, w: int, h: int) -> np.ndarray:
    """Deterministic procedural RGB image keyed by row index."""
    rng = np.random.default_rng(np.uint64(idx) ^ np.uint64(0xA5A5A5A5A5A5A5A5))
    base = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:h, 0:w]
    wave = (127.5 * (1 + np.sin((xx + idx % 17) / 3.0) * np.cos((yy + idx % 11) / 4.0)))
    return ((base.astype(np.float64) + wave[..., None]) / 2).astype(np.uint8)


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    h, w, _ = pixels.shape
    if fmt == "jpeg":
        q = (pixels.astype(np.int32) // _JPEG_STEP * _JPEG_STEP + _JPEG_STEP // 2)
        payload = np.clip(q, 0, 255).astype(np.uint8).tobytes()
    elif fmt == "png":
        payload = pixels.tobytes()
    else:
        raise NotImplementedError(f"real codec for {fmt!r} not available in this container")
    return MAGIC + struct.pack("<HHB", w, h, 1 if fmt == "jpeg" else 0) + zlib.compress(payload, 6)


def decode_image(data: bytes) -> np.ndarray:
    if data[:4] != MAGIC:
        raise NotImplementedError("real image codecs (libpng/libjpeg) unavailable; expected MSIM stub container")
    w, h, _lossy = struct.unpack("<HHB", data[4:9])
    raw = zlib.decompress(data[9:])
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


def resize_nearest(px: np.ndarray, w: int, h: int) -> np.ndarray:
    """Nearest-neighbour resize of an (H, W, 3) array to (h, w, 3) by
    index sampling (codec-independent)."""
    sy = (np.arange(h) * px.shape[0]) // h
    sx = (np.arange(w) * px.shape[1]) // w
    return px[sy][:, sx]


def phash64(pixels: np.ndarray) -> int:
    """64-bit mean-threshold perceptual hash: grayscale → 8×8 block means
    → bit per cell (≥ global mean).  Deterministic, numpy-only."""
    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    cells = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            cells[i, j] = gray[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].mean()
    bits = (cells >= cells.mean()).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v  # signed int64


VMAGIC = b"MVID"  # fake video container: concatenated MSIM frames


def decode_video(data: bytes) -> list:
    """Frames of the stub video container: magic + frame count +
    length-prefixed MSIM frames (no ffmpeg/libav in this container)."""
    if data[:4] != VMAGIC:
        raise NotImplementedError(
            "real video demuxers (ffmpeg/libav) unavailable; expected MVID stub container")
    (n,) = struct.unpack("<I", data[4:8])
    frames, off = [], 8
    for _ in range(n):
        (ln,) = struct.unpack("<I", data[off:off + 4])
        off += 4
        frames.append(decode_image(data[off:off + ln]))
        off += ln
    return frames
