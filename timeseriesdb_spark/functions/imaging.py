"""Pure-numpy image codecs — REAL decode for the multimodal column
family (no third-party imaging libs in this container, so the formats
are the two classic uncompressed ones every tool can read):

- BMP, 24-bit uncompressed (BITMAPINFOHEADER, bottom-up BGR rows
  padded to 4 bytes) — encode_bmp / header+pixel parse in decode_image.
- PPM P6 (binary NetPBM: ``P6\\n{w} {h}\\n255\\n`` + top-down RGB
  rows) — encode_ppm / decode_image.

Plus bilinear_resize (align_corners=False convention, the
OpenCV/PIL default) — the resize kernel q_multimodal_resize runs on
decoded pixels.

Everything is numpy-vectorized per image (no per-pixel Python), and
the whole module is registered for cloudpickle BY-VALUE serialization
by operators/multimodal.py, so mapInPandas closures can call these
without requiring the package on executor PYTHONPATH.

Reference parity note: the reference repo has no image path at all —
this implements the multimodal plumbing the 100 TB training-data
pipeline needs (SURVEY.md §2 addendum), with the decode step now real
instead of stubbed.
"""

from __future__ import annotations

import struct

import numpy as np

_BMP_HEADER_BYTES = 54  # 14-byte file header + 40-byte info header


def bmp_stride(width: int) -> int:
    """Bytes per stored BMP row: 3·W padded up to a multiple of 4."""
    return ((width * 3 + 3) // 4) * 4


def encode_bmp(pix: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB, top-down → 24-bit uncompressed BMP."""
    h, w, _ = pix.shape
    stride = bmp_stride(w)
    data_size = stride * h
    header = b"BM" + struct.pack(
        "<IHHI", _BMP_HEADER_BYTES + data_size, 0, 0, _BMP_HEADER_BYTES
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    rows = np.zeros((h, stride), np.uint8)
    # bottom-up row order, BGR channel order (the BMP contract)
    rows[:, : w * 3] = pix[::-1, :, ::-1].reshape(h, w * 3)
    return header + info + rows.tobytes()


def encode_ppm(pix: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB, top-down → binary PPM (P6)."""
    h, w, _ = pix.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pix.tobytes()


def ppm_header_len(w: int, h: int) -> int:
    """Exact byte length of the P6 header this encoder writes."""
    return 3 + len(str(w)) + 1 + len(str(h)) + 1 + 4


def _decode_bmp(payload: bytes) -> np.ndarray:
    (off,) = struct.unpack_from("<I", payload, 10)
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    if bpp != 24 or h <= 0 or w <= 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, {w}x{h})")
    stride = bmp_stride(w)
    rows = np.frombuffer(payload, np.uint8, stride * h, off).reshape(h, stride)
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    return bgr[::-1, :, ::-1].copy()  # back to top-down RGB


def _decode_ppm(payload: bytes) -> np.ndarray:
    # P6 header: three whitespace-separated tokens after the magic
    # (width, height, maxval), then a single whitespace, then raw RGB.
    pos, tokens = 2, []
    while len(tokens) < 3:
        while payload[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    return np.frombuffer(payload, np.uint8, w * h * 3, pos).reshape(h, w, 3)


def decode_image(payload: bytes) -> tuple[str, np.ndarray]:
    """Real decode: payload bytes → (format, (H, W, 3) uint8 RGB)."""
    if payload[:2] == b"BM":
        return "bmp", _decode_bmp(payload)
    if payload[:2] == b"P6":
        return "ppm", _decode_ppm(payload)
    raise ValueError(f"unsupported image magic {payload[:2]!r}")


def bilinear_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """(H, W, C) → (out_h, out_w, C) float64 bilinear resample,
    align_corners=False (pixel centers at i+0.5, the OpenCV/PIL
    convention). Fully vectorized: four gathers + a weighted sum."""
    h, w = img.shape[:2]
    x = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    y = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    x0 = np.clip(np.floor(x), 0, w - 1).astype(np.int64)
    y0 = np.clip(np.floor(y), 0, h - 1).astype(np.int64)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    wx = np.clip(x - x0, 0.0, 1.0)[None, :, None]
    wy = np.clip(y - y0, 0.0, 1.0)[:, None, None]
    f = img.astype(np.float64)
    top = f[y0[:, None], x0[None, :]] * (1 - wx) + f[y0[:, None], x1[None, :]] * wx
    bot = f[y1[:, None], x0[None, :]] * (1 - wx) + f[y1[:, None], x1[None, :]] * wx
    return top * (1 - wy) + bot * wy


def bilinear_gray_exact(pix: np.ndarray, out_h: int, out_w: int):
    """EXACT-integer grayscale bilinear resample of a (H, W, 3) uint8
    image: returns (N, D) where value[py, px] = N[py, px] / D with
    N int64 and D = 3 · (2·out_h) · (2·out_w) · 255.

    Same align_corners=False geometry as bilinear_resize, but the
    source coordinate x = (px+0.5)·W/out_w − 0.5 is kept as the
    rational ((2·px+1)·W − out_w) / (2·out_w) instead of a float, so
    the four tap weights are small integers and the whole resample is
    integer arithmetic — an oracle can replay it in SQL with zero FP
    tolerance, and N/D as a final double division is bit-identical
    everywhere. Gray uses the channel SUM (denominator 3 folded into
    D) rather than a float mean. Requires W ≥ out_w and H ≥ out_h
    (no left-edge clip; synth images guarantee this: SYNTH_MIN = 8)."""
    h, w = pix.shape[:2]
    if w < out_w or h < out_h:
        raise ValueError("bilinear_gray_exact requires downsampling")
    sg = pix.astype(np.int64).sum(axis=2)  # (h, w) channel sums
    dx, dy = 2 * out_w, 2 * out_h
    xq = (2 * np.arange(out_w, dtype=np.int64) + 1) * w - out_w
    yq = (2 * np.arange(out_h, dtype=np.int64) + 1) * h - out_h
    x0 = xq // dx
    y0 = yq // dy
    wx = xq - dx * x0  # in [0, dx)
    wy = yq - dy * y0
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    top = sg[y0[:, None], x0[None, :]] * (dx - wx)[None, :] + sg[
        y0[:, None], x1[None, :]
    ] * wx[None, :]
    bot = sg[y1[:, None], x0[None, :]] * (dx - wx)[None, :] + sg[
        y1[:, None], x1[None, :]
    ] * wx[None, :]
    n = top * (dy - wy)[:, None] + bot * wy[:, None]
    return n, 3 * dx * dy * 255


DHASH_GRID = 8  # dHash grid side: DHASH_GRID·(DHASH_GRID−1) = 56 bits


def dhash_bits(pix: np.ndarray) -> str:
    """Difference hash of a decoded (H, W, C) image as a '01' string:
    the exact-integer gray resample to a DHASH_GRID² grid of tap sums
    N (bilinear_gray_exact), then bit (py, px) = 1 iff
    N[py, px+1] > N[py, px] (strict; ties → 0), row-major. Every
    comparison is int64 against int64, so the bits are the same in any
    engine (dHash on float pixels would not be)."""
    n, _ = bilinear_gray_exact(pix, DHASH_GRID, DHASH_GRID)
    return "".join("1" if b else "0" for b in (n[:, 1:] > n[:, :-1]).ravel())


# ---- deterministic payload synthesis -------------------------------
# The testdata carries no binary image column, so payloads are
# SYNTHESIZED from document text as real encoded images: dimensions
# derive from the text length (closed-form — the DuckDB oracle
# recomputes them without decoding), pixels tile the UTF-8 bytes, and
# even/odd doc_id picks BMP/PPM. Decode then genuinely re-parses the
# headers and pixel grid; nothing about the metadata path is faked.

SYNTH_W_MOD = 24
SYNTH_H_MOD = 24
SYNTH_MIN = 8


def synth_dims(n_bytes: int) -> tuple[int, int]:
    """Deterministic (W, H) from payload source length — mirrored in
    SQL by the q_multimodal_meta oracle."""
    return SYNTH_MIN + n_bytes % SYNTH_W_MOD, SYNTH_MIN + (n_bytes * 7) % SYNTH_H_MOD


def synth_image(text_bytes: bytes, doc_id: int) -> bytes:
    """Document → real encoded image (BMP for even doc_id, PPM odd)."""
    w, h = synth_dims(len(text_bytes))
    src = np.frombuffer(text_bytes, np.uint8)
    if not len(src):
        src = np.zeros(1, np.uint8)
    pix = np.resize(src, (h, w, 3))  # cyclic tile of the text bytes
    return encode_bmp(pix) if doc_id % 2 == 0 else encode_ppm(pix)
