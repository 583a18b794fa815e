"""Pure-numpy video codec + deterministic payload synthesis — the
VIDEO member of the multimodal column family (image twin:
functions/imaging.py, audio twin: functions/audio.py). No external
libs: the container is a hand-rolled RIFF-style chunk stream
(`RIFF <size> VIDF` + one `vhdr` header chunk + one `fram` chunk per
gray frame), fully parseable with struct/numpy, so the decode path is
REAL — a header bug, chunk-alignment bug, or frame-stride bug breaks
the oracle hash exactly like the BMP/PPM/WAV codecs.

The testdata carries no video column, so payloads are SYNTHESIZED
from documents.text: the UTF-8 bytes tile a (n_frames × VID_H × VID_W)
gray voxel grid — voxel j of the flattened stream is byte[j % n] — a
closed-form contract the DuckDB oracle recomputes from hex(encode())
without decoding, while the Spark kernels genuinely parse the encoded
container back into frames. Frame count varies by text length
(VID_MIN_FRAMES + len % VID_FRAMES_MOD) so clip shapes differ across
documents. At 100 TB the payloads live in parquet as binary chunks
(or object-store pointers) exactly like images/audio, and synthesis
is replaced by reading stored bytes — the decode path is unchanged.
"""

from __future__ import annotations

import struct

import numpy as np

from timeseriesdb_spark.functions import audio, imaging

VID_W = 16           # frame width (px)
VID_H = 12           # frame height (px)
VID_FPS = 4          # nominal frames/second for duration math
VID_MIN_FRAMES = 2   # synthesis: n_frames = MIN + len(text) % MOD
VID_FRAMES_MOD = 4


def encode_video(frames: np.ndarray, fps: int = VID_FPS) -> bytes:
    """(F, H, W) uint8 gray frames → RIFF-style container:
    RIFF <size> VIDF, then a vhdr chunk (w, h, n_frames, fps as
    <IIII), then one fram chunk of H·W raw gray bytes per frame.
    RIFF chunks are 2-byte aligned (odd-sized bodies pad — H·W here
    is even, but the walker handles padding anyway, like the WAV
    reader)."""
    f = np.ascontiguousarray(np.asarray(frames, dtype=np.uint8))
    if f.ndim != 3:
        raise ValueError(f"frames must be (F, H, W), got shape {f.shape}")
    nf, h, w = f.shape
    body = b"VIDF" + b"vhdr" + struct.pack("<I", 16) + struct.pack(
        "<IIII", w, h, nf, fps
    )
    for k in range(nf):
        data = f[k].tobytes()
        body += b"fram" + struct.pack("<I", len(data)) + data
        if len(data) & 1:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_video(payload: bytes) -> tuple[int, np.ndarray]:
    """Real decode: container bytes → (fps, (F, H, W) uint8 frames).
    Walks the RIFF chunk list (no fixed offsets beyond the 12-byte
    RIFF header), validates the header arrives before any frame and
    that every frame chunk carries exactly H·W bytes."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"VIDF":
        raise ValueError(f"not a RIFF/VIDF payload: {payload[:12]!r}")
    pos = 12
    w = h = nf = fps = None
    frames: list[np.ndarray] = []
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"vhdr":
            w, h, nf, fps = struct.unpack("<IIII", body[:16])
        elif cid == b"fram":
            if w is None:
                raise ValueError("fram chunk before vhdr")
            if size != w * h:
                raise ValueError(f"frame chunk size {size} != {w * h}")
            frames.append(
                np.frombuffer(body, dtype=np.uint8).reshape(h, w)
            )
        pos += 8 + size + (size & 1)
    if w is None or nf is None:
        raise ValueError("missing vhdr chunk")
    if len(frames) != nf:
        raise ValueError(f"header declares {nf} frames, found {len(frames)}")
    return int(fps), np.stack(frames) if frames else np.zeros(
        (0, h, w), dtype=np.uint8
    )


def synth_frame_count(text_bytes: bytes) -> int:
    """Synthesis contract: clip length varies with the text."""
    return VID_MIN_FRAMES + len(text_bytes) % VID_FRAMES_MOD


def synth_frames(text_bytes: bytes) -> np.ndarray:
    """Text bytes → (F, VID_H, VID_W) gray frames: flattened voxel j
    is byte[j % n] (empty text → a single 0 byte), the same tiling
    discipline as the image synthesis so the oracle replays it from
    hex() closed form."""
    b = np.frombuffer(
        text_bytes if text_bytes else b"\x00", dtype=np.uint8
    )
    nf = synth_frame_count(text_bytes)
    total = nf * VID_H * VID_W
    idx = np.arange(total, dtype=np.int64) % len(b)
    return b[idx].reshape(nf, VID_H, VID_W)


def synth_video(text_bytes: bytes) -> bytes:
    """Document text → real encoded video payload."""
    return encode_video(synth_frames(text_bytes))


def voxel_bits(frames: np.ndarray) -> str:
    """Frame-major voxel fingerprint: the (F, H, W) grid flattened in
    frame order and hashed with the audio energy-delta-sign bits
    (exact integer chunk boundaries and energies). Appending or
    trimming frames shifts every chunk boundary slightly and flips few
    bits: the EDIT-robust video tier. Temporal restride scrambles the
    spatial phase at every chunk, so it is not rate-robust."""
    return audio.fingerprint_bits(frames.ravel().astype(np.int64))


def mean_dhash_bits(frames: np.ndarray) -> str:
    """RATE-robust video fingerprint: the image dHash of the time-mean
    frame (per-pixel integer floor-mean over frames). Duplicating every
    frame k times leaves the mean, so the hash, unchanged; dropping
    frames is tolerated only as far as adjacent frames correlate (the
    synthetic clips' frames are independent text chunks, the worst
    case: decimation by 2 measures hamming 9–12; SCALING.md).
    All-integer, so cross-engine exact."""
    nf = frames.shape[0]
    mean = (frames.astype(np.int64).sum(axis=0) // nf).astype(np.uint8)
    return imaging.dhash_bits(mean[:, :, None])
