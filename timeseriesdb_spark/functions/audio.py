"""Pure-numpy WAV (RIFF/PCM16 mono) codec + deterministic payload
synthesis — the audio member of the multimodal column family (the
image twin is functions/imaging.py). No external audio libs: PCM16
WAV is a 44-byte header + little-endian int16 samples, fully
parseable with struct/numpy, so the decode path is REAL — header
bugs, sample-width bugs, or byte-order bugs break the oracle hash
exactly like the BMP/PPM codecs.

The testdata carries no audio column, so payloads are SYNTHESIZED
from each signal's event values: sample_i = clamp(half-away-from-zero
round(value_i · AUD_SCALE), int16) in (ts, event_id) order — a
closed-form contract the DuckDB oracle recomputes without decoding
(round() is half-away in both engines; the clamp is LEAST/GREATEST).
At 100 TB the payloads live in parquet as binary chunks exactly like
images, and the synthesis step is replaced by reading stored bytes —
the decode path is unchanged.
"""

from __future__ import annotations

import struct

import numpy as np

AUD_RATE = 8000   # synthesis sample rate (Hz)
AUD_SCALE = 32    # value → PCM16 sample scale


def encode_wav(samples: np.ndarray, rate: int = AUD_RATE) -> bytes:
    """int16 samples → canonical 44-byte-header PCM16 mono WAV."""
    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH",
        16,        # fmt chunk size
        1,         # PCM
        1,         # mono
        rate,
        rate * 2,  # byte rate
        2,         # block align
        16,        # bits per sample
    )
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Real decode: WAV bytes → (sample_rate, int16 sample array).
    Walks the RIFF chunk list (no fixed offsets beyond the 12-byte
    RIFF header), validates PCM16 mono."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload: {payload[:12]!r}")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            tag, ch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if (tag, ch, bits) != (1, 1, 16):
                raise ValueError(f"unsupported WAV format {(tag, ch, bits)}")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # RIFF chunks are 2-byte aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return int(rate), data


def synth_samples(values: np.ndarray) -> np.ndarray:
    """values → PCM16 samples: half-away-from-zero rounding of
    value·AUD_SCALE (matches SQL round()), clamped to int16."""
    v = np.asarray(values, dtype=np.float64) * AUD_SCALE
    q = np.sign(v) * np.floor(np.abs(v) + 0.5)
    return np.clip(q, -32768, 32767).astype(np.int16)


def synth_audio(values: np.ndarray, rate: int = AUD_RATE) -> bytes:
    """Signal values → real encoded WAV payload."""
    return encode_wav(synth_samples(values), rate)


AFP_CHUNKS = 57  # energy chunks per clip → AFP_CHUNKS-1 = 56 sign bits


def fingerprint_bits(samples: "np.ndarray") -> str:
    """Audio fingerprint over DECODED int16 samples: the clip is cut
    into AFP_CHUNKS equal-ish chunks with EXACT integer boundaries
    (sample i of n → chunk i·C // n), per-chunk energy Σs² is exact
    int64, and bit c = 1 iff E[c+1] > E[c] (strict; ties → 0) — a
    chromaprint-style energy-delta-sign hash. Every comparison is
    int64-vs-int64, so the fingerprint is deterministic down to the
    bit in ANY engine. Length-invariant: the chunk grid
    resamples the clip, so appending a short tail moves only the
    boundary samples and flips few bits — near-dup robustness. A
    chunk with no samples (n < AFP_CHUNKS) has energy 0."""
    s = np.asarray(samples, dtype=np.int64)
    n = len(s)
    e = np.zeros(AFP_CHUNKS, dtype=np.int64)
    if n:
        idx = (np.arange(n, dtype=np.int64) * AFP_CHUNKS) // n
        np.add.at(e, idx, s * s)
    bits = e[1:] > e[:-1]
    return "".join("1" if b else "0" for b in bits)
