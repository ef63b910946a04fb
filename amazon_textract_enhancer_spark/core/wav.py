"""Minimal pure-stdlib WAV (RIFF) codec — the audio sibling of
core/png.py. Supports 16-bit signed little-endian PCM (format 1) AND
G.711 µ-law (format 7, 8-bit log-companded — a real compressed
telephony codec, 2:1, implemented here bit-for-bit per the G.711
spec). Any channel count / sample rate; standard RIFF chunk walking
(extra chunks like LIST are skipped). ``riff_wave`` is the one
container writer, shared with the IMA ADPCM encoder (core/adpcm.py).
Perceptual codecs (MP3/AAC/…) stay behind the disclosed stub seam in
operators/multimodal.py.
"""

from __future__ import annotations

import struct

_ULAW_BIAS = 0x84  # 132
_ULAW_CLIP = 32635


def mulaw_compress(x: int) -> int:
    """int16 PCM sample → one G.711 µ-law byte (sign | exponent<<4 |
    mantissa, all bit-inverted on the wire)."""
    sign = 0x80 if x < 0 else 0
    if x < 0:
        x = -x
    if x > _ULAW_CLIP:
        x = _ULAW_CLIP
    x += _ULAW_BIAS
    exp = 7
    mask = 0x4000
    while exp > 0 and not x & mask:
        exp -= 1
        mask >>= 1
    mant = (x >> (exp + 3)) & 0x0F
    return ~(sign | (exp << 4) | mant) & 0xFF


def mulaw_expand(b: int) -> int:
    """One µ-law byte → reconstructed int16 PCM sample."""
    b = ~b & 0xFF
    sign = b & 0x80
    exp = (b >> 4) & 0x07
    mant = b & 0x0F
    x = (((mant << 3) + _ULAW_BIAS) << exp) - _ULAW_BIAS
    return -x if sign else x


def riff_wave(fmt: bytes, data: bytes, fact: bytes | None = None) -> bytes:
    """The one RIFF/WAVE container writer: a ``fmt `` chunk (packed by
    the caller, format arithmetic included), an optional ``fact`` chunk
    and the ``data`` chunk, each length-prefixed, in that order."""
    chunks = ([(b"fmt ", fmt)] + ([] if fact is None else [(b"fact", fact)])
              + [(b"data", data)])
    body = b"WAVE" + b"".join(tag + struct.pack("<I", len(c)) + c for tag, c in chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav(sample_rate: int, channels: int, samples: list[int]) -> bytes:
    """samples: interleaved signed 16-bit ints (len divisible by
    channels)."""
    if len(samples) % channels:
        raise ValueError("sample count not divisible by channel count")
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate,
                      channels * 2, 16)
    return riff_wave(fmt, struct.pack(f"<{len(samples)}h", *samples))


def encode_wav_mulaw(sample_rate: int, channels: int,
                     samples: list[int]) -> bytes:
    """µ-law-COMPRESS int16 samples into a format-7 RIFF/WAVE stream
    (8 bits on the wire — half the PCM byte rate)."""
    if len(samples) % channels:
        raise ValueError("sample count not divisible by channel count")
    byte_rate = sample_rate * channels
    fmt = struct.pack("<HHIIHH", 7, channels, sample_rate, byte_rate,
                      channels, 8)
    return riff_wave(fmt, bytes(mulaw_compress(s) for s in samples))


def decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """→ (sample_rate, channels, interleaved signed 16-bit samples).
    Format 1 (PCM16) is read directly; format 7 (µ-law) is EXPANDED to
    int16 per G.711; format 0x11 (IMA ADPCM, mono) is decoded through
    the sequential nibble state machine in core/adpcm.py. ValueError
    on anything else, including truncated headers (never
    struct.error/IndexError)."""
    try:
        return _decode_wav(payload)
    except (struct.error, IndexError) as e:
        raise ValueError(f"truncated or malformed WAV: {e}") from e


def _decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos = 12
    sample_rate = channels = None
    data = None
    block_align = n_samples = None
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        chunk = payload[pos + 8:pos + 8 + length]
        if len(chunk) != length:
            raise ValueError("truncated chunk")
        if tag == b"fmt ":
            fmt_code, channels, sample_rate, _br, block_align, bits = \
                struct.unpack("<HHIIHH", chunk[:16])
            if (fmt_code, bits) not in ((1, 16), (7, 8), (0x11, 4)):
                raise ValueError(f"unsupported format (code={fmt_code}, bits={bits})")
            if fmt_code == 0x11 and channels != 1:
                raise ValueError("ADPCM: only mono supported")
        elif tag == b"fact":
            (n_samples,) = struct.unpack("<I", chunk[:4])
        elif tag == b"data":
            data = chunk
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if sample_rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if fmt_code == 0x11:
        from .adpcm import decode_adpcm_data

        return sample_rate, channels, decode_adpcm_data(
            data, block_align, n_samples)
    if fmt_code == 7:
        return sample_rate, channels, [mulaw_expand(b) for b in data]
    if len(data) % 2:
        raise ValueError("odd PCM byte count")
    samples = list(struct.unpack(f"<{len(data) // 2}h", data))
    return sample_rate, channels, samples
