"""Minimal pure-stdlib baseline JPEG codec (8-bit grayscale + YCbCr color).

The last named codec on the stub seam: a real DCT + entropy decoder —
marker parsing (SOI/DQT/SOF0/DHT/SOS/EOI), canonical Huffman decode
(spec Annex K tables on encode; tables are READ FROM THE STREAM on
decode), byte unstuffing (FF 00), DC difference coding, zigzag,
dequantization and a separable float IDCT with level shift.

Oracle strategy (operators/multimodal.py): JPEG is lossy in general,
but a block that is CONSTANT has only a DC coefficient, and with the
spec's luminance DC quant step of 16 the value survives exactly when
(v−128) is even: FDCT DC = 8·(v−128), quantize = (v−128)/2 exactly,
dequant·IDCT = v−128, level shift = v. The fixture images are built
from constant 8×8 blocks of even values, so Spark's decode of the
actual entropy-coded bytes must reproduce the closed-form pixel
formula bit-exactly — while the full AC path (run/size symbols, EOB,
stuffing) is exercised by round-trip PSNR fuzz in the unit tests.

Supported: baseline sequential (SOF0), 8-bit, single-component
grayscale AND 3-component YCbCr color (4:4:4 and 4:2:0 chroma
subsampling, MCU-interleaved per T.81 A.2.3), no restart markers.
Anything else raises ValueError.

Color path (r4): chroma uses the spec's Table K.2 quantizer (DC step
17) and the Annex K.3 chrominance Huffman tables; the decoder reads
sampling factors / quant-table ids / Huffman-table bindings from the
stream, decodes interleaved MCUs with per-component DC predictors,
upsamples chroma by pixel replication, and converts YCbCr→RGB with
the JFIF formula using EXPLICIT half-up rounding (floor(x+0.5)) so a
SQL twin can reproduce every output byte closed-form. Constant-block
exactness extends to color: a constant chroma block with value
128+17k has DC = 8·17k, quantizes exactly by step 17, and survives
the round trip bit-exactly — the mm_jpeg_color_stats fixtures are
built that way.
"""

from __future__ import annotations

import math
import struct

# ITU-T T.81 Table K.1 (luminance quantization, quality 50)
QUANT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# ITU-T T.81 Table K.2 (chrominance quantization, quality 50)
QUANT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# zigzag order: index i in scan order -> position in the 8x8 block
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.3 canonical Huffman tables (luminance)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Annex K.3 canonical Huffman tables (chrominance)
DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_VALS_C = list(range(12))
AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119]
AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
    for x in range(8)
]
_C = [1 / math.sqrt(2)] + [1.0] * 7

# DCT basis as a matrix: _M[u][x] = 0.5 * C(u) * cos((2x+1)uπ/16), so
# FDCT = M · block · Mᵀ and IDCT = Mᵀ · coef · M — used by the NumPy
# fast path (the pure-Python loops remain as the reference / fallback)
_M = [[0.5 * _C[u] * _COS[x][u] for x in range(8)] for u in range(8)]

try:  # NumPy is available in this environment; keep a fallback anyway
    import numpy as _np

    _M_NP = _np.array(_M)
except Exception:  # pragma: no cover
    _np = None


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value → (code, length) per the canonical JPEG construction."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(code, length) → value, for stream decoding."""
    return {cl: v for v, cl in _canonical_codes(bits, vals).items()}


class _BitWriterMSB:
    """MSB-first bit packing with JPEG byte stuffing (FF → FF 00)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
        return bytes(self.out)


class _BitReaderMSB:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG: entropy stream exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:  # stuffed byte: FF must be followed by 00
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("JPEG: unexpected marker in scan")
                self.pos += 1
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, length: int) -> int:
        v = 0
        for _ in range(length):
            v = (v << 1) | self.bit()
        return v


def _category(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


def _fdct(block: list[int]) -> list[float]:
    if _np is not None:
        b = _np.array(block, dtype=_np.float64).reshape(8, 8) - 128.0
        return (_M_NP @ b @ _M_NP.T).reshape(64).tolist()
    shifted = [b - 128 for b in block]
    out = [0.0] * 64
    for u in range(8):
        for v in range(8):
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += shifted[x * 8 + y] * _COS[x][u] * _COS[y][v]
            out[u * 8 + v] = 0.25 * _C[u] * _C[v] * s
    return out


def _idct(coef: list[float]) -> list[int]:
    if _np is not None:
        f = _np.array(coef, dtype=_np.float64).reshape(8, 8)
        px = _np.rint(_M_NP.T @ f @ _M_NP) + 128
        return _np.clip(px, 0, 255).astype(_np.int64).reshape(64).tolist()
    out = []
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    s += _C[u] * _C[v] * coef[u * 8 + v] * _COS[x][u] * _COS[y][v]
            px = round(0.25 * s) + 128
            out.append(0 if px < 0 else 255 if px > 255 else px)
    return out


def _extract_block(pixels: bytes, width: int, height: int,
                   bx: int, by: int) -> list[int]:
    """8×8 block at block coords (bx, by), edge-replicated."""
    block = []
    for y in range(8):
        for x in range(8):
            sy = min(by * 8 + y, height - 1)
            sx = min(bx * 8 + x, width - 1)
            block.append(pixels[sy * width + sx])
    return block


def _code_block(w: "_BitWriterMSB", block: list[int], quant: list[int],
                dc_codes: dict, ac_codes: dict, prev_dc: int) -> int:
    """FDCT + quantize + Huffman-code one block; returns the new DC
    predictor for the component this block belongs to."""
    coef = _fdct(block)
    q = [round(coef[ZIGZAG[i]] / quant[ZIGZAG[i]]) for i in range(64)]
    diff = q[0] - prev_dc
    cat = _category(diff)
    code, ln = dc_codes[cat]
    w.write(code, ln)
    if cat:
        w.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)
    run = 0
    last_nz = max((i for i in range(1, 64) if q[i]), default=0)
    for i in range(1, last_nz + 1):
        if q[i] == 0:
            run += 1
            if run == 16:
                code, ln = ac_codes[0xF0]  # ZRL
                w.write(code, ln)
                run = 0
            continue
        cat = _category(q[i])
        code, ln = ac_codes[(run << 4) | cat]
        w.write(code, ln)
        v = q[i]
        w.write(v if v > 0 else v + (1 << cat) - 1, cat)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        w.write(code, ln)
    return q[0]


def encode_jpeg_gray(width: int, height: int, pixels: bytes) -> bytes:
    """8-bit grayscale, row-major → baseline JFIF-less JPEG stream
    (SOI DQT SOF0 DHT×2 SOS …entropy… EOI)."""
    if len(pixels) != width * height:
        raise ValueError("JPEG: pixel buffer != width*height")
    bw = (width + 7) // 8
    bh = (height + 7) // 8
    dc_codes = _canonical_codes(DC_BITS, DC_VALS)
    ac_codes = _canonical_codes(AC_BITS, AC_VALS)
    w = _BitWriterMSB()
    prev_dc = 0
    for by in range(bh):
        for bx in range(bw):
            block = _extract_block(pixels, width, height, bx, by)
            prev_dc = _code_block(w, block, QUANT_LUMA, dc_codes,
                                  ac_codes, prev_dc)
    entropy = w.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, b"\x00" + bytes(QUANT_LUMA[ZIGZAG[i]] for i in range(64)))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1)
              + bytes([1, 0x11, 0]))
    dht_dc = seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    dht_ac = seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    sos = seg(0xFFDA, b"\x01" + bytes([1, 0x00]) + bytes([0, 63, 0]))
    return (b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos
            + entropy + b"\xff\xd9")


def encode_jpeg_color(width: int, height: int, y_plane: bytes,
                      cb_plane: bytes, cr_plane: bytes,
                      subsampling: str = "420") -> bytes:
    """Full-resolution YCbCr planes → baseline 3-component JPEG.

    ``subsampling`` = '444' (every MCU is one 8×8 block per component)
    or '420' (MCU = four Y blocks + one Cb + one Cr; chroma is reduced
    2×2 by a truncating box mean, exact for constant chroma). The
    caller supplies YCbCr directly — fixtures are constructed in YCbCr
    space so constant-block values that divide the DC quant steps
    (luma 16, chroma 17) survive the lossy path bit-exactly. '420'
    requires dimensions that are multiples of 16 (no chroma edge
    replication to reason about in the closed-form twin)."""
    if subsampling not in ("420", "444"):
        raise ValueError(f"JPEG: unsupported subsampling {subsampling!r}")
    for name, p in (("Y", y_plane), ("Cb", cb_plane), ("Cr", cr_plane)):
        if len(p) != width * height:
            raise ValueError(f"JPEG: {name} plane != width*height")
    if subsampling == "420" and (width % 16 or height % 16):
        raise ValueError("JPEG: 4:2:0 requires dimensions % 16 == 0")

    dc_l = _canonical_codes(DC_BITS, DC_VALS)
    ac_l = _canonical_codes(AC_BITS, AC_VALS)
    dc_c = _canonical_codes(DC_BITS_C, DC_VALS_C)
    ac_c = _canonical_codes(AC_BITS_C, AC_VALS_C)
    w = _BitWriterMSB()
    prev = [0, 0, 0]  # per-component DC predictors

    if subsampling == "444":
        y_samp = 0x11
        mcx, mcy = (width + 7) // 8, (height + 7) // 8
        for my in range(mcy):
            for mx in range(mcx):
                prev[0] = _code_block(
                    w, _extract_block(y_plane, width, height, mx, my),
                    QUANT_LUMA, dc_l, ac_l, prev[0])
                prev[1] = _code_block(
                    w, _extract_block(cb_plane, width, height, mx, my),
                    QUANT_CHROMA, dc_c, ac_c, prev[1])
                prev[2] = _code_block(
                    w, _extract_block(cr_plane, width, height, mx, my),
                    QUANT_CHROMA, dc_c, ac_c, prev[2])
    else:
        y_samp = 0x22
        cw, ch = width // 2, height // 2
        sub = []
        for plane in (cb_plane, cr_plane):
            s = bytearray(cw * ch)
            for yy in range(ch):
                for xx in range(cw):
                    a = plane[(2 * yy) * width + 2 * xx]
                    b = plane[(2 * yy) * width + 2 * xx + 1]
                    c = plane[(2 * yy + 1) * width + 2 * xx]
                    d = plane[(2 * yy + 1) * width + 2 * xx + 1]
                    s[yy * cw + xx] = (a + b + c + d) // 4
            sub.append(bytes(s))
        mcx, mcy = width // 16, height // 16
        for my in range(mcy):
            for mx in range(mcx):
                for dy in range(2):
                    for dx in range(2):
                        prev[0] = _code_block(
                            w, _extract_block(y_plane, width, height,
                                              2 * mx + dx, 2 * my + dy),
                            QUANT_LUMA, dc_l, ac_l, prev[0])
                prev[1] = _code_block(
                    w, _extract_block(sub[0], cw, ch, mx, my),
                    QUANT_CHROMA, dc_c, ac_c, prev[1])
                prev[2] = _code_block(
                    w, _extract_block(sub[1], cw, ch, mx, my),
                    QUANT_CHROMA, dc_c, ac_c, prev[2])
    entropy = w.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt0 = seg(0xFFDB, b"\x00" + bytes(QUANT_LUMA[ZIGZAG[i]] for i in range(64)))
    dqt1 = seg(0xFFDB, b"\x01" + bytes(QUANT_CHROMA[ZIGZAG[i]] for i in range(64)))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 3)
              + bytes([1, y_samp, 0, 2, 0x11, 1, 3, 0x11, 1]))
    dht = (seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
           + seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
           + seg(0xFFC4, b"\x01" + bytes(DC_BITS_C) + bytes(DC_VALS_C))
           + seg(0xFFC4, b"\x11" + bytes(AC_BITS_C) + bytes(AC_VALS_C)))
    sos = seg(0xFFDA, b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11])
              + bytes([0, 63, 0]))
    return (b"\xff\xd8" + dqt0 + dqt1 + sof + dht + sos
            + entropy + b"\xff\xd9")


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """General baseline decode → (width, height, channels, pixels):
    channels=1 row-major gray, or channels=3 interleaved RGB after
    chroma upsampling (pixel replication) and JFIF YCbCr→RGB with
    half-up rounding floor(x+0.5) — the rounding is explicit so the
    DuckDB twin can reproduce output bytes closed-form. All tables,
    dimensions, sampling factors and Huffman bindings come from the
    stream. ValueError outside the supported subset or on truncation."""
    try:
        return _decode(data)
    except (IndexError, struct.error, KeyError) as e:
        raise ValueError(f"JPEG: truncated or malformed payload: {e}") from e


def _decode(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:2] != b"\xff\xd8":
        raise ValueError("JPEG: missing SOI")
    pos = 2
    quant: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = None
    comps: list[tuple[int, int, int, int]] | None = None  # cid,hi,vi,tq
    scan_map: dict[int, tuple[int, int]] | None = None
    scan_order: list[int] = []
    entropy_start = None
    while pos + 4 <= len(data):
        (marker, length) = struct.unpack_from(">HH", data, pos)
        if marker == 0xFFD8 or (marker >> 8) != 0xFF:
            raise ValueError("JPEG: bad marker stream")
        body = data[pos + 4:pos + 2 + length]
        if marker == 0xFFDB:
            o = 0
            while o < len(body):  # spec allows several tables per DQT
                if body[o] >> 4:
                    raise ValueError("JPEG: only 8-bit quant tables")
                tq = body[o] & 0x0F
                zz = list(body[o + 1:o + 65])
                if len(zz) < 64:
                    raise ValueError("JPEG: short DQT segment")
                tbl = [0] * 64
                for i in range(64):
                    tbl[ZIGZAG[i]] = zz[i]
                quant[tq] = tbl
                o += 65
        elif marker == 0xFFC0:
            prec, height, width, ncomp = struct.unpack_from(">BHHB", body)
            if prec != 8 or ncomp not in (1, 3):
                raise ValueError("JPEG: only 8-bit 1/3-component SOF0")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                hi, vi = hv >> 4, hv & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError("JPEG: sampling factors > 2 unsupported")
                comps.append((cid, hi, vi, tq))
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3):
            raise ValueError("JPEG: only baseline SOF0 supported")
        elif marker == 0xFFC4:
            o = 0
            while o < len(body):  # several tables per DHT allowed
                cls, tid = body[o] >> 4, body[o] & 0x0F
                bits = list(body[o + 1:o + 17])
                n = sum(bits)
                vals = list(body[o + 17:o + 17 + n])
                if len(vals) < n:
                    raise ValueError("JPEG: short DHT segment")
                huff[(cls, tid)] = _decode_table(bits, vals)
                o += 17 + n
        elif marker == 0xFFDD:
            raise ValueError("JPEG: restart intervals unsupported")
        elif marker == 0xFFDA:
            ns = body[0]
            scan_map = {}
            for c in range(ns):
                cid, tt = body[1 + 2 * c], body[2 + 2 * c]
                scan_map[cid] = (tt >> 4, tt & 0x0F)
                scan_order.append(cid)
            entropy_start = pos + 2 + length
            break
        pos += 2 + length
    if (comps is None or scan_map is None or entropy_start is None
            or not quant or not huff):
        raise ValueError("JPEG: missing DQT/SOF0/DHT/SOS")
    if [c[0] for c in comps] != scan_order:
        raise ValueError("JPEG: scan components != frame components")
    end = data.rfind(b"\xff\xd9")
    if end < 0:
        raise ValueError("JPEG: missing EOI")
    r = _BitReaderMSB(data[entropy_start:end])

    def read_code(tbl: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | r.bit()
            if (code, length) in tbl:
                return tbl[(code, length)]
        raise ValueError("JPEG: invalid Huffman code")

    def extend(v: int, cat: int) -> int:
        return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcx = (width + 8 * hmax - 1) // (8 * hmax)
    mcy = (height + 8 * vmax - 1) // (8 * vmax)
    # per-component tables + block planes padded to the MCU grid
    planes: list[bytearray] = []
    tables: list[tuple[list[int], dict, dict]] = []
    for cid, hi, vi, tq in comps:
        if tq not in quant:
            raise ValueError("JPEG: scan references missing quant table")
        dc_id, ac_id = scan_map[cid]
        if (0, dc_id) not in huff or (1, ac_id) not in huff:
            raise ValueError("JPEG: scan references missing Huffman table")
        tables.append((quant[tq], huff[(0, dc_id)], huff[(1, ac_id)]))
        planes.append(bytearray(mcx * hi * 8 * mcy * vi * 8))
    prev = [0] * len(comps)
    for my in range(mcy):
        for mx in range(mcx):
            for ci, (cid, hi, vi, tq) in enumerate(comps):
                qt, dc_tbl, ac_tbl = tables[ci]
                pw = mcx * hi * 8
                for by in range(vi):
                    for bx in range(hi):
                        q = [0] * 64
                        cat = read_code(dc_tbl)
                        diff = extend(r.bits(cat), cat) if cat else 0
                        prev[ci] += diff
                        q[0] = prev[ci]
                        i = 1
                        while i < 64:
                            sym = read_code(ac_tbl)
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                i += 16
                                continue
                            run, cat = sym >> 4, sym & 0x0F
                            i += run
                            if i > 63:
                                raise ValueError("JPEG: AC run past block end")
                            q[i] = extend(r.bits(cat), cat)
                            i += 1
                        coef = [0.0] * 64
                        for i in range(64):
                            coef[ZIGZAG[i]] = q[i] * qt[ZIGZAG[i]]
                        block = _idct(coef)
                        py0 = (my * vi + by) * 8
                        px0 = (mx * hi + bx) * 8
                        plane = planes[ci]
                        for y in range(8):
                            row = (py0 + y) * pw + px0
                            plane[row:row + 8] = bytes(block[y * 8:y * 8 + 8])
    if len(comps) == 1:
        pw = mcx * comps[0][1] * 8
        img = bytearray(width * height)
        for yy in range(height):
            img[yy * width:(yy + 1) * width] = \
                planes[0][yy * pw:yy * pw + width]
        return width, height, 1, bytes(img)
    return width, height, 3, _ycbcr_planes_to_rgb(
        planes, comps, width, height, mcx, hmax, vmax)


def _ycbcr_planes_to_rgb(planes, comps, width, height, mcx, hmax, vmax):
    """Upsample each component plane to full resolution by pixel
    replication, then JFIF YCbCr→RGB: R = Y + 1.402·(Cr−128),
    G = Y − 0.344136·(Cb−128) − 0.714136·(Cr−128),
    B = Y + 1.772·(Cb−128) — each rounded HALF-UP via floor(x+0.5)
    (left-to-right evaluation order matches the SQL twin term for
    term) and clamped to [0, 255]."""
    if _np is not None:
        full = []
        for (cid, hi, vi, tq), plane in zip(comps, planes):
            pw = mcx * hi * 8
            arr = _np.frombuffer(bytes(plane), dtype=_np.uint8).reshape(
                -1, pw)
            ys = (_np.arange(height) * vi) // vmax
            xs = (_np.arange(width) * hi) // hmax
            full.append(arr[ys][:, xs].astype(_np.float64))
        Y, Cb, Cr = full
        R = _np.floor(Y + 1.402 * (Cr - 128.0) + 0.5)
        G = _np.floor(Y - 0.344136 * (Cb - 128.0)
                      - 0.714136 * (Cr - 128.0) + 0.5)
        B = _np.floor(Y + 1.772 * (Cb - 128.0) + 0.5)
        rgb = _np.clip(_np.stack([R, G, B], axis=-1), 0, 255)
        return rgb.astype(_np.uint8).tobytes()
    out = bytearray(width * height * 3)  # pragma: no cover - numpy present
    for yy in range(height):
        for xx in range(width):
            smp = []
            for (cid, hi, vi, tq), plane in zip(comps, planes):
                pw = mcx * hi * 8
                smp.append(plane[((yy * vi) // vmax) * pw + (xx * hi) // hmax])
            y, cb, cr = smp
            r = math.floor(y + 1.402 * (cr - 128.0) + 0.5)
            g = math.floor(y - 0.344136 * (cb - 128.0)
                           - 0.714136 * (cr - 128.0) + 0.5)
            b = math.floor(y + 1.772 * (cb - 128.0) + 0.5)
            o = (yy * width + xx) * 3
            out[o] = min(255, max(0, r))
            out[o + 1] = min(255, max(0, g))
            out[o + 2] = min(255, max(0, b))
    return bytes(out)
