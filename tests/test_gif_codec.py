"""GIF87a / LZW codec: round-trip fuzz, an INDEPENDENT hand-packed
LZW vector (so encoder and decoder can't share a symmetric bit-order
bug), dictionary-growth stress, and hostile-payload rejection."""

from __future__ import annotations

import random
import struct

import pytest

from amazon_textract_enhancer_spark.core.gif import (
    decode_gif,
    encode_gif,
)


def test_round_trip_fuzz_all_palette_sizes():
    rnd = random.Random(7)
    for _ in range(60):
        k = rnd.choice([2, 3, 4, 8])
        nc = 1 << k
        w, h = rnd.randint(1, 40), rnd.randint(1, 40)
        pal = bytes(rnd.randrange(256) for _ in range(3 * nc))
        idx = bytes(rnd.randrange(nc) for _ in range(w * h))
        assert decode_gif(encode_gif(w, h, idx, pal)) == (w, h, pal, idx)


def test_dictionary_growth_and_width_bumps():
    """Long runs force the code width from 3 bits up through 12 and a
    mid-stream dictionary reset; the decoder must track every bump."""
    idx = bytes([0] * 6000 + [1, 0] * 3000)
    pal = bytes(range(12))  # 4 colors
    assert decode_gif(encode_gif(60, 200, idx, pal))[3] == idx


def test_decoder_against_hand_packed_lzw_stream():
    """Build the LZW stream for indices [1, 0, 1] by hand — explicit
    bit arithmetic, no shared helper — and check the decoder. 4-color
    palette → min code size 2, CLEAR=4, EOI=5, width starts at 3.
    Encoder-equivalent code sequence: CLEAR(4), 1, 0, 1, EOI(5);
    LSB-first packing at width 3 (codes land at bit offsets 0,3,6,9,12):
      byte0 = 4 | (1 << 3)                    = 12
      byte1 = (0 >> 5) | (1 << 1) | (5 << 4)  = 82
    """
    acc = 0
    nbits = 0
    out = bytearray()
    for code in (4, 1, 0, 1, 5):
        acc |= code << nbits
        nbits += 3
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    assert bytes(out) == bytes([12, 82])  # the docstring arithmetic

    pal = bytes(range(12))
    gif = bytearray(b"GIF87a")
    gif += struct.pack("<HH", 3, 1)
    gif.append(0x80 | 1)  # global table, k=2 → size bits 1
    gif += b"\x00\x00" + pal
    gif += b"\x2c" + struct.pack("<HHHH", 0, 0, 3, 1) + b"\x00"
    gif.append(2)  # min code size
    gif.append(len(out))
    gif += out
    gif += b"\x00\x3b"
    w, h, p2, idx = decode_gif(bytes(gif))
    assert (w, h) == (3, 1) and p2 == pal and idx == bytes([1, 0, 1])


def test_encoder_output_matches_hand_packing_for_tiny_image():
    """The encoder must produce exactly the hand-derived stream for the
    same tiny input (same code sequence, same packing)."""
    pal = bytes(range(12))
    data = encode_gif(3, 1, bytes([1, 0, 1]), pal)
    # locate the LZW sub-block: header(6)+lsd(7)+palette(12)+desc(10)+mcs(1)
    pos = 6 + 7 + 12 + 10 + 1
    blen = data[pos]
    assert data[pos + 1:pos + 1 + blen] == bytes([12, 82])


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b"NOTGIF" + b[6:],                      # bad signature
        lambda b: b[:40],                                  # truncated LZW
        lambda b: b[:10] + bytes([b[10] & 0x7F]) + b[11:],  # no global table
    ],
)
def test_hostile_payloads_raise_value_error(mutate):
    pal = bytes(range(12))
    good = encode_gif(3, 2, bytes([0, 1, 2, 3, 0, 1]), pal)
    with pytest.raises(ValueError):
        decode_gif(mutate(good))


def test_palette_and_index_validation():
    with pytest.raises(ValueError, match="palette"):
        encode_gif(2, 2, bytes(4), bytes(9))  # 3 colors: not 2^k
    with pytest.raises(ValueError, match="index"):
        encode_gif(2, 2, bytes([0, 0, 0, 7]), bytes(range(12)))  # idx >= nc


# ----------------------------------------------------- G.711 mu-law


def test_mulaw_byte_space_idempotent_except_negative_zero():
    """compress(expand(b)) == b for all 256 wire bytes except the
    G.711 negative-zero alias 0x7F, which decodes to 0 and re-encodes
    as positive zero 0xFF — the spec's known quirk."""
    from amazon_textract_enhancer_spark.core.wav import (
        mulaw_compress,
        mulaw_expand,
    )

    assert mulaw_compress(0) == 0xFF and mulaw_expand(0xFF) == 0
    for b in range(256):
        got = mulaw_compress(mulaw_expand(b))
        assert got == b or (b, got) == (0x7F, 0xFF), (b, got)


def test_mulaw_quantization_error_bounded():
    """|x - expand(compress(x))| <= the segment's step size 8·2^exp."""
    from amazon_textract_enhancer_spark.core.wav import (
        mulaw_compress,
        mulaw_expand,
    )

    rnd = random.Random(3)
    for _ in range(2000):
        x = rnd.randint(-32768, 32767)
        y = mulaw_expand(mulaw_compress(x))
        step = 8 << max(0, (min(abs(x), 32635) + 132).bit_length() - 8)
        assert abs(y - max(-32635, min(32635, x))) <= step, (x, y)


def test_mulaw_wav_container_round_trip():
    from amazon_textract_enhancer_spark.core.wav import (
        decode_wav,
        encode_wav_mulaw,
        mulaw_compress,
        mulaw_expand,
    )

    rnd = random.Random(9)
    samples = [rnd.randint(-32768, 32767) for _ in range(101)]
    sr, ch, dec = decode_wav(encode_wav_mulaw(11025, 1, samples))
    assert (sr, ch) == (11025, 1)
    assert dec == [mulaw_expand(mulaw_compress(s)) for s in samples]


def test_wav_rejects_unknown_format_codes():
    from amazon_textract_enhancer_spark.core.wav import (
        decode_wav,
        encode_wav_mulaw,
    )

    good = encode_wav_mulaw(8000, 1, [0, 100, -100])
    # flip format code 7 -> 3 (IEEE float, unsupported)
    bad = good.replace(b"fmt \x10\x00\x00\x00\x07\x00",
                       b"fmt \x10\x00\x00\x00\x03\x00", 1)
    with pytest.raises(ValueError, match="unsupported format"):
        decode_wav(bad)


# ------------------------------------------------------- AVI / RLE8


def test_avi_rle8_round_trip_fuzz():
    from amazon_textract_enhancer_spark.core.avirle import (
        decode_avi_rle8,
        encode_avi_rle8,
    )

    rnd = random.Random(5)
    for _ in range(40):
        nc = rnd.choice([2, 4, 16, 200, 256])  # non-power-of-two allowed
        w, h = rnd.randint(1, 30), rnd.randint(1, 20)
        nf = rnd.randint(1, 6)
        pal = bytes(rnd.randrange(256) for _ in range(3 * nc))
        frames = [bytes(rnd.randrange(nc) for _ in range(w * h))
                  for _ in range(nf)]
        got = decode_avi_rle8(encode_avi_rle8(w, h, frames, pal))
        assert got == (w, h, pal, frames)


def test_rle8_decoder_against_hand_packed_stream():
    """Decode a hand-built RLE8 frame with an ABSOLUTE run (which our
    encoder never emits) and bottom-up rows — independent of the
    encoder, so the pair can't share a symmetric bug. 3x2 image:
      stored first (bottom row, y=1): run 3 of color 5 → [3,5] EOL
      stored second (top row, y=0): absolute run [0,3,7,8,9,pad] EOL
      then EOF.
    Expected top-down indices: [7,8,9, 5,5,5]."""
    from amazon_textract_enhancer_spark.core.avirle import (
        _rle8_decode_frame,
    )

    stream = bytes([3, 5, 0, 0,            # bottom row: 5,5,5 + EOL
                    0, 3, 7, 8, 9, 0,      # top row: absolute 7,8,9 + pad
                    0, 0,                  # EOL
                    0, 1])                 # EOF
    assert _rle8_decode_frame(3, 2, stream) == bytes([7, 8, 9, 5, 5, 5])


def test_rle8_hostile_streams_raise_value_error():
    from amazon_textract_enhancer_spark.core.avirle import (
        _rle8_decode_frame,
        decode_avi_rle8,
        encode_avi_rle8,
    )

    with pytest.raises(ValueError, match="without EOF"):
        _rle8_decode_frame(2, 2, bytes([2, 1]))  # no terminator
    with pytest.raises(ValueError, match="delta"):
        _rle8_decode_frame(2, 2, bytes([0, 2, 1, 1, 0, 1]))
    with pytest.raises(ValueError, match="row 1 has"):
        _rle8_decode_frame(3, 2, bytes([2, 9, 0, 0, 3, 9, 0, 0, 0, 1]))
    good = encode_avi_rle8(3, 2, [bytes(6)], bytes(range(6)))
    with pytest.raises(ValueError):
        decode_avi_rle8(good[:30])  # truncated container
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        decode_avi_rle8(b"JUNK" + good[4:])


# ----------------------------------------------------- baseline JPEG


def test_jpeg_dc_only_blocks_are_exact():
    """Constant 8x8 blocks of EVEN values survive quantization exactly
    (DC step 16, FDCT DC = 8*(v-128)) — the property the oracle-pinned
    query relies on. Odd values would quantize with loss."""
    from amazon_textract_enhancer_spark.core.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    rnd = random.Random(1)
    for _ in range(10):
        bw, bh = rnd.randint(1, 3), rnd.randint(1, 2)
        w, h = bw * 8, bh * 8
        px = bytearray(w * h)
        for b in range(bw * bh):
            v = 2 * rnd.randrange(128)
            by, bx = divmod(b, bw)
            for y in range(8):
                row = (by * 8 + y) * w + bx * 8
                px[row:row + 8] = bytes([v]) * 8
        assert decode_jpeg(encode_jpeg_gray(w, h, bytes(px))) == \
            (w, h, 1, bytes(px))


def test_jpeg_gradient_round_trip_psnr():
    """The general AC path (run/size Huffman symbols, EOB, stuffing) is
    lossy; gate reconstruction quality on a smooth gradient."""
    import math

    from amazon_textract_enhancer_spark.core.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    w, h = 24, 16
    px = bytes(min(255, (x * 7 + y * 5) % 256) for y in range(h)
               for x in range(w))
    _, _, channels, dec = decode_jpeg(encode_jpeg_gray(w, h, px))
    assert channels == 1
    mse = sum((a - b) ** 2 for a, b in zip(px, dec)) / len(px)
    psnr = 10 * math.log10(255 * 255 / max(mse, 1e-9))
    assert psnr > 30, psnr


def test_jpeg_non_multiple_of_8_dimensions():
    from amazon_textract_enhancer_spark.core.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    w, h = 13, 11
    px = bytes((x * 3 + y * 11) % 256 for y in range(h) for x in range(w))
    jw, jh, channels, dec = decode_jpeg(encode_jpeg_gray(w, h, px))
    assert (jw, jh, channels) == (w, h, 1) and len(dec) == w * h


def test_jpeg_hostile_payloads_raise_value_error():
    from amazon_textract_enhancer_spark.core.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    good = encode_jpeg_gray(8, 8, bytes([100] * 64))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x00" + good[2:])
    with pytest.raises(ValueError):
        decode_jpeg(good[:40])  # truncated before SOS/EOI
    # progressive SOF2 must be rejected, not mis-decoded
    bad = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bad)


def test_png_wav_truncated_headers_raise_value_error():
    """ADVICE-class fix: truncated PNG/WAV headers must raise
    ValueError like every other codec, never leak struct.error."""
    import struct as _struct

    from amazon_textract_enhancer_spark.core.png import decode_png
    from amazon_textract_enhancer_spark.core.wav import decode_wav

    sig = b"\x89PNG\r\n\x1a\n"
    short_ihdr = sig + _struct.pack(">I", 4) + b"IHDR" + b"\x00" * 4 + b"\x00" * 4
    with pytest.raises(ValueError):
        decode_png(short_ihdr)
    short_fmt = (b"RIFF" + _struct.pack("<I", 16) + b"WAVE"
                 + b"fmt " + _struct.pack("<I", 4) + b"\x01\x00\x01\x00")
    with pytest.raises(ValueError):
        decode_wav(short_fmt)


# ----------------------------------------------- color baseline JPEG


def _synth_color(d):
    """Same lattice as synth_jpeg_color_payloads (exact-survival
    values: even luma, chroma ≡ 128 mod 17, constant per plane)."""
    sub = "420" if d % 2 == 0 else "444"
    if sub == "420":
        w, h = 16 * ((d // 2) % 2 + 1), 16
    else:
        w, h = 8 * ((d // 2) % 3 + 1), 8 * ((d // 2) % 2 + 1)
    bw = w // 8
    y = bytearray(w * h)
    for b in range(bw * (h // 8)):
        v = 2 * ((d * 29 + b * 13) % 101) + 26
        by, bx = divmod(b, bw)
        for yy in range(8):
            row = (by * 8 + yy) * w + bx * 8
            y[row:row + 8] = bytes([v]) * 8
    cb = 128 + 17 * ((d % 7) - 3)
    cr = 128 + 17 * (((d * 3) % 7) - 3)
    return sub, w, h, bytes(y), cb, cr


def test_jpeg_color_constant_blocks_exact_both_subsamplings():
    import math

    import numpy as np

    from amazon_textract_enhancer_spark.core.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    for d in range(24):
        sub, w, h, y, cb, cr = _synth_color(d)
        data = encode_jpeg_color(w, h, y, bytes([cb]) * (w * h),
                                 bytes([cr]) * (w * h), sub)
        W, H, CH, px = decode_jpeg(data)
        assert (W, H, CH) == (w, h, 3)
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
        for b in range((w // 8) * (h // 8)):
            v = 2 * ((d * 29 + b * 13) % 101) + 26
            by, bx = divmod(b, w // 8)
            exp = [
                min(255, max(0, math.floor(v + 1.402 * (cr - 128) + 0.5))),
                min(255, max(0, math.floor(v - 0.344136 * (cb - 128)
                                           - 0.714136 * (cr - 128) + 0.5))),
                min(255, max(0, math.floor(v + 1.772 * (cb - 128) + 0.5))),
            ]
            block = arr[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
            assert (block == exp).all(), (d, sub, b)


def test_jpeg_color_gradient_round_trip_psnr():
    """The general lossy path (AC coefficients, chroma subsampling of
    a NON-constant plane) reconstructs a smooth gradient faithfully."""
    import math

    import numpy as np

    from amazon_textract_enhancer_spark.core.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    w, h = 32, 32
    yy, xx = np.mgrid[0:h, 0:w]
    Y = (64 + 4 * xx + 2 * yy).clip(0, 255).astype(np.uint8)
    Cb = (100 + 2 * xx).clip(0, 255).astype(np.uint8)
    Cr = (140 + yy).clip(0, 255).astype(np.uint8)
    for sub in ("444", "420"):
        data = encode_jpeg_color(w, h, Y.tobytes(), Cb.tobytes(),
                                 Cr.tobytes(), sub)
        W, H, CH, px = decode_jpeg(data)
        assert (W, H, CH) == (w, h, 3)
        got = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
        # reference: exact float conversion of the source planes
        R = np.clip(Y + 1.402 * (Cr - 128.0), 0, 255)
        G = np.clip(Y - 0.344136 * (Cb - 128.0)
                    - 0.714136 * (Cr - 128.0), 0, 255)
        B = np.clip(Y + 1.772 * (Cb - 128.0), 0, 255)
        ref = np.stack([R, G, B], axis=-1)
        mse = float(((got.astype(np.float64) - ref) ** 2).mean())
        psnr = 10 * math.log10(255.0 ** 2 / max(mse, 1e-9))
        assert psnr > 30, f"{sub}: PSNR {psnr:.1f} dB"


def test_jpeg_gray_still_single_component():
    """Backward compat: decode_jpeg on a gray stream reports 1
    channel; on a COLOR stream it reports 3."""
    from amazon_textract_enhancer_spark.core.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        encode_jpeg_gray,
    )

    gray = encode_jpeg_gray(8, 8, bytes([100] * 64))
    assert decode_jpeg(gray)[2] == 1
    color = encode_jpeg_color(8, 8, bytes([100] * 64), bytes([128]) * 64,
                              bytes([128]) * 64, "444")
    assert decode_jpeg(color)[2] == 3


def test_jpeg_color_hostile_payloads_raise_value_error():
    import pytest

    from amazon_textract_enhancer_spark.core.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    good = encode_jpeg_color(16, 16, bytes([100] * 256), bytes([128]) * 256,
                             bytes([128]) * 256, "420")
    with pytest.raises(ValueError):
        decode_jpeg(good[:60])  # truncated before SOS
    with pytest.raises(ValueError):  # 4:2:0 needs %16 dims
        encode_jpeg_color(8, 8, bytes(64), bytes(64), bytes(64), "420")
    with pytest.raises(ValueError):  # plane size mismatch
        encode_jpeg_color(16, 16, bytes(255), bytes(256), bytes(256), "444")
    with pytest.raises(ValueError):  # unknown subsampling token
        encode_jpeg_color(8, 8, bytes(64), bytes(64), bytes(64), "422")
    # corrupt the chroma DHT table id so the scan binds a missing table
    bad = bytearray(good)
    i = bad.find(b"\xff\xc4", bad.find(b"\xff\xc4") + 2)  # 2nd DHT seg
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad[:i]) + b"\xff\xd9")  # tables cut off
