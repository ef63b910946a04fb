"""Pure-stdlib PNG codec (round 3): exhaustive round-trip over the
filter × color-type matrix, hypothesis fuzz on pixels and on malformed
byte streams, and the decode seam's non-PNG behavior."""

from __future__ import annotations

import random
import struct
import zlib

import pytest
from hypothesis import given, settings, strategies as st

from amazon_textract_enhancer_spark.core.png import decode_png, encode_png

_CH = {0: 1, 2: 3, 4: 2, 6: 4}


@pytest.mark.parametrize("color_type", [0, 2, 4, 6])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_roundtrip_filter_matrix(color_type, filter_type):
    rng = random.Random(color_type * 10 + filter_type)
    w, h = rng.randint(1, 12), rng.randint(1, 12)
    px = bytes(rng.randrange(256) for _ in range(w * h * _CH[color_type]))
    data = encode_png(w, h, px, color_type=color_type, filter_type=filter_type)
    assert decode_png(data) == (w, h, _CH[color_type], px)


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 16),
    h=st.integers(1, 16),
    ft=st.integers(0, 4),
    seed=st.integers(0, 2**31),
)
def test_roundtrip_fuzz_rgb(w, h, ft, seed):
    rng = random.Random(seed)
    px = bytes(rng.randrange(256) for _ in range(w * h * 3))
    assert decode_png(encode_png(w, h, px, filter_type=ft)) == (w, h, 3, px)


@settings(max_examples=120, deadline=None)
@given(st.binary(max_size=400))
def test_decoder_never_crashes_on_garbage(data):
    """Arbitrary bytes after the PNG magic must raise a clean error
    (ValueError / zlib.error / struct.error) or decode to a
    size-consistent result — never silent nonsense."""
    try:
        w, h, ch, px = decode_png(b"\x89PNG\r\n\x1a\n" + data)
    except (ValueError, zlib.error, struct.error):
        return
    assert len(px) == w * h * ch


def test_truncated_stream_raises():
    good = encode_png(4, 3, bytes(range(36)), filter_type=4)
    with pytest.raises(ValueError):
        decode_png(good[:20])  # chopped inside IHDR chunk
    with pytest.raises((ValueError, zlib.error)):
        decode_png(good[: len(good) // 2])  # chopped inside IDAT


def test_bad_signature_raises():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")


def test_decode_seam_rejects_non_png():
    from amazon_textract_enhancer_spark.operators.multimodal import (
        decode_image_pixels,
    )

    # formats with no decoder at all stay behind the disclosed seam
    with pytest.raises(NotImplementedError):
        decode_image_pixels(b"RIFFxxxxWEBP webp-ish bytes")
    # a JPEG signature now routes to the real decoder (r3), whose
    # hostile-input discipline is ValueError, not NotImplementedError
    with pytest.raises(ValueError):
        decode_image_pixels(b"\xff\xd8\xff\xe0 jpeg-ish junk")
    w, h, ch, px = decode_image_pixels(encode_png(2, 2, bytes(12)))
    assert (w, h, ch) == (2, 2, 3) and px == bytes(12)


def test_multimodal_has_one_arrow_stage():
    """Every mm_* encode and decode stage goes through ``_map_rows``:
    the file holds one ``mapInArrow`` call and one record-batch
    builder, and one ``(doc_id, payload)`` schema."""
    import re
    from pathlib import Path

    from amazon_textract_enhancer_spark.operators import multimodal

    src = Path(multimodal.__file__).read_text()
    assert src.count("mapInArrow(") == 1
    assert src.count("RecordBatch.from_arrays(") == 1
    for gone in ("_synth_ids", "PNG_SCHEMA", "WAV_SCHEMA", "Y4M_SCHEMA"):
        assert not re.search(rf"\b{gone}\b", src), gone


# ---------------------------------------------------------------- WAV
def test_wav_roundtrip_and_chunk_walking():
    import struct as _struct

    from amazon_textract_enhancer_spark.core.wav import decode_wav, encode_wav

    samples = [((i * 13) % 4096) - 2048 for i in range(100)]
    data = encode_wav(16000, 2, samples)
    assert decode_wav(data) == (16000, 2, samples)
    # extra chunk between fmt and data must be skipped (chunk walking)
    pos = data.index(b"data")
    extra = b"LIST" + _struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded
    spliced = data[:pos] + extra + data[pos:]
    spliced = spliced[:4] + _struct.pack("<I", len(spliced) - 8) + spliced[8:]
    assert decode_wav(spliced) == (16000, 2, samples)


def test_wav_rejects_unsupported():
    import pytest as _pytest

    from amazon_textract_enhancer_spark.core.wav import decode_wav

    with _pytest.raises(ValueError):
        decode_wav(b"not riff data here")
    from amazon_textract_enhancer_spark.operators.multimodal import (
        decode_audio_samples,
    )
    with _pytest.raises(NotImplementedError):
        decode_audio_samples(b"\xff\xfb mp3-ish frame")


# ---------------------------------------------------------------- Y4M
def test_y4m_roundtrip_and_header_params():
    from amazon_textract_enhancer_spark.core.y4m import decode_y4m, encode_y4m

    frames = [bytes(((f * 7 + i) % 256) for i in range(4 * 2 + 2 * 2 * 1))
              for f in range(3)]
    data = encode_y4m(4, 2, frames, fps=(30, 1))
    assert decode_y4m(data) == (4, 2, (30, 1), frames)
    # C444 profile
    f444 = [bytes(range(48))]
    d444 = encode_y4m(4, 4, f444, chroma="444")
    assert decode_y4m(d444)[3] == f444


def test_y4m_rejects_malformed():
    import pytest as _pytest

    from amazon_textract_enhancer_spark.core.y4m import decode_y4m, encode_y4m

    with _pytest.raises(ValueError):
        decode_y4m(b"AVI nonsense")
    good = encode_y4m(4, 2, [bytes(12)])
    with _pytest.raises(ValueError):
        decode_y4m(good[:-3])  # truncated frame
    # ADVICE r3: hostile header params must fail as ValueError in the
    # decode, not later as ZeroDivisionError / phantom truncation in
    # the stats operator
    for hostile in (
        b"YUV4MPEG2 W4 H2 F0:1 C420\nFRAME\n" + bytes(12),   # zero fps num
        b"YUV4MPEG2 W4 H2 F30:0 C420\nFRAME\n" + bytes(12),  # zero fps den
        b"YUV4MPEG2 W4 H2 F-30:1 C420\nFRAME\n" + bytes(12),  # negative rate
        b"YUV4MPEG2 W-4 H2 F30:1 C420\nFRAME\n" + bytes(12),  # negative W
        b"YUV4MPEG2 W4 H0 F30:1 C420\nFRAME\n",               # zero H
    ):
        with _pytest.raises(ValueError):
            decode_y4m(hostile)
    from amazon_textract_enhancer_spark.operators.multimodal import (
        decode_video_frames,
    )
    with _pytest.raises(NotImplementedError):
        decode_video_frames(b"\x00\x00\x00\x18ftypmp42 h264-ish")
