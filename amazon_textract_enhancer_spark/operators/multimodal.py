"""Multimodal-column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched stages.

Decode is REAL for all three modalities via pure-stdlib codecs in
core/: PNG (zlib inflate + scanline unfilter), GIF87a (bit-level
variable-width LZW — an actual compressed codec implemented here, not
delegated to zlib), baseline JPEG gray and color (Huffman entropy
decode + IDCT, 4:4:4 and 4:2:0; oracle-exact on constant blocks of the
codec's lattice), WAV PCM16, G.711 µ-law and IMA ADPCM (RIFF chunk
walk; µ-law log-companded, ADPCM a sequential nibble state machine),
Y4M video (YUV4MPEG2 header + planar frames) and RLE8 AVI video. Each
is exercised end-to-end by its ``mm_*`` query: encode actual container
bytes in one Arrow stage, decode + feature-extract in the next,
oracle-checked against the pixel/sample formula in DuckDB — a codec
bug fails the driver's value hash. Both stages go through
``_map_rows``, the family's one ``mapInArrow``: a per-doc encoder
``d -> bytes`` and a per-row decoder ``(doc_id, payload) -> fields``.
The codecs remaining behind the disclosed NotImplementedError seams
(`decode_image_pixels` / `decode_audio_samples` /
`decode_video_frames`) are MP3/AAC and H.264/VP9 —
psychoacoustic/motion-compensation machinery that genuinely belongs
to a library; swap the function, keep the plan. ``_meta_from_bytes``
stays the deterministic fake-metadata path for the metadata-only
queries (mirrored 1:1 in their DuckDB oracles).
"""

from __future__ import annotations

import math
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core.avirle import decode_avi_rle8, encode_avi_rle8
from ..core.gif import decode_gif, encode_gif
from ..core.jpeg import decode_jpeg, encode_jpeg_color, encode_jpeg_gray
from ..core.png import decode_png, encode_png
from ..core.wav import decode_wav, encode_wav, encode_wav_mulaw, riff_wave
from ..core.y4m import decode_y4m, encode_y4m
from .io_util import t


def _map_rows(df: DataFrame, row_fn, schema: StructType) -> DataFrame:
    """The family's one Arrow stage: ``row_fn(doc_id, *rest)`` runs
    once per input row and returns the output fields that follow
    ``doc_id``. ``doc_id`` is forwarded as the input batch's own Arrow
    array; every other column is one ``pa.array`` typed by ``schema``.
    Rows are independent, so the stage never needs an exchange."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)

    def fn(batches):
        import pyarrow as pa

        for rb in batches:
            rows = [row_fn(*r) for r in zip(*(c.to_pylist() for c in rb.columns))]
            yield pa.RecordBatch.from_arrays(
                [rb.column(0)] + [pa.array([r[i] for r in rows], f.type)
                                  for i, f in enumerate(list(arrow)[1:])],
                schema=arrow,
            )

    return df.mapInArrow(fn, schema)


IMAGE_META_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("n_bytes", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("n_frames", IntegerType(), False),
    StructField("codec", StringType(), False),
])


def _meta_from_bytes(payload: bytes) -> tuple[int, int, int, str]:
    """Deterministic fake decode: metadata as pure arithmetic on the
    byte length (mirrored 1:1 in the DuckDB oracle). A real decoder
    replaces exactly this function."""
    n = len(payload)
    width = n % 640 + 16
    height = (n * 7) % 480 + 16
    n_frames = n % 8 + 1
    codec = "png" if n % 2 == 0 else "jpeg"
    return width, height, n_frames, codec


def decode_image_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL pixel decode, no imaging libs: PNG (core/png.py — zlib
    inflate + per-scanline unfilter), GIF87a (core/gif.py — bit-level
    LZW, palette resolved to RGB) and baseline JPEG (core/jpeg.py —
    Huffman entropy decode + IDCT; grayscale stays 1-channel, YCbCr
    color in 4:4:4 or 4:2:0 comes back as interleaved RGB).
    → (width, height, channels, interleaved 8-bit bytes). Other image
    payloads raise: the remaining formats genuinely need libs absent
    from this container — swap this function, keep the plan."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if payload[:6] == b"GIF87a":
        # LZW-decompress, then resolve palette indices to RGB so the
        # return shape matches the PNG path (interleaved 8-bit RGB)
        w, h, palette, indices = decode_gif(payload)
        rgb = bytearray(w * h * 3)
        for i, idx in enumerate(indices):
            rgb[3 * i:3 * i + 3] = palette[3 * idx:3 * idx + 3]
        return w, h, 3, bytes(rgb)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    raise NotImplementedError(
        "non-PNG/GIF/JPEG decode requires PIL/libav; not available here"
    )


def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary column → typed metadata via one Arrow-batched mapInArrow
    stage (the multimodal feature-extraction shape). documents.text is
    cast to binary as the stand-in payload column."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return _map_rows(docs, lambda d, p: (len(p), *_meta_from_bytes(p)),
                     IMAGE_META_SCHEMA)


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling shape: explode n_frames into (doc_id, frame_idx)
    rows JVM-side — the UDF only produced scalar metadata, the fan-out
    stays in Catalyst."""
    meta = mm_decode_meta(spark, sf_dir)
    return meta.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
    )


PAYLOAD_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("payload", BinaryType(), False),
])


def _synth_payloads(docs: DataFrame, encode, spread: bool = False) -> DataFrame:
    """(doc_id) → (doc_id, payload = ``encode(doc_id)``). With
    ``spread`` the doc_id projection is re-spread to the session's
    default parallelism before synthesis: the fixture scan is one
    parquet row group → ONE task, so the entire pure-Python
    encode→decode codec chain ran on a single core (measured:
    mm_jpeg_color_stats 5.0s with 31 idle slots). The exchange moves
    ONLY the 8-byte doc_id — payloads are synthesized AFTER it, so the
    heavy bytes still never shuffle ("shuffle keys, not payloads");
    width follows defaultParallelism (scale-adaptive: the cluster's
    core count, never a constant).

    Only the expensive codecs opt in (``spread=True``: JPEG gray +
    color, AVI RLE) — for the cheap per-row codecs (WAV, µ-law, Y4M,
    ADPCM, GIF, PNG) the exchange + 32-task overhead exceeds the codec
    work and an interleaved A/B measured them ~0.2-0.3s WORSE spread
    (e.g. mm_audio_stats 0.36s plain vs 0.65s spread at sf0.1)."""
    ids = docs.select("doc_id")
    if spread:
        ids = ids.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return _map_rows(ids, lambda d: (encode(d),), PAYLOAD_SCHEMA)


def _rgb_means(rgb, ndigits: int = 4) -> tuple[float, float, float]:
    """Per-channel means of an (n, ≥3) uint8 pixel array, each rounded
    to ``ndigits``."""
    m = rgb.mean(axis=0)
    return tuple(round(float(m[c]), ndigits) for c in range(3))


IMAGE_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("mean_r", DoubleType(), False),
    StructField("mean_g", DoubleType(), False),
    StructField("mean_b", DoubleType(), False),
])


def synth_png_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): a REAL PNG per document, encoded
    with the stdlib codec from deterministic pixels
    v(i) = (doc_id·131 + i·17) mod 256 at width = doc_id%5+2,
    height = doc_id%3+2, RGB. The scanline filter rotates with
    doc_id%5, so a corpus sweep exercises the decoder's whole filter
    matrix (None/Sub/Up/Average/Paeth) in-plan."""

    def encode(d):
        w, h = d % 5 + 2, d % 3 + 2
        px = bytes((d * 131 + i * 17) % 256 for i in range(w * h * 3))
        return encode_png(w, h, px, filter_type=d % 5)

    return _synth_payloads(docs, encode)


def mm_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ REAL image decode + feature extraction: stage 1 encodes a
    deterministic PNG per doc (binary column), stage 2 DECODES the
    actual PNG bytes (core/png.py) and NumPy-extracts per-channel
    means. The DuckDB twin computes the same means straight from the
    pixel formula — so a decoder bug (filter math, stride, channel
    order) breaks the driver's value hash."""

    def row(d, blob):
        w, h, ch, raw = decode_image_pixels(blob)
        return (w, h, *_rgb_means(np.frombuffer(raw, dtype=np.uint8).reshape(-1, ch)))

    payloads = synth_png_payloads(t(spark, sf_dir, "documents"))
    return _map_rows(payloads, row, IMAGE_STATS_SCHEMA)


GIF_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("n_colors", IntegerType(), False),
    StructField("mean_r", DoubleType(), False),
    StructField("mean_g", DoubleType(), False),
    StructField("mean_b", DoubleType(), False),
])


def synth_gif_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): a REAL GIF87a per document.
    Deterministic content the DuckDB twin can recompute:
    n_colors = 2^(doc_id%3 + 2) (4/8/16 — three LZW min-code sizes),
    width = doc_id%5+2, height = doc_id%3+2,
    palette byte p(j) = (doc_id·37 + j·11) mod 256,
    index  v(i) = (doc_id·131 + i·17) mod n_colors."""

    def encode(d):
        nc = 1 << (d % 3 + 2)
        w, h = d % 5 + 2, d % 3 + 2
        pal = bytes((d * 37 + j * 11) % 256 for j in range(3 * nc))
        idx = bytes((d * 131 + i * 17) % nc for i in range(w * h))
        return encode_gif(w, h, idx, pal)

    return _synth_payloads(docs, encode)


def mm_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ REAL COMPRESSED-codec decode: stage 1 encodes a deterministic
    GIF87a per doc, stage 2 LZW-DECOMPRESSES the actual bytes
    (core/gif.py: variable-width codes, CLEAR/EOI, dictionary growth),
    resolves palette indices to RGB and extracts channel means. The
    DuckDB twin recomputes the means straight from the palette/index
    formulas, so any bit-packing or dictionary bug in the LZW decoder
    breaks the driver's value hash."""

    def row(d, blob):
        # ONE LZW decode per payload: palette resolution to RGB is a
        # NumPy gather over the decoded indices (the decode_image_pixels
        # wrapper would decode again just to hand back pre-resolved RGB)
        w, h, palette, indices = decode_gif(blob)
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        idx = np.frombuffer(indices, dtype=np.uint8)
        return (w, h, len(pal), *_rgb_means(pal[idx]))

    payloads = synth_gif_payloads(t(spark, sf_dir, "documents"))
    return _map_rows(payloads, row, GIF_STATS_SCHEMA)


AUDIO_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("sample_rate", IntegerType(), False),
    StructField("n_samples", IntegerType(), False),
    StructField("duration_ms", DoubleType(), False),
    StructField("rms", DoubleType(), False),
])


def decode_audio_samples(payload: bytes) -> tuple[int, int, list]:
    """REAL audio decode for RIFF/WAVE (core/wav.py, pure struct):
    PCM16 read directly, G.711 µ-law (format 7) expanded per spec, IMA
    ADPCM (format 0x11, mono) replayed through core/adpcm.py's nibble
    state machine. Perceptual codecs (MP3/AAC) raise — the disclosed
    stub seam."""
    if payload[:4] == b"RIFF":
        return decode_wav(payload)
    raise NotImplementedError(
        "compressed-audio decode requires libav; not available here"
    )


def _samples_of(d: int) -> tuple[int, list[int]]:
    """(sample_rate, samples) of doc ``d`` for the PCM and µ-law
    fixtures, by the formula in synth_wav_payloads."""
    n = d % 50 + 10
    sr = 8000 + (d % 3) * 4000
    return sr, [((d * 7 + i * 13) % 4096) - 2048 for i in range(n)]


def synth_wav_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): a REAL mono 16-bit WAV per doc
    from deterministic samples s(i) = ((doc_id·7 + i·13) mod 4096) −
    2048 at sample_rate = 8000 + (doc_id mod 3)·4000 and
    n = doc_id mod 50 + 10 samples."""

    def encode(d):
        sr, samples = _samples_of(d)
        return encode_wav(sr, 1, samples)

    return _synth_payloads(docs, encode)


def _audio_row(d, blob):
    """(doc_id, WAV payload) → (sample_rate, n_samples, duration_ms,
    rms): duration and RMS amplitude of the decoded signal, 4dp."""
    sr, ch, samples = decode_audio_samples(blob)
    n = len(samples) // ch
    return (sr, n, round(n * 1000.0 / sr, 4),
            round(math.sqrt(sum(s * s for s in samples) / len(samples)), 4))


def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ REAL audio decode + feature extraction (the WAV sibling of
    mm_image_stats): encode actual RIFF/PCM bytes in one stage, decode
    + compute duration and RMS amplitude in the next; the DuckDB twin
    computes both from the sample formula, so a header-offset or
    endianness bug in the decoder fails the value hash."""
    payloads = synth_wav_payloads(t(spark, sf_dir, "documents"))
    return _map_rows(payloads, _audio_row, AUDIO_STATS_SCHEMA)


def synth_mulaw_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): a REAL G.711 µ-law WAV (format 7)
    per doc — same deterministic sample formula as the PCM path
    (s(i) = ((doc_id·7 + i·13) mod 4096) − 2048), COMPRESSED to 8-bit
    log-companded bytes on encode."""

    def encode(d):
        sr, samples = _samples_of(d)
        return encode_wav_mulaw(sr, 1, samples)

    return _synth_payloads(docs, encode)


def mm_mulaw_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ COMPRESSED-audio decode: stage 1 µ-law-compresses the formula
    samples into a real format-7 WAV (G.711, 2:1), stage 2 expands the
    actual wire bytes back to PCM16 and computes duration + RMS of the
    RECONSTRUCTED signal. The DuckDB twin recomputes the expected
    reconstruction through G.711's closed-form quantization (exponent
    ranges + mantissa + bias, pure integer SQL) — an independent
    reimplementation of the codec math, so a sign, bias or bit-
    inversion bug in either direction of the Python codec fails the
    value hash. Only perceptual codecs (MP3/AAC, H.264/VP9) remain
    behind the seam."""
    payloads = synth_mulaw_payloads(t(spark, sf_dir, "documents"))
    return _map_rows(payloads, _audio_row, AUDIO_STATS_SCHEMA)


JPEG_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("n_blocks", IntegerType(), False),
    StructField("mean_gray", DoubleType(), False),
])


def _block_plane(bw: int, bh: int, value_of) -> bytes:
    """A (bw·8) × (bh·8) 8-bit plane of constant 8×8 blocks; block b
    (row-major, bw blocks per row) holds ``value_of(b)``."""
    w = bw * 8
    px = bytearray(w * bh * 8)
    for b in range(bw * bh):
        by, bx = divmod(b, bw)
        v = bytes([value_of(b)]) * 8
        for y in range(8):
            row = (by * 8 + y) * w + bx * 8
            px[row:row + 8] = v
    return bytes(px)


def synth_jpeg_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): a REAL baseline JPEG per doc,
    built from constant 8×8 blocks of EVEN gray values so the lossy
    codec is exact (see core/jpeg.py docstring): grid is
    (doc_id%3+1) × (doc_id%2+1) blocks, block b's value is
    2·((doc_id·29 + b·13) mod 128)."""

    def encode(d):
        bw, bh = d % 3 + 1, d % 2 + 1
        plane = _block_plane(bw, bh, lambda b: 2 * ((d * 29 + b * 13) % 128))
        return encode_jpeg_gray(bw * 8, bh * 8, plane)

    return _synth_payloads(docs, encode, spread=True)


def mm_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ DCT/entropy codec decode: stage 1 encodes a real baseline
    JPEG per doc (Huffman DC/AC coding, byte stuffing, quantization),
    stage 2 decodes the actual entropy-coded bytes (core/jpeg.py —
    tables read from the stream) and reports dimensions + mean gray.
    The fixture uses constant even-valued blocks where JPEG is EXACT,
    so the DuckDB twin recomputes the mean from the block-value
    formula and any Huffman/DC-chain/IDCT bug fails the value hash
    (the DC difference chain couples every block to its predecessors —
    one wrong bit shifts all following blocks). The general lossy AC
    path is PSNR-gated in tests/test_gif_codec.py."""

    def row(d, blob):
        w, h, _ch, raw = decode_image_pixels(blob)
        return (w, h, (w // 8) * (h // 8),
                round(float(np.frombuffer(raw, dtype=np.uint8).mean()), 4))

    payloads = synth_jpeg_payloads(t(spark, sf_dir, "documents"))
    return _map_rows(payloads, row, JPEG_STATS_SCHEMA)


RLE_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("n_frames", IntegerType(), False),
    StructField("n_colors", IntegerType(), False),
    StructField("mean_r", DoubleType(), False),
    StructField("mean_g", DoubleType(), False),
    StructField("mean_b", DoubleType(), False),
])


def synth_avi_rle_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): a REAL RLE8-compressed AVI per
    doc. Deterministic content the twin can recompute:
    n_colors = (doc_id%6)·8 + 4 (non-power-of-two palettes included —
    RLE8 allows any size, unlike GIF), width = doc_id%6+2,
    height = doc_id%4+2, n_frames = doc_id%3+1,
    palette byte triples r/g/b(j) = (doc_id·37 + (3j+{0,1,2})·11) mod
    256, flattened index v(i) = (doc_id·131 + i·19) mod n_colors."""

    def encode(d):
        nc = (d % 6) * 8 + 4
        w, h, nf = d % 6 + 2, d % 4 + 2, d % 3 + 1
        pal = bytes((d * 37 + j * 11) % 256 for j in range(3 * nc))
        flat = bytes((d * 131 + i * 19) % nc for i in range(nf * w * h))
        frames = [flat[f * w * h:(f + 1) * w * h] for f in range(nf)]
        return encode_avi_rle8(w, h, frames, pal)

    return _synth_payloads(docs, encode, spread=True)


def mm_video_rle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ COMPRESSED-video decode: stage 1 RLE8-compresses deterministic
    frames into a real AVI container, stage 2 decodes the actual wire
    bytes (core/avirle.py: RIFF walk, BGR0 palette, run/absolute/EOL/
    EOF commands, bottom-up row order) and reports per-doc frame count,
    palette size and cross-frame RGB channel means. The DuckDB twin
    recomputes the means from the palette/index formulas, so a row-
    order, palette-channel-order or run-decoding bug fails the value
    hash. Means are rounded at 5 decimals: pixel totals can hit 32,
    and S/32 lands on exact 4-decimal midpoints where Python
    (half-even) and SQL (half-away) disagree; at 5dp every S/32 is
    exact and no possible total forms a midpoint."""

    def row(d, blob):
        w, h, palette, frames = decode_avi_rle8(blob)
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        idx = np.frombuffer(b"".join(frames), dtype=np.uint8)
        return (w, h, len(frames), len(pal), *_rgb_means(pal[idx], 5))

    payloads = synth_avi_rle_payloads(t(spark, sf_dir, "documents"))
    return _map_rows(payloads, row, RLE_STATS_SCHEMA)


VIDEO_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("n_frames", IntegerType(), False),
    StructField("duration_ms", DoubleType(), False),
    StructField("mean_luma", DoubleType(), False),
])

_Y4M_FPS = (25, 1)


def decode_video_frames(payload: bytes):
    """REAL video decode for Y4M (core/y4m.py). Compressed video
    (H.264/VP9) raises — the disclosed stub seam."""
    if payload[:9] == b"YUV4MPEG2":
        return decode_y4m(payload)
    raise NotImplementedError(
        "compressed-video decode requires libav; not available here"
    )


def synth_y4m_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): a REAL Y4M clip per doc —
    4x2 C420 frames, n_frames = doc_id%6+1, luma
    y(f,i) = (doc_id·37 + f·101 + i·29) mod 256, chroma fixed 128."""

    def encode(d):
        w, h = 4, 2
        chroma = bytes([128] * (2 * (w // 2) * (h // 2)))
        frames = [bytes((d * 37 + f * 101 + i * 29) % 256 for i in range(w * h))
                  + chroma for f in range(d % 6 + 1)]
        return encode_y4m(w, h, frames, fps=_Y4M_FPS)

    return _synth_payloads(docs, encode)


def mm_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ REAL video decode + frame feature extraction (the Y4M sibling
    of mm_image_stats/mm_audio_stats): encode actual YUV4MPEG2 bytes in
    one stage, parse the stream + average the Y planes in the next; the
    DuckDB twin computes frame count, duration and mean luma from the
    pixel formula, so a header-parse or plane-stride bug fails the
    hash. The uncompressed video path; mm_video_rle_stats is the
    compressed one."""

    def row(d, blob):
        w, h, (fn_, fd), frames = decode_video_frames(blob)
        ys = [b for fr in frames for b in fr[: w * h]]
        # 5 decimals: every possible mean here is S/(8n), and
        # 10^5/(8n) avoids exact .5 midpoints for n in 1..6 —
        # at 4 decimals S odd with n=4 lands on a midpoint where
        # Python (half-even) and SQL (half-away) disagree
        return (w, h, len(frames), round(len(frames) * 1000.0 * fd / fn_, 4),
                round(sum(ys) / len(ys), 5))

    payloads = synth_y4m_payloads(t(spark, sf_dir, "documents"))
    return _map_rows(payloads, row, VIDEO_STATS_SCHEMA)


JPEG_COLOR_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("subsampling", StringType(), False),
    StructField("sum_r", LongType(), False),
    StructField("sum_g", LongType(), False),
    StructField("sum_b", LongType(), False),
])


def synth_jpeg_color_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): a REAL baseline COLOR JPEG per
    doc, alternating 4:2:0 (even doc_id: (doc_id//2)%2+1 × 1 MCUs of
    16×16) and 4:4:4 (odd: (doc_id//2)%3+1 × (doc_id//2)%2+1 blocks).
    Values are chosen on the codec's exact lattice (core/jpeg.py
    docstring): per-8×8-block luma y(b) = 2·((doc_id·29 + b·13) mod
    101) + 26 (even, so DC survives the luma quant step 16) and
    global chroma cb = 128 + 17·((doc_id mod 7) − 3),
    cr = 128 + 17·((3·doc_id mod 7) − 3) (multiples of the chroma DC
    quant step 17, constant so 2×2 subsampling is exact)."""

    def encode(d):
        sub = "420" if d % 2 == 0 else "444"
        if sub == "420":
            w, h = 16 * ((d // 2) % 2 + 1), 16
        else:
            w, h = 8 * ((d // 2) % 3 + 1), 8 * ((d // 2) % 2 + 1)
        y = _block_plane(w // 8, h // 8,
                         lambda b: 2 * ((d * 29 + b * 13) % 101) + 26)
        cb = 128 + 17 * ((d % 7) - 3)
        cr = 128 + 17 * (((d * 3) % 7) - 3)
        return encode_jpeg_color(w, h, y, bytes([cb]) * (w * h),
                                 bytes([cr]) * (w * h), sub)

    return _synth_payloads(docs, encode, spread=True)


def mm_jpeg_color_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ COLOR DCT codec decode: stage 1 encodes a real 3-component
    baseline JPEG (MCU-interleaved per T.81 A.2.3, chroma quant table
    K.2 + Annex K.3 chrominance Huffman tables, 4:2:0 AND 4:4:4),
    stage 2 decodes the actual entropy-coded bytes — three DC
    predictor chains, sampling factors read from the stream, chroma
    upsampling, JFIF YCbCr→RGB with explicit half-up rounding — and
    reports per-channel pixel sums. The DuckDB twin recomputes the
    sums closed-form from the block-value formula through the same
    color-conversion arithmetic, so a bug in MCU ordering, the
    per-component DC chains, table binding, upsampling or the color
    matrix fails the value hash."""

    def row(d, blob):
        w, h, ch, raw = decode_image_pixels(blob)
        if ch != 3:
            raise ValueError("color fixture decoded non-RGB")
        px = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
        s = px.sum(axis=0, dtype=np.int64)
        return (w, h, "420" if d % 2 == 0 else "444",
                int(s[0]), int(s[1]), int(s[2]))

    payloads = synth_jpeg_color_payloads(t(spark, sf_dir, "documents"))
    return _map_rows(payloads, row, JPEG_COLOR_STATS_SCHEMA)


ADPCM_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("n_samples", IntegerType(), False),
    StructField("first_sample", IntegerType(), False),
    StructField("sum_samples", LongType(), False),
    StructField("min_sample", IntegerType(), False),
    StructField("max_sample", IntegerType(), False),
])


def synth_adpcm_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): a REAL format-0x11 IMA ADPCM WAV
    per doc, ONE block, nibbles packed straight from the formula
    n(i) = (doc_id·11 + i·7) mod 16 for i in 0..ns−1 with
    ns = 2·((doc_id mod 20) + 4), header predictor
    p0 = ((doc_id·13) mod 4096) − 2048 and step index
    i0 = doc_id mod 89 — so the DECODER (not a round trip) is what the
    oracle pins: the twin replays the identical nibble stream through
    a recursive-CTE state machine. The fmt byte rate is floored
    (sr·block_align // spb)."""

    def encode(d):
        ns = 2 * ((d % 20) + 4)
        nibbles = [(d * 11 + i * 7) % 16 for i in range(ns)]
        block = struct.pack("<hBB", ((d * 13) % 4096) - 2048, d % 89, 0) + bytes(
            lo | (hi << 4) for lo, hi in zip(nibbles[0::2], nibbles[1::2]))
        spb, sr = ns + 1, 8000
        fmt = struct.pack("<HHIIHHHH", 0x11, 1, sr, sr * len(block) // spb,
                          len(block), 4, 2, spb)
        return riff_wave(fmt, block, fact=struct.pack("<I", spb))

    return _synth_payloads(docs, encode)


def mm_adpcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ SEQUENTIAL-STATE codec decode: stage 1 packs real IMA ADPCM
    WAV bytes, stage 2 decodes them through core/adpcm.py's
    adaptive-step state machine (every sample depends on ALL prior
    nibbles via the predictor AND the step index) and reports per-doc
    sample stats. The oracle is NOT closed-form — it's a DuckDB
    RECURSIVE CTE that simulates the identical recurrence against the
    spec's 89-entry step table (the same trick dedup_components uses
    for connected components), so a clamp, sign, index-table or
    nibble-order bug in the Python decoder fails the value hash."""

    def row(d, blob):
        _sr, _ch, samples = decode_audio_samples(blob)
        return (len(samples), samples[0], sum(samples), min(samples),
                max(samples))

    payloads = synth_adpcm_payloads(t(spark, sf_dir, "documents"))
    return _map_rows(payloads, row, ADPCM_STATS_SCHEMA)


AUDIO_DS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("out_rate", IntegerType(), False),
    StructField("n_out", IntegerType(), False),
    StructField("rms_ds", DoubleType(), False),
])


def mm_audio_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ REAL audio RESAMPLING over decoded PCM: decode the WAV bytes,
    then 2:1 pair-average decimation — y[j] = floor((s[2j] + s[2j+1])
    / 2), the simplest anti-aliased downsample kernel — and report the
    decimated stream's rate, length and RMS. The DuckDB twin replays
    the sample formula AND the kernel closed-form, so a pairing-offset
    or truncation bug in the resampler fails the value hash (the
    decode itself is already pinned by mm_audio_stats; this pins the
    DSP step on top).

    Same zero-shuffle codec-chain shape as every mm_* operator: encode
    stage → binary column → decode+resample in ONE mapInArrow hop; at
    10^12 clips this is scan-shaped with Arrow-batched Python."""

    def row(d, blob):
        sr, ch, samples = decode_audio_samples(blob)
        mono = samples[::ch]  # fixture is mono; explicit anyway
        y = [(mono[2 * j] + mono[2 * j + 1]) // 2 for j in range(len(mono) // 2)]
        rms = round(math.sqrt(sum(v * v for v in y) / len(y)), 4) if y else 0.0
        return sr // 2, len(y), rms

    payloads = synth_wav_payloads(t(spark, sf_dir, "documents"))
    return _map_rows(payloads, row, AUDIO_DS_SCHEMA)
