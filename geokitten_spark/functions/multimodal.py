"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

Spark-side plumbing is REAL (schemas, Arrow batching, mapInPandas
signatures, partitioning). The decode kernel dispatches per payload:

* **PPM (P6) / PGM (P5)** — REAL decode, implemented here in pure numpy
  (header parse incl. comments + frombuffer pixel read; see
  ``decode_ppm``/``encode_ppm``). The synthetic media fixture emits
  valid P6 payloads for image rows, so the image pipeline exercises a
  genuine binary→pixels decode end to end with no external codec.
* **PNG** — REAL decode, stdlib zlib + numpy (chunk walk with CRC
  checks, inflate, all five scanline defilters; every legal depth/color
  combo of the spec — gray 1/2/4/8/16, palette 1/2/4/8, RGB/GA/RGBA
  8/16 — at interlace 0 AND Adam7; see ``decode_png``/``encode_png``/
  ``encode_png_adam7``/``encode_png16``/``encode_png_palette``). The
  media fixture cycles PNG variants with PPM/JPEG, so the binary parses
  run end to end with no external codec.
* **JPEG** — REAL decode, pure numpy + stdlib (marker walk, stream-read
  DQT/DHT/DAC tables, huffman AND QM-arithmetic entropy decode incl.
  restart markers, batched IDCT, 4:4:4/4:2:2/4:2:0 chroma upsampling —
  see ``jpeg.decode_jpeg`` / ``jpeg_arith.py``). Sequential (SOF0/1,
  8/12-bit), progressive (SOF2/SOF10), lossless (SOF3/SOF11), and
  hierarchical (Annex J pyramids with sequential/progressive/lossless
  differential frames, huffman or arithmetic — SOF5/6/7/13/14/15)
  processes all decode: every frame type of T.81 in its legal
  position. A pyramid ending in a lossless differential frame
  reconstructs the input EXACTLY.
* **WAV (PCM16) / MJPEG-AVI** — REAL container parses for the audio and
  video lanes (stdlib struct + numpy chunk walks; AVI frames decode via
  the baseline-JPEG codec) — see :mod:`geokitten_spark.functions.riff`.
  The fixture's audio rows are valid RIFF/WAVE and its video rows valid
  MJPEG AVIs, so ``audio_features`` / ``frame_sample_features`` run
  genuine binary→samples/frames decodes end to end.
* **other formats (GIF/WebP/…)** — gated behind an import-try; with
  Pillow absent in this container these raise ``NotImplementedError``.
* **fake=True** — deterministic byte-fold fallback used by
  ``image_features`` for non-image payloads (a WAV/AVI container has no
  single "image"), a pure function of the payload bytes so tests and
  oracle runs are reproducible.

Table shape (mirrors the documents table pattern):
    media(media_id LONG, kind STRING, payload BINARY,
          meta STRUCT<width INT, height INT, n_frames INT, sample_rate INT>)

Operators:
* ``decode_image``      — payload → HxWx3 uint8 (fake: byte-fold pattern)
* ``image_features``    — payload → 64-dim float array (byte histogram,
                          L2-normalized) — the embedding-side input for
                          the ANN/near-dup operators
* ``resize_meta``       — pure-SQL metadata transform (no Python)
* ``frame_sample``      — video payload → every k-th frame's features
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "MEDIA_SCHEMA",
    "synthetic_media",
    "synth_payload",
    "encode_ppm",
    "decode_ppm",
    "image_features",
    "frame_sample_features",
    "audio_features",
    "resize_meta",
]

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("n_frames", IntegerType()),
                    StructField("sample_rate", IntegerType()),
                ]
            ),
        ),
    ]
)

_HAVE_PIL = False
try:  # pragma: no cover - not installed in this container
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    pass


def _tile_pixels(text: str, w: int, h: int, rot: int = 0) -> np.ndarray:
    """Deterministic HxWx3 uint8 frame: the row's text bytes (optionally
    byte-rotated for frame variety) tiled into a quarter-resolution grid
    and 4x4 block-upsampled.

    The upsample makes fixture images LOW-FREQUENCY (natural-image-like)
    on purpose: full-resolution byte noise has near-zero low-band DCT
    energy, so perceptual-hash sign bits flip under JPEG requantization
    and the media_phash planted pairs lose their margin. Block content
    keeps dHash/pHash stable under recompression while still being a
    pure function of (text, rot)."""
    raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if rot:
        k = rot % max(1, len(raw))
        raw = np.concatenate([raw[k:], raw[:k]])
    gw, gh = -(-w // 4), -(-h // 4)
    need = gw * gh * 3
    reps = (need + len(raw) - 1) // max(1, len(raw))
    grid = np.tile(raw, reps)[:need].reshape(gh, gw, 3)
    return np.repeat(np.repeat(grid, 4, axis=0), 4, axis=1)[:h, :w]


def synth_payload(doc_id: int, text: str) -> bytes:
    """The ONE payload synthesizer — a pure function of (doc_id, text),
    used by both the Spark fixture UDF and the driver-side VALUES
    oracles so the two execution paths see byte-identical inputs.

    * image rows (id % 3 == 0): cycle PNG / PPM / baseline JPEG /
      PROGRESSIVE JPEG / ADAM7 PNG / 16-BIT PNG / 12-BIT JPEG /
      ARITHMETIC JPEG / LOSSLESS JPEG / HIERARCHICAL JPEG /
      PROGRESSIVE-ARITHMETIC JPEG / LOSSLESS-ARITHMETIC JPEG /
      HIERARCHICAL-ARITHMETIC JPEG / HIERARCHICAL-LOSSLESS JPEG by
      (id//3) % 14 so all fourteen real binary parses run end to end
      (progressive exercises the multi-scan SOF2 decoder; Adam7 the
      7-pass de-interlace; 16-bit PNG and 12-bit JPEG the
      high-precision reductions; arithmetic the SOF9 QM-coder path;
      lossless the SOF3 predictive path; hierarchical the Annex J
      DHP/EXP/differential-frame pyramid; the arithmetic variants the
      SOF10/SOF11/SOF13 models; the final lane a progressive-to-
      lossless pyramid — SOF14 differential stages + a SOF15
      exact-reconstruction final frame);
    * audio rows (id % 3 == 1): REAL RIFF/WAVE PCM16 — int16 samples
      derived from the text bytes;
    * video rows (id % 3 == 2): REAL MJPEG AVI — n_frames baseline-JPEG
      frames of byte-rotated pixel tiles."""
    from .jpeg import (
        encode_jpeg,
        encode_jpeg12,
        encode_jpeg_arith,
        encode_jpeg_arith_progressive,
        encode_jpeg_hierarchical,
        encode_jpeg_lossless,
        encode_jpeg_lossless_arith,
        encode_jpeg_progressive,
    )
    from .riff import encode_avi_mjpeg, encode_wav

    w = doc_id % 64 + 16
    h = doc_id % 48 + 16
    kind = doc_id % 3
    if kind == 0:
        # the two hierarchical lanes take a grayscale plane (single-
        # component pyramids); the red channel keeps the tile content
        enc = [
            encode_png,
            encode_ppm,
            encode_jpeg,
            encode_jpeg_progressive,
            encode_png_adam7,
            encode_png16,
            encode_jpeg12,
            encode_jpeg_arith,
            encode_jpeg_lossless,
            lambda px: encode_jpeg_hierarchical(px[:, :, 0]),
            encode_jpeg_arith_progressive,
            encode_jpeg_lossless_arith,
            lambda px: encode_jpeg_hierarchical(px[:, :, 0], arithmetic=True),
            lambda px: encode_jpeg_hierarchical(
                px[:, :, 0], arithmetic=True, progressive_diff=True,
                final_lossless=True,
            ),
        ][(doc_id // 3) % 14]
        return enc(_tile_pixels(text, w, h))
    if kind == 1:
        raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
        n = 1600 + (doc_id % 1600)  # 0.1-0.2 s at 16 kHz
        reps = (n + len(raw) - 1) // max(1, len(raw))
        samples = ((np.tile(raw, reps)[:n].astype(np.int32) - 128) * 256).astype(
            np.int16
        )
        return encode_wav(samples, 16000)
    n_frames = doc_id % 30 + 1
    frames = [_tile_pixels(text, w, h, rot=f) for f in range(n_frames)]
    return encode_avi_mjpeg(frames, fps=10)


def synthetic_media(spark: SparkSession, sf_dir: str, n_rows: int = 200) -> DataFrame:
    """Deterministic media fixture derived from the documents table.

    Every payload is a REAL binary format produced by :func:`synth_payload`
    (PNG/PPM/JPEG images, PCM16 WAV audio, MJPEG-AVI video), so each
    pipeline stage exercises a genuine binary parse. No external data."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _payload(media_id: pd.Series, text: pd.Series) -> pd.Series:
        return pd.Series(
            [synth_payload(int(mid), t) for mid, t in zip(media_id, text)]
        )

    # limit() collapses to ONE partition; spread the payload synthesis
    # (and every downstream decode pass) back across the cores — the
    # codec work per row is what dominates, not the 100-row shuffle
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(n_rows)
        .repartition(max(1, min(n_rows, spark.sparkContext.defaultParallelism)))
    )
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        _payload(F.col("doc_id"), F.col("text")).alias("payload"),
        F.struct(
            (F.col("doc_id") % 64 + 16).cast("int").alias("width"),
            (F.col("doc_id") % 48 + 16).cast("int").alias("height"),
            (F.col("doc_id") % 30 + 1).cast("int").alias("n_frames"),
            F.lit(16000).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# real PPM/PGM codec (pure numpy — netpbm binary formats, no external libs)
# ---------------------------------------------------------------------------

def encode_ppm(img: np.ndarray) -> bytes:
    """HxWx3 (or HxW) uint8 → binary PPM (P6) / PGM (P5) bytes."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 3 and img.shape[2] == 3:
        magic = b"P6"
    elif img.ndim == 2:
        magic = b"P5"
    else:
        raise ValueError(f"expected HxWx3 or HxW uint8, got shape {img.shape}")
    h, w = img.shape[0], img.shape[1]
    return b"%s\n%d %d\n255\n" % (magic, w, h) + img.tobytes()


def _ppm_tokens(buf: bytes, n: int, start: int) -> tuple[list[int], int]:
    """Read ``n`` whitespace/comment-separated integer tokens from ``buf``
    beginning at ``start``; returns (values, offset past the single
    whitespace byte that terminates the last token) per the netpbm spec."""
    vals: list[int] = []
    i = start
    while len(vals) < n:
        while i < len(buf) and (buf[i : i + 1].isspace() or buf[i] == ord("#")):
            if buf[i] == ord("#"):  # comment runs to end of line
                while i < len(buf) and buf[i] not in (10, 13):
                    i += 1
            else:
                i += 1
        j = i
        while j < len(buf) and buf[j : j + 1].isdigit():
            j += 1
        if j == i:
            raise ValueError("malformed netpbm header")
        vals.append(int(buf[i:j]))
        i = j
    return vals, i + 1  # exactly ONE whitespace byte after maxval


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → HxWx3 uint8, or PGM (P5) → HxWx3 (gray
    replicated) — a REAL image decode, spec-compliant incl. '#' comments."""
    if payload[:2] not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload")
    channels = 3 if payload[:2] == b"P6" else 1
    (w, h, maxval), off = _ppm_tokens(payload, 3, 2)
    if maxval != 255:
        raise NotImplementedError("only 8-bit netpbm supported")
    need = w * h * channels
    px = np.frombuffer(payload, dtype=np.uint8, count=need, offset=off)
    img = px.reshape(h, w, channels)
    return np.repeat(img, 3, axis=2) if channels == 1 else img


# ---------------------------------------------------------------------------
# real PNG codec (stdlib zlib + numpy — 8-bit gray/RGB/RGBA, interlace 0;
# all five scanline filters implemented so web-crawled PNGs decode, not
# just our own output)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (8-bit only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a, b, c):
    """Paeth predictor (per PNG spec): nearest of left/up/up-left."""
    p = int(a) + int(b) - int(c)
    pa, pb, pc = abs(p - int(a)), abs(p - int(b)), abs(p - int(c))
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# Adam7 pass geometry per the PNG spec: (row_start, col_start,
# row_increment, col_increment), pass order 1..7.
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (0, 4, 8, 8),
    (4, 0, 8, 4),
    (0, 2, 4, 4),
    (2, 0, 4, 2),
    (0, 1, 2, 2),
    (1, 0, 2, 1),
)

# color type -> allowed bit depths (PNG spec table 11.1)
_PNG_ALLOWED_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}


def _png_defilter(raw: bytes, off: int, n_rows: int, row_bytes: int, bpp: int):
    """Undo per-scanline filtering for one (sub-)image: ``n_rows``
    scanlines of ``row_bytes`` bytes each, filter-byte prefixed, with
    ``bpp`` = filter-unit bytes per pixel (max(1, bits_per_pixel // 8)).
    Returns (rows uint8 (n_rows, row_bytes), next offset)."""
    out = np.zeros((n_rows, row_bytes), dtype=np.uint8)
    prev = np.zeros(row_bytes, dtype=np.uint8)
    p = off
    if len(raw) < off + n_rows * (row_bytes + 1):
        raise ValueError("PNG pixel data length mismatch")
    for y in range(n_rows):
        ftype = raw[p]
        line = np.frombuffer(raw, dtype=np.uint8, count=row_bytes, offset=p + 1).copy()
        p += row_bytes + 1
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:  # Sub
            cur = line
            for i in range(bpp, row_bytes):
                cur[i] = (int(cur[i]) + int(cur[i - bpp])) & 0xFF
        elif ftype == 2:  # Up
            cur = (line.astype(np.int64) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            cur = line
            for i in range(row_bytes):
                left = int(cur[i - bpp]) if i >= bpp else 0
                cur[i] = (int(cur[i]) + (left + int(prev[i])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line
            for i in range(row_bytes):
                left = int(cur[i - bpp]) if i >= bpp else 0
                ul = int(prev[i - bpp]) if i >= bpp else 0
                cur[i] = (int(cur[i]) + _paeth(left, int(prev[i]), ul)) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ftype} invalid")
        out[y] = cur
        prev = out[y]
    return out, p


def _png_rows_to_samples(rows: np.ndarray, w: int, ch: int, depth: int):
    """Defiltered scanline bytes -> (h, w, ch) uint8 samples. 16-bit takes
    the high byte (the standard 16->8 reduction); sub-byte depths unpack
    MSB-first per the spec, values left as raw indices (callers scale
    gray or look up the palette)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : w * ch].reshape(h, w, ch)
    if depth == 16:
        return rows[:, : w * ch * 2 : 2].reshape(h, w, ch)
    bits = np.unpackbits(rows, axis=1)[:, : w * depth]
    if depth == 1:
        return bits.reshape(h, w, 1)
    vals = bits.reshape(h, w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (vals * weights).sum(axis=2, dtype=np.uint16).astype(np.uint8)[:, :, None]


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → HxWx3 uint8 (gray replicated, alpha dropped, palette
    resolved, 16-bit reduced to the high byte).

    Pure stdlib-zlib + numpy: chunk walk (IHDR/PLTE/IDAT/IEND with CRC
    check), inflate, per-scanline defilter (None/Sub/Up/Average/Paeth).
    Supported: every legal depth/color combination of the spec (gray
    1/2/4/8/16, palette 1/2/4/8, RGB/gray+alpha/RGBA 8/16) at interlace
    0 and Adam7 (7-pass de-interlace with per-pass filtering).
    """
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    plte = None
    idat = []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if color not in _PNG_ALLOWED_DEPTHS or depth not in _PNG_ALLOWED_DEPTHS[color]:
        raise ValueError(f"illegal PNG depth/color combo ({depth}, {color})")
    if color == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    if comp != 0 or filt != 0:
        raise ValueError(
            f"PNG compression/filter method ({comp}, {filt}) invalid"
        )
    if interlace not in (0, 1):
        raise ValueError(f"PNG interlace method {interlace} invalid")
    ch = 1 if color == 3 else _PNG_CHANNELS[color]
    bits_pp = ch * depth
    bpp = max(1, bits_pp // 8)
    raw = zlib.decompress(b"".join(idat))

    samples = np.zeros((h, w, ch), dtype=np.uint8)
    if interlace == 0:
        passes = [(0, 0, 1, 1)]
    else:
        passes = _ADAM7_PASSES
    off = 0
    for r0, c0, ri, ci in passes:
        pw = (w - c0 + ci - 1) // ci
        ph = (h - r0 + ri - 1) // ri
        if pw <= 0 or ph <= 0:
            continue  # empty pass contributes no bytes (spec)
        row_bytes = (pw * bits_pp + 7) // 8
        rows, off = _png_defilter(raw, off, ph, row_bytes, bpp)
        samples[r0::ri, c0::ci] = _png_rows_to_samples(rows, pw, ch, depth)
    if off != len(raw):
        raise ValueError("PNG pixel data length mismatch")

    if color == 3:
        idx = samples[:, :, 0]
        if int(idx.max(initial=0)) >= plte.shape[0]:
            raise ValueError("PNG palette index out of range")
        return plte[idx]
    if color in (0, 4) and depth < 8:
        # left-bit-replication gray scaling: max sample -> 255 exactly
        samples = samples * np.uint8(255 // ((1 << depth) - 1))
    img = samples
    if color == 0:
        return np.repeat(img, 3, axis=2)
    if color == 2:
        return img
    if color == 4:  # gray + alpha: drop alpha
        return np.repeat(img[:, :, :1], 3, axis=2)
    return img[:, :, :3]  # RGBA: drop alpha


def _png_filter_scanlines(flat: np.ndarray, bpp: int) -> bytes:
    """Filter (n_rows, row_bytes) sample-byte rows for one (sub-)image.
    Filter type cycles per row (y % 5) so decoders exercise every
    defilter path; fully deterministic. Whole-image numpy: each filter
    type's rows (``k::5``) get their predictor in one pass, Paeth
    included; int16 holds every byte sum and difference."""
    n_rows, row_bytes = flat.shape
    cur = np.asarray(flat).astype(np.int16)
    up = np.zeros_like(cur)
    up[1:] = cur[:-1]
    left = np.zeros_like(cur)
    left[:, bpp:] = cur[:, :-bpp]
    pred = np.zeros_like(cur)
    pred[1::5] = left[1::5]
    pred[2::5] = up[2::5]
    pred[3::5] = (left[3::5] + up[3::5]) // 2
    a, b = left[4::5], up[4::5]
    c = np.zeros_like(b)
    c[:, bpp:] = b[:, :-bpp]
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    pred[4::5] = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    out = np.empty((n_rows, row_bytes + 1), dtype=np.uint8)
    out[:, 0] = np.arange(n_rows) % 5
    out[:, 1:] = (cur - pred) & 0xFF
    return out.tobytes()


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_color_type(img: np.ndarray):
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        return img[:, :, None], 0, 1
    if img.shape[2] == 3:
        return img, 2, 3
    if img.shape[2] == 4:
        return img, 6, 4
    raise ValueError("expected HxW, HxWx3 or HxWx4")


def encode_png(img: np.ndarray) -> bytes:
    """HxWx3 (RGB) / HxWx4 (RGBA) / HxW (gray) uint8 → PNG bytes
    (8-bit, interlace 0); zlib level 6 — fully deterministic."""
    import struct
    import zlib

    img, color, ch = _png_color_type(img)
    h, w = img.shape[:2]
    body = _png_filter_scanlines(img.reshape(h, w * ch), ch)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(body, 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_adam7(img: np.ndarray) -> bytes:
    """Adam7-interlaced PNG encoder (8-bit gray/RGB/RGBA): each of the 7
    spec passes extracted, independently filtered (cycling filter types),
    concatenated into one IDAT stream. Deterministic."""
    import struct
    import zlib

    img, color, ch = _png_color_type(img)
    h, w = img.shape[:2]
    body = b""
    for r0, c0, ri, ci in _ADAM7_PASSES:
        sub = img[r0::ri, c0::ci]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        ph, pw = sub.shape[:2]
        body += _png_filter_scanlines(sub.reshape(ph, pw * ch), ch)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(body, 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_png16(img: np.ndarray) -> bytes:
    """16-bit PNG encoder (gray/RGB/RGBA, interlace 0): each 8-bit sample
    bit-replicated to 16 (v<<8 | v, the spec's depth-scaling), so the
    decoder's high-byte reduction recovers the input exactly."""
    import struct
    import zlib

    img, color, ch = _png_color_type(img)
    h, w = img.shape[:2]
    wide = np.repeat(img.reshape(h, w * ch), 2, axis=1)  # hi, lo = v, v
    body = _png_filter_scanlines(wide, ch * 2)
    ihdr = struct.pack(">IIBBBBB", w, h, 16, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(body, 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(idx: np.ndarray, palette: np.ndarray, depth: int = 8) -> bytes:
    """Palette (color type 3) PNG encoder at depth 1/2/4/8 from an HxW
    index array + (n, 3) palette; interlace 0. Sub-byte depths pack
    indices MSB-first per the spec."""
    import struct
    import zlib

    idx = np.asarray(idx, dtype=np.uint8)
    palette = np.asarray(palette, dtype=np.uint8)
    if depth not in (1, 2, 4, 8):
        raise ValueError("palette depth must be 1/2/4/8")
    if int(idx.max(initial=0)) >= min(palette.shape[0], 1 << depth):
        raise ValueError("palette index out of range for depth")
    h, w = idx.shape
    if depth == 8:
        rows = idx
    else:
        bits = (
            (idx[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
        ).reshape(h, w * depth).astype(np.uint8)
        pad = (-bits.shape[1]) % 8
        if pad:
            bits = np.pad(bits, ((0, 0), (0, pad)))
        rows = np.packbits(bits, axis=1)
    body = _png_filter_scanlines(rows, 1)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", palette.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(body, 6))
        + _png_chunk(b"IEND", b"")
    )


def _decode_fake(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic fake decode: tile the payload bytes into HxWx3."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    need = width * height * 3
    reps = (need + len(arr) - 1) // max(1, len(arr))
    return np.tile(arr, reps)[:need].reshape(height, width, 3)


def _decode(payload: bytes, width: int, height: int, fake: bool) -> np.ndarray:
    if payload[:2] in (b"P6", b"P5"):  # real decode, no codec lib needed
        return decode_ppm(payload)
    if payload[:8] == _PNG_SIG:  # real decode, stdlib zlib + numpy
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":  # real decode, pure numpy baseline JPEG
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    if fake:
        return _decode_fake(payload, width, height)
    if not _HAVE_PIL:  # GIF/WebP/... require an image codec
        raise NotImplementedError(
            "decoding non-netpbm/PNG/JPEG formats requires Pillow; pass "
            "fake=True for the deterministic fallback decoder"
        )
    import io

    from PIL import Image

    return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))


def _features_of(img: np.ndarray) -> np.ndarray:
    """64-bin byte histogram, L2-normalized — a deterministic stand-in for
    a vision embedding with the same column type (array<float>)."""
    hist, _ = np.histogram(img.reshape(-1), bins=64, range=(0, 256))
    v = hist.astype(np.float64)
    n = np.linalg.norm(v)
    return (v / n if n > 0 else v).astype(np.float32)


def image_features(media: DataFrame, *, fake: bool = True) -> DataFrame:
    """payload → 64-dim feature vector (mapInPandas; Arrow-batched).

    Output: (media_id, kind, embedding array<float>). Real plumbing; the
    decode kernel is swappable (fake vs Pillow)."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("kind", StringType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                img = _decode(bytes(payload), meta["width"], meta["height"], fake)
                feats.append(_features_of(img).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "embedding": feats,
                }
            )

    return media.mapInPandas(run, schema=out_schema)


def frame_sample_features(
    media: DataFrame, *, every_k: int = 5, fake: bool = True
) -> DataFrame:
    """Video rows → one feature row per sampled frame.

    MJPEG-AVI payloads get a REAL container walk + JPEG decode — only
    every k-th frame's entropy data is decoded (the chunk walk skips the
    rest on offsets, which is what makes frame sampling cheap at scale).
    Non-AVI payloads fall back to the deterministic byte-rotate decode.
    Output one row per (media_id, frame_no)."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_no", IntegerType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .riff import decode_avi_mjpeg

        for pdf in batches:
            ids, frames, feats = [], [], []
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                raw = bytes(payload)
                if raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
                    for f, img in decode_avi_mjpeg(raw, every_k=every_k):
                        ids.append(mid)
                        frames.append(f)
                        feats.append(_features_of(img).tolist())
                    continue
                for f in range(0, int(meta["n_frames"]), every_k):
                    rot = raw[f % max(1, len(raw)):] + raw[: f % max(1, len(raw))]
                    img = _decode(rot, meta["width"], meta["height"], fake)
                    ids.append(mid)
                    frames.append(f)
                    feats.append(_features_of(img).tolist())
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": frames, "embedding": feats}
            )

    return media.filter(F.col("kind") == "video").mapInPandas(run, schema=out_schema)


def audio_features(media: DataFrame) -> DataFrame:
    """Audio rows → per-clip waveform statistics via a REAL WAV parse.

    Output: (media_id, n_samples, sample_rate, rms, zcr, peak) —
    root-mean-square level, zero-crossing rate and peak amplitude of the
    PCM16 samples normalized to [-1, 1]. mapInPandas, Arrow-batched; the
    shape a loudness/speech-detection quality gate consumes."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("n_samples", LongType()),
            StructField("sample_rate", IntegerType()),
            StructField("rms", FloatType()),
            StructField("zcr", FloatType()),
            StructField("peak", FloatType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .riff import decode_wav

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples, rate = decode_wav(bytes(payload))
                x = samples.astype(np.float64) / 32768.0
                mono = x.mean(axis=1)
                n = len(mono)
                rms = float(np.sqrt(np.mean(mono**2))) if n else 0.0
                zcr = (
                    float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
                    if n > 1
                    else 0.0
                )
                peak = float(np.max(np.abs(mono))) if n else 0.0
                rows.append(
                    (
                        mid,
                        n,
                        rate,
                        np.float32(rms),
                        np.float32(zcr),
                        np.float32(peak),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_samples",
                    "sample_rate",
                    "rms",
                    "zcr",
                    "peak",
                ],
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(run, schema=out_schema)


def resize_meta(media: DataFrame, *, max_side: int = 32) -> DataFrame:
    """Pure-SQL metadata resize (aspect-preserving clamp) — no Python; the
    actual pixel resample would live in the decode kernel."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(1.0), F.lit(float(max_side)) / F.greatest(w, h))
    return media.withColumn(
        "resized_meta",
        F.struct(
            F.ceil(w * scale).cast("int").alias("width"),
            F.ceil(h * scale).cast("int").alias("height"),
        ),
    )
