"""Perceptual image hashing for corpus-scale image dedup.

Web crawls carry the same image re-encoded at many qualities/sizes; byte
fingerprints miss all of them. A perceptual hash maps an image to 64
bits such that recompression/resizing moves few bits, so image-level
near-dup becomes the SAME pigeonhole-banded Hamming join the text lane
already uses for SimHash (``operators/dedup.py:simhash_neardup``).

Two standard kernels (both pure numpy over the repo's own codecs — no
image library):

* **dHash** (difference hash): integer luma -> 9x8 block-mean grid ->
  bit = left cell > right cell. ALL-INTEGER (luma = (299R+587G+114B) //
  1000, block boundaries i*h//9, block mean = sum // count), so the
  hash is exactly reproducible anywhere — the oracle recomputes it
  bit-for-bit.
* **pHash** (DCT hash): 32x32 block-mean grid -> 2D DCT-II (float64
  matrix product) -> 8x8 low-frequency block -> bit = coefficient >
  mean of the 63 non-DC coefficients. Deterministic for a fixed BLAS
  evaluation order; the driver-side oracle runs the identical kernel.

Scale shape at 100 TB: hashing is one Arrow-batched ``mapInPandas``
pass over the image lane (decode already required for feature
extraction — the hash rides the same scan); the near-dup join
(``operators/dedup.py:hamming_neardup``, re-exported here) ships ONLY
(64-bit hash, id) pairs through ``bands`` equi-join keys — never pixels,
never payloads — and verifies candidates with a JVM-side
``bit_count(xor)``. Pigeonhole guarantee: bands > max_hamming implies
every qualifying pair shares at least one exact band slice.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.dedup import hamming_neardup

__all__ = [
    "dhash64",
    "phash64",
    "image_phash",
    "hamming_neardup",
    "recompress_jpeg",
    "phash_neardup_pairs",
    "afp64",
    "audio_fingerprint",
    "regain_audio",
    "afp_neardup_pairs",
]


def _luma(img: np.ndarray) -> np.ndarray:
    """Integer Rec.601 luma (uint8 HxWx3 -> int64 HxW, exact)."""
    r = img[..., 0].astype(np.int64)
    g = img[..., 1].astype(np.int64)
    b = img[..., 2].astype(np.int64)
    return (299 * r + 587 * g + 114 * b) // 1000


def _block_means(gray: np.ndarray, gh: int, gw: int) -> np.ndarray:
    """gh x gw integer block means (sum // count) over index-boundary
    blocks (row i covers [i*h//gh, (i+1)*h//gh) — deterministic for any
    input size; degenerate zero-height/width blocks borrow the floor
    boundary's single row/column)."""
    h, w = gray.shape
    out = np.zeros((gh, gw), dtype=np.int64)
    rb = [i * h // gh for i in range(gh + 1)]
    cb = [j * w // gw for j in range(gw + 1)]
    for i in range(gh):
        r0, r1 = rb[i], max(rb[i + 1], rb[i] + 1)
        for j in range(gw):
            c0, c1 = cb[j], max(cb[j + 1], cb[j] + 1)
            blk = gray[r0:r1, c0:c1]
            out[i, j] = int(blk.sum()) // blk.size
    return out


def _bits_to_i64(bits: np.ndarray) -> int:
    """64 bools (row-major, bit 0 = first) -> signed int64 (two's
    complement wrap, matching Spark LongType)."""
    v = 0
    for k, bit in enumerate(bits.reshape(-1)):
        if bit:
            v |= 1 << k
    return v - (1 << 64) if v >= (1 << 63) else v


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash: 9x8 block-mean grid, bit (i,j) set when
    grid[i, j] > grid[i, j+1]. All-integer, exactly reproducible."""
    grid = _block_means(_luma(img), 8, 9)
    return _bits_to_i64(grid[:, :-1] > grid[:, 1:])


_DCT32 = None


def _dct_matrix(n: int = 32) -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(n, dtype=np.float64)
        _DCT32 = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    return _DCT32


def phash64(img: np.ndarray) -> int:
    """64-bit DCT hash: 32x32 integer block means -> 2D DCT-II -> 8x8
    low-frequency corner -> bit = coefficient > mean of the 63 non-DC
    coefficients."""
    grid = _block_means(_luma(img), 32, 32).astype(np.float64)
    d = _dct_matrix(32)
    low = (d @ grid @ d.T)[:8, :8]
    flat = low.reshape(-1)
    mean = (flat[1:].sum()) / 63.0
    return _bits_to_i64(flat > mean)


def image_phash(media: DataFrame, *, fake: bool = True) -> DataFrame:
    """Image rows -> (media_id, kind, dhash, phash) via one Arrow-batched
    ``mapInPandas`` pass (same decode the feature extractor uses; non-
    image rows pass through with NULL hashes so the operator composes
    with the mixed media table)."""
    from .multimodal import _decode

    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("kind", StringType()),
            StructField("dhash", LongType()),
            StructField("phash", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dh, ph = [], []
            for kind, payload, meta in zip(pdf["kind"], pdf["payload"], pdf["meta"]):
                if kind != "image":
                    dh.append(None)
                    ph.append(None)
                    continue
                img = _decode(bytes(payload), meta["width"], meta["height"], fake)
                dh.append(dhash64(img))
                ph.append(phash64(img))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "dhash": pd.array(dh, dtype="Int64"),
                    "phash": pd.array(ph, dtype="Int64"),
                }
            )

    return media.mapInPandas(run, schema=out_schema)


def recompress_jpeg(
    media: DataFrame, *, id_offset: int = 100000, fake: bool = True
) -> DataFrame:
    """Image rows re-encoded as baseline JPEG with shifted ids — the
    deterministic stand-in for the same image crawled again at a
    different quality. Non-image rows are dropped. Same schema as the
    input media table."""
    from .jpeg import encode_jpeg
    from .multimodal import _decode

    schema = media.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = pdf[pdf["kind"] == "image"].copy()
            keep["payload"] = [
                encode_jpeg(_decode(bytes(p), m["width"], m["height"], fake))
                for p, m in zip(keep["payload"], keep["meta"])
            ]
            keep["media_id"] = keep["media_id"] + id_offset
            yield keep

    return media.mapInPandas(run, schema=schema)


def phash_neardup_pairs(
    media: DataFrame,
    copies: DataFrame,
    *,
    hash_col: str = "phash",
    max_hamming: int = 7,
    bands: int = 8,
    fake: bool = True,
) -> DataFrame:
    """Hash two image corpora (e.g. originals and recompressed copies)
    and return cross-corpus near-dup pairs — the recompression-dedup
    shape: the same image at different JPEG qualities lands within a few
    Hamming bits while distinct images stay far."""
    h1 = image_phash(media, fake=fake)
    h2 = image_phash(copies, fake=fake)
    return hamming_neardup(
        h1.unionByName(h2),
        id_col="media_id",
        hash_col=hash_col,
        max_hamming=max_hamming,
        bands=bands,
    )


# ---------------------------------------------------------------------------
# audio perceptual fingerprint (Haitsma-Kalker-style spectral hash)
# ---------------------------------------------------------------------------
# The audio counterpart of pHash: crawls carry the same clip re-gained /
# re-encoded; a byte fingerprint misses all of them. 64 bits from the
# signs of adjacent-band LOG-energy differences over one full-clip
# spectrum — a global gain g multiplies every band energy by g^2, so
# log E[b] shifts by the SAME constant and every difference cancels it
# exactly: a volume change is bit-identical, requantization/dither move
# ~0-1 bits, distinct audio stays tens of bits away. (A frame-temporal
# double-difference variant was measured first and rejected: on
# periodic content frames are near-identical, so its bits are pure
# quantization noise — self distance 19-46 vs cross 12 on the fixture.)
# Same scale shape as the image lane: one Arrow-batched decode pass,
# then the pigeonhole-banded Hamming join — only (id, 64-bit hash) rows
# ever shuffle.


def afp64(samples: np.ndarray, n_bands: int = 65) -> int:
    """PCM16 samples -> 64-bit spectral-profile fingerprint: one rFFT
    over the whole clip, DC dropped, 65 equal linear bands ->
    E[b] = log band energy -> bit[b] = E[b] - E[b+1] > 0 (64 bits).
    Exactly gain-invariant (the constant log g^2 cancels in every
    adjacent difference). Deterministic float64 (fixed band boundaries,
    one rfft); the oracle reruns the identical kernel driver-side."""
    x = np.asarray(samples, dtype=np.float64)
    if len(x) == 0:
        return 0
    mag = np.abs(np.fft.rfft(x)) ** 2
    spec = mag[1:]  # drop DC: offset-invariance
    nb = len(spec) // n_bands * n_bands
    if nb == 0:
        return 0
    E = np.log(spec[:nb].reshape(n_bands, -1).sum(-1) + 1e-12)
    bits = (E[:-1] - E[1:]) > 0
    v = 0
    for b in bits.reshape(-1):
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Audio rows -> (media_id, kind, afp) via one Arrow-batched
    ``mapInPandas`` decode+fingerprint pass; non-audio rows pass through
    with a NULL hash so the operator composes with the mixed table."""
    from .riff import decode_wav

    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("kind", StringType()),
            StructField("afp", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fp = []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                if kind != "audio":
                    fp.append(None)
                    continue
                samples, _sr = decode_wav(bytes(payload))
                fp.append(afp64(samples))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "afp": pd.array(fp, dtype="Int64"),
                }
            )

    return media.mapInPandas(run, schema=out_schema)


def regain_audio(media: DataFrame, *, id_offset: int = 200000) -> DataFrame:
    """Audio rows re-encoded at 3/4 gain with a tiny deterministic
    dither, ids shifted — the stand-in for the same clip captured again
    at another level. Non-audio rows are dropped. Same schema as the
    input media table."""
    from .riff import decode_wav, encode_wav

    schema = media.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = pdf[pdf["kind"] == "audio"].copy()
            out = []
            for p in keep["payload"]:
                samples, sr = decode_wav(bytes(p))
                g = samples.astype(np.int32) * 3 // 4
                g = g + (np.arange(len(g)) % 5 - 2)  # deterministic dither
                out.append(encode_wav(g.astype(np.int16), sr))
            keep["payload"] = out
            keep["media_id"] = keep["media_id"] + id_offset
            yield keep

    return media.mapInPandas(run, schema=schema)


def afp_neardup_pairs(
    media: DataFrame,
    copies: DataFrame,
    *,
    max_hamming: int = 6,
    bands: int = 8,
) -> DataFrame:
    """Fingerprint two audio corpora and return cross-corpus near-dup
    pairs — re-gained copies land within a bit or two (gain cancels
    exactly in the adjacent-band differences; only requantization and
    dither move bits) while distinct clips stay far."""
    h1 = audio_fingerprint(media)
    h2 = audio_fingerprint(copies)
    return hamming_neardup(
        h1.unionByName(h2),
        id_col="media_id",
        hash_col="afp",
        max_hamming=max_hamming,
        bands=bands,
    )
