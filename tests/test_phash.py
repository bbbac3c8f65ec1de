"""Perceptual-hash image dedup tests (functions/phash.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geokitten_spark.functions.phash import (
    dhash64,
    hamming_neardup,
    image_phash,
    phash64,
    phash_neardup_pairs,
    recompress_jpeg,
)


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_dhash_known_gradient():
    """A strict left-to-right luminance ramp sets EVERY dhash bit (each
    cell brighter than its right neighbor reversed -> none set; ramp up
    -> left < right -> no bits; ramp down -> all 64); flat gray sets
    none. Exact integer kernel, no tolerance."""
    w, h = 90, 80
    ramp_down = np.zeros((h, w, 3), dtype=np.uint8)
    ramp_down[:] = np.linspace(255, 0, w, dtype=np.uint8)[None, :, None]
    assert dhash64(ramp_down) == -1  # all 64 bits set (signed wrap)
    ramp_up = np.zeros((h, w, 3), dtype=np.uint8)
    ramp_up[:] = np.linspace(0, 255, w, dtype=np.uint8)[None, :, None]
    assert dhash64(ramp_up) == 0
    flat = np.full((h, w, 3), 128, dtype=np.uint8)
    assert dhash64(flat) == 0


def test_hashes_survive_recompression_and_resize():
    """The property the operator exists for: JPEG recompression and a
    2x resize move few bits; a different image is far away."""
    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, (48, 64, 3), dtype=np.uint8)
    # smooth it so JPEG quantization doesn't shred structure
    img = (base // 4 + 96).astype(np.uint8)

    from geokitten_spark.functions.jpeg import decode_jpeg, encode_jpeg

    recomp = decode_jpeg(encode_jpeg(img))
    assert _ham(dhash64(img), dhash64(recomp)) <= 8
    assert _ham(phash64(img), phash64(recomp)) <= 8

    doubled = np.repeat(np.repeat(img, 2, axis=0), 2, axis=1)
    assert _ham(dhash64(img), dhash64(doubled)) <= 6
    assert _ham(phash64(img), phash64(doubled)) <= 6

    other = (rng.integers(0, 256, (48, 64, 3), dtype=np.uint8) // 4).astype(
        np.uint8
    )
    assert _ham(phash64(img), phash64(other)) >= 16
    assert _ham(dhash64(img), dhash64(other)) >= 16


def test_image_phash_matches_driver_kernel(spark):
    """The distributed mapInPandas pass must equal the driver-side
    kernel bit-for-bit; non-image rows carry NULL hashes."""
    from geokitten_spark.functions.multimodal import _decode, synthetic_media

    media = synthetic_media(spark, "/root/testdata/sf0.001", n_rows=30)
    got = {r.media_id: (r.kind, r.dhash, r.phash) for r in image_phash(media).collect()}
    for r in media.collect():
        kind, dh, ph = got[r.media_id]
        if kind != "image":
            assert dh is None and ph is None
            continue
        img = _decode(bytes(r.payload), r.meta["width"], r.meta["height"], True)
        assert dh == dhash64(img) and ph == phash64(img)


def test_hamming_neardup_equals_bruteforce(spark):
    """Pigeonhole banding (bands > max_hamming) must find EXACTLY the
    brute-force pair set — no misses, no extras — on hashes planted at
    distances straddling the threshold."""
    base = 0x0123456789ABCDEF
    rows = [(0, base)]
    for i, nbits in enumerate([1, 3, 7, 8, 20], start=1):
        h = base
        for b in range(nbits):
            h ^= 1 << (b * 3)  # distinct positions, all within 64 bits
        rows.append((i, h - (1 << 64) if h >= 1 << 63 else h))
    rows.append((6, rows[0][1]))  # identical to row 0: agrees on all 8 bands
    rows.append((7, None))  # NULL hash (a non-image row): never pairs
    df = spark.createDataFrame(rows, "media_id long, phash long")
    collected = hamming_neardup(df, max_hamming=7, bands=8).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in collected}
    assert len(collected) == len(got)  # each pair once, however many bands agree
    want = {}
    hashed = [r for r in rows if r[1] is not None]
    for i, (ida, ha) in enumerate(hashed):
        for idb, hb in hashed[i + 1 :]:
            ham = _ham(ha, hb)
            if ham <= 7:
                want[(min(ida, idb), max(ida, idb))] = ham
    assert got == want and (0, 1) in got and (0, 4) not in got and got[(0, 6)] == 0

    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_neardup(df, max_hamming=8, bands=8)
    with pytest.raises(ValueError, match="divide"):
        hamming_neardup(df, max_hamming=4, bands=7)


def test_recompression_pairs_end_to_end(spark):
    """Originals vs JPEG-recompressed copies: every original pairs with
    exactly its own copy (fixture-measured margins across all SFs:
    copies <= 3 bits, distinct images >= 18), and the join plan stays
    JVM-side past the hashing pass (no SinglePartition; bit_count
    verify present)."""
    from geokitten_spark.functions.multimodal import synthetic_media

    media = synthetic_media(spark, "/root/testdata/sf0.001", n_rows=60).filter(
        F.col("kind") == "image"
    )
    n_img = media.count()
    copies = recompress_jpeg(media, id_offset=100000)
    pairs = phash_neardup_pairs(media, copies, max_hamming=12, bands=16)
    got = pairs.collect()
    assert len(got) == n_img
    assert all(r.id_b == r.id_a + 100000 for r in got)
    assert all(r.hamming <= 12 for r in got)

    # plan shape on the join itself (the fixture's limit() adds its own
    # SinglePartition upstream, so audit the operator over a plain hash
    # frame): banded equi-join + JVM bit_count verify, no single-reducer
    # stage, no Python past the hashing pass
    hashes = spark.range(0, 2000).select(
        F.col("id").alias("media_id"),
        (F.xxhash64("id")).alias("phash"),
    )
    jp = hamming_neardup(hashes, max_hamming=12, bands=16)
    plan = jp._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "bit_count" in plan
    assert "Python" not in plan
