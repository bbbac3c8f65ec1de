"""Offline verification of the pure-numpy baseline JPEG codec.

No external codec exists in this container, so correctness rests on
independent cross-checks: the DCT against a direct O(N^4) transcription
of the T.81 definition, quantization against the widely published
worked example (DC -415.375 -> -26 with the Annex K luminance table),
the zigzag order against its first published entries, and
encode->decode roundtrips bounded by PSNR.
"""

import numpy as np
import pytest

from geokitten_spark.functions.jpeg import (
    QUANT_LUMA,
    _zigzag_order,
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
    fdct_blocks,
    idct_blocks,
)


def _dct2_direct(block: np.ndarray) -> np.ndarray:
    """O(N^4) transcription of the T.81 FDCT definition (A.3.3)."""
    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        block[x, y]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[u, v] = 0.25 * cu * cv * s
    return out


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else 10 * np.log10(255.0**2 / mse)


# the widely published worked-example block (level-shifted input appears
# in countless JPEG tutorials and the original Wallace CACM paper)
WORKED_BLOCK = np.array(
    [
        [52, 55, 61, 66, 70, 61, 64, 73],
        [63, 59, 55, 90, 109, 85, 69, 72],
        [62, 59, 68, 113, 144, 104, 66, 73],
        [63, 58, 71, 122, 154, 106, 70, 69],
        [67, 61, 68, 104, 126, 88, 68, 70],
        [79, 65, 60, 70, 77, 68, 58, 75],
        [85, 71, 64, 59, 55, 61, 65, 83],
        [87, 79, 69, 68, 65, 76, 78, 94],
    ],
    dtype=np.float64,
)


def test_fdct_matches_direct_definition():
    rng = np.random.default_rng(7)
    blocks = rng.integers(0, 256, size=(5, 8, 8)).astype(np.float64) - 128.0
    fast = fdct_blocks(blocks)
    for k in range(5):
        direct = _dct2_direct(blocks[k])
        np.testing.assert_allclose(fast[k], direct, atol=1e-9)


def test_idct_inverts_fdct_exactly():
    rng = np.random.default_rng(11)
    blocks = rng.normal(size=(4, 8, 8)) * 100
    np.testing.assert_allclose(idct_blocks(fdct_blocks(blocks)), blocks, atol=1e-9)


def test_worked_example_dc_coefficient():
    shifted = WORKED_BLOCK - 128.0
    coefs = fdct_blocks(shifted[None])[0]
    assert abs(coefs[0, 0] - (-415.375)) < 1e-9
    # quantized with the Annex K luminance table: round(-415.375/16) == -26
    assert round(coefs[0, 0] / QUANT_LUMA[0, 0]) == -26


def test_zigzag_order_first_published_entries():
    zz = _zigzag_order()
    # the universally published start of the zigzag scan (natural indices)
    assert list(zz[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert sorted(zz) == list(range(64))


def test_roundtrip_psnr_q90():
    rng = np.random.default_rng(3)
    # smooth image (JPEG's design target): low-freq gradient + mild noise
    yy, xx = np.mgrid[0:48, 0:64]
    img = np.stack(
        [
            (xx * 2 + yy) % 256,
            (255 - xx * 3) % 256,
            (yy * 4) % 256,
        ],
        axis=2,
    ).astype(np.uint8)
    img = np.clip(img.astype(int) + rng.integers(-4, 5, img.shape), 0, 255).astype(
        np.uint8
    )
    out = decode_jpeg(encode_jpeg(img, quality=90))
    assert out.shape == img.shape
    assert psnr(img, out) > 35.0


def test_uniform_image_roundtrips_exactly():
    img = np.full((16, 24, 3), 137, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=90))
    np.testing.assert_array_equal(out, img)


def test_restart_markers_decode_identically():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(24, 40, 3)).astype(np.uint8)
    plain = decode_jpeg(encode_jpeg(img, quality=75))
    restart = decode_jpeg(encode_jpeg(img, quality=75, restart_interval=2))
    np.testing.assert_array_equal(plain, restart)


def test_odd_dimensions_and_grayscale():
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(13, 17, 3)).astype(np.uint8)
    assert decode_jpeg(encode_jpeg(img)).shape == (13, 17, 3)
    gray = rng.integers(0, 256, size=(11, 9)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(gray))
    assert out.shape == (11, 9, 3)


def test_420_subsampling_roundtrip():
    yy, xx = np.mgrid[0:32, 0:40]
    img = np.stack([xx * 4 % 256, yy * 5 % 256, (xx + yy) * 3 % 256], axis=2).astype(
        np.uint8
    )
    out = decode_jpeg(encode_jpeg(img, quality=90, subsampling="4:2:0"))
    assert out.shape == img.shape
    assert psnr(img, out) > 25.0  # chroma halved: looser bound


@pytest.mark.parametrize("sof", [0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF])
def test_differential_frames_outside_hierarchical_raise(sof):
    # every non-differential process decodes since round 4 (SOF0/1/2/3
    # huffman, SOF9/10/11 arithmetic, hierarchical pyramids with
    # SOF5/SOF13 differential frames); a DIFFERENTIAL frame in a plain
    # stream stays guarded — T.81 only allows them inside a pyramid
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    payload = bytearray(encode_jpeg(img))
    idx = payload.find(b"\xff\xc0")
    assert idx > 0
    payload[idx + 1] = sof
    with pytest.raises(NotImplementedError, match="differential frame"):
        decode_jpeg(bytes(payload))


def test_not_a_jpeg_raises():
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG\r\n\x1a\n")


def test_determinism():
    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, size=(16, 16, 3)).astype(np.uint8)
    assert encode_jpeg(img, quality=80) == encode_jpeg(img, quality=80)


# ---------------------------------------------------------------------------
# progressive (SOF2) — round 4
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "shape,sub",
    [
        ((16, 16, 3), "4:4:4"),
        ((24, 40, 3), "4:4:4"),
        ((21, 35, 3), "4:2:0"),   # odd dims + MCU padding blocks
        ((64, 48, 3), "4:2:0"),
        ((8, 8, 3), "4:4:4"),
    ],
)
def test_progressive_decodes_pixel_identical_to_baseline(shape, sub):
    """encode_jpeg_progressive emits the SAME quantized coefficients as
    encode_jpeg, so both streams must decode to IDENTICAL pixels — an
    exact-equality oracle over all four Annex G scan kinds (DC
    first/refine, AC first/refine with EOB runs)."""
    rng = np.random.default_rng(int(np.prod(shape)))
    img = rng.integers(0, 256, size=shape).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=80, subsampling=sub))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=80, subsampling=sub))
    assert np.array_equal(base, prog)


def test_progressive_grayscale_and_smooth_images():
    """Smooth gradients maximize EOB-run lengths (whole blocks of zero
    AC) — the EOBn/correction-bit bookkeeping's hardest case — and a
    gray input exercises the replicated-plane path."""
    xx, yy = np.meshgrid(np.arange(40), np.arange(24))
    smooth = ((xx + yy) * 255 // 64).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(smooth, quality=90))
    prog = decode_jpeg(encode_jpeg_progressive(smooth, quality=90))
    assert np.array_equal(base, prog)
    flat = np.full((17, 19), 200, dtype=np.uint8)  # all-EOB everywhere
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(flat)), decode_jpeg(encode_jpeg(flat))
    )


def test_progressive_is_sof2_multiscan_and_deterministic():
    img = np.arange(16 * 16 * 3, dtype=np.uint64).reshape(16, 16, 3) % 256
    img = img.astype(np.uint8)
    p1 = encode_jpeg_progressive(img)
    assert p1 == encode_jpeg_progressive(img)
    assert b"\xff\xc2" in p1  # SOF2
    assert p1.count(b"\xff\xda") == 10  # the 10-scan script


def test_jpeg12_roundtrip_and_structure():
    """12-bit extended-sequential (SOF1) encode/decode: smooth gradients
    recover within +/-1 of the 8-bit source after the 255/4095 output
    reduction; headers carry precision 12; the 8-bit guard is gone but
    unknown precisions still fail loudly."""
    import numpy as np
    import pytest

    from geokitten_spark.functions.jpeg import decode_jpeg, encode_jpeg12

    for (h, w) in [(8, 8), (17, 23), (33, 31)]:
        x = np.linspace(0, 255, w)
        y = np.linspace(0, 200, h)
        img = np.clip(
            np.round(
                y[:, None, None] * 0.5
                + x[None, :, None] * 0.5
                + np.array([0.0, 20.0, 40.0])[None, None, :]
            ),
            0,
            255,
        ).astype(np.uint8)
        p = encode_jpeg12(img, quality=95)
        assert p[:2] == b"\xff\xd8" and b"\xff\xc1" in p
        assert p[p.index(b"\xff\xc1") + 4] == 12  # SOF precision byte
        out = decode_jpeg(p)
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 2

    # noisy content also stays tight at 4:4:4 / q95 with 12-bit headroom
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (24, 16, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg12(img, quality=95))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2

    # unsupported precision still raises with the value in the message
    import struct
    bad = bytearray(encode_jpeg12(img))
    i = bad.index(b"\xff\xc1")
    bad[i + 4] = 10
    with pytest.raises(NotImplementedError, match="10"):
        decode_jpeg(bytes(bad))


# ---------------------------------------------------------------------------
# lossless (SOF3, T.81 Annex H)
# ---------------------------------------------------------------------------

def test_lossless_roundtrip_exact_all_predictors():
    from geokitten_spark.functions.jpeg import encode_jpeg_lossless

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (37, 53, 3), dtype=np.uint8)
    for pred in range(1, 8):
        p = encode_jpeg_lossless(img, predictor=pred)
        assert p[:2] == b"\xff\xd8" and b"\xff\xc3" in p
        assert b"\xff\xdb" not in p  # no quantization tables in lossless
        out = decode_jpeg(p)
        # bit-exact: the property the lossy lanes can never offer
        assert np.array_equal(out, img), f"predictor {pred}"


def test_lossless_gray_and_extreme_diffs():
    from geokitten_spark.functions.jpeg import encode_jpeg_lossless

    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, (21, 19), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg_lossless(gray, predictor=4))
    assert np.array_equal(out, np.repeat(gray[:, :, None], 3, axis=2))
    # alternating extremes at precision 16 drive the mod-2^16 wrap and
    # the SSSS=16 (Diff=32768, zero magnitude bits) escape lane
    chk = np.zeros((16, 16, 3), dtype=np.uint8)
    chk[::2, ::2] = 255
    chk[1::2, 1::2] = 255
    out = decode_jpeg(encode_jpeg_lossless(chk, predictor=4, precision=16))
    assert np.array_equal(out, chk)


def test_lossless_precision_reduction_restores_exactly():
    from geokitten_spark.functions.jpeg import encode_jpeg_lossless

    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, (12, 18, 3), dtype=np.uint8)
    # bit-replicated 12/16-bit samples reduce back to the original 8-bit
    for prec, pred in ((12, 5), (16, 7)):
        p = encode_jpeg_lossless(img, predictor=pred, precision=prec)
        assert p[p.index(b"\xff\xc3") + 4] == prec  # SOF precision byte
        assert np.array_equal(decode_jpeg(p), img)


def test_lossless_point_transform_and_restart():
    from geokitten_spark.functions.jpeg import encode_jpeg_lossless

    rng = np.random.RandomState(17)
    img = rng.randint(0, 256, (23, 29, 3), dtype=np.uint8)
    # Annex H near-lossless: decode == (v >> Pt) << Pt
    out = decode_jpeg(encode_jpeg_lossless(img, predictor=2, point_transform=2))
    assert np.array_equal(out, (img >> 2) << 2)
    # restart markers reset prediction identically on both sides
    p = encode_jpeg_lossless(img, predictor=6, restart_interval=100)
    assert b"\xff\xd0" in p or b"\xff\xd1" in p
    assert np.array_equal(decode_jpeg(p), img)


def test_lossless_determinism_and_guards():
    from geokitten_spark.functions.jpeg import encode_jpeg_lossless

    img = np.arange(96, dtype=np.uint8).reshape(4, 8, 3)
    assert encode_jpeg_lossless(img) == encode_jpeg_lossless(img)
    with pytest.raises(ValueError):
        encode_jpeg_lossless(img, predictor=0)
    with pytest.raises(ValueError):
        encode_jpeg_lossless(img, predictor=8)
    with pytest.raises(ValueError):
        encode_jpeg_lossless(img, precision=10)
    with pytest.raises(ValueError):
        encode_jpeg_lossless(img, point_transform=8)
    # subsampled lossless components are guarded, not silently wrong
    p = bytearray(encode_jpeg_lossless(img))
    i = p.index(b"\xff\xc3")
    p[i + 11] = 0x22  # H/V of component 1 -> 2x2
    with pytest.raises(NotImplementedError, match="subsampled"):
        decode_jpeg(bytes(p))


# ---------------------------------------------------------------------------
# hierarchical (DHP/EXP + differential frames, T.81 Annex J)
# ---------------------------------------------------------------------------

def test_hierarchical_roundtrip_quality_and_structure():
    from geokitten_spark.functions.jpeg import encode_jpeg_hierarchical

    yy, xx = np.mgrid[0:61, 0:83]
    img = ((yy * 2 + xx) % 256).astype(np.uint8)
    data = encode_jpeg_hierarchical(img, quality=85, levels=2)
    # structure: DHP, one non-differential SOF0 base, EXP+SOF5 per level
    assert data[:2] == b"\xff\xd8" and b"\xff\xde" in data
    assert data.count(b"\xff\xdf\x00\x03\x11") == 2  # EXP x levels
    assert data.count(b"\xff\xc5") == 2 and data.count(b"\xff\xc0") == 1
    out = decode_jpeg(data)
    assert out.shape == (61, 83, 3)
    assert (out[:, :, 0] == out[:, :, 1]).all()  # grayscale replicated
    assert psnr(out[:, :, 0], img) > 40.0  # within ~1 dB of plain SOF0
    # deeper pyramid + odd/thin dims still reconstruct at declared size
    thin = ((xx[:16, :] * 3) % 256).astype(np.uint8)[:13, :81]
    out2 = decode_jpeg(encode_jpeg_hierarchical(thin, quality=90, levels=3))
    assert out2.shape == (13, 81, 3)
    assert psnr(out2[:, :, 0], thin) > 35.0


def test_hierarchical_exp_filter_is_annex_j():
    from geokitten_spark.functions.jpeg import _exp_double

    p = np.array([[0, 10], [20, 30]])
    e = _exp_double(p, 1, 1)
    # doubled axes interleave originals with (a+b+1)>>1 midpoints,
    # edges replicated
    want = np.array(
        [[0, 5, 10, 10],
         [10, 15, 20, 20],
         [20, 25, 30, 30],
         [20, 25, 30, 30]]
    )
    assert np.array_equal(e, want)
    # horizontal-only expansion leaves height alone
    assert _exp_double(p, 1, 0).shape == (2, 4)
    assert _exp_double(p, 0, 1).shape == (4, 2)


def test_hierarchical_malformed_streams_raise():
    from geokitten_spark.functions.jpeg import encode_jpeg_hierarchical

    img = (np.arange(1024, dtype=np.uint8).reshape(32, 32))
    data = bytearray(encode_jpeg_hierarchical(img, levels=1))
    # truncate before the last differential frame: pyramid ends at the
    # wrong resolution vs the DHP declaration
    cut = data[: data.index(b"\xff\xdf")] + b"\xff\xd9"
    with pytest.raises(ValueError, match="pyramid|DHP"):
        decode_jpeg(bytes(cut))
    # a differential SOF outside a hierarchical stream stays guarded
    base = bytearray(encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
    i = base.index(b"\xff\xc0")
    base[i + 1] = 0xC5
    with pytest.raises(NotImplementedError, match="differential"):
        decode_jpeg(bytes(base))
    # RGB input to the grayscale fixture encoder is a loud error
    with pytest.raises(ValueError, match="grayscale"):
        encode_jpeg_hierarchical(np.zeros((8, 8, 3), np.uint8))


# ---------------------------------------------------------------------------
# every encoder lane: golden bytes and pixels, truncated streams
# ---------------------------------------------------------------------------

from hashlib import sha256  # noqa: E402

from geokitten_spark.functions.jpeg import (  # noqa: E402
    encode_jpeg12,
    encode_jpeg_hierarchical,
    encode_jpeg_lossless,
)
from geokitten_spark.functions.jpeg_arith import (  # noqa: E402
    encode_jpeg_arith,
    encode_jpeg_arith_progressive,
    encode_jpeg_lossless_arith,
)


def _lane_img(seed: int, h: int, w: int, gray: bool = False) -> np.ndarray:
    """Gradient + seeded texture (odd sizes exercise edge/MCU padding)."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 5 + xx * 3) % 256
    tex = rng.integers(0, 64, size=(h, w))
    if gray:
        return ((base + tex) % 256).astype(np.uint8)
    chans = [(base + tex) % 256, (255 - base + tex) % 256,
             (base // 2 + tex * 2) % 256]
    return np.stack(chans, axis=2).astype(np.uint8)


_RGB = _lane_img(1, 23, 37)
_GRAY = _lane_img(2, 19, 29, gray=True)
_SQUARE = _lane_img(3, 16, 16)

# lane -> encoder call; every encoder, both entropy codings, restarts,
# 4:2:0, gray, non-default DAC conditioning, 1-2 pyramid levels and the
# lossless final stage
GOLDEN_LANES = {
    "baseline": lambda: encode_jpeg(_RGB, 85),
    "baseline_420_rst3": lambda: encode_jpeg(_RGB, 75, "4:2:0", 3),
    "baseline_gray_rst1": lambda: encode_jpeg(_GRAY, 90, "4:4:4", 1),
    "jpeg12": lambda: encode_jpeg12(_RGB, 80),
    "progressive_420": lambda: encode_jpeg_progressive(_RGB, 80, "4:2:0"),
    "progressive_gray": lambda: encode_jpeg_progressive(_GRAY, 90),
    "arith": lambda: encode_jpeg_arith(_RGB, 85),
    "arith_420_dac": lambda: encode_jpeg_arith(_RGB, 75, "4:2:0", 1, 3, 9),
    "arith_progressive_rst3": lambda: encode_jpeg_arith_progressive(
        _RGB, 80, "4:4:4", 3
    ),
    "arith_progressive_420_dac": lambda: encode_jpeg_arith_progressive(
        _SQUARE, 70, "4:2:0", 1, 2, 5, 2
    ),
    "lossless_p4_12bit_rst3": lambda: encode_jpeg_lossless(_RGB, 4, 12, 1, 3),
    "lossless_gray_p7_16bit": lambda: encode_jpeg_lossless(_GRAY, 7, 16),
    "lossless_arith_p5_dac_rst3": lambda: encode_jpeg_lossless_arith(
        _RGB, 5, 8, 0, 3, 2, 4
    ),
    "lossless_arith_gray_p1_12bit": lambda: encode_jpeg_lossless_arith(_GRAY, 1, 12),
    "hierarchical_l1": lambda: encode_jpeg_hierarchical(_GRAY, 85, 1),
    "hierarchical_arith_l2": lambda: encode_jpeg_hierarchical(_GRAY, 85, 2, True),
    "hierarchical_prog_lossless_l2": lambda: encode_jpeg_hierarchical(
        _GRAY, 80, 2, False, True, True
    ),
    "hierarchical_arith_prog_lossless_l1": lambda: encode_jpeg_hierarchical(
        _SQUARE[:, :, 0], 80, 1, True, True, True
    ),
}

# (sha256 of the encoded bytes, sha256 of decode_jpeg's pixels)
GOLDEN = {
    "arith": (
        "0d7bf4250ca0c8df20646ee92ec575b64f72fd3e29f89d6405fe0d9dbe62244a",
        "8a697e8ddcd4b99c51cf49f06745961b3354aec35cf5351616a8aab39434ab99",
    ),
    "arith_420_dac": (
        "bc0a90739abdbbdd7a267bea6c319088d37165e1622705935e97dd5b257eaec6",
        "77629146459c93637a76ad5bbcb2fecd4b32992079fef626da75ebb0e332a107",
    ),
    "arith_progressive_420_dac": (
        "c65b3a53c85be2cd32d1052b7b2253dded752e1700b16eec09a33fbd3ebb8dcb",
        "12ac61d132e4b3edac16781847b9f9a5cc1329c44b5ea370d7b0e9cd26abee27",
    ),
    "arith_progressive_rst3": (
        "b4d7f5bfe1f3f75104b44a0f91af84ad5de6906a424528a4de78712aad10ed1d",
        "8b504a512a891d9f255300e8e1ab69d92a802c4226d66af797b253f4451fe6d3",
    ),
    "baseline": (
        "2ff763cf8f0a5015cb883476d878967667f29d3382108dedb15ad6e24f8199f8",
        "8a697e8ddcd4b99c51cf49f06745961b3354aec35cf5351616a8aab39434ab99",
    ),
    "baseline_420_rst3": (
        "93c82a63977e21a1c79d891a45174f2b110157cec7c01e0b2bf081b923e54e67",
        "77629146459c93637a76ad5bbcb2fecd4b32992079fef626da75ebb0e332a107",
    ),
    "baseline_gray_rst1": (
        "f641b3581f592887f5a8c73888ec69ec3fff2aead8c5042c664f548503d32bf2",
        "7b69e9d426a6c7117cde414be77d0dd47e270a430e92ac28fc07c9ae2516830c",
    ),
    "hierarchical_arith_l2": (
        "a215b8f6a4a280e6cc880e6bd64e6c6726f785476b214c668a34e2a2824ef549",
        "fbbe4f3d845d685cf406b38da3687ac2f43130d7200b5bd2f6d507da034e6627",
    ),
    "hierarchical_arith_prog_lossless_l1": (
        "af18c7ec083cac3f85092bff790fcb93ac7ab307dfb3d21e727461b455f4b8f1",
        "637ad2e3657214eab318f199e6e1f84e70dc7e646da5707af3b74605def1560f",
    ),
    "hierarchical_l1": (
        "fec7c2e26bef3854e7a70a591d937e01ba52b035a635d014333e5e4a84f8f904",
        "21fb309897dbafa7c5bdd759ab9bdaa8cabc21ce1fc503ec4da2a1baf8fee9cf",
    ),
    "hierarchical_prog_lossless_l2": (
        "a977d62fa06e657b44640eb73c7030770a0d8e6069b1b260f09960710a82226f",
        "ef50e03f780bf1afdae9614ecd9d18ba825fd810de15ea010afc2ddf3cda0143",
    ),
    "jpeg12": (
        "b68cf9c921fe8e9ce5b0bd6c42b080708eb3c04e0d2a746487cdf67aff365dad",
        "1a8bc5e50edeb42f15b7e687335273d61f23830971fd9d51057010b4b2e7fc7c",
    ),
    "lossless_arith_gray_p1_12bit": (
        "81e937701cf3d52828b3435e8e8eaa60545c43001b57cca2df1ae8395ff34cad",
        "ef50e03f780bf1afdae9614ecd9d18ba825fd810de15ea010afc2ddf3cda0143",
    ),
    "lossless_arith_p5_dac_rst3": (
        "aea7644ef507981a863c230ec1bdf939c5ff85c9d38b2a6c2584c55253a0b0d3",
        "780afec7684bea79b452e17ba37885d679aa867e018218aabb83642122397c55",
    ),
    "lossless_gray_p7_16bit": (
        "7fcfe95e2e085e20e04008a40670fb3805e29685bfd8b50f5a89a6e5e56a407a",
        "ef50e03f780bf1afdae9614ecd9d18ba825fd810de15ea010afc2ddf3cda0143",
    ),
    "lossless_p4_12bit_rst3": (
        "9d627ed9bb0afc13a83e1a4b3ad6dd72824bb9a4e3fb524316dacfa8fa5710e1",
        "780afec7684bea79b452e17ba37885d679aa867e018218aabb83642122397c55",
    ),
    "progressive_420": (
        "f7266e4a51df0cc99862c99030cf61a29df7d60bfe31901b70656a80ddbad1df",
        "a1008281c1ce97472d6849942fab4df2ba6fb1698ca872801ad08a0a57b8afc1",
    ),
    "progressive_gray": (
        "93d93329b7f5130f5c9a9984f0772ad22cc3dacbca56340ea8c1df092ec19059",
        "7b69e9d426a6c7117cde414be77d0dd47e270a430e92ac28fc07c9ae2516830c",
    ),
}


@pytest.mark.parametrize("lane", sorted(GOLDEN_LANES))
def test_encoder_lane_bytes_and_pixels_are_golden(lane):
    """Pins every encoder lane's exact output and its decode across
    refactors of the shared frame writer and scan walkers."""
    data = GOLDEN_LANES[lane]()
    pixels = decode_jpeg(data)
    got = (sha256(data).hexdigest(), sha256(pixels.tobytes()).hexdigest())
    assert got == GOLDEN[lane]


_TRUNC_RGB = np.random.default_rng(0).integers(0, 256, (24, 40, 3)).astype(np.uint8)

TRUNCATION_LANES = {
    "baseline_rst3": lambda: encode_jpeg(_TRUNC_RGB, restart_interval=3),
    "progressive": lambda: encode_jpeg_progressive(_TRUNC_RGB, 75, "4:2:0"),
    "jpeg12": lambda: encode_jpeg12(_TRUNC_RGB),
    "arith": lambda: encode_jpeg_arith(_TRUNC_RGB),
    "arith_progressive_rst2": lambda: encode_jpeg_arith_progressive(
        _TRUNC_RGB, restart_interval=2
    ),
    "lossless_rst40": lambda: encode_jpeg_lossless(_TRUNC_RGB, restart_interval=40),
    "lossless_arith_rst40": lambda: encode_jpeg_lossless_arith(
        _TRUNC_RGB, restart_interval=40
    ),
    "hierarchical": lambda: encode_jpeg_hierarchical(_TRUNC_RGB[:, :, 0]),
    "hierarchical_arith": lambda: encode_jpeg_hierarchical(
        _TRUNC_RGB[:, :, 0], arithmetic=True
    ),
    "hierarchical_prog_lossless": lambda: encode_jpeg_hierarchical(
        _TRUNC_RGB[:, :, 1], progressive_diff=True, final_lossless=True
    ),
    "hierarchical_arith_prog_lossless": lambda: encode_jpeg_hierarchical(
        _TRUNC_RGB[:, :, 2], arithmetic=True, progressive_diff=True,
        final_lossless=True,
    ),
}


def _truncation_points(data: bytes) -> list:
    """Every cut inside the headers up to the first scan's data, the
    first 8 cuts after each later marker (inside its code, length or
    header), and a stride through the entropy-coded data."""
    sos = data.index(b"\xff\xda")
    first_scan = sos + 2 + int.from_bytes(data[sos + 2 : sos + 4], "big")
    cuts = set(range(first_scan + 1)) | set(range(first_scan, len(data), 23))
    for i in range(first_scan, len(data) - 1):
        if data[i] == 0xFF and data[i + 1] != 0 and not 0xD0 <= data[i + 1] <= 0xD7:
            cuts.update(range(i, i + 8))
    return sorted(c for c in cuts if c < len(data))


@pytest.mark.parametrize("lane", sorted(TRUNCATION_LANES))
def test_truncated_stream_decodes_or_raises_value_error(lane):
    """A truncated payload either decodes (arithmetic scans read zeros
    past the end; progressive streams keep their finished scans) or
    raises ValueError — never struct.error / IndexError from a short
    segment, a cut length field or a missing restart segment (a legal
    but unsupported frame may raise NotImplementedError)."""
    data = TRUNCATION_LANES[lane]()
    for n in _truncation_points(data):
        try:
            decode_jpeg(data[:n])
        except (ValueError, NotImplementedError):
            pass


def _patched(data: bytes, marker: bytes, offset: int, value: int) -> bytes:
    """``data`` with the byte ``offset`` past the first ``marker`` set."""
    out = bytearray(data)
    out[data.index(marker) + offset] = value
    return bytes(out)


_PROG = encode_jpeg_progressive(_SQUARE, 80)


@pytest.mark.parametrize(
    "marker,offset,value,match",
    [
        (b"\xff\xda", 12, 64, "band end"),  # first scan's Se
        (b"\xff\xda", 5, 9, "unknown component"),
        (b"\xff\xc2", 11, 0x01, "sampling factor"),  # luma H = 0
        (b"\xff\xc4", 4, 0x05, "huffman table"),  # DC table 0 -> 5
        (b"\xff\xc2", 3, 8, "SOF segment too short"),
        (b"\xff\xc2", 12, 7, "quantization table"),  # luma Tq 7
    ],
    ids=["se", "component", "sampling", "dht", "sof_len", "dqt"],
)
def test_malformed_segments_raise_value_error(marker, offset, value, match):
    with pytest.raises(ValueError, match=match):
        decode_jpeg(_patched(_PROG, marker, offset, value))
