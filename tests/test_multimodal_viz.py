"""Multimodal plumbing + visualization terminal tests (SURVEY §2.10;
training-data-pipeline media columns)."""

import numpy as np
import pytest

from geokitten_spark.functions.multimodal import (
    synthetic_media,
    image_features,
    frame_sample_features,
    resize_meta,
    _decode,
)
from geokitten_spark.viz import (
    TAB20,
    categorical_color_dict,
    ContinuousColormap,
    categorical_legend_html,
    render_categorical_choropleth,
    render_continuous_choropleth,
)
from tests.conftest import SF_SMOKE


# -- multimodal -------------------------------------------------------------

def test_media_schema_and_features(spark):
    media = synthetic_media(spark, SF_SMOKE, n_rows=30)
    assert [f.name for f in media.schema.fields] == ["media_id", "kind", "payload", "meta"]
    feats = image_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        v = np.asarray(r.embedding, dtype=np.float64)
        assert v.shape == (64,)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-5

    # determinism: second run identical
    feats2 = image_features(media).collect()
    assert {r.media_id: tuple(r.embedding) for r in feats} == {
        r.media_id: tuple(r.embedding) for r in feats2
    }


def test_real_decode_raises_without_codec():
    with pytest.raises(NotImplementedError):
        _decode(b"xx", 4, 4, fake=False)


def test_frame_sampling_rowcount(spark):
    media = synthetic_media(spark, SF_SMOKE, n_rows=30)
    vids = media.filter("kind = 'video'").select("media_id", "meta.n_frames").collect()
    expect = sum((r.n_frames + 4) // 5 for r in vids)
    frames = frame_sample_features(media, every_k=5)
    assert frames.count() == expect


def test_resize_meta_sql_only(spark):
    media = synthetic_media(spark, SF_SMOKE, n_rows=10)
    out = resize_meta(media, max_side=20).select("meta.*", "resized_meta.*").collect()
    for r in out:
        w2, h2 = r[4], r[5]
        assert max(w2, h2) <= 20
        assert w2 >= 1 and h2 >= 1
    # resize_meta itself adds no Python stage — and when the payload column
    # is pruned, Catalyst must also prune the fixture's PPM-encode UDF
    # entirely (column pruning reaches through the Arrow projection)
    plan = (
        resize_meta(media.select("media_id", "meta"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "ArrowEval" not in plan


# -- viz ---------------------------------------------------------------------

def test_categorical_palette_semantics():
    # numeric sorted
    d = categorical_color_dict([3, 1, 2])
    assert list(d.keys()) == [1, 2, 3]
    assert list(d.values()) == TAB20[:3]
    # string first-seen order
    d = categorical_color_dict(["b", "a"])
    assert list(d.keys()) == ["b", "a"]
    # single custom broadcasts
    d = categorical_color_dict(["a", "b"], "custom", ["#ff0000"])
    assert set(d.values()) == {"#ff0000"}
    # short custom cycles
    d = categorical_color_dict(["a", "b", "c"], "custom", ["#ff0000", "#00ff00"])
    assert list(d.values()) == ["#ff0000", "#00ff00", "#ff0000"]
    # >20 values extend deterministically with distinct colors
    d1 = categorical_color_dict(list(range(30)))
    d2 = categorical_color_dict(list(range(30)))
    assert d1 == d2
    assert len(set(d1.values())) == 30


def test_continuous_colormap_bounds():
    cm = ContinuousColormap(0.0, 100.0)
    assert cm(0.0) == cm.colors[0]
    assert cm(100.0) == cm.colors[255]
    assert cm(-5) == cm.colors[0] and cm(200) == cm.colors[255]
    assert len(set(cm.colors)) > 100


def test_choropleth_html_end_to_end(spark):
    """Distributed tile aggregate → driver render (the V1/V2 lifecycle)."""
    from geokitten_spark.fixtures import admin_polygons
    from pyspark.sql import functions as F

    adm = admin_polygons(spark, 24).select(
        "region_id", "region", "population", "geometry_wkt"
    )
    pdf = adm.toPandas()
    html = render_categorical_choropleth(
        pdf, "region", tooltip_columns=["region_id", "region", "population"],
        title="zones",
    )
    assert "<svg" in html and "polygon" in html and "zones" in html
    assert "#1f77b4" in html  # tab20[0] used
    html2 = render_continuous_choropleth(pdf, "population")
    assert "<svg" in html2 and "population" in html2
    # missing-key default
    leg = categorical_legend_html({"x": "#123456"}, "col")
    assert "#123456" in leg and "col" in leg


def test_tooltip_cap_warning(capsys):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "geometry_wkt": ["POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))"],
            **{f"c{i}": [i] for i in range(10)},
            "k": ["a"],
        }
    )
    render_categorical_choropleth(pdf, "k", tooltip_columns=[f"c{i}" for i in range(10)])
    assert "only the first 8" in capsys.readouterr().out


def test_hex_color_validation():
    from geokitten_spark.viz.choropleth import validate_hex_colors

    assert validate_hex_colors(["#ff0000", "#ABC123"]) == ["#ff0000", "#ABC123"]
    for bad in (["ff0000"], ["#gg0000"], ["#12 456"]):
        with pytest.raises(ValueError, match="Invalid hex color code"):
            validate_hex_colors(bad)
    with pytest.raises(ValueError):
        categorical_color_dict(["a"], "custom", ["red"])


def test_continuous_choropleth_rejects_non_numeric():
    import pandas as pd
    import pytest as _pytest

    from geokitten_spark.viz.choropleth import render_continuous_choropleth

    pdf = pd.DataFrame(
        {"geometry_wkt": ["POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))"], "v": ["abc"]}
    )
    with _pytest.raises(ValueError, match="must be numeric"):
        render_continuous_choropleth(pdf, "v")


def test_ppm_codec_roundtrip_and_comments():
    import numpy as np

    from geokitten_spark.functions.multimodal import encode_ppm, decode_ppm

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    assert (decode_ppm(encode_ppm(img)) == img).all()

    # spec features: '#' comments in the header, P5 grayscale -> replicated
    gray = rng.integers(0, 256, size=(4, 6), dtype=np.uint8)
    p5 = b"P5\n# a comment\n6 4\n# another\n255\n" + gray.tobytes()
    out = decode_ppm(p5)
    assert out.shape == (4, 6, 3) and (out[:, :, 0] == gray).all()
    assert (out[:, :, 1] == out[:, :, 2]).all()

    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_ppm(b"JFIFnotppm")


def test_image_rows_really_decode(spark):
    """Fixture image payloads cycle PNG / P6 / baseline JPEG /
    progressive JPEG / Adam7 PNG / 16-bit PNG / 12-bit JPEG /
    arithmetic JPEG / lossless JPEG / hierarchical JPEG /
    progressive-arith JPEG / lossless-arith JPEG / hierarchical-arith
    JPEG / progressive-to-lossless pyramid by (id//3) % 14;
    image_features must go through the REAL decode (pixel histogram of
    the decoded image), bit-equal to decoding the payload driver-side."""
    import numpy as np

    from geokitten_spark.functions.jpeg import decode_jpeg
    from geokitten_spark.functions.multimodal import (
        synthetic_media, image_features, decode_ppm, decode_png, _features_of,
        _PNG_SIG,
    )
    from tests.conftest import SF_SMOKE

    media = synthetic_media(spark, SF_SMOKE, n_rows=120)
    img_rows = media.filter("kind = 'image'").collect()
    assert img_rows
    def _ihdr(p, field):  # field: 8=depth offset, 12=interlace offset
        return p[16 + field]

    sigs = {
        0: lambda p: p[:8] == _PNG_SIG and _ihdr(p, 8) == 8 and _ihdr(p, 12) == 0,
        1: lambda p: p[:2] == b"P6",
        2: lambda p: p[:2] == b"\xff\xd8" and b"\xff\xc0" in p,  # baseline
        3: lambda p: p[:2] == b"\xff\xd8" and b"\xff\xc2" in p,  # progressive
        4: lambda p: p[:8] == _PNG_SIG and _ihdr(p, 12) == 1,  # Adam7
        5: lambda p: p[:8] == _PNG_SIG and _ihdr(p, 8) == 16,  # 16-bit
        # 12-bit extended sequential: SOF1 with precision byte 12
        6: lambda p: p[:2] == b"\xff\xd8" and b"\xff\xc1" in p
        and p[p.index(b"\xff\xc1") + 4] == 12,
        # sequential arithmetic: SOF9 + a DAC conditioning segment
        7: lambda p: p[:2] == b"\xff\xd8" and b"\xff\xc9" in p
        and b"\xff\xcc" in p and b"\xff\xc4" not in p,
        # lossless: SOF3, no DQT (no quantization in the process)
        8: lambda p: p[:2] == b"\xff\xd8" and b"\xff\xc3" in p
        and b"\xff\xdb" not in p,
        # hierarchical: DHP pyramid header + huffman SOF0/SOF5 frames
        9: lambda p: p[:2] == b"\xff\xd8" and p[2:4] == b"\xff\xde"
        and b"\xff\xc5" in p and b"\xff\xc4" in p,
        # progressive arithmetic: SOF10 + DAC, no huffman tables
        10: lambda p: p[:2] == b"\xff\xd8" and b"\xff\xca" in p
        and b"\xff\xcc" in p and b"\xff\xc4" not in p,
        # lossless arithmetic: SOF11 + DAC, no DQT
        11: lambda p: p[:2] == b"\xff\xd8" and b"\xff\xcb" in p
        and b"\xff\xcc" in p and b"\xff\xdb" not in p,
        # hierarchical arithmetic: DHP + SOF9 base + SOF13 differential
        12: lambda p: p[:2] == b"\xff\xd8" and p[2:4] == b"\xff\xde"
        and b"\xff\xcd" in p and b"\xff\xcc" in p and b"\xff\xc4" not in p,
        # progressive-to-lossless pyramid: SOF14 stages + SOF15 final
        13: lambda p: p[:2] == b"\xff\xd8" and p[2:4] == b"\xff\xde"
        and b"\xff\xce" in p and b"\xff\xcf" in p and b"\xff\xc4" not in p,
    }
    seen = set()
    for r in img_rows:
        flavor = (r.media_id // 3) % 14
        assert sigs[flavor](bytes(r.payload))
        seen.add(flavor)
    assert seen == set(range(14))  # all formats present across the fixture

    feats = {r.media_id: r.embedding for r in image_features(media).collect()
             if r.kind == "image"}
    for r in img_rows:
        p = bytes(r.payload)
        if p[:8] == _PNG_SIG:
            dec = decode_png(p)
        elif p[:2] == b"P6":
            dec = decode_ppm(p)
        else:
            dec = decode_jpeg(p)
        expected = _features_of(dec)
        got = np.asarray(feats[r.media_id], dtype=np.float32)
        assert np.array_equal(got, expected)


def test_png_codec_roundtrip_all_filters():
    """encode_png cycles all five filter types per row; decode must invert
    each exactly for gray / RGB / RGBA."""
    import numpy as np

    from geokitten_spark.functions.multimodal import decode_png, encode_png

    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, (13, 9, 3), dtype=np.uint8)
    assert (decode_png(encode_png(rgb)) == rgb).all()
    gray = rng.integers(0, 256, (11, 7), dtype=np.uint8)
    out = decode_png(encode_png(gray))
    assert (out[:, :, 0] == gray).all() and (out[:, :, 1] == gray).all()
    rgba = rng.integers(0, 256, (8, 6, 4), dtype=np.uint8)
    assert (decode_png(encode_png(rgba)) == rgba[:, :, :3]).all()


def test_png_codec_rejects_bad_payloads():
    import struct
    import zlib

    import pytest

    from geokitten_spark.functions.multimodal import decode_png, encode_png, _PNG_SIG
    import numpy as np

    with pytest.raises(ValueError):
        decode_png(b"notapng")
    # corrupt a CRC
    good = bytearray(encode_png(np.zeros((4, 4, 3), dtype=np.uint8)))
    good[-5] ^= 0xFF  # inside IEND CRC
    with pytest.raises(ValueError):
        decode_png(bytes(good))
    # 16-bit depth decodes since round 4 (hand-built zero image)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    idat_raw = zlib.compress(b"\x00" * 26)
    idat = (
        struct.pack(">I", len(idat_raw)) + b"IDAT" + idat_raw
        + struct.pack(">I", zlib.crc32(b"IDAT" + idat_raw) & 0xFFFFFFFF)
    )
    out = decode_png(_PNG_SIG + chunk + idat)
    assert out.shape == (2, 2, 3) and (out == 0).all()
    # truncated pixel data still fails loudly
    short = zlib.compress(b"\x00" * 20)
    idat_short = (
        struct.pack(">I", len(short)) + b"IDAT" + short
        + struct.pack(">I", zlib.crc32(b"IDAT" + short) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="length mismatch"):
        decode_png(_PNG_SIG + chunk + idat_short)


def test_h3_choropleth_end_to_end():
    """H3 tile aggregate → boundary WKT → continuous choropleth render:
    the raster→vector→viz lifecycle on true H3 ids (pure driver path)."""
    import numpy as np
    import pandas as pd

    from geokitten_spark.cells import h3core
    from geokitten_spark.viz.choropleth import render_continuous_choropleth

    rng = np.random.default_rng(5)
    lat = rng.uniform(-50, 50, 3000)
    lng = rng.uniform(-60, 60, 3000)
    cells = h3core.latlng_to_cell(lat, lng, 1)
    uniq, counts = np.unique(cells, return_counts=True)
    wkts = []
    for c in uniq:
        b = h3core.cell_to_boundary(c)
        pts = [f"{x:.7f} {y:.7f}" for y, x in b]
        pts.append(pts[0])
        wkts.append("POLYGON ((" + ", ".join(pts) + "))")
    pdf = pd.DataFrame(
        {
            "cell_id": uniq.astype(np.int64),
            "n_docs": counts.astype(np.int64),
            "geometry_wkt": wkts,
        }
    )
    html = render_continuous_choropleth(pdf, "n_docs", title="h3 density")
    assert "<svg" in html and "n_docs" in html and "h3 density" in html
    assert html.count("<polygon") == len(pdf)


def test_png_adam7_16bit_palette_roundtrips():
    """Round 4 PNG variants: Adam7 de-interlace (gray/RGB/RGBA), 16-bit
    high-byte reduction, palette at depths 1/2/4/8 — all exact, across
    sizes that exercise empty and partial interlace passes."""
    import numpy as np

    from geokitten_spark.functions.multimodal import (
        decode_png,
        encode_png16,
        encode_png_adam7,
        encode_png_palette,
    )

    rng = np.random.default_rng(11)
    for (h, w) in [(1, 1), (2, 3), (8, 8), (9, 10), (33, 31)]:
        rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
        rgba = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        assert (decode_png(encode_png_adam7(rgb)) == rgb).all()
        assert (
            decode_png(encode_png_adam7(gray))
            == np.repeat(gray[:, :, None], 3, 2)
        ).all()
        assert (decode_png(encode_png_adam7(rgba)) == rgba[:, :, :3]).all()
        assert (decode_png(encode_png16(rgb)) == rgb).all()
        for d in (1, 2, 4, 8):
            n = 1 << min(d, 4)
            pal = rng.integers(0, 256, (n, 3), dtype=np.uint8)
            idx = rng.integers(0, n, (h, w), dtype=np.uint8)
            assert (decode_png(encode_png_palette(idx, pal, d)) == pal[idx]).all()


# sha256 of each PNG encoder's bytes on seeded images (gray, RGB, RGBA,
# 1x1, one row, odd widths, a 64x64 heat-tile-sized gray), pinned so a
# change to the scanline filter or the chunk writer cannot move a byte
_PNG_GOLDEN = {
    "encode_png/gray": "76ace8f471296d595e571031626957127c4454d484d3bc91909625ffc7e064c9",
    "encode_png_adam7/gray": "e426a7a44f5b32f8c45876faf1822578b372c011f1014c3da402142ec2c08f62",
    "encode_png16/gray": "7b23983813afbcc47969e7fb77ad96e1b8e03f5f786c850e51528ce3550ac9e8",
    "encode_png/rgb": "8a38fab50331f8a96bbb90ebab723ca20a0e41d8f3b7bc213fbe46776c3b9262",
    "encode_png_adam7/rgb": "b8d09f6e9f245af5f275a9cd79b16491514c9077535882b8015e2fb01f94e45d",
    "encode_png16/rgb": "a8a97f7f79ddeed14ace794aeb1a468c42fcfb028ae3bdd11088c23a834bfee7",
    "encode_png/rgba": "7e4aca65ff0707e5d0b1c4325839f0da07772a569648aff20c9c7333efd53426",
    "encode_png_adam7/rgba": "789b1f9fad804e97f831c9030270f3989de25b9904ddb4b680c0ea181a062b9c",
    "encode_png16/rgba": "53243f583deb3b3353796151ad7835886a11f162c202a2b082124f4c1cd96b01",
    "encode_png/one": "046fb18b8504ac547779957434137df73f4534995d018fc359c287b743892805",
    "encode_png_adam7/one": "4dd0a473906085c20bf14f90bd62538c6e075efdccf1e4b3e4010d2f85ac9e31",
    "encode_png16/one": "39a780a55f0b7220d7d49dc275a3312fe8eae1978d4aa31321f0255c2a7c7f66",
    "encode_png/row": "b64be028b1034c733eb4549680f8c1b79ed87fc159a9954f9f12597f4a7fe283",
    "encode_png_adam7/row": "246e27dd90ea7ec79aaed38571e11d86c5db073ede718ba57b6f371461fe259c",
    "encode_png16/row": "6d5d8bafd5af318bf5c62539235eef7925aa68ed4496b66e3fad92c9258aa48c",
    "encode_png/odd": "edcdfe0c7c940287c74f5e37584cfe77f4021a4bd5770fbb530e954c46a165b3",
    "encode_png_adam7/odd": "0b7aa46ef069a629d0af81ce53f43ee45002d2210f419e4f1613eec9dab2cc10",
    "encode_png16/odd": "67a9c6e6fe19379ca13e801d7e72f64037f84bb9ec07d06052a8a466199a5b27",
    "encode_png/oddrgba": "a55877a7b067e27039ae3d21a955b16bf4c2ad1cd56f17fd4e29e0c03b568162",
    "encode_png_adam7/oddrgba": "52d212e015a258e9bf7c28a8abd89cefa7c83a432d2343b3c64ff40c96b52610",
    "encode_png16/oddrgba": "aac60e3d91756df3e6432f62ea485d05f92f8c1fe3f405e32eb0a30c7d344f8d",
    "encode_png/tile": "9b7079820997af5837127b2ed149e2b3fcb5588d38965f0fa8df7f859011436d",
    "encode_png_adam7/tile": "2a9730f974da0249b4de0762e27cfca0feb610434862f71d814eca10cd49941a",
    "encode_png16/tile": "cac8e0dbc9ba76504b4aecaa6da6468e0ff0851648427cd0c4814b3101d261e5",
    "encode_png_palette1/one": "1573553dea0b485c473cf2e60c4ef29d2ed60f1c02034bf7ff291fe1424ee128",
    "encode_png_palette1/row": "646adaaa1430d9bd70af487743ee5da4a27a3c6a24030d372f632e4218feceea",
    "encode_png_palette1/odd": "4e8759d7f545225370691bfc7e2f861c9a6f1720afe163f9ae21aefd9def3d54",
    "encode_png_palette2/one": "53a72f69433220bf1bad43fcd7076bed6d5d5e43f2b31e16402818f6b07a9077",
    "encode_png_palette2/row": "b24e36435f88f76c09ae364c6ff812db14534e6a8cfc07fddfac85547367c6eb",
    "encode_png_palette2/odd": "2e75dc9ae28fac4a834327c2d7425e22558bafc36f432e508447dfed92edcad3",
    "encode_png_palette4/one": "6ca75acb3262c806263c4558ef9b708d42786dee76357a661bc346b1a89c95ea",
    "encode_png_palette4/row": "b93a4e3de6c66060aac83deeab74f1b15d4ce09bbafd729b5172c1eb8554f8f0",
    "encode_png_palette4/odd": "6c773629dc68965a073c07f1d21470a4afd4ff1c0053c55257f4e96ee94af861",
    "encode_png_palette8/one": "07c3396e0de4e1d06eab8093739cd65983aedcbf181a2591809bfed1e77862dc",
    "encode_png_palette8/row": "6c5777e8ec32a9d20a4bf3ebbcbbea30188c76706b2e0120922935195d76cc1e",
    "encode_png_palette8/odd": "920b65ed7e9d20bae710072071988e844e2a030ecb5431d030ce7335ec37fb8e",
}


def _png_golden_cases():
    import numpy as np

    from geokitten_spark.functions.multimodal import (
        encode_png,
        encode_png16,
        encode_png_adam7,
        encode_png_palette,
    )

    rng = np.random.RandomState(20)
    for name, shape in [("gray", (13, 7)), ("rgb", (9, 11, 3)), ("rgba", (10, 5, 4)),
                        ("one", (1, 1)), ("row", (1, 17, 3)), ("odd", (7, 33)),
                        ("oddrgba", (6, 3, 4)), ("tile", (64, 64))]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        for enc in (encode_png, encode_png_adam7, encode_png16):
            yield f"{enc.__name__}/{name}", enc(img)
    rng = np.random.RandomState(21)
    for d in (1, 2, 4, 8):
        for name, shape in [("one", (1, 1)), ("row", (1, 13)), ("odd", (9, 7))]:
            pal = rng.randint(0, 256, (1 << d, 3)).astype(np.uint8)
            idx = rng.randint(0, 1 << d, shape).astype(np.uint8)
            yield f"encode_png_palette{d}/{name}", encode_png_palette(idx, pal, d)


def test_png_encoders_golden_sha256():
    from hashlib import sha256

    got = {k: sha256(blob).hexdigest() for k, blob in _png_golden_cases()}
    assert got == _PNG_GOLDEN


def test_png_subbyte_gray_and_guards():
    """Sub-byte grayscale decodes with left-bit-replication scaling;
    illegal depth/color combos and bad methods fail loudly."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from geokitten_spark.functions.multimodal import (
        _PNG_SIG,
        _png_chunk,
        _png_filter_scanlines,
        decode_png,
    )

    rng = np.random.default_rng(5)
    for depth, scale in [(1, 255), (2, 85), (4, 17)]:
        vals = rng.integers(0, 1 << depth, (6, 11), dtype=np.uint8)
        bits = (
            (vals[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
        ).reshape(6, 11 * depth).astype(np.uint8)
        pad = (-bits.shape[1]) % 8
        rows = np.packbits(
            np.pad(bits, ((0, 0), (0, pad))), axis=1
        ).astype(np.int64)
        ihdr = struct.pack(">IIBBBBB", 11, 6, depth, 0, 0, 0, 0)
        p = (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(_png_filter_scanlines(rows, 1), 6))
            + _png_chunk(b"IEND", b"")
        )
        got = decode_png(p)
        assert (got == np.repeat((vals * scale)[:, :, None], 3, 2)).all()

    def mk(depth, color, interlace=0, comp=0, filt=0):
        ihdr = struct.pack(">IIBBBBB", 1, 1, depth, color, comp, filt, interlace)
        body = _png_filter_scanlines(np.zeros((1, 1), dtype=np.int64), 1)
        return (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(body, 6))
            + _png_chunk(b"IEND", b"")
        )

    with pytest.raises(ValueError, match="illegal"):
        decode_png(mk(4, 2))  # RGB at depth 4 is not a legal combo
    with pytest.raises(ValueError, match="missing PLTE"):
        decode_png(mk(8, 3))
    with pytest.raises(ValueError, match="interlace"):
        decode_png(mk(8, 0, interlace=2))
    with pytest.raises(ValueError, match="compression/filter"):
        decode_png(mk(8, 0, filt=1))
