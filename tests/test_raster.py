"""viz/raster.py — PNG raster heat tiles (the vector→raster half of the
north_rule's raster↔vector loop)."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from geokitten_spark.functions.multimodal import decode_png
from geokitten_spark.oracles import raster_tiles_replica
from geokitten_spark.viz.raster import (
    point_pixel,
    raster_heat_tiles,
    render_heat_tile,
)


def test_point_pixel_hand_math():
    # z=0, one 64px tile worldwide
    gx, gy = point_pixel([-180.0, 0.0, 179.999], [0.0, 0.0, 0.0], 0, 64)
    assert gx.tolist() == [0, 32, 63]
    assert gy.tolist() == [32, 32, 32]  # equator is mid-tile
    # lon=180 exactly lands on the right edge and clamps into range
    gx, _ = point_pixel([180.0], [0.0], 0, 64)
    assert gx.tolist() == [63]
    # poles clamp to the web-mercator band, stay in [0, n)
    _, gy = point_pixel([0.0, 0.0], [90.0, -90.0], 3, 64)
    n = 64 << 3
    assert 0 <= gy[0] < n and 0 <= gy[1] < n
    assert gy[0] == 0 and gy[1] == n - 1


def test_point_pixel_zoom_shift_consistency():
    """A finest-zoom pixel right-shifted by dz must equal the pixel
    computed directly at the coarser zoom (the pyramid's invariant)."""
    rng = np.random.RandomState(7)
    lons = rng.uniform(-179, 179, 500)
    lats = rng.uniform(-84, 84, 500)
    gx3, gy3 = point_pixel(lons, lats, 3, 64)
    gx1, gy1 = point_pixel(lons, lats, 1, 64)
    assert np.array_equal(gx3 >> 2, gx1)
    assert np.array_equal(gy3 >> 2, gy1)


def test_render_heat_tile_gray_ramp():
    # pixel 0 has the max count -> 255; pixel 5 half -> 55 + 100 = 155
    blob = render_heat_tile([0, 5], [2, 1], 8)
    img = decode_png(blob)
    assert img.shape[:2] == (8, 8)
    img = img[..., 0]
    assert img[0, 0] == 255
    assert img[0, 5] == 155
    assert img[1:].sum() == 0 and img[0, 1:5].sum() == 0


def test_render_heat_tile_sums_duplicates():
    # duplicate pixel entries accumulate before normalization
    a = render_heat_tile([3, 3, 9], [1, 1, 2], 4)
    b = render_heat_tile([3, 9], [2, 2], 4)
    assert a == b
    # empty tile is all-zero
    img = decode_png(render_heat_tile([], [], 4))
    assert img.shape[:2] == (4, 4) and img.sum() == 0


def test_pixel_pack_guard():
    with pytest.raises(ValueError):
        raster_heat_tiles(None, zooms=(26, 3), tile_px=64)
    with pytest.raises(ValueError):
        raster_heat_tiles(None, zooms=(3,), tile_px=48)


def _synth_points(spark, n=400, parts=1):
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame(
        {
            "lon": rng.uniform(-170, 170, n),
            "lat": rng.uniform(-80, 80, n),
        }
    )
    return spark.createDataFrame(pdf).repartition(parts)


def test_raster_tiles_partitioning_invariance(spark):
    """Tile bytes are a pure function of the point multiset — the same
    input at 1 and 7 partitions renders identical (z,x,y)->md5 maps — and
    points with a NULL, NaN or ±Inf coordinate draw nothing."""
    def run(points):
        return _tiles(points, (3, 2), 64)

    finite = run(_synth_points(spark, parts=1))
    assert run(_synth_points(spark, parts=7)) == finite
    nan, inf = float("nan"), float("inf")
    bad = spark.createDataFrame(
        [(None, 10.0), (10.0, None), (nan, 10.0), (10.0, nan),
         (inf, 10.0), (-inf, 10.0), (10.0, inf), (10.0, -inf)],
        "lon double, lat double",
    )
    assert run(_synth_points(spark, parts=3).unionByName(bad)) == finite


def test_raster_tiles_pyramid_consistency(spark):
    """Every z=2 parent's n_points equals the sum over its four z=3
    children, and the total point count is conserved per level."""
    out = raster_heat_tiles(_synth_points(spark), zooms=(3, 2)).collect()
    by_level: dict = {2: {}, 3: {}}
    for r in out:
        by_level[r["z"]][(r["x"], r["y"])] = r["n_points"]
    assert sum(by_level[2].values()) == sum(by_level[3].values()) == 400
    for (px, py), n in by_level[2].items():
        kids = sum(
            by_level[3].get((px * 2 + dx, py * 2 + dy), 0)
            for dx in (0, 1)
            for dy in (0, 1)
        )
        assert kids == n
    # blobs decode as tile_px x tile_px grayscale with the tile max at 255
    img = decode_png(out[0]["png"])
    assert img.shape[:2] == (64, 64) and img.max() == 255


def _tiles(df, zooms, tile_px, **kw):
    return {
        (r["z"], r["x"], r["y"]): (r["n_points"], hashlib.md5(r["png"]).hexdigest())
        for r in raster_heat_tiles(df, zooms=zooms, tile_px=tile_px, **kw).collect()
    }


def _replica(*args, **kw):
    return {
        (z, x, y): (n, hashlib.md5(blob).hexdigest())
        for z, x, y, n, blob in raster_tiles_replica(*args, **kw)
    }


def test_raster_tiles_matches_driver_replica(spark):
    """Distributed render == the oracle-side numpy replica, byte for
    byte (the same check the strict harness does, on synthetic points)."""
    pts = _synth_points(spark, n=300, parts=5)
    pdf = pts.toPandas()
    assert _tiles(pts, (2,), 32) == _replica(pdf["lon"], pdf["lat"], (2,), 32)


def test_raster_tiles_huge_weights_and_bad_points_match_replica(spark):
    """On a multi-partition input whose weights reach 2^53 and beyond
    (where a float sum is inexact) and with NULL/NaN/±Inf coordinates and
    a NULL weight, every level equals the numpy replica's exact int64
    sums, and the bad points draw nothing."""
    rng = np.random.RandomState(5)
    n = 240
    lon = rng.uniform(-60, 60, n)
    lat = rng.uniform(-50, 50, n)
    lon[:40] = lon[40:80]  # coincident points share a pixel
    lat[:40] = lat[40:80]
    w = rng.randint(0, 1 << 20, n).astype(np.int64)
    w[::3] = (1 << 53) + rng.randint(1, 1 << 20, len(w[::3]))
    rows = [(float(a), float(b), int(c)) for a, b, c in zip(lon, lat, w)]
    rows[7] = (rows[7][0], rows[7][1], None)
    nan, inf = float("nan"), float("inf")
    bad = [(None, 1.0, 5), (1.0, None, 5), (nan, 1.0, 5), (1.0, nan, 5),
           (inf, 1.0, 5), (-inf, 1.0, 5), (1.0, inf, 5), (1.0, -inf, 5)]
    df = spark.createDataFrame(rows + bad, "lon double, lat double, w long").repartition(6)
    w[7] = 0
    want = _replica(lon, lat, (4, 3, 1), 16, weights=w)
    assert max(v[0] for v in want.values()) > 1 << 53
    assert _tiles(df, (1, 3, 4), 16, weight_col="w") == want


def test_raster_tiles_weighted_equals_replicated(spark):
    """A weight-w point renders byte-identically to w coincident
    unweighted points (the weighted aggregate is the same measure)."""
    import pyspark.sql.functions as F

    pts = _synth_points(spark, n=120, parts=3)
    weighted = pts.withColumn("w", (F.abs(F.hash("lon")) % 4 + 1).cast("long"))
    replicated = weighted.select(
        "lon", "lat", F.explode(F.sequence(F.lit(1), F.col("w"))).alias("_i")
    )

    assert _tiles(weighted, (2,), 32, weight_col="w") == _tiles(replicated, (2,), 32)
