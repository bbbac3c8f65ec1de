"""Mapbox Vector Tile codec + distributed tile sink (viz/mvt.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geokitten_spark.viz.mvt import (
    EXTENT,
    LINESTRING,
    POINT,
    POLYGON,
    _ring_commands,
    decode_mvt,
    encode_mvt_tile,
    lonlat_to_tile_px,
    mvt_cells,
    render_cells_tile,
    tile_of,
    unzigzag,
    zigzag,
)

from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# wire format vs the published spec (vector-tile-spec 2.1 §4.3.5)
# ---------------------------------------------------------------------------

def test_zigzag_roundtrip():
    for v in (0, 1, -1, 2, -2, 25, -4096, 2**40, -(2**40)):
        assert unzigzag(zigzag(v)) == v


def test_spec_example_point_commands():
    # Point(25, 17) encodes as [9, 50, 34]
    assert [(1 << 3) | 1, zigzag(25), zigzag(17)] == [9, 50, 34]
    blob = encode_mvt_tile(
        [("pts", [{"id": 1, "type": POINT, "rings": [[(25, 17)]]}])]
    )
    f = decode_mvt(blob)[0]["features"][0]
    assert f["rings"] == [[(25, 17)]] and f["type"] == POINT


def test_spec_example_polygon_commands():
    # MoveTo(3,6), LineTo(8,12), LineTo(20,34), ClosePath
    # -> [9, 6, 12, 18, 10, 12, 24, 44, 15]
    assert _ring_commands([(3, 6), (8, 12), (20, 34)], [0, 0]) == [
        9, 6, 12, 18, 10, 12, 24, 44, 15,
    ]


def test_layer_roundtrip_with_attr_pools():
    feats = [
        {"id": 7, "type": POLYGON,
         "rings": [[(0, 0), (0, 10), (10, 10), (10, 0)]],
         "attrs": {"n_docs": 42, "name": "a", "score": 1.5, "ok": True}},
        {"id": 8, "type": LINESTRING, "rings": [[(1, 1), (5, 5)]],
         "attrs": {"n_docs": 42}},
    ]
    blob = encode_mvt_tile([("cells", feats)])
    lay = decode_mvt(blob)[0]
    assert lay["name"] == "cells"
    assert lay["version"] == 2
    assert lay["extent"] == EXTENT
    a, b = lay["features"]
    assert a["id"] == 7 and a["attrs"] == feats[0]["attrs"]
    assert a["rings"] == feats[0]["rings"]
    assert b["rings"] == [[(1, 1), (5, 5)]] and b["attrs"] == {"n_docs": 42}
    # shared value 42 must appear once in the pool (pool-level dedup)
    assert blob.count(b"\x2a") >= 1  # sanity: the varint 42 exists


def test_exterior_rings_are_positive_area_y_down():
    blob = render_cells_tile(
        2, 1, 1, [(99, 5, -90.0, 0.0, -84.375, 2.8125)]
    )
    ring = decode_mvt(blob)[0]["features"][0]["rings"][0]
    s = 0
    for (x0, y0), (x1, y1) in zip(ring, ring[1:] + ring[:1]):
        s += x0 * y1 - x1 * y0
    assert s > 0  # spec §4.3.3.3: exterior ring = positive shoelace area


# ---------------------------------------------------------------------------
# projection
# ---------------------------------------------------------------------------

def test_projection_fixed_points():
    px, py = lonlat_to_tile_px([0.0], [0.0], 0, 0, 0)
    assert (px[0], py[0]) == (EXTENT // 2, EXTENT // 2)
    px, py = lonlat_to_tile_px([-180.0], [0.0], 0, 0, 0)
    assert (px[0], py[0]) == (0, EXTENT // 2)
    # mercator cut latitude maps to the top edge
    px, py = lonlat_to_tile_px([0.0], [85.0511287798066], 0, 0, 0)
    assert py[0] == 0
    tx, ty = tile_of([0.1], [0.1], 3)
    assert (tx[0], ty[0]) == (4, 3)


# ---------------------------------------------------------------------------
# distributed sink
# ---------------------------------------------------------------------------

def _corner_tiles(spark, sf_dir, extra=None):
    from geokitten_spark.cells.grid import RES_SHIFT, X_SHIFT
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.functions.cells_udfs import grid_cell_col

    docs = web_documents(spark, sf_dir).select("lon", "lat")
    if extra is not None:
        docs = docs.unionByName(extra)
    tiles = (
        docs.select(grid_cell_col(F.col("lon"), F.col("lat"), 6).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    ix = F.shiftright(F.col("cell_id"), X_SHIFT).bitwiseAND(
        F.lit((1 << (RES_SHIFT - X_SHIFT)) - 1)
    )
    iy = F.col("cell_id") % (1 << X_SHIFT)
    n = float(1 << 6)
    return tiles.select(
        "cell_id", "n_docs",
        (F.lit(-180.0) + ix * (360.0 / n)).alias("lon0"),
        (F.lit(-90.0) + iy * (180.0 / n)).alias("lat0"),
        (F.lit(-180.0) + (ix + 1) * (360.0 / n)).alias("lon1"),
        (F.lit(-90.0) + (iy + 1) * (180.0 / n)).alias("lat1"),
    )


def test_mvt_cells_blobs_decode_and_count(spark):
    corners = _corner_tiles(spark, SF_SMOKE)
    out = mvt_cells(corners, z=3).collect()
    assert sum(r.n_features for r in out) == corners.count()
    total_feats = 0
    for r in out:
        layers = decode_mvt(bytes(r.pbf))
        assert len(layers) == 1 and layers[0]["name"] == "cells"
        for f in layers[0]["features"]:
            assert f["type"] == POLYGON
            assert len(f["rings"]) == 1 and len(f["rings"][0]) == 4
            assert f["attrs"]["n_docs"] >= 1
            # tile-local coords stay within one extent of the tile box
            for x, y in f["rings"][0]:
                assert -EXTENT <= x <= 2 * EXTENT
                assert -EXTENT <= y <= 2 * EXTENT
        total_feats += len(layers[0]["features"])
    assert total_feats == corners.count()


def test_mvt_pyramid_levels_equal_per_level_renders(spark):
    """mvt_pyramid(zooms=(3,2,1)) must produce, per level, EXACTLY the
    blobs mvt_cells renders at that level (byte-identical), every cell
    appears once per level, and coarser levels have no more tiles."""
    from geokitten_spark.viz.mvt import mvt_pyramid

    corners = _corner_tiles(spark, SF_SMOKE)
    pyr = {
        (r.z, r.x, r.y): bytes(r.pbf)
        for r in mvt_pyramid(corners, zooms=(3, 2, 1)).collect()
    }
    n_cells = corners.count()
    for z in (3, 2, 1):
        single = {
            (z, r.x, r.y): bytes(r.pbf)
            for r in mvt_cells(corners, z=z).collect()
        }
        level = {k: v for k, v in pyr.items() if k[0] == z}
        assert level == single
        feats = sum(
            len(decode_mvt(v)[0]["features"]) for v in level.values()
        )
        assert feats == n_cells
    tiles_per_z = {z: sum(1 for k in pyr if k[0] == z) for z in (1, 2, 3)}
    assert tiles_per_z[1] <= tiles_per_z[2] <= tiles_per_z[3]

    # docs with a NULL, NaN or ±Inf coordinate share one NULL-cell_id
    # aggregate row, which draws nothing: the blobs equal the finite-only
    nan, inf = float("nan"), float("inf")
    bad = spark.createDataFrame(
        [(None, 10.0), (10.0, None), (nan, 10.0), (10.0, nan),
         (inf, 10.0), (-inf, 10.0), (10.0, inf), (10.0, -inf)],
        "lon double, lat double",
    )
    with_bad = _corner_tiles(spark, SF_SMOKE, extra=bad)
    assert with_bad.filter(F.col("cell_id").isNull()).count() == 1
    got = {
        (r.z, r.x, r.y): bytes(r.pbf)
        for r in mvt_pyramid(with_bad, zooms=(3, 2, 1)).collect()
    }
    assert got == pyr


def test_mvt_pyramid_partitioning_invariant_and_single_shuffle(spark):
    from geokitten_spark.viz.mvt import mvt_pyramid

    corners = _corner_tiles(spark, SF_SMOKE)
    a = {
        (r.z, r.x, r.y): bytes(r.pbf)
        for r in mvt_pyramid(corners, zooms=(3, 2)).collect()
    }
    b = {
        (r.z, r.x, r.y): bytes(r.pbf)
        for r in mvt_pyramid(corners.repartition(13), zooms=(3, 2)).collect()
    }
    assert a == b
    # one exchange keyed (z, x, y) feeds the render — not one per level
    plan = (
        mvt_pyramid(corners, zooms=(3, 2, 1))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 2  # agg + render keys


def test_mvt_cells_partitioning_invariant(spark):
    corners = _corner_tiles(spark, SF_SMOKE)
    a = {(r.z, r.x, r.y): bytes(r.pbf) for r in mvt_cells(corners, z=3).collect()}
    b = {
        (r.z, r.x, r.y): bytes(r.pbf)
        for r in mvt_cells(corners.repartition(13), z=3).collect()
    }
    assert a == b  # byte-identical blobs regardless of partitioning
