"""Cell-index layer tests: S2 self-consistency + grid/hex exactness."""

import numpy as np
import pytest

from geokitten_spark.cells import (
    s2,
    grid_cell,
    grid_decode,
    grid_kring,
    hex_cell,
    hex_decode,
    hex_kring,
    hex_center,
)


RNG = np.random.default_rng(42)
LATS = RNG.uniform(-85, 85, 500)
LNGS = RNG.uniform(-180, 180, 500)


# ---- S2 ------------------------------------------------------------------

@pytest.mark.parametrize("level", [0, 3, 8, 12, 20, 30])
def test_s2_roundtrip_center_stable(level):
    """center(cell(p)) must re-encode to the same cell at every level."""
    cells = s2.lat_lng_to_cell(LATS, LNGS, level)
    clat, clng = s2.cell_to_lat_lng(cells)
    cells2 = s2.lat_lng_to_cell(clat, clng, level)
    np.testing.assert_array_equal(cells, cells2)


def test_s2_level_decode():
    for level in [0, 5, 10, 17, 30]:
        cells = s2.lat_lng_to_cell(LATS[:50], LNGS[:50], level)
        np.testing.assert_array_equal(s2.cell_level(cells), level)


def test_s2_parent_contains_child():
    child = s2.lat_lng_to_cell(LATS, LNGS, 12)
    par = s2.parent(child, 8)
    np.testing.assert_array_equal(s2.cell_level(par), 8)
    lo, hi = s2.cell_range(par)
    assert np.all((child >= lo) & (child <= hi))


def test_s2_children_partition_parent():
    cells = s2.lat_lng_to_cell(LATS[:20], LNGS[:20], 6)
    kids = s2.children(cells)
    assert kids.shape == (20, 4)
    np.testing.assert_array_equal(s2.cell_level(kids.ravel()), 7)
    for n in range(20):
        plo, phi = s2.cell_range(cells[n : n + 1])
        klo, khi = s2.cell_range(kids[n])
        assert klo.min() == plo[0] and khi.max() == phi[0]
        # children ranges are disjoint and ordered
        order = np.argsort(klo)
        assert np.all(khi[order][:-1] < klo[order][1:])


def test_s2_distinct_faces_covered():
    cells = s2.lat_lng_to_cell(LATS, LNGS, 30)
    faces = cells.view(np.uint64) >> np.uint64(61)
    assert set(faces.tolist()) == {0, 1, 2, 3, 4, 5}


def test_s2_edge_neighbors_same_level_and_adjacent():
    cells = s2.lat_lng_to_cell(LATS[:100], LNGS[:100], 10)
    nb = s2.edge_neighbors(cells)
    assert nb.shape == (100, 4)
    np.testing.assert_array_equal(s2.cell_level(nb.ravel()), 10)
    # neighbors differ from the cell and from each other
    for n in range(100):
        ids = set(nb[n].tolist())
        assert len(ids) == 4
        assert cells[n] not in ids
    # adjacency: neighbor centers are ~one cell size away
    clat, clng = s2.cell_to_lat_lng(cells)
    nlat, nlng = s2.cell_to_lat_lng(nb[:, 1])
    dist = np.hypot(nlat - clat, (nlng - clng + 180) % 360 - 180)
    assert np.all(dist < 1.0)  # level 10 cell ≈ 0.09°


def test_s2_kring_counts():
    cells = s2.lat_lng_to_cell(np.array([6.2]), np.array([-75.5]), 9)
    rings = s2.all_neighbors(cells, k=1)
    assert len(rings) == 1
    assert len(rings[0]) == 9  # 3×3 block interior case
    assert cells[0] in rings[0]


def test_s2_deterministic():
    a = s2.lat_lng_to_cell(LATS, LNGS, 11)
    b = s2.lat_lng_to_cell(LATS.copy(), LNGS.copy(), 11)
    np.testing.assert_array_equal(a, b)


def test_s2_polygon_cover():
    rings = [np.array([[-75.8, 6.0], [-75.8, 6.5], [-75.2, 6.5], [-75.2, 6.0], [-75.8, 6.0]])]
    cover = s2.polygon_cover_cells(rings, level=9)
    assert len(cover) > 4
    # every covered cell center inside the (slightly padded) bbox
    clat, clng = s2.cell_to_lat_lng(cover)
    assert np.all((clng > -76.1) & (clng < -74.9) & (clat > 5.7) & (clat < 6.8))
    # the polygon's own sample points all land in covered cells
    pts_lat = np.array([6.1, 6.25, 6.45])
    pts_lng = np.array([-75.7, -75.5, -75.3])
    pcells = s2.lat_lng_to_cell(pts_lat, pts_lng, 9)
    assert set(pcells.tolist()) <= set(cover.tolist())


# ---- square grid ---------------------------------------------------------

def test_grid_cell_exact():
    cid = grid_cell(np.array([-180.0, 0.0, 179.99]), np.array([-90.0, 0.0, 89.99]), 4)
    res, ix, iy = grid_decode(cid)
    np.testing.assert_array_equal(res, 4)
    np.testing.assert_array_equal(ix, [0, 8, 15])
    np.testing.assert_array_equal(iy, [0, 8, 15])


def test_grid_matches_sql_formula():
    """numpy encode == the SQL string evaluated by DuckDB (the oracle path)."""
    import duckdb

    from geokitten_spark.cells import grid_cell_sql

    lon = RNG.uniform(-180, 180, 1000)
    lat = RNG.uniform(-90, 90, 1000)
    expected = grid_cell(lon, lat, 7)
    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"lon": lon, "lat": lat}))
    got = con.sql(f"select {grid_cell_sql('lon', 'lat', 7)} as c from pts").fetchnumpy()["c"]
    np.testing.assert_array_equal(np.sort(expected), np.sort(got))


def test_grid_kring_neighbors():
    cid = grid_cell(np.array([0.5]), np.array([0.5]), 8)
    ring = grid_kring(cid, k=1)
    assert ring.shape == (1, 9)
    assert len(set(ring[0].tolist())) == 9
    res, ix, iy = grid_decode(ring[0])
    assert ix.max() - ix.min() == 2 and iy.max() - iy.min() == 2


def test_grid_kring_wraps_antimeridian():
    cid = grid_cell(np.array([-179.9]), np.array([0.0]), 6)
    ring = grid_kring(cid, k=1)
    res, ix, iy = grid_decode(ring[0])
    assert 0 in ix and (1 << 6) - 1 in ix  # wrapped across the dateline


# ---- hex grid ------------------------------------------------------------

def test_hex_roundtrip():
    for res in [0, 3, 6, 10]:
        cells = hex_cell(LNGS, LATS, res)
        lon, lat = hex_center(cells)
        cells2 = hex_cell(lon, lat, res)
        np.testing.assert_array_equal(cells, cells2)


def test_hex_kring_count():
    cells = hex_cell(np.array([-75.5]), np.array([6.2]), 7)
    for k in [1, 2, 3]:
        ring = hex_kring(cells, k=k)
        assert ring.shape == (1, 1 + 3 * k * (k + 1))
        assert len(set(ring[0].tolist())) == 1 + 3 * k * (k + 1)


def test_hex_kring_centers_within_distance():
    cells = hex_cell(np.array([10.0]), np.array([20.0]), 6)
    ring = hex_kring(cells, k=2)
    lon0, lat0 = hex_center(cells)
    lon, lat = hex_center(ring[0])
    from geokitten_spark.cells.hexgrid import hex_resolution_size

    size = hex_resolution_size(6)
    d = np.hypot(lon - lon0[0], lat - lat0[0])
    assert np.all(d <= 2 * 2 * size + 1e-9)  # within k hex diameters


def test_hex_cells_partition_plane():
    """Every point maps to exactly one hex whose center is the nearest
    hex-center (cube rounding property)."""
    pts_lon = RNG.uniform(-20, 20, 200)
    pts_lat = RNG.uniform(-20, 20, 200)
    cells = hex_cell(pts_lon, pts_lat, 5)
    lon_c, lat_c = hex_center(cells)
    # distance to own center < circumradius (pointy-top: max dist = size)
    from geokitten_spark.cells.hexgrid import hex_resolution_size

    size = hex_resolution_size(5)
    d = np.hypot(pts_lon - lon_c, pts_lat - lat_c)
    assert np.all(d <= size + 1e-9)


def test_hex_parent_child_hierarchy():
    """H3-style hierarchy on the axial grid: every cell has exactly one
    parent; the parent contains the child's center; children() inverts
    parent()."""
    import numpy as np
    from geokitten_spark.cells.hexgrid import (
        hex_cell, hex_parent, hex_children, hex_center,
    )

    rng = np.random.default_rng(7)
    lon = rng.uniform(-170, 170, 50)
    lat = rng.uniform(-80, 80, 50)
    child = hex_cell(lon, lat, 8)
    parent = hex_parent(child, 6)
    # parent's re-encode of the child center must equal parent
    clon, clat = hex_center(child)
    assert np.array_equal(hex_cell(clon, clat, 6), parent)
    # determinism
    assert np.array_equal(hex_parent(child, 6), parent)
    # children inverts parent for a few cells
    for p in np.unique(parent)[:3]:
        kids = hex_children(np.array([p]), 8)[0]
        assert len(kids) > 0
        assert np.all(hex_parent(kids, 6) == p)
        # every original child of this parent is found
        mine = child[parent == p]
        assert set(mine.tolist()) <= set(kids.tolist())


# ---- exact SQL decode (ADVICE r1: double division flips FLOOR >= 2^53) ----

def test_grid_decode_sql_exact_at_high_res(spark):
    """grid_decode_sql must match the numpy bit-op decode for res>=27 ids
    (where the packed remainder exceeds 2^53 and a DOUBLE FLOOR can flip),
    identically in Spark SQL and DuckDB — and so must the kRing, parent
    and bounds builders that decode through it."""
    import duckdb
    import pyspark.sql.functions as F

    from geokitten_spark.cells.grid import (
        _grid_pack,
        grid_bounds_sql,
        grid_decode_sql,
        grid_kring_sql,
        grid_neighbor_sql,
        grid_parent_sql,
    )

    cells = [int(grid_cell(lon, -89.9999999, 28)) for lon in (-179.9, -1.0, 0.001, 179.9)]
    cells += [int(grid_cell(179.999, lat, 27)) for lat in (-89.99999, -0.001, 89.99999)]
    cells += [int(grid_cell(0.0, 0.0, 5))]
    res_e, ix_e, iy_e = grid_decode(np.asarray(cells, dtype=np.int64))
    expected = list(zip(res_e.tolist(), ix_e.tolist(), iy_e.tolist()))

    dec = grid_decode_sql("cell_id")
    sel = f"{dec['res']} AS r, {dec['ix']} AS x, {dec['iy']} AS y"

    sdf = spark.createDataFrame([(c,) for c in cells], ["cell_id"])
    got_spark = [(r.r, r.x, r.y) for r in sdf.selectExpr(*sel.split(", "))
                 .collect()]
    assert got_spark == expected

    con = duckdb.connect()
    got_duck = con.sql(
        f"SELECT {sel} FROM (SELECT unnest({cells}::BIGINT[]) AS cell_id)"
    ).fetchall()
    assert [tuple(map(int, t)) for t in got_duck] == expected

    # the kRing, parent and bounds builders over the same exact decode, in
    # Spark, across the antimeridian wrap and the pole clamp; the shared
    # neighbor pack in DuckDB too
    pts = [(-180.0, -90.0), (179.9999999999, 89.9999999999), (-180.0, 89.9999999999),
           (179.9999999999, -90.0), (-1.0, -89.99999), (0.001, 0.0), (123.4, 45.6)]
    for res in (27, 28):
        cells = [int(c) for c in grid_cell(*map(np.array, zip(*pts)), res)]
        _, ix, iy = grid_decode(np.asarray(cells, dtype=np.int64))
        sdf = spark.createDataFrame([(c,) for c in cells], "cell_id long")
        w, h = 360.0 / (1 << res), 180.0 / (1 << res)
        want_bounds = list(zip(-180.0 + ix * w, -90.0 + iy * h,
                               -180.0 + (ix + 1) * w, -90.0 + (iy + 1) * h))
        got = sdf.select(*[F.expr(e) for e in grid_bounds_sql("cell_id", res)]).collect()
        assert [tuple(r) for r in got] == want_bounds, res
        for p in (0, res - 5, res - 1):
            s = res - p
            got = [r[0] for r in sdf.select(F.expr(grid_parent_sql("cell_id", res, p))).collect()]
            assert got == _grid_pack(p, ix >> s, iy >> s).tolist(), (res, p)
        for k in (1, 2):
            want = [list(dict.fromkeys(row.tolist())) for row in grid_kring(cells, k)]
            got = [r[0] for r in sdf.select(F.expr(grid_kring_sql("cell_id", res, k))).collect()]
            assert got == want, (res, k)

        deltas = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
        duck = con.sql(
            f"SELECT i, {grid_neighbor_sql('cell_id', res, 'd.dx', 'd.dy')} "
            f"FROM (SELECT unnest({cells}::BIGINT[]) AS cell_id, "
            f"unnest(range({len(cells)})) AS i) c, (VALUES {deltas}) d(dx, dy) "
            f"ORDER BY i, dx, dy"
        ).fetchall()
        assert [int(r[1]) for r in duck] == grid_kring(cells, 1).ravel().tolist(), res


# ---------------------------------------------------------------------------
# Geohash (interoperable public cell ids)
# ---------------------------------------------------------------------------

def test_geohash_published_vectors():
    """Bit-for-bit agreement with the published geohash spec examples —
    the interoperability proof the H3 ADR could not provide offline."""
    from geokitten_spark.cells.geohash import geohash_encode, geohash_decode

    assert geohash_encode([10.40744], [57.64911], 11)[0] == "u4pruydqqvj"
    assert geohash_encode([-5.603], [42.605], 5)[0] == "ezs42"
    assert geohash_encode([0.0], [0.0], 1)[0] == "s"
    lon, lat = geohash_decode("ezs42")
    assert abs(lat - 42.605) < 0.03 and abs(lon + 5.603) < 0.03


def test_geohash_roundtrip_and_prefix():
    import numpy as np

    from geokitten_spark.cells.geohash import (
        geohash_bounds,
        geohash_encode,
    )

    rng = np.random.default_rng(11)
    lons = rng.uniform(-180, 180, 500)
    lats = rng.uniform(-90, 90, 500)
    h8 = geohash_encode(lons, lats, 8)
    h4 = geohash_encode(lons, lats, 4)
    # hierarchy: lower precision is a string prefix of higher
    assert all(h.startswith(p) for h, p in zip(h8, h4))
    # containment: the original point lies inside its cell bounds
    for lon, lat, h in zip(lons, lats, h8):
        x0, y0, x1, y1 = geohash_bounds(h)
        assert x0 <= lon < x1 + 1e-12
        assert y0 <= lat < y1 + 1e-12


def test_geohash_neighbors_symmetric():
    from geokitten_spark.cells.geohash import geohash_neighbors

    for h in ("ezs42", "u4pru", "s0000", "7zzzz"):
        for n in geohash_neighbors(h):
            assert len(n) == len(h)
            assert h in geohash_neighbors(n), (h, n)


def test_grid_dbscan_two_blobs_and_wrap(spark):
    """Two dense blobs separated by empty cells form two clusters; a
    sparse cell is dropped; cells adjacent across the antimeridian merge
    (lon wrap)."""
    from pyspark.sql import functions as F
    from geokitten_spark.operators.cluster import grid_dbscan
    from geokitten_spark.cells.grid import grid_cell

    res, mp = 4, 3
    # res 4 → 22.5° cells. Blob A: two adjacent cells near (0,0);
    # blob B: one cell far away; noise: 2 points only; wrap pair: cells at
    # lon -179 and +179 (ix 0 and 15) same iy.
    pts = []
    pts += [(1.0 + 0.1 * i, 1.0) for i in range(3)]        # cell A1
    pts += [(24.0 + 0.1 * i, 1.0) for i in range(3)]       # cell A2 (east neighbor)
    pts += [(100.0 + 0.1 * i, -40.0) for i in range(3)]    # blob B
    pts += [(60.0, 60.0), (60.1, 60.0)]                    # noise (< mp)
    pts += [(-179.5, 10.0 + 0.01 * i) for i in range(3)]   # wrap west
    pts += [(179.5, 10.0 + 0.01 * i) for i in range(3)]    # wrap east
    df = spark.createDataFrame(pts, "lon double, lat double")
    out = {r["cell_id"]: r for r in grid_dbscan(df, res=res, min_pts=mp).collect()}

    a1 = int(grid_cell([1.0], [1.0], res)[0])
    a2 = int(grid_cell([24.0], [1.0], res)[0])
    b = int(grid_cell([100.0], [-40.0], res)[0])
    noise = int(grid_cell([60.0], [60.0], res)[0])
    w_w = int(grid_cell([-179.5], [10.0], res)[0])
    w_e = int(grid_cell([179.5], [10.0], res)[0])

    assert noise not in out                      # below min_pts
    assert out[a1]["cluster_id"] == out[a2]["cluster_id"] == min(a1, a2)
    assert out[b]["cluster_id"] == b             # singleton cluster
    assert out[w_w]["cluster_id"] == out[w_e]["cluster_id"] == min(w_w, w_e)
    assert out[a1]["n_pts"] == 3


def test_grid_operators_take_any_column_name(spark):
    """The grid operators build Spark SQL over the caller's lon/lat column
    names, so a name ``F.col`` accepts but that is no bare SQL identifier
    (a space, a hyphen) and a dotted struct-field path give the same rows
    as plain ``lon``/``lat``."""
    from geokitten_spark.fixtures import bench_boundaries_pdf, web_documents
    from geokitten_spark.operators.cluster import grid_dbscan
    from geokitten_spark.operators.pip_join import PolygonCover, partitioned_pip_join, pip_join
    from geokitten_spark.operators.tile import adaptive_tiles, tile_distinct_rollup, tile_rollup
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE

    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    odd = docs.select("doc_id", F.col("lon").alias("lon deg"), F.col("lat").alias("lat-deg"))
    nested = docs.select("doc_id", F.struct("lon", "lat").alias("p"))
    bnd_pdf = bench_boundaries_pdf()
    kw = dict(id_col="region_key", wkt_col="geometry_wkt")
    cover = PolygonCover(spark, bnd_pdf, res=7, **kw)

    def ops(df, lon, lat):
        out = {
            "rollup": tile_rollup(df, lon, lat, [6, 4]),
            "distinct": tile_distinct_rollup(df, lon, lat, "doc_id", [6, 4]),
            "adaptive": adaptive_tiles(df, lon, lat, base_res=2, max_res=6, threshold=20),
            "dbscan": grid_dbscan(df, lon_col=lon, lat_col=lat, res=5, min_pts=3),
        }
        xy = dict(lon_col=lon, lat_col=lat)
        out["cover"] = cover.join(df, **xy).select("doc_id", "region_key")
        out["partitioned"] = partitioned_pip_join(
            df, spark.createDataFrame(bnd_pdf), res=7, **xy, **kw
        ).select("doc_id", "region_key")
        out["brute"] = pip_join(df, bnd_pdf, **xy, **kw).select("doc_id", "region_key")
        return {n: sorted(map(tuple, d.collect())) for n, d in out.items()}

    want = ops(docs, "lon", "lat")
    assert all(want.values())
    assert want["cover"] == want["partitioned"] == want["brute"]
    assert ops(odd, "lon deg", "lat-deg") == want
    assert ops(nested, "p.lon", "p.lat") == want


def test_morton_prefix_property_and_sql_parity():
    """morton(ix,iy) >> 2 == morton(ix>>1, iy>>1): a 2k-bit z-prefix IS
    the res-k ancestor quad; DuckDB evaluation of morton_sql is
    bit-identical to the numpy kernel."""
    import duckdb
    import numpy as np
    import pandas as pd
    from geokitten_spark.cells.grid import morton_code, morton_sql

    rng = np.random.default_rng(11)
    ix = rng.integers(0, 1 << 12, 1000)
    iy = rng.integers(0, 1 << 12, 1000)
    z = morton_code(ix, iy, 12)
    assert np.array_equal(z >> 2, morton_code(ix >> 1, iy >> 1, 11))
    assert np.array_equal(z >> 6, morton_code(ix >> 3, iy >> 3, 9))
    # z-order is a bijection on the grid square
    assert len(np.unique(morton_code(*np.meshgrid(np.arange(16), np.arange(16)), 4))) == 256

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"ix": ix, "iy": iy}))
    got = con.sql(f"SELECT {morton_sql('ix', 'iy', 12)} AS z FROM t").df()["z"]
    assert np.array_equal(got.to_numpy(), z)


def test_h3_parent_col_matches_kernel(spark):
    """The pure-JVM digit-truncation ancestor (functions.cells_udfs.
    h3_parent_col) must equal the numpy kernel cell_to_parent for every
    (child_res, parent_res) pair the compacted-cover probe uses."""
    import numpy as np
    import pyspark.sql.functions as F

    from geokitten_spark.cells import h3core as hc
    from geokitten_spark.functions.cells_udfs import h3_parent_col

    rng = np.random.default_rng(11)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 4000)))
    lng = rng.uniform(-180, 180, 4000)
    for child_res in (3, 5, 9):
        cells = hc.latlng_to_cell(lat, lng, child_res)
        sdf = spark.createDataFrame(
            [(int(np.int64(c)),) for c in cells], "cell bigint"
        )
        for parent_res in range(0, child_res):
            want = hc.cell_to_parent(cells, parent_res).astype(np.int64)
            got = np.array(
                [
                    r.p
                    for r in sdf.select(
                        h3_parent_col(F.col("cell"), child_res, parent_res).alias("p")
                    ).collect()
                ],
                dtype=np.int64,
            )
            assert np.array_equal(got, want), (child_res, parent_res)


def test_cell_encode_udfs_null_on_nonfinite(spark):
    """Every (lon, lat) cell encode — the UDFs, the grid Column and the
    grid SQL in Spark and DuckDB — is NULL where either coordinate is
    NULL, NaN or ±Inf, and equals its numpy kernel on the finite rows.
    The H3 cell → cell kernels keep those NULLs and the exact int64 ids
    of the finite rows when both share one Arrow batch."""
    import duckdb
    import pyspark.sql.functions as F

    from geokitten_spark.cells import h3core
    from geokitten_spark.cells.geohash import geohash_encode
    from geokitten_spark.cells.grid import grid_cell_sql
    from geokitten_spark.functions.cells_udfs import (
        geohash_cell,
        grid_cell_col,
        h3_boundary_wkt,
        h3_cell,
        h3_kring,
        h3_parent,
        hex_cell_udf,
        s2_cell,
    )

    nan, inf = float("nan"), float("inf")
    bad = [
        (None, 10.0), (10.0, None), (None, None), (nan, 10.0), (10.0, nan),
        (inf, 10.0), (-inf, 10.0), (10.0, inf), (10.0, -inf),
    ]
    good = [(0.0, 0.0), (12.5, 41.0), (-75.5, 6.2), (180.0, 0.0), (-180.0, -89.5)]
    rows = [(i, *p) for i, p in enumerate(bad + good)]
    df = spark.createDataFrame(rows, "i long, lon double, lat double")
    cols = {
        "h3": h3_cell(7),
        "s2": s2_cell(12),
        "hex": hex_cell_udf(6),
        "geohash": geohash_cell(6),
        "grid": lambda lon, lat: grid_cell_col(lon, lat, 5),
        "grid_sql": lambda lon, lat: F.expr(grid_cell_sql("lon", "lat", 5)),
    }
    got = df.select(
        "i", *[f(df.lon, df.lat).alias(n) for n, f in cols.items()]
    ).orderBy("i").collect()
    lon = np.array([p[0] for p in good])
    lat = np.array([p[1] for p in good])
    want = {
        "h3": h3core.latlng_to_cell(lat, lon, 7).astype(np.int64),
        "s2": s2.lat_lng_to_cell(lat, lon, 12).astype(np.int64),
        "hex": hex_cell(lon, lat, 6).astype(np.int64),
        "geohash": geohash_encode(lon, lat, 6),
        "grid": grid_cell(lon, lat, 5),
        "grid_sql": grid_cell(lon, lat, 5),
    }
    for n in cols:
        assert all(r[n] is None for r in got[: len(bad)]), n
        assert [r[n] for r in got[len(bad):]] == list(want[n]), n

    # NULL and finite H3 ids in ONE partition, so they share a batch
    h3 = df.coalesce(1).select("i", h3_cell(7)("lon", "lat").alias("h3"))
    kern = h3.select(
        "i",
        h3_parent(3)("h3").alias("parent"),
        h3_kring(1)("h3").alias("ring"),
        h3_boundary_wkt()("h3").alias("wkt"),
    ).orderBy("i").collect()
    assert all(r.parent is None and r.ring is None and r.wkt is None for r in kern[: len(bad)])
    ids = want["h3"].astype(np.uint64)
    fin = kern[len(bad):]
    assert [r.parent for r in fin] == h3core.cell_to_parent(ids, 3).astype(np.int64).tolist()
    rings = h3core.grid_disk_arrays(ids, 1)
    assert [r.ring for r in fin] == [d.astype(np.int64).tolist() for d in rings]
    for r, c in zip(fin, ids):
        pts = [f"{lng:.7f} {lat:.7f}" for lat, lng in h3core.cell_to_boundary(c)]
        assert r.wkt == "POLYGON ((" + ", ".join(pts + pts[:1]) + "))"

    def sql_double(v):
        return "NULL" if v is None else f"CAST('{v!r}' AS DOUBLE)"

    values = ", ".join(f"({i}, {sql_double(lo)}, {sql_double(la)})" for i, lo, la in rows)
    con = duckdb.connect()
    duck = con.sql(
        f"SELECT {grid_cell_sql('lon', 'lat', 5)} AS c "
        f"FROM (VALUES {values}) t(i, lon, lat) ORDER BY i"
    ).fetchall()
    assert [r[0] for r in duck] == [None] * len(bad) + list(want["grid"])
