"""North-rule correctness gate: identical join output rows and tile
assignments across partitionings (BASELINE.json), plus the
extract(html) == text per-url byte invariant.

Parallelism-independence is exercised by varying the input partitioning
and spark.sql.shuffle.partitions inside the session (the quantities that
change between cluster sizes); bench.py --scaling additionally runs the
flagship at local[2] and local[8] in separate processes and the driver's
oracle check runs everything at its own parallelism — three independent
partitionings of the same plans.
"""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _flagship_rows(spark, n_parts: int, shuffle_parts: int):
    from geokitten_spark.fixtures import web_documents, admin_rects_pdf, bench_boundaries_pdf
    from geokitten_spark.operators.pip_join import pip_join, PolygonCover
    from geokitten_spark.functions.cells_udfs import grid_cell_col, s2_cell

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_parts))
    try:
        docs = (
            web_documents(spark, SF_SMOKE)
            .select("doc_id", "lon", "lat")
            .repartition(n_parts)
        )
        located = pip_join(
            docs, admin_rects_pdf(), id_col="n_nationkey", wkt_col="geometry_wkt"
        ).withColumn("cell_id", grid_cell_col(F.col("lon"), F.col("lat"), 7)) \
         .withColumn("s2_cell", s2_cell(9)(F.col("lon"), F.col("lat")))
        join_rows = frozenset(
            (r.doc_id, r.n_nationkey, r.cell_id, r.s2_cell) for r in located.collect()
        )
        cover = PolygonCover(
            spark, bench_boundaries_pdf(), id_col="region_key",
            wkt_col="geometry_wkt", res=9,
        )
        cover_rows = frozenset(
            (r.doc_id, r.region_key) for r in cover.join(docs).collect()
        )
        return join_rows, cover_rows
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_identical_results_across_partitionings(spark):
    """2-partition/4-shuffle vs 16-partition/32-shuffle: identical join
    rows and tile assignments from both PIP operators."""
    a_join, a_cover = _flagship_rows(spark, n_parts=2, shuffle_parts=4)
    b_join, b_cover = _flagship_rows(spark, n_parts=16, shuffle_parts=32)
    assert a_join == b_join and len(a_join) > 0
    assert a_cover == b_cover and len(a_cover) > 0


def test_repeat_run_identical(spark):
    a = _flagship_rows(spark, n_parts=8, shuffle_parts=8)
    b = _flagship_rows(spark, n_parts=8, shuffle_parts=8)
    assert a == b


def test_cover_refine_left_matches_brute_left(spark):
    """VERDICT r1 item 8: cover_refine_pip_join(how='left') must equal
    pip_join(how='left') — matched (doc, region) pairs identical AND every
    unmatched doc retained exactly once with a null region id."""
    from geokitten_spark.fixtures import web_documents, bench_boundaries_pdf
    from geokitten_spark.operators.pip_join import pip_join, cover_refine_pip_join

    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    bnd = bench_boundaries_pdf()
    brute = pip_join(
        docs, bnd, id_col="region_key", wkt_col="geometry_wkt", how="left"
    )
    cover = cover_refine_pip_join(
        docs, bnd, id_col="region_key", wkt_col="geometry_wkt", res=9, how="left"
    )
    b = sorted((r.doc_id, r.region_key) for r in brute.collect())
    c = sorted((r.doc_id, r.region_key) for r in cover.collect())
    assert b == c and len(b) >= docs.count()
    assert any(k is None for _, k in b)  # fixture really has unmatched docs


def test_extract_invariant_per_url(spark):
    """input_hint gate: extract(html) == text, byte-identical per url."""
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.functions.text import extract_text

    docs = web_documents(spark, SF_SMOKE)
    bad = docs.filter(extract_text(F.col("html")) != F.col("text"))
    assert bad.count() == 0
    assert docs.count() > 0


def test_new_query_results_shuffle_partition_independent(spark):
    """Round-2 queries with window/dedup/UDF stages return identical rows
    at shuffle.partitions 4 vs 32 (partition-dependence is the classic
    failure mode for window ranks, Arrow batch kernels, and argmin
    quantizers)."""
    import __spark_entry__ as entrymod

    Q = entrymod.queries()
    names = [
        "corpus_filter", "pii_redact", "geohash_rollup", "simplify_tiles",
        "hull_compactness", "ann_pq_topk", "window_lag_delta",
        "tpch_q17_scalar_subquery",
        # continuation-session additions: fold-based signals, df joins,
        # component labels, top-k windows, quadtree splits
        "quality_repetition", "dedup_span_coverage", "contamination_check",
        "grid_dbscan", "tfidf_top_terms", "adaptive_tiles",
        "web_pip_rect_part", "tpch_q10_returns",
    ]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in ("4", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in names:
                pdf = Q[n](spark, SF_SMOKE).toPandas()
                pdf = pdf[sorted(pdf.columns)].astype(str)
                key = frozenset(map(tuple, pdf.itertuples(index=False)))
                results.setdefault(n, []).append(key)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n, (a, b) in results.items():
        assert a == b and len(a) > 0, n


def test_partitioned_pip_matches_brute(spark):
    """partitioned_pip_join (no broadcast, distributed cover, co-located
    refine) must equal pip_join exactly — inner AND left — on the
    overlapping 24-gon fixture where docs hit 1-4 candidate polygons."""
    from geokitten_spark.fixtures import web_documents, bench_boundaries_pdf
    from geokitten_spark.operators.pip_join import pip_join, partitioned_pip_join

    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    bnd_pdf = bench_boundaries_pdf()
    bnd = spark.createDataFrame(bnd_pdf[["region_key", "geometry_wkt"]])

    brute = pip_join(docs, bnd_pdf, id_col="region_key", wkt_col="geometry_wkt")
    part = partitioned_pip_join(
        docs, bnd, id_col="region_key", wkt_col="geometry_wkt", res=9
    )
    b = sorted((r.doc_id, r.region_key) for r in brute.collect())
    p = sorted((r.doc_id, r.region_key) for r in part.collect())
    assert b == p and len(b) > 0

    brute_l = pip_join(
        docs, bnd_pdf, id_col="region_key", wkt_col="geometry_wkt", how="left"
    )
    part_l = partitioned_pip_join(
        docs, bnd, id_col="region_key", wkt_col="geometry_wkt", res=9,
        how="left", doc_key_cols=["doc_id"],
    )
    bl = sorted((r.doc_id, r.region_key) for r in brute_l.collect())
    pl = sorted((r.doc_id, r.region_key) for r in part_l.collect())
    assert bl == pl
    assert any(k is None for _, k in pl)  # unmatched docs retained

    # partitioning-independence: same rows when the boundary table is
    # split across many partitions (cover build is per-polygon pure)
    part7 = partitioned_pip_join(
        docs, bnd.repartition(7), id_col="region_key", wkt_col="geometry_wkt", res=9
    )
    p7 = sorted((r.doc_id, r.region_key) for r in part7.collect())
    assert p7 == b


def test_h3_cover_refine_matches_brute_pip(spark):
    """H3PolygonCover (polyfill interior + dilated-border refine on true
    H3 cells) must produce EXACTLY the brute pip_join row set, on both
    the rectangle fixture and the irregular bench boundaries."""
    from geokitten_spark.fixtures import (
        admin_rects_pdf,
        bench_boundaries_pdf,
        web_documents,
    )
    from geokitten_spark.operators.pip_join import H3PolygonCover, pip_join

    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    for bnd, id_col, res in (
        (admin_rects_pdf(), "n_nationkey", 3),
        (bench_boundaries_pdf(), "region_key", 4),
    ):
        brute = frozenset(
            (r.doc_id, r[id_col])
            for r in pip_join(
                docs, bnd, id_col=id_col, wkt_col="geometry_wkt"
            ).collect()
        )
        cov = H3PolygonCover(
            spark, bnd, id_col=id_col, wkt_col="geometry_wkt", res=res
        )
        got = frozenset((r.doc_id, r[id_col]) for r in cov.join(docs).collect())
        assert got == brute and len(brute) > 0, id_col
        # the interior fast path must actually carry cells (not everything
        # falling through to refine)
        assert cov.n_inside_cells > 0, id_col


def test_h3_cover_refine_with_holes(spark):
    """Donut polygons: H3PolygonCover, PolygonCover and
    partitioned_pip_join must match brute pip_join when the boundary set
    carries interior rings (holes) — the covers keep hole cells out of the
    inside set and the refine ray-casts the full ring set."""
    import pandas as pd

    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.operators.pip_join import (
        H3PolygonCover,
        PolygonCover,
        partitioned_pip_join,
        pip_join,
    )

    donut = (
        "POLYGON ((-40 -20, 40 -20, 40 35, -40 35, -40 -20), "
        "(-15 -5, 15 -5, 15 20, -15 20, -15 -5))"
    )
    square = "POLYGON ((60 -10, 110 -10, 110 30, 60 30, 60 -10))"
    bnd = pd.DataFrame(
        {"region": ["donut", "square"], "geometry_wkt": [donut, square]}
    )
    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    brute = frozenset(
        (r.doc_id, r.region)
        for r in pip_join(docs, bnd, id_col="region", wkt_col="geometry_wkt").collect()
    )
    # docs inside the hole must NOT match the donut
    hole_docs = {
        r.doc_id
        for r in docs.filter(
            "lon > -15 AND lon < 15 AND lat > -5 AND lat < 20"
        ).collect()
    }
    assert hole_docs and len(brute) > 0
    # the same donut through the grid covers (broadcast and partitioned)
    joins = {
        "h3": H3PolygonCover(
            spark, bnd, id_col="region", wkt_col="geometry_wkt", res=3
        ).join(docs),
        "grid": PolygonCover(
            spark, bnd, id_col="region", wkt_col="geometry_wkt", res=7
        ).join(docs),
        "partitioned": partitioned_pip_join(
            docs, spark.createDataFrame(bnd), id_col="region",
            wkt_col="geometry_wkt", res=7,
        ),
    }
    for name, out in joins.items():
        got = frozenset((r.doc_id, r.region) for r in out.collect())
        assert got == brute, name
        assert not any(d in hole_docs for d, reg in got if reg == "donut"), name


def test_h3_cover_compaction_parity_and_shrink(spark):
    """Compacted interior covers (compact_cells down to min_res, probed
    via JVM digit-truncation ancestors) must return EXACTLY the same rows
    as the uncompacted cover and the brute pip_join, while broadcasting
    strictly fewer interior cells."""
    from geokitten_spark.fixtures import bench_boundaries_pdf, web_documents
    from geokitten_spark.operators.pip_join import H3PolygonCover, pip_join

    bnd = bench_boundaries_pdf()
    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    brute = frozenset(
        (r.doc_id, r.region_key)
        for r in pip_join(
            docs, bnd, id_col="region_key", wkt_col="geometry_wkt"
        ).collect()
    )
    flat = H3PolygonCover(
        spark, bnd, id_col="region_key", wkt_col="geometry_wkt", res=5, min_res=5
    )
    comp = H3PolygonCover(
        spark, bnd, id_col="region_key", wkt_col="geometry_wkt", res=5, min_res=2
    )
    assert comp.n_inside_cells < flat.n_inside_cells
    for cov in (flat, comp):
        got = frozenset(
            (r.doc_id, r.region_key) for r in cov.join(docs).collect()
        )
        assert got == brute and len(brute) > 0


def test_pip_paths_match_brute_on_degenerate_docs(spark):
    """Every PIP path equals brute pip_join on edge and bad coordinates:
    lon ±180, lat ±90, the near-corners, NULL, NaN and ±Inf lon/lat, and an
    empty frame, against a whole-world rectangle plus the bench
    boundaries. A NULL/NaN/±Inf coordinate leaves its doc unmatched (kept once
    with a null id under how='left') instead of failing the job."""
    from collections import Counter

    import pandas as pd

    from geokitten_spark.fixtures import bench_boundaries_pdf
    from geokitten_spark.operators.pip_join import (
        H3PolygonCover,
        PolygonCover,
        cover_refine_pip_join,
        partitioned_pip_join,
        pip_join,
    )

    nan, inf, e = float("nan"), float("inf"), 179.9999999
    pts = [
        (180.0, 0.0), (-180.0, 0.0), (0.0, 90.0), (0.0, -90.0),
        (180.0, 90.0), (-180.0, -90.0),
        (e, 89.9999999), (-e, 89.9999999), (e, -89.9999999), (-e, -89.9999999),
        (None, 10.0), (10.0, None), (nan, 10.0), (10.0, nan),
        (0.0, 0.0), (12.5, 41.0),
        (inf, 10.0), (-inf, 10.0), (10.0, inf), (10.0, -inf),
    ]
    schema = "doc_id long, lon double, lat double"
    world = "POLYGON ((-180 -90, 180 -90, 180 90, -180 90, -180 -90))"
    bnd_pdf = pd.concat(
        [pd.DataFrame({"region_key": [-1], "geometry_wkt": [world]}), bench_boundaries_pdf()],
        ignore_index=True,
    )
    bnd = spark.createDataFrame(bnd_pdf)
    kw = dict(id_col="region_key", wkt_col="geometry_wkt")
    grid = PolygonCover(spark, bnd_pdf, res=7, **kw)
    h3 = H3PolygonCover(spark, bnd_pdf, res=3, **kw)

    def rows(df):
        return Counter((r.doc_id, r.region_key) for r in df.collect())

    full = spark.createDataFrame([(i, *p) for i, p in enumerate(pts)], schema)
    for docs in (full, spark.createDataFrame([], schema)):
        brute = rows(pip_join(docs, bnd_pdf, **kw))
        brute_left = rows(pip_join(docs, bnd_pdf, how="left", **kw))
        left = dict(how="left", doc_key_cols=["doc_id"])
        got = {
            "grid": rows(grid.join(docs)),
            "h3": rows(h3.join(docs)),
            "partitioned": rows(partitioned_pip_join(docs, bnd, res=7, **kw)),
        }
        got_left = {
            "partitioned": rows(partitioned_pip_join(docs, bnd, res=7, **left, **kw)),
            "cover_refine": rows(
                cover_refine_pip_join(docs, bnd_pdf, cover=grid, how="left", **kw)
            ),
        }
        for name, g in got.items():
            assert g == brute, name
        for name, g in got_left.items():
            assert g == brute_left, name
        if docs is full:
            # the NULL/NaN/±Inf docs (ids 10-13, 16-19) stay unmatched,
            # kept once by 'left'
            bad = (10, 11, 12, 13, 16, 17, 18, 19)
            assert {d for d, _ in brute}.isdisjoint(bad)
            assert all(brute_left[(d, None)] == 1 for d in bad)
            assert (14, -1) in brute
        else:
            assert not brute and not brute_left


def test_cover_probe_matches_sql_encode_on_cell_edges(spark):
    """The broadcast covers key each doc with a numpy probe, not the Spark
    SQL encode: on points exactly on the grid lines of every cover level,
    on lon ±180 / lat ±90 and on the polygon vertices, ``grid_cell`` and
    ``PolygonCover``'s probe equal ``grid_key_sql`` run by Spark, and both
    broadcast covers equal brute pip_join row for row, also for a doc in
    an inside cell of one polygon and a border cell of an overlapping one."""
    from collections import Counter

    import numpy as np
    import pandas as pd

    from geokitten_spark.cells.grid import grid_cell, grid_key_sql
    from geokitten_spark.fixtures import bench_boundaries_pdf
    from geokitten_spark.geom import parse_wkt
    from geokitten_spark.operators.pip_join import H3PolygonCover, PolygonCover, pip_join

    res, min_res = 7, 4
    # a 40° square, and a 2.4° one inside it whose west edge crosses the
    # res-7 cell of (11, 11): that doc is in the big square's inside cover
    # and in the small one's border cover
    big = "POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0))"
    small = "POLYGON ((10.3 10.3, 12.7 10.3, 12.7 12.7, 10.3 12.7, 10.3 10.3))"
    bnd_pdf = pd.concat(
        [pd.DataFrame({"region_key": [-1, -2], "geometry_wkt": [big, small]}),
         bench_boundaries_pdf()],
        ignore_index=True,
    )
    pts = [(11.0, 11.0), (10.0, 10.0)]
    for r in range(min_res, res + 1):
        k = np.arange((1 << r) + 1)
        lon, lat = np.meshgrid(k * 360.0 / (1 << r) - 180.0, k * 180.0 / (1 << r) - 90.0)
        pts += zip(lon.ravel(), lat.ravel())
    # every vertex, also those past lon ±180, which the encode clamps
    for w in bnd_pdf["geometry_wkt"]:
        pts += [(x, y) for rings in parse_wkt(w).parts for ring in rings
                for x, y in np.asarray(ring)[:, :2]]
    pts = sorted(set(pts))
    assert any(abs(x) > 180 for x, _ in pts)
    assert (180.0, 90.0) in pts and (-180.0, -90.0) in pts

    kw = dict(id_col="region_key", wkt_col="geometry_wkt")
    docs = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "doc_id long, lon double, lat double",
    )
    grid = PolygonCover(spark, bnd_pdf, res=res, min_res=min_res, **kw)
    h3 = H3PolygonCover(spark, bnd_pdf, res=3, **kw)

    levels = range(res, min_res - 1, -1)
    sql = docs.orderBy("doc_id").select(
        *[F.expr(grid_key_sql("lon", "lat", r)).alias(f"k{r}") for r in levels]
    ).toPandas()
    lon, lat = (np.array(c, dtype=np.float64) for c in zip(*pts))
    probe = grid._probe(lon, lat)
    for i, r in enumerate(levels):
        want = sql[f"k{r}"].to_numpy(np.int64)
        assert np.array_equal(grid_cell(lon, lat, r), want), r
        assert np.array_equal(probe[i], want), r

    def rows(df):
        return Counter((r.doc_id, r.region_key) for r in df.collect())

    brute = rows(pip_join(docs, bnd_pdf, **kw))
    both, outer = pts.index((11.0, 11.0)), pts.index((10.0, 10.0))
    assert {(both, -1), (both, -2), (outer, -1)} <= set(brute) and (outer, -2) not in brute
    assert rows(grid.join(docs)) == brute
    # also on the vertices past lon ±180, where H3 would wrap the doc
    # onto the other side of the antimeridian
    assert any(abs(pts[i][0]) > 180 for i, _ in brute)
    assert rows(h3.join(docs)) == brute


def test_inside_matches_per_part_ray_cast_in_any_pass_size(monkeypatch):
    """``_inside`` (one vectorized test over every (point, edge) pair) equals
    ``points_in_rings`` part by part, with holes and multi-part polygons,
    also when the pairs are split into passes smaller than one polygon."""
    import importlib

    import numpy as np

    from geokitten_spark.fixtures import bench_boundaries_pdf
    from geokitten_spark.geom import parse_wkt, points_in_rings

    pj = importlib.import_module("geokitten_spark.operators.pip_join")
    wkts = list(bench_boundaries_pdf()["geometry_wkt"]) + [
        "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3)),"
        " ((20 20, 30 20, 30 30, 20 30, 20 20)))"
    ]
    polygons = [pj._parts(parse_wkt(w)) for w in wkts]
    rng = np.random.default_rng(7)
    owner = np.concatenate([rng.integers(0, len(polygons), 3000), np.full(500, len(polygons) - 1)])
    lo = np.array([min(r[:, 0].min() for p in polygons[o] for r in p) for o in owner]) - 1
    hi = np.array([max(r[:, 0].max() for p in polygons[o] for r in p) for o in owner]) + 1
    lon = rng.uniform(lo, hi)
    lo = np.array([min(r[:, 1].min() for p in polygons[o] for r in p) for o in owner]) - 1
    hi = np.array([max(r[:, 1].max() for p in polygons[o] for r in p) for o in owner]) + 1
    lat = rng.uniform(lo, hi)
    want = np.array([
        any(points_in_rings(lon[i : i + 1], lat[i : i + 1], rings)[0] for rings in polygons[o])
        for i, o in enumerate(owner)
    ])
    assert want.any() and not want.all()
    edges = pj._edge_table(polygons)
    for pairs in (1 << 20, 7):
        monkeypatch.setattr(pj, "_PAIRS_PER_PASS", pairs)
        assert np.array_equal(pj._inside(lon, lat, owner, edges), want), pairs
