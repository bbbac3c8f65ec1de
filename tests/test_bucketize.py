"""Bucketed co-located join: same-bucketing equi-join plans NO exchange."""

import pytest
from pyspark.sql import functions as F

from geokitten_spark.operators.bucketize import write_bucketed, read_table


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.functions.cells_udfs import grid_cell_col
    from tests.conftest import SF_SMOKE

    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat").withColumn(
        "cell_id", grid_cell_col(F.col("lon"), F.col("lat"), 5)
    )
    tiles = docs.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_docs"))

    spark.sql("DROP TABLE IF EXISTS bt_docs")
    spark.sql("DROP TABLE IF EXISTS bt_tiles")
    write_bucketed(docs, "bt_docs", bucket_col="cell_id", n_buckets=8)
    write_bucketed(tiles, "bt_tiles", bucket_col="cell_id", n_buckets=8)
    try:
        a = read_table(spark, "bt_docs")
        b = read_table(spark, "bt_tiles")
        # disable auto-broadcast so the join would otherwise shuffle both sides
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, on="cell_id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # co-located: no shuffle at all
            # and it's correct
            assert joined.count() == docs.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_docs")
        spark.sql("DROP TABLE IF EXISTS bt_tiles")


def test_range_partition_contiguous_cells(spark):
    """Explicit range partitioning on cell_id (north rule): plan shows
    RangePartitioning and partitions hold contiguous, non-overlapping key
    ranges (spatially adjacent cells co-locate)."""
    from geokitten_spark.operators.bucketize import range_partition
    from geokitten_spark.functions.cells_udfs import grid_cell_col

    docs = spark.range(20000).select(
        (F.col("id") % 360 - 180.0 + 0.5).alias("lon"),
        (F.col("id") % 170 - 85.0 + 0.5).alias("lat"),
    ).withColumn("cell_id", grid_cell_col(F.col("lon"), F.col("lat"), 7))
    rp = range_partition(docs, "cell_id", 8)
    plan = rp._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()

    ranges = (
        rp.select("cell_id", F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.min("cell_id").alias("lo"), F.max("cell_id").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) > 1
    for prev, cur in zip(ranges, ranges[1:]):
        assert prev.hi <= cur.lo  # non-overlapping contiguous ranges


def test_raster_to_vector_to_geojson_sink(spark, tmp_path):
    """The full raster→vector lane: tile aggregate → cell polygons
    (tile_vectorize) → GeoJSON FeatureCollection on disk → re-scan parity.
    This is the north-star "rasterize tile aggregates back to vector
    tiles" realized end to end including the file sink."""
    import json

    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.functions.cells_udfs import grid_cell_col
    from geokitten_spark.operators.tile import tile_aggregate, tile_vectorize
    from geokitten_spark.sources.geojson import read_geojson_dir, write_geojson
    from tests.conftest import SF_SMOKE

    docs = web_documents(spark, SF_SMOKE).withColumn(
        "cell_id", grid_cell_col(F.col("lon"), F.col("lat"), 3)
    )
    vec = tile_vectorize(tile_aggregate(docs))
    pdf = vec.toPandas()
    assert len(pdf) > 0

    out = str(tmp_path / "tiles" / "tiles.geojson")
    src = vec.selectExpr(
        "CAST(cell_id AS STRING) AS feature_id",
        "geometry_wkt",
        "to_json(named_struct('n_docs', n_docs)) AS properties",
    )
    n = write_geojson(src, out)
    assert n == len(pdf)

    back = read_geojson_dir(spark, str(tmp_path / "tiles")).toPandas()
    assert len(back) == n
    got = {
        fid: json.loads(p)["n_docs"]
        for fid, p in zip(back["feature_id"], back["properties"])
    }
    want = {str(r["cell_id"]): r["n_docs"] for _, r in pdf.iterrows()}
    assert got == want


def _nonfinite_docs(spark):
    """Three docs whose cell is NULL: a NULL, a NaN and a ±Inf coordinate."""
    nan, inf = float("nan"), float("inf")
    return spark.createDataFrame(
        [(None, 10.0), (10.0, nan), (inf, -inf)], "lon double, lat double"
    )


def test_adaptive_tiles_conservation_and_leaf_purity(spark):
    """Adaptive quadtree: leaf counts conserve the total; no leaf exceeds
    the threshold unless it is at max_res; no leaf is a descendant of
    another leaf (the tiling is a partition of occupied space). Docs with
    a NULL, NaN or ±Inf coordinate are in no leaf."""
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.operators.tile import adaptive_tiles
    from geokitten_spark.cells.grid import grid_decode
    from tests.conftest import SF_SMOKE

    docs = web_documents(spark, SF_SMOKE).select("lon", "lat")
    n = docs.count()
    leaves = adaptive_tiles(
        docs, "lon", "lat", base_res=2, max_res=7, threshold=4
    ).collect()
    assert sum(r["n_docs"] for r in leaves) == n
    with_bad = adaptive_tiles(
        docs.unionByName(_nonfinite_docs(spark)), "lon", "lat",
        base_res=2, max_res=7, threshold=4,
    ).collect()
    assert sorted(map(tuple, with_bad)) == sorted(map(tuple, leaves))
    assert all(r["n_docs"] <= 4 or r["res"] == 7 for r in leaves)
    # descendant check: ancestor (res, ix>>d, iy>>d) of any leaf must not
    # itself be a leaf
    key = {(r["res"], *[int(v) for v in grid_decode(r["cell_id"])[1:]]) for r in leaves}
    for r in leaves:
        res, ix, iy = (int(v) for v in grid_decode(r["cell_id"]))
        for anc in range(2, res):
            d = res - anc
            assert (anc, ix >> d, iy >> d) not in key


def test_pipeline_stage_bucketing_exchange_free(spark, tmp_path):
    """VERDICT r2 item 8 done-criterion: a bucket_by stage output feeds
    downstream cell_id joins/aggregates with no Exchange on cell_id —
    including after resume in a catalog that forgot the table."""
    import re

    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.functions.cells_udfs import grid_cell_col
    from geokitten_spark.operators.knn import knn_join
    from geokitten_spark.plans.snapshot import SnapshotStore
    from tests.conftest import SF_SMOKE

    store = SnapshotStore(str(tmp_path / "snaps"))

    def build(spark):
        return web_documents(spark, SF_SMOKE).select(
            "doc_id", "lon", "lat", "lang"
        ).withColumn("cell_id", grid_cell_col(F.col("lon"), F.col("lat"), 7))

    res1 = store.run_stage(
        spark, "located", build, config={"res": 7}, bucket_by=("cell_id", 8)
    )
    assert not res1.resumed
    assert res1.manifest["bucket_by"] == ["cell_id", 8]

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def n_hash_exchanges(df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            return len(re.findall(r"\bExchange hashpartitioning", plan))

        # tile aggregate: bucketing on cell_id satisfies the clustering for
        # (lang, cell_id) grouping -> ZERO exchanges
        agg = res1.df.groupBy("lang", "cell_id").agg(F.count(F.lit(1)).alias("n"))
        assert n_hash_exchanges(agg) == 0

        # kNN with cell_col reuse: the exploded probe side and the window
        # shuffle; the build side inherits the bucketed distribution.
        # Without bucketing the same plan has one more exchange.
        # (prune=False: this audits bucketing provenance — the bound-prune
        # pre-pass adds its own exchanges on both sides symmetrically and
        # is covered by test_knn_bound_prune_identity.)
        pts = res1.df.select("doc_id", "lon", "lat", "cell_id")
        knn_bucketed = knn_join(
            pts, id_col="doc_id", k=3, res=7, ring_k=1, cell_col="cell_id",
            prune=False,
        )
        plain = knn_join(
            res1.df.select("doc_id", "lon", "lat"),
            id_col="doc_id", k=3, res=7, ring_k=1, prune=False,
        )
        assert n_hash_exchanges(knn_bucketed) == n_hash_exchanges(plain) - 1

        # resume path: drop the catalog entry (a new session forgets it);
        # run_stage must re-register from the manifest and keep the
        # exchange-free property
        spark.sql(
            f"DROP TABLE IF EXISTS "
            f"{store._bucket_table_name('located', res1.snapshot_id)}"
        )
        store2 = SnapshotStore(str(tmp_path / "snaps"))
        res2 = store2.run_stage(
            spark, "located", build, config={"res": 7}, bucket_by=("cell_id", 8)
        )
        assert res2.resumed
        agg2 = res2.df.groupBy("lang", "cell_id").agg(F.count(F.lit(1)).alias("n"))
        assert n_hash_exchanges(agg2) == 0
        assert res2.df.count() == res1.df.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_h3_adaptive_tiles_conservation_and_leaf_purity(spark):
    """Aperture-7 adaptive tiling on H3 ids: leaf counts conserve the
    corpus total; no leaf is an ancestor of another leaf. Docs with a
    NULL, NaN or ±Inf coordinate are in no leaf."""
    import numpy as np

    from geokitten_spark.cells import h3core
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.operators.tile import h3_adaptive_tiles
    from tests.conftest import SF_SMOKE

    docs = web_documents(spark, SF_SMOKE).select("lon", "lat")
    total = docs.count()
    leaves = h3_adaptive_tiles(
        docs, "lon", "lat", base_res=1, max_res=3, threshold=6
    ).collect()
    assert sum(r["n_docs"] for r in leaves) == total
    with_bad = h3_adaptive_tiles(
        docs.unionByName(_nonfinite_docs(spark)), "lon", "lat",
        base_res=1, max_res=3, threshold=6,
    ).collect()
    assert sorted(map(tuple, with_bad)) == sorted(map(tuple, leaves))
    by_res = {}
    for r in leaves:
        by_res.setdefault(r["res"], set()).add(np.uint64(r["cell_id"]))
    for res, cells in by_res.items():
        for coarser in range(1, res):
            if coarser not in by_res:
                continue
            pars = h3core.cell_to_parent(
                np.array(sorted(cells), dtype=np.uint64), coarser
            )
            assert not (set(pars.tolist()) & set(
                int(x) for x in by_res[coarser]
            )), f"leaf at res {coarser} is an ancestor of a res-{res} leaf"
    # thresholds respected on non-max leaves
    assert all(r["n_docs"] <= 6 for r in leaves if r["res"] < 3)


def test_knn_bound_prune_identity(spark):
    """The same-cell k-th-neighbor bound prune must be output-IDENTICAL
    to the unpruned join (it only removes candidates strictly beaten by
    k same-cell ones), across k values, include_self, and a corpus
    where many cells hold fewer than k+1 points (NULL bound path)."""
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.operators.knn import knn_join
    from tests.conftest import SF_SMOKE

    pts = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    for k, res, ring_k, inc in [(3, 7, 2, False), (1, 5, 1, False), (4, 6, 2, True)]:
        a = knn_join(
            pts, id_col="doc_id", k=k, res=res, ring_k=ring_k,
            include_self=inc, prune=True,
        )
        b = knn_join(
            pts, id_col="doc_id", k=k, res=res, ring_k=ring_k,
            include_self=inc, prune=False,
        )
        got = sorted(map(tuple, a.collect()))
        want = sorted(map(tuple, b.collect()))
        assert got == want, (k, res, ring_k, inc, len(got), len(want))

    # points with a NULL, NaN or ±Inf coordinate get no rows and are no
    # point's neighbor, pruned or not
    nan, inf = float("nan"), float("inf")
    bad = spark.createDataFrame(
        [(-1, None, 10.0), (-2, 10.0, None), (-3, nan, 10.0), (-4, 10.0, nan),
         (-5, inf, 10.0), (-6, -inf, 10.0), (-7, 10.0, inf), (-8, 10.0, -inf)],
        "doc_id long, lon double, lat double",
    )
    for prune in (True, False):
        def knn(df):
            return sorted(map(tuple, knn_join(
                df, id_col="doc_id", k=3, res=5, ring_k=1, prune=prune,
            ).collect()))

        assert knn(pts.unionByName(bad)) == knn(pts), prune
