#!/usr/bin/env python
"""Per-leg bench isolation probe (guide §1: measure first).

Builds every headline bench leg's DataFrame exactly as bench.py does,
then for each requested leg:
  * writes ``.explain("formatted")`` to plans/r06/<leg>_<tag>.txt
  * optionally times it in isolation with the noop sink (reps best-of)

This is deliberately OUTSIDE bench.py (bench.py is frozen for
measurement); numbers here are for optimization decisions, the driver's
numbers come from bench.py.

Usage:
    python scripts/bench_probe.py --tag before [--time] [leg ...]
"""

from __future__ import annotations

import argparse
import atexit
import functools
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
REPLICATE = int(os.environ.get("SPARK_GRAFT_REPLICATE", "600"))
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06"
)


def leg_builders(spark, docs):
    """{leg_name: () -> DataFrame} mirroring bench.py's run_queries: one
    key per ``timed(...)`` leg name and ``inner_reps`` query there
    (tests/test_bench_fence.py pins the two sets equal). Nothing touches
    ``spark`` or ``docs`` until a builder is called. The geoparquet leg
    returns the ``write_geoparquet`` manifest for a fresh temp dir (the
    write runs when the manifest is materialized)."""
    import __spark_entry__ as entrymod
    from geokitten_spark.fixtures import admin_rects_pdf, bench_boundaries_pdf
    from geokitten_spark.functions.cells_udfs import (
        grid_cell_col,
        h3_cell,
        s2_cell,
    )
    from geokitten_spark.operators.knn import knn_join
    from geokitten_spark.operators.linkgraph import extract_links, pagerank
    from geokitten_spark.operators.pip_join import PolygonCover, pip_join
    from geokitten_spark.operators.tile import tile_distinct_rollup, tile_rollup
    from geokitten_spark.sources.geoparquet import points_to_wkb, write_geoparquet
    from geokitten_spark.viz.raster import raster_heat_tiles

    def flagship():
        located = pip_join(
            docs.select("doc_id", "url", "lang", "lon", "lat"),
            admin_rects_pdf(),
            id_col="n_nationkey",
            wkt_col="geometry_wkt",
            s2_cells={"s2_cell": 9},
        )
        tiled = located.withColumn(
            "cell_id", grid_cell_col(F.col("lon"), F.col("lat"), 7)
        )
        return tiled.groupBy("n_nationkey", "cell_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.approx_count_distinct("s2_cell").alias("n_s2_cells"),
        )

    @functools.lru_cache(maxsize=None)
    def cover():
        return PolygonCover(
            spark,
            bench_boundaries_pdf(),
            id_col="region_key",
            wkt_col="geometry_wkt",
            res=10,
        )

    def flagship_cover():
        located = cover().join(docs.select("lon", "lat"))
        tiled = located.withColumn(
            "cell_id", grid_cell_col(F.col("lon"), F.col("lat"), 7)
        )
        return tiled.groupBy("region_key", "cell_id").agg(
            F.count(F.lit(1)).alias("n_docs")
        )

    def pagerank_leg():
        nodes = docs.select(F.col("doc_id").alias("node"))
        edges = extract_links(docs.select("doc_id", "html"))
        return pagerank(nodes, edges, n_iters=3)

    def geoparquet_leg():
        loc = tempfile.mkdtemp(prefix="gk_probe_geoparquet_")
        atexit.register(shutil.rmtree, loc, ignore_errors=True)
        pts = docs.select(
            "doc_id", points_to_wkb(F.col("lon"), F.col("lat")).alias("geometry")
        )
        return write_geoparquet(pts, loc, geometry_col="geometry")

    builders = {
        "flagship_pip_tile": flagship,
        "flagship_cover_refine": flagship_cover,
        "s2_tile_agg": lambda: (
            docs.select(s2_cell(9)(F.col("lon"), F.col("lat")).alias("c"))
            .groupBy("c")
            .count()
        ),
        "h3_tile_agg": lambda: (
            docs.select(h3_cell(7)(F.col("lon"), F.col("lat")).alias("c"))
            .groupBy("c")
            .count()
        ),
        "tile_rollup": lambda: tile_rollup(docs, "lon", "lat", [3, 5, 7]),
        "knn": lambda: knn_join(
            docs.filter(F.col("lang") == "de"), id_col="doc_id", k=3, res=7, ring_k=1
        ),
        "link_pagerank": pagerank_leg,
        "geoparquet_write": geoparquet_leg,
        "raster_tiles": lambda: raster_heat_tiles(
            docs.select("lon", "lat"), zooms=(6, 5, 4)
        ),
        "tile_distinct_x3": lambda: tile_distinct_rollup(
            docs, "lon", "lat", "url", [7, 5, 3]
        ),
    }
    Q = entrymod.queries()
    for q in (
        "tpch_q1",
        "tpch_q3_topk",
        "tpch_q5_joins",
        "ann_cosine_topk",
        "token_stats",
        "dedup_exact",
        "dedup_minhash",
        "asof_join",
        "events_hourly",
        "pii_redact",
        "lm_perplexity",
    ):
        builders[q] = lambda q=q: Q[q](spark, SF_DIR)
    return builders


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("legs", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--time", action="store_true")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument(
        "--conf", action="append", default=[], metavar="K=V",
        help="extra spark conf for the probe session (repeatable)",
    )
    args = ap.parse_args()

    from bench import bench_documents
    from geokitten_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark(
        app_name="bench-probe", master=f"local[{cpus}]", extra_confs=extra or None
    )
    docs = bench_documents(spark, SF_DIR, REPLICATE).cache()
    docs.count()

    builders = leg_builders(spark, docs)
    legs = args.legs or list(builders)
    os.makedirs(PLANS_DIR, exist_ok=True)
    results = {}
    for leg in legs:
        df = builders[leg]()
        if not args.no_plans:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(PLANS_DIR, f"{leg}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        if args.time:
            spark.sparkContext.setJobDescription(f"probe:{leg}")
            best = float("inf")
            for _ in range(max(1, args.reps)):
                t0 = time.monotonic()
                df.write.mode("overwrite").format("noop").save()
                best = min(best, time.monotonic() - t0)
            results[leg] = round(best, 3)
            print(f"{leg}: {results[leg]}s")
            spark.sparkContext.setJobDescription(None)
    if results:
        import json

        print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
