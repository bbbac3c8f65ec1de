"""The three workloads: seeded inputs, one timed job, output checks.

Each workload is driven the same way by ``run.py``: ``build()`` makes the
seeded inputs and the driver-side builders, once, ``job()`` runs one unit
of work back to back in a closed loop, ``check()`` verifies the outputs
outside the timed region and returns the list of failures, ``counters()``
gives the workload's own per-layer counts.  Spans name the package layer they call into.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import inputs

from geokitten_spark.functions.cells_udfs import grid_cell_col, h3_cell, s2_cell
from geokitten_spark.functions.geocode import geo_lat, geo_lon
from geokitten_spark.functions.text import extract_text, quality_cols
from geokitten_spark.operators.dedup import minhash_neardup, simhash_neardup
from geokitten_spark.operators.knn import knn_join
from geokitten_spark.operators.linkgraph import RANK_UNIT, extract_links, pagerank
from geokitten_spark.operators.pip_join import PolygonCover, pip_join
from geokitten_spark.plans.snapshot import SnapshotStore
from geokitten_spark.sources.geoparquet import points_to_wkb, read_geoparquet, write_geoparquet
from geokitten_spark.viz.raster import raster_heat_tiles


def noop(df: DataFrame) -> None:
    """Materialize ``df`` fully without keeping or writing its rows."""
    df.write.mode("overwrite").format("noop").save()


def digest(df: DataFrame) -> tuple:
    """Order-insensitive digest of all rows: (count, sum of 40-bit row
    hashes, xor of 64-bit row hashes)."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h, F.lit(1 << 40))).alias("s"),
        F.bit_xor(h).alias("x"),
    ).first()
    return (int(row["n"]), int(row["s"] or 0), int(row["x"] or 0))


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def geocode(docs: DataFrame) -> DataFrame:
    """md5 geocode of the url."""
    return docs.select("doc_id", geo_lon(F.col("url")).alias("lon"), geo_lat(F.col("url")).alias("lat"))


def cover_counters(cover: PolygonCover, stats) -> dict:
    """Cover size and how much of the input the refine kernel sees."""
    is_refine = lambda node: "refine(" in node.desc  # noqa: E731
    refine = stats.input_rows(is_refine)
    hits = stats.node_metric("number of output rows", is_refine)
    return {
        "operators.cover_rows": cover.n_inside_cells + cover.n_border_cells,
        "operators.refine_rows_in": refine,
        "operators.refine_hit_ratio": hits / refine if refine else 0.0,
    }


class Workload:
    name = ""
    # UDF name in the plan -> layer whose kernel it runs (see tracing.udf_layer)
    udf_layers: dict[str, str] = {}

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.n_docs = 0
        self.docs: DataFrame | None = None
        self.cover_build_s = None
        self.input_shape: dict = {}  # filled by check()

    def _cache(self, df: DataFrame) -> None:
        self.docs = df.cache()
        self.n_docs = self.docs.count()

    def build_cover(self, polys) -> PolygonCover:
        t0 = time.perf_counter()
        # res 9, not the res 10 of bench.py: the driver-side build takes ~1 s
        # instead of ~3 s on 4 vCPUs
        with self.tr.span("operators.PolygonCover"):
            cover = PolygonCover(self.spark, polys, id_col="region_key", wkt_col="geometry_wkt", res=9)
        self.cover_build_s = time.perf_counter() - t0
        return cover

    def counters(self, stats) -> dict:
        return {}

    def finish_job(self) -> None:
        """Called after each timed job, outside its wall."""


class GeoTile(Workload):
    """md5 geocode -> PolygonCover.join -> h3_cell(7) + s2_cell(9) ->
    groupBy(region, cell) -> noop sink."""

    name = "geo_tile"
    udf_layers = {"_enc": "cells", "refine": "geom"}
    N_DOCS = 120_000

    def build(self) -> None:
        pages = inputs.pages(self.spark, self.seed, self.N_DOCS)
        self._cache(pages.select("doc_id", "url"))
        self.polys = inputs.polygons(self.seed)
        self.cover = self.build_cover(self.polys)

    def tiles(self) -> DataFrame:
        with self.tr.span("functions.geocode"):
            pts = geocode(self.docs)
        with self.tr.span("operators.PolygonCover.join"):
            located = self.cover.join(pts)
        with self.tr.span("cells.h3_s2"):
            cells = located.select(
                "region_key",
                h3_cell(7)(F.col("lon"), F.col("lat")).alias("h3"),
                s2_cell(9)(F.col("lon"), F.col("lat")).alias("s2"),
            )
        return cells.groupBy("region_key", "h3").agg(
            F.count(F.lit(1)).alias("n_docs"), F.approx_count_distinct("s2").alias("n_s2")
        )

    def job(self) -> None:
        with self.tr.span("session.job"):
            agg = self.tiles()
            with self.tr.span("operators.materialize"):
                noop(agg)

    def check(self) -> list[str]:
        errors = []
        pts = geocode(self.docs)
        fast = self.cover.join(pts).select("doc_id", "region_key")
        brute = pip_join(pts, self.polys, id_col="region_key", wkt_col="geometry_wkt").select(
            "doc_id", "region_key"
        )
        d_fast, d_brute = digest(fast), digest(brute)
        if d_fast != d_brute:
            errors.append(f"cover-refine digest {d_fast} != brute pip_join digest {d_brute}")
        row = self.tiles().agg(F.sum("n_docs").alias("n"), F.count(F.lit(1)).alias("cells")).first()
        if int(row["n"] or 0) != d_fast[0]:
            errors.append(f"tile counts sum to {row['n']}, matched docs {d_fast[0]}")
        url_bytes = self.docs.agg(F.sum(F.length("url"))).first()[0]
        self.input_shape = {
            "docs": self.n_docs,
            "input_bytes": int(url_bytes),
            "matched_pairs": d_fast[0],
            "distinct_cells": int(row["cells"]),
            "polygons": len(self.polys),
        }
        return errors

    def counters(self, stats) -> dict:
        return cover_counters(self.cover, stats)


class CorpusGraph(Workload):
    """minhash_neardup, simhash_neardup, extract_links -> pagerank(3) and
    knn_join(k=3) on one language slice, each to a noop sink."""

    name = "corpus_graph"
    udf_layers = {"_simhash": "operators"}
    N_DOCS = 3_000
    N_WORDS = 40
    DUP_SHARE = 0.06
    KNN_LANG = "de"

    def build(self) -> None:
        pages = inputs.pages(
            self.spark, self.seed, self.N_DOCS, n_words=self.N_WORDS, dup_share=self.DUP_SHARE
        )
        self._cache(pages.select("doc_id", "url", "html", "text", "lang"))
        self.planted = {
            (r["doc_a"], r["doc_b"])
            for r in inputs.planted_pairs(self.spark, self.seed, self.N_DOCS, self.DUP_SHARE).collect()
        }

    def _minhash(self) -> DataFrame:
        return minhash_neardup(self.docs.select("doc_id", "text"))

    def _simhash(self) -> DataFrame:
        return simhash_neardup(self.docs.select("doc_id", "text"))

    def _pagerank(self) -> DataFrame:
        nodes = self.docs.select(F.col("doc_id").alias("node"))
        edges = extract_links(self.docs.select("doc_id", "html"))
        return pagerank(nodes, edges, n_iters=3)

    def _knn_points(self) -> DataFrame:
        return self.docs.filter(F.col("lang") == self.KNN_LANG).select(
            "doc_id", geo_lon(F.col("url")).alias("lon"), geo_lat(F.col("url")).alias("lat")
        )

    def job(self) -> None:
        with self.tr.span("session.job"):
            with self.tr.span("operators.minhash"):
                noop(self._minhash())
            with self.tr.span("operators.simhash"):
                noop(self._simhash())
            with self.tr.span("operators.pagerank"):
                noop(self._pagerank())
            with self.tr.span("operators.knn"):
                noop(knn_join(self._knn_points(), id_col="doc_id", k=3, res=4, ring_k=1))

    def check(self) -> list[str]:
        errors = []
        found = {(r["doc_a"], r["doc_b"]) for r in self._minhash().collect()}
        missed = self.planted - found
        if missed:
            errors.append(f"minhash missed {len(missed)} of {len(self.planted)} planted pairs")
        self.n_minhash = len(found)
        self.n_simhash = self._simhash().count()
        n_nodes = self.n_docs
        n_edges = extract_links(self.docs.select("doc_id", "html")).count()
        mass = int(self._pagerank().agg(F.sum("rank")).first()[0])
        # integer division drops < 1 unit per edge and 2 per node per iteration
        slack = n_nodes + 3 * (n_edges + 2 * n_nodes)
        if not (RANK_UNIT - slack <= mass <= RANK_UNIT):
            errors.append(f"pagerank mass {mass} not within {slack} of {RANK_UNIT}")
        self.n_knn_points = self._knn_points().count()
        self.input_shape = {
            "docs": self.n_docs,
            "input_bytes": int(
                self.docs.agg(F.sum(F.length("html") + F.length("text") + F.length("url"))).first()[0]
            ),
            "planted_pairs": len(self.planted),
            "minhash_pairs": self.n_minhash,
            "simhash_pairs": self.n_simhash,
            "edges": n_edges,
            "knn_points": self.n_knn_points,
        }
        return errors

    def counters(self, stats) -> dict:
        cand = stats.node_metric("number of output rows", lambda n: "Join" in n.name and "bkey" in n.desc)
        knn = stats.span_max_join_rows("operators.knn")
        verified = getattr(self, "n_minhash", 0) + getattr(self, "n_simhash", 0)
        return {
            "operators.band_candidate_pairs": cand,
            "operators.band_verify_ratio": verified / cand if cand else 0.0,
            "operators.knn_candidates_per_pt": knn / max(1, getattr(self, "n_knn_points", 0)),
        }


class CheckpointSink(Workload):
    """Stage 1 (extract_text + quality_cols + geocode) snapshotted through
    SnapshotStore.run_stage; stage 2 cover join -> tiles -> write_geoparquet
    and raster_heat_tiles to local disk.  Each job runs fresh into a new
    store; the check reruns the last one, which resumes stage 1."""

    name = "checkpoint_sink"
    udf_layers = {"extract_text": "functions", "refine": "geom", "points_to_wkb": "sources",
                  "write_partition": "sources", "_enc": "viz", "render": "viz"}
    N_DOCS = 6_000
    ZOOMS = (3, 2)

    def build(self) -> None:
        pages = inputs.pages(self.spark, self.seed, self.N_DOCS)
        self._cache(pages.select("doc_id", "url", "html"))
        self.polys = inputs.polygons(self.seed)
        self.cover = self.build_cover(self.polys)
        self.n_cycles = 0
        self.last = self.stale = None

    def _stage1(self, spark) -> DataFrame:
        with self.tr.span("functions.extract_text"):
            text = extract_text(F.col("html"))
            q = quality_cols(F.col("text"))
            return self.docs.withColumn("text", text).select(
                "doc_id",
                q["quality_score"].alias("quality_score"),
                q["n_tokens"].alias("n_tokens"),
                geo_lon(F.col("url")).alias("lon"),
                geo_lat(F.col("url")).alias("lat"),
            )

    def _located_points(self, snap: DataFrame) -> DataFrame:
        with self.tr.span("operators.PolygonCover.join"):
            located = self.cover.join(snap)
        return located.select(
            "doc_id", "region_key", grid_cell_col(F.col("lon"), F.col("lat"), 7).alias("cell_id"),
            "quality_score", "n_tokens", "lon", "lat",
        )

    def pipeline(self, store: SnapshotStore, out: str):
        with self.tr.span("plans.run_stage"):
            s1 = store.run_stage(self.spark, "extract", self._stage1, config={"seed": self.seed})
        tiles = self._located_points(s1.df)
        with self.tr.span("sources.write_geoparquet"):
            pts = tiles.select(
                "doc_id", "region_key", "cell_id", "quality_score", "n_tokens",
                points_to_wkb(F.col("lon"), F.col("lat")).alias("geometry"),
            )
            write_geoparquet(pts, os.path.join(out, "geo")).collect()
        with self.tr.span("viz.raster_heat_tiles"):
            raster_heat_tiles(tiles.select("lon", "lat"), zooms=self.ZOOMS).write.mode(
                "overwrite"
            ).parquet(os.path.join(out, "raster"))
        return s1, pts

    def job(self) -> None:
        cycle = os.path.join(self.work, f"cycle-{self.n_cycles}")
        store = SnapshotStore(os.path.join(cycle, "store"))
        with self.tr.span("session.job"):
            fresh, pts = self.pipeline(store, os.path.join(cycle, "fresh"))
        self.stale, self.last = self.last, {"dir": cycle, "store": store, "fresh": fresh, "pts": pts}
        self.n_cycles += 1

    def finish_job(self) -> None:
        if self.stale is not None:
            shutil.rmtree(self.stale["dir"], ignore_errors=True)
            self.stale = None

    def resume(self) -> float:
        """Rerun the last pipeline against its committed store: stage 1
        resumes from the snapshot, stage 2 runs again.  Returns its wall."""
        last = self.last
        t0 = time.perf_counter()
        with self.tr.span("session.resume"):
            last["resumed"], _ = self.pipeline(
                SnapshotStore(last["store"].root), os.path.join(last["dir"], "resume")
            )
        return time.perf_counter() - t0

    def check(self) -> list[str]:
        errors = []
        self.resume_s = self.resume()
        last = self.last
        cycle = last["dir"]
        if last["fresh"].resumed or not last["resumed"].resumed:
            errors.append("stage 1 did not run fresh and then resume")
        geo_fresh = read_geoparquet(self.spark, os.path.join(cycle, "fresh", "geo"), as_wkt=False)
        geo_resume = read_geoparquet(self.spark, os.path.join(cycle, "resume", "geo"), as_wkt=False)
        cols = last["pts"].columns
        d_written = digest(last["pts"])
        d_read = digest(geo_fresh.select(*cols))
        if d_written != d_read:
            errors.append(f"geoparquet read-back {d_read} != written rows {d_written}")
        d_resume = digest(geo_resume.select(*cols))
        if d_resume != d_read:
            errors.append(f"resumed geoparquet {d_resume} != fresh {d_read}")
        r_fresh = self.spark.read.parquet(os.path.join(cycle, "fresh", "raster"))
        r_resume = self.spark.read.parquet(os.path.join(cycle, "resume", "raster"))
        d_rf, d_rr = digest(r_fresh), digest(r_resume)
        if d_rf != d_rr:
            errors.append(f"resumed raster tiles {d_rr} != fresh {d_rf}")
        self.snapshot_bytes = dir_bytes(os.path.join(cycle, "store"))
        self.geoparquet_bytes = dir_bytes(os.path.join(cycle, "fresh", "geo"))
        self.raster_bytes = dir_bytes(os.path.join(cycle, "fresh", "raster"))
        self.tiles_rendered = d_rf[0]
        self.input_shape = {
            "docs": self.n_docs,
            "input_bytes": int(self.docs.agg(F.sum(F.length("html") + F.length("url"))).first()[0]),
            "located_rows": d_written[0],
            "tiles": self.tiles_rendered,
            "polygons": len(self.polys),
        }
        return errors

    def write_bytes(self) -> int:
        return self.snapshot_bytes + self.geoparquet_bytes + self.raster_bytes

    def counters(self, stats) -> dict:
        return {
            **cover_counters(self.cover, stats),
            "plans.snapshot_bytes": self.snapshot_bytes,
            "sources.geoparquet_bytes": self.geoparquet_bytes,
            "viz.tiles_rendered": self.tiles_rendered,
        }


WORKLOADS = {w.name: w for w in (GeoTile, CorpusGraph, CheckpointSink)}
