#!/usr/bin/env python
"""Bench harness — runs the headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

The flagship metric mirrors BASELINE.json: spatial-join + tiling throughput
in docs/sec over the Common-Crawl-shaped ``web_documents`` table. Because
sf0.1 ``documents`` is only 5k rows, the bench deterministically replicates
it (SPARK_GRAFT_REPLICATE, default 600 → 3M docs; pure function of
(doc_id, replica) — no RNG) so per-task overhead doesn't drown the signal
and the two-parallelism scaling measurement (local[8] vs local[32], see
BENCH/BASELINE.md) has real work to parallelize.

Usage:
    SPARK_GRAFT_CPUS=32 python bench.py
    python bench.py --scaling        # run at 8 and 32 cores, print both +
                                     # efficiency (writes BENCH/BASELINE.md data)
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# bench-process JVM sizing/logging (read by session.DEFAULT_CONFS at first
# get_spark): the 10x scale-step legs need headroom beyond the 8g test
# default, and JVM unified-logging warnings (gc,alloc GCLocker retries)
# print to STDOUT where they can interleave with the one-line JSON the
# driver parses — disable them for the bench process only.
# 24g: the r5 geoparquet + raster legs pushed the one-JVM suite peak
# past 16g at sf0.1 (OOM in the late spatial stages; both legs are ~3s
# and fine standalone — it's the cumulative cached-corpus + codegen +
# shuffle peak). Host has 128 GiB; the per-leg timings are unaffected.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
os.environ.setdefault(
    "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-Xlog:disable"
)
# 600 x 5k docs = 3M rows: sizes every spatial headline leg to >= ~5s at
# local[32] so per-query ratios are decision-grade, not sub-second jitter
# (VERDICT r2 item 6; the r1/r2 records used replicate=100 — the fence
# only compares records with MATCHING sf+replicate, so r3 starts a fresh
# baseline rather than reading 4x input growth as a regression)
REPLICATE = int(os.environ.get("SPARK_GRAFT_REPLICATE", "600"))


def bench_documents(spark, sf_dir: str, replicate: int):
    """web_documents × replicate, each replica re-geocoded from its own url —
    deterministic (doc_id, replica) → row, so every parallelism level sees
    byte-identical input."""
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.functions.geocode import url_from_doc_id, geo_lon, geo_lat

    docs = web_documents(spark, sf_dir)
    if replicate <= 1:
        return docs
    n_base = 1_000_000_000  # offset stride keeps replica ids disjoint
    # STREAM the range side (pre-partitioned across all cores) and BROADCAST
    # the small docs side — otherwise the single-file parquet side's one
    # partition serializes the whole derivation into one task
    n_parts = int(os.environ.get("SPARK_GRAFT_CPUS", "32")) * 2
    reps = spark.range(0, replicate, 1, n_parts).select(F.col("id").alias("replica"))
    big_id = (F.col("doc_id") + F.col("replica") * n_base).alias("doc_id")
    url = url_from_doc_id(F.col("doc_id"), F.col("lang"))
    return (
        reps.join(F.broadcast(docs.select("doc_id", "lang", "text", "html", "warc_ts")))
        .select(big_id, "lang", "text", "html", "warc_ts")
        .withColumn("url", url)
        .withColumn("lon", geo_lon(F.col("url")))
        .withColumn("lat", geo_lat(F.col("url")))
    )


def _materialize(df) -> int:
    """Force full computation; return row count (noop sink keeps it honest)."""
    df.write.mode("overwrite").format("noop").save()
    return 0


def run_queries(spark, sf_dir: str, flagship_only: bool = False) -> tuple[dict, dict]:
    from geokitten_spark.fixtures import admin_rects_pdf
    from geokitten_spark.operators.pip_join import pip_join
    from geokitten_spark.operators.knn import knn_join
    from geokitten_spark.operators.tile import tile_rollup
    from geokitten_spark.functions.cells_udfs import grid_cell_col, s2_cell
    import __spark_entry__ as entrymod

    docs = bench_documents(spark, sf_dir, REPLICATE).cache()
    n_docs = docs.count()  # warm cache + input size for throughput

    timings: dict[str, float] = {}
    extra: dict = {"n_docs": n_docs, "replicate": REPLICATE}

    def timed(name, fn, reps: int = 1, inner: int = 1):
        # rep 0 of the first pandas-UDF query pays one-time Python worker
        # spawn/import; best-of-reps reports steady-state throughput.
        # ``inner`` back-to-back executions share one clock window (and
        # the leg is named <query>_x<inner>): queries whose single run is
        # sub-second on this input are pure jitter at local[32]; a >=5s
        # window makes the cross-round ratio decision-grade (VERDICT r2
        # item 6).
        if inner > 1:
            name = f"{name}_x{inner}"
        best = float("inf")
        for _ in range(max(1, reps)):
            t0 = time.monotonic()
            for _i in range(inner):
                fn()
            best = min(best, time.monotonic() - t0)
        timings[name] = round(best, 3)

    # flagship: geocode → PIP join + S2 encode (ONE fused Python pass) →
    # JVM-codegen grid tile → per-(region, tile) aggregate
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
        agg = tiled.groupBy("n_nationkey", "cell_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.approx_count_distinct("s2_cell").alias("n_s2_cells"),
        )
        _materialize(agg)

    flagship()  # warmup: Python worker pool spawn + codegen, excluded
    FLAGSHIP_INNER = 2
    timed("flagship_pip_tile", flagship, reps=2, inner=FLAGSHIP_INNER)

    # cover-refine variant: one Arrow pass over each doc's lon/lat;
    # interior-cell docs match by an index lookup, only boundary-cell docs
    # run the exact ray-cast
    from geokitten_spark.operators.pip_join import PolygonCover
    from geokitten_spark.fixtures import bench_boundaries_pdf

    cover = PolygonCover(
        spark, bench_boundaries_pdf(), id_col="region_key", wkt_col="geometry_wkt",
        res=10,
    )

    def flagship_cover():
        located = cover.join(docs.select("lon", "lat"))
        tiled = located.withColumn(
            "cell_id", grid_cell_col(F.col("lon"), F.col("lat"), 7)
        )
        _materialize(
            tiled.groupBy("region_key", "cell_id").agg(F.count(F.lit(1)).alias("n_docs"))
        )

    timed("flagship_cover_refine", flagship_cover, reps=2, inner=FLAGSHIP_INNER)
    # the reported throughput is the faster of the two joins
    extra["docs_per_sec"] = round(
        n_docs * FLAGSHIP_INNER
        / min(
            timings[f"flagship_pip_tile_x{FLAGSHIP_INNER}"],
            timings[f"flagship_cover_refine_x{FLAGSHIP_INNER}"],
        ),
        1,
    )

    if flagship_only:  # --scaling measures only the BASELINE.json metric
        docs.unpersist()
        return timings, extra

    timed(
        "s2_tile_agg",
        lambda: _materialize(
            docs.select(s2_cell(9)(F.col("lon"), F.col("lat")).alias("c"))
            .groupBy("c")
            .count()
        ),
        reps=2,
        inner=4,
    )
    # canonical H3 tiling (r3): same shape as the S2 leg, vectorized
    # numpy encode in a pandas UDF -> JVM aggregate
    from geokitten_spark.functions.cells_udfs import h3_cell as _h3_cell

    timed(
        "h3_tile_agg",
        lambda: _materialize(
            docs.select(_h3_cell(7)(F.col("lon"), F.col("lat")).alias("c"))
            .groupBy("c")
            .count()
        ),
        reps=2,
        inner=3,
    )
    timed(
        "tile_rollup",
        lambda: _materialize(tile_rollup(docs, "lon", "lat", [3, 5, 7])),
        reps=2,
        inner=5,
    )
    # res 7 keeps cell occupancy O(10) at this density (res must track
    # density: candidates/point ~ 9 * points/cell; see knn_join docstring)
    timed(
        "knn",
        lambda: _materialize(
            knn_join(
                docs.filter(F.col("lang") == "de"), id_col="doc_id", k=3, res=7, ring_k=1
            )
        ),
        reps=2,
    )

    # link-graph PageRank over the replicated corpus: edges extracted
    # from 3M html payloads by codegen regexp, all pointing into the 500
    # base doc ids — a deliberate hot-key stress (the per-iteration SUM's
    # map-side partial aggregation must absorb the 6000x in-degree skew)
    from geokitten_spark.operators.linkgraph import extract_links, pagerank

    def pagerank_leg():
        nodes = docs.select(F.col("doc_id").alias("node"))
        edges = extract_links(docs.select("doc_id", "html"))
        _materialize(pagerank(nodes, edges, n_iters=3))

    timed("link_pagerank", pagerank_leg, reps=2)

    # GeoParquet sink (new r5): per-doc POINT geometry -> WKB encode ->
    # distributed partitioned write with `geo` footer metadata. One
    # Arrow map pass + one file per partition; measures the geometry
    # interchange path end-to-end (encode + parquet write + manifest).
    import shutil
    import tempfile

    from geokitten_spark.sources.geoparquet import (
        points_to_wkb,
        write_geoparquet,
    )

    def geoparquet_leg():
        loc = tempfile.mkdtemp(prefix="gk_bench_geoparquet_")
        try:
            pts = docs.select(
                "doc_id",
                points_to_wkb(F.col("lon"), F.col("lat")).alias("geometry"),
            )
            _materialize(write_geoparquet(pts, loc, geometry_col="geometry"))
        finally:
            shutil.rmtree(loc, ignore_errors=True)

    timed("geoparquet_write", geoparquet_leg, reps=2)

    # Raster heat-tile pyramid (new r5): the vector->raster sink. One
    # Arrow pixel-encode pass over the corpus + map-side-combined pixel
    # aggregate + grouped PNG render at zooms 6/5/4 — measures the full
    # point->pixel->tile-blob path (the PNG encode itself is O(tiles)).
    from geokitten_spark.viz.raster import raster_heat_tiles

    timed(
        "raster_tiles",
        lambda: _materialize(
            raster_heat_tiles(docs.select("lon", "lat"), zooms=(6, 5, 4))
        ),
        reps=2,
    )

    # Multi-zoom DISTINCT rollup (new r5 final session): per-tile
    # distinct-url HLL pyramid at zooms 7/5/3 — ONE corpus shuffle (the
    # finest register table, map-side partial max), coarser zooms merged
    # from sketch-sized register rows. The corpus-scale contrast with
    # tile_rollup_x5 measures the sketch overhead vs plain counts.
    from geokitten_spark.operators.tile import tile_distinct_rollup

    timed(
        "tile_distinct_x3",
        lambda: _materialize(
            tile_distinct_rollup(docs, "lon", "lat", "url", [7, 5, 3])
        ),
        reps=2,
    )

    # the cached 500k-doc table (html+text) is only used by the spatial
    # queries above — release it before the relational loop so its GC
    # pressure doesn't pollute those timings
    docs.unpersist()

    # the TPC-H-ish relational headliners on the driver tables; inner
    # repetition factors chosen from the r2 single-run times so every
    # leg's window is >= ~5s at local[32]
    Q = entrymod.queries()
    inner_reps = {
        "tpch_q1": 24,
        "tpch_q3_topk": 8,
        "tpch_q5_joins": 6,
        "ann_cosine_topk": 15,
        "token_stats": 16,
        "dedup_exact": 24,
        "dedup_minhash": 3,
        "asof_join": 10,
        "events_hourly": 20,
        "pii_redact": 10,
        # full LM train+score chain per rep (~2s steady-state at sf0.1)
        "lm_perplexity": 4,
    }
    for name, inner in inner_reps.items():
        timed(name, lambda n=name: _materialize(Q[n](spark, sf_dir)),
              reps=2, inner=inner)

    return timings, extra


def run_once(cpus: int, flagship_only: bool = False) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from geokitten_spark.session import get_spark

    spark = get_spark(app_name=f"geokitten-bench-{cpus}", master=f"local[{cpus}]")
    try:
        timings, extra = run_queries(spark, SF_DIR, flagship_only=flagship_only)
    finally:
        spark.stop()
    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline query suite wall time (flagship spatial-join+tiling throughput in docs_per_sec)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        **extra,
        **cpu_controls(),
    }


SCALE_STEP_FACTOR = int(os.environ.get("SPARK_GRAFT_SCALE_STEP_FACTOR", "10"))


def _synth_minhash_corpus(spark, n_rows: int):
    """Distinct-text corpus for the minhash scale leg: 30 words of 12
    sha2-derived chars per row, all codegen. Replicating the REAL text
    column 6000x would plant 6000-member duplicate clusters whose pair
    scan is quadratic BY CONSTRUCTION (any real pipeline exact-dedups
    those upstream); distinct texts measure what actually scales — the
    shingle/signature/band machinery and its shuffles."""
    words = [
        F.substring(
            F.sha2(F.concat(F.col("id").cast("string"), F.lit(f":{i}")), 256),
            1, 12,
        )
        for i in range(30)
    ]
    return spark.range(n_rows).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", *words).alias("text")
    )


def scale_step(cpus: int) -> dict:
    """10x scale-step evidence (one leg per round, VERDICT r4 item 4):
    run the flagship and the two heaviest legs at replicate R and R×10
    in ONE session, UNCACHED at both scales (same end-to-end work per
    doc), and report docs/sec at each plus the 10x/1x throughput ratio —
    ~1.0 means no spill cliff and no driver-side growth in the step."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from geokitten_spark.fixtures import admin_rects_pdf
    from geokitten_spark.functions.cells_udfs import grid_cell_col
    from geokitten_spark.operators.dedup import minhash_neardup
    from geokitten_spark.operators.linkgraph import extract_links, pagerank
    from geokitten_spark.operators.pip_join import pip_join
    from geokitten_spark.session import get_spark

    spark = get_spark(app_name=f"gk-scale-step-{cpus}", master=f"local[{cpus}]")
    out: dict = {"factor": SCALE_STEP_FACTOR, "legs": {}}
    try:
        def flagship_leg(rep: int):
            docs = bench_documents(spark, SF_DIR, rep)
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
            return _materialize(
                tiled.groupBy("n_nationkey", "cell_id").agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.approx_count_distinct("s2_cell").alias("n_s2_cells"),
                )
            )

        def pagerank_leg(rep: int):
            docs = bench_documents(spark, SF_DIR, rep)
            nodes = docs.select(F.col("doc_id").alias("node"))
            edges = extract_links(docs.select("doc_id", "html"))
            _materialize(pagerank(nodes, edges, n_iters=3))

        def minhash_leg(n_rows: int):
            corpus = _synth_minhash_corpus(spark, n_rows)
            _materialize(minhash_neardup(corpus))

        base_rows = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
        legs = [
            ("flagship_pip_tile", flagship_leg, REPLICATE),
            ("link_pagerank", pagerank_leg, REPLICATE),
            ("dedup_minhash_synth", minhash_leg, 20 * base_rows),
        ]
        for name, fn, base in legs:
            fn(base)  # warmup at 1x: worker spawn + codegen, excluded
            rec = {}
            for label, size in (("1x", base), ("10x", base * SCALE_STEP_FACTOR)):
                t0 = time.monotonic()
                fn(size)
                wall = time.monotonic() - t0
                if name == "flagship_pip_tile":
                    n_docs = size * base_rows
                elif name == "link_pagerank":
                    n_docs = size * base_rows
                else:
                    n_docs = size
                rec[label] = {
                    "wall_sec": round(wall, 3),
                    "n_docs": n_docs,
                    "docs_per_sec": round(n_docs / wall, 1),
                }
            rec["throughput_ratio_10x_vs_1x"] = round(
                rec["10x"]["docs_per_sec"] / rec["1x"]["docs_per_sec"], 3
            )
            out["legs"][name] = rec
    finally:
        spark.stop()
    return out


def cpu_controls() -> dict:
    """Host-noise controls embedded in every bench record: a fixed
    single-thread md5 chain (~1.0 s on this box unloaded) and the
    multicore slowdown factor of the same work on all cores at once
    (1.0 = all vCPUs genuinely available; hypervisor-steal storms push it
    to 2-4x and inflate every parallel query by the same factor — see
    BENCH/BASELINE.md "noise floor")."""
    import concurrent.futures as cf

    t0 = time.monotonic()
    _md5_chain(1_500_000)
    single = time.monotonic() - t0
    n_workers = os.cpu_count() or 8
    t0 = time.monotonic()
    # separate PROCESSES (hashlib holds the GIL for sub-2KB inputs)
    with cf.ProcessPoolExecutor(n_workers) as ex:
        list(ex.map(_md5_chain, [1_500_000] * n_workers))
    multi = time.monotonic() - t0
    return {
        "cpu_control_sec": round(single, 3),
        "cpu_multicore_slowdown": round(multi / single, 2),
    }


def _md5_chain(n: int) -> bytes:
    import hashlib

    h = b"x"
    for _ in range(n):
        h = hashlib.md5(h).digest()
    return h


# ---------------------------------------------------------------------------
# regression fence (VERDICT r2 item 4): control-normalized cross-round
# per-query comparison. The raw ratio test of r1/r2 could never fail on a
# noisy host because its "noisy" escape hatch was always true; instead,
# divide the current times by the single-thread control ratio between the
# two rounds — uniform host slowdown (steal) inflates queries AND control
# equally and cancels; a code regression inflates only its query.
# ---------------------------------------------------------------------------

def load_fence_baseline(repo_dir: str, sf=None, replicate=None, cpus=None):
    """Newest BENCH_r*.json whose parsed record matches ``sf`` (and
    ``replicate`` and ``cpus`` — a 4x input growth or a new core count is
    a protocol change, not a regression) and carries per-query times;
    prefers records with a cpu control."""
    import glob
    import re as _re

    best = (None, None)
    for path in sorted(glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))):
        m = _re.search(r"BENCH_(r\d+)\.json$", path)
        if not m:
            continue
        try:
            # "or {}": the driver records a failed/unparsed run as
            # {"parsed": null} (BENCH_r05.json is one) — a null record is
            # "no baseline here", not a crash
            parsed = json.load(open(path)).get("parsed") or {}
        except Exception:
            continue
        if not parsed.get("queries"):
            continue
        if sf is not None and parsed.get("sf") not in (None, sf):
            continue
        if replicate is not None and parsed.get("replicate") not in (None, replicate):
            continue
        if cpus is not None and parsed.get("cpus") not in (None, cpus):
            continue
        # later rounds win; within that, a record with a control beats one
        # without (BENCH_r01 predates the controls)
        if best[1] is None or parsed.get("cpu_control_sec") is not None:
            best = (m.group(1), parsed)
    return best


def regression_fence(cur_queries, cur_ctl, base_queries, base_ctl,
                     ratio_fence=1.5, abs_fence=0.5):
    """(vs_ratios, regressions, note) with control-normalized times.

    A query regresses when its control-normalized time exceeds the
    baseline by BOTH ratio_fence x and abs_fence seconds. Tested
    synthetically in tests/test_bench_fence.py: a 2x per-query slowdown
    with equal controls is flagged; a uniform 2x slowdown accompanied by
    a 2x control (pure host noise) is not.
    """
    norm = 1.0
    note = None
    if cur_ctl and base_ctl:
        norm = float(cur_ctl) / float(base_ctl)
        if abs(norm - 1.0) > 0.15:
            note = (
                f"cross-round times normalized by single-thread control "
                f"ratio {norm:.2f} ({cur_ctl}s now vs {base_ctl}s baseline)"
            )
    vs = {}
    regressions = []
    for q, t in cur_queries.items():
        t0 = base_queries.get(q)
        if not t0:
            continue
        t_norm = t / norm
        vs[q] = round(t_norm / t0, 2)
        if vs[q] > ratio_fence and (t_norm - t0) > abs_fence:
            regressions.append(q)
    return vs, sorted(regressions), note


# ---------------------------------------------------------------------------
# --scaling: N vs 4N cores on the flagship cover-refine join (BASELINE.json
# two-cluster-size criterion, sandbox form). Protocol (see BENCH/BASELINE.md):
# 200M-doc parquet snapshot generated once; legs interleaved across two
# passes (the host VM shows CPU-steal bursts — interleaving keeps one noisy
# window from poisoning a leg); best-of reported per leg with steal%.
# local[2] vs local[8] keeps JVM threads + Python workers under the 32-vCPU
# budget at BOTH sizes (local[16]/local[32] oversubscribe: each task holds a
# JVM thread AND a Python worker).
# ---------------------------------------------------------------------------

SCALING_SNAPSHOT = "/tmp/geokitten_bench_docs_200m.parquet"
SCALING_LEGS = (2, 8)


def _steal_sample():
    return list(map(int, open("/proc/stat").readline().split()[1:9]))


def _ensure_snapshot() -> int:
    import os as _os

    replicate = int(os.environ.get("SPARK_GRAFT_SCALING_REPLICATE", "40000"))
    n_rows = 5000 * replicate
    if not _os.path.exists(SCALING_SNAPSHOT):
        os.environ["SPARK_GRAFT_CPUS"] = "16"
        from geokitten_spark.session import get_spark

        spark = get_spark(app_name="bench-snapshot", master="local[16]")
        bench_documents(spark, SF_DIR, replicate).select("lon", "lat").write.mode(
            "overwrite"
        ).parquet(SCALING_SNAPSHOT)
        spark.stop()
    return n_rows


def _scaling_leg(cpus: int, n_rows: int, reps: int) -> list[dict]:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from geokitten_spark.session import get_spark
    from geokitten_spark.fixtures import bench_boundaries_pdf
    from geokitten_spark.operators.pip_join import PolygonCover
    from geokitten_spark.functions.cells_udfs import grid_cell_col

    spark = get_spark(app_name=f"scaling-{cpus}", master=f"local[{cpus}]")
    out = []
    try:
        docs = spark.read.parquet(SCALING_SNAPSHOT)
        cover = PolygonCover(
            spark, bench_boundaries_pdf(), id_col="region_key",
            wkt_col="geometry_wkt", res=10,
        )

        def run():
            located = cover.join(docs)
            _materialize(
                located.withColumn(
                    "cell_id", grid_cell_col(F.col("lon"), F.col("lat"), 7)
                )
                .groupBy("region_key", "cell_id")
                .agg(F.count(F.lit(1)).alias("n"))
            )

        # compute-dense control stage: the md5 URL-geocode derivation
        # (pure JVM codegen) — isolates plan scaling from the box's shared
        # memory bandwidth, which bounds the scan-heavy flagship
        gen_n = 10_000_000
        def run_gen():
            _materialize(
                bench_documents(spark, SF_DIR, gen_n // 5000)
                .select("doc_id", "lon", "lat")
            )

        for _ in range(reps):
            a = _steal_sample()
            t0 = time.monotonic()
            run()
            dt = time.monotonic() - t0
            b = _steal_sample()
            d = [y - x for x, y in zip(a, b)]
            steal = round(100 * d[7] / max(1, sum(d)), 1)
            t0 = time.monotonic()
            run_gen()
            gen_dt = time.monotonic() - t0
            out.append(
                {
                    "sec": round(dt, 2),
                    "docs_per_sec": round(n_rows / dt, 1),
                    "steal_pct": steal,
                    "geocode_docs_per_sec": round(gen_n / gen_dt, 1),
                }
            )
    finally:
        spark.stop()
    return out


# ---------------------------------------------------------------------------
# --scaling (headline): the CHECKPOINTED PIPELINE flagship.
#
# The north rule's job is a staged, snapshot-checkpointed pipeline over
# input_hint-shaped pages (url, warc_ts, html, text, lang) — extract text
# from html, score quality/lang/tokens, geocode the url, spatial-join
# against admin boundaries, tile-aggregate — with "each stage checkpoints
# ... so any stage is resumable". The scaling measurement runs exactly
# that: stage 1 (extract+score+geocode → parquet checkpoint) and stage 2
# (cover-refine PIP join + tile aggregate from the checkpoint), end-to-end
# docs/sec at local[2] vs local[8]. The stage boundary is not a bench
# trick: it is the pipeline's own design (plans/snapshot.py).
#
# The r1 measurement (200M-row bare (lon,lat) scan → join) is kept as
# --scaling-scan: it measures a scan whose per-doc compute is ~zero, i.e.
# single-socket DRAM bandwidth, not the plan (BENCH/BASELINE.md r1
# analysis); the pipeline flagship is the brief-faithful compute profile.
# ---------------------------------------------------------------------------

PIPELINE_SNAPSHOT = "/tmp/geokitten_bench_pages.parquet"


def _ensure_pipeline_snapshot() -> int:
    import os as _os

    n_docs = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "2000000"))
    if not _os.path.exists(PIPELINE_SNAPSHOT):
        os.environ["SPARK_GRAFT_CPUS"] = "16"
        from geokitten_spark.session import get_spark

        spark = get_spark(app_name="bench-pages-snapshot", master="local[16]")
        bench_documents(spark, SF_DIR, n_docs // 5000).select(
            "doc_id", "url", "html", "lang"
        ).write.mode("overwrite").parquet(PIPELINE_SNAPSHOT)
        spark.stop()
    return n_docs


def _pipeline_leg(cpus: int, n_rows: int, reps: int) -> list[dict]:
    import shutil

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from geokitten_spark.session import get_spark
    from geokitten_spark.fixtures import bench_boundaries_pdf
    from geokitten_spark.functions.text import extract_text, quality_cols, lang_id_col
    from geokitten_spark.functions.geocode import geo_lon, geo_lat
    from geokitten_spark.operators.pip_join import PolygonCover
    from geokitten_spark.functions.cells_udfs import grid_cell_col

    spark = get_spark(app_name=f"pipeline-scaling-{cpus}", master=f"local[{cpus}]")
    stage1_out = f"/tmp/geokitten_scaling_stage1_{cpus}.parquet"
    out = []
    try:
        cover = PolygonCover(
            spark, bench_boundaries_pdf(), id_col="region_key",
            wkt_col="geometry_wkt", res=10,
        )

        def stage1():
            docs = spark.read.parquet(PIPELINE_SNAPSHOT)
            withtext = docs.withColumn("text", extract_text(F.col("html")))
            q = quality_cols(F.col("text"))
            withtext.select(
                "doc_id",
                lang_id_col(F.col("text")).alias("pred_lang"),
                q["quality_score"].alias("quality_score"),
                q["n_tokens"].alias("n_tokens"),
                geo_lon(F.col("url")).alias("lon"),
                geo_lat(F.col("url")).alias("lat"),
            ).write.mode("overwrite").parquet(stage1_out)

        def stage2():
            scalars = spark.read.parquet(stage1_out)
            located = cover.join(scalars)
            _materialize(
                located.withColumn(
                    "cell_id", grid_cell_col(F.col("lon"), F.col("lat"), 7)
                )
                .groupBy("region_key", "cell_id")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_tokens").alias("tokens"),
                    F.avg("quality_score").alias("avg_q"),
                )
            )

        for _ in range(reps):
            a = _steal_sample()
            t0 = time.monotonic()
            stage1()
            t1 = time.monotonic()
            stage2()
            t2 = time.monotonic()
            b = _steal_sample()
            d = [y - x for x, y in zip(a, b)]
            steal = round(100 * d[7] / max(1, sum(d)), 1)
            out.append(
                {
                    "sec": round(t2 - t0, 2),
                    "stage1_sec": round(t1 - t0, 2),
                    "stage2_sec": round(t2 - t1, 2),
                    "docs_per_sec": round(n_rows / (t2 - t0), 1),
                    "steal_pct": steal,
                }
            )
    finally:
        spark.stop()
        shutil.rmtree(stage1_out, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# --scaling-queries: per-OPERATOR two-parallelism sweep.
#
# The flagship pipeline (--scaling) evidences the north rule's headline
# gate; this mode broadens the evidence to the other shuffle-shaped
# operator families — kRing kNN join, MinHash dedup, the no-broadcast
# partitioned PIP join, and the multi-res tile rollup — each measured at
# local[2] vs local[8] (the host-noise-safe legs, BENCH/BASELINE.md
# protocol) over the SAME deterministic replicated input.
# ---------------------------------------------------------------------------

SQ_REPLICATE = int(os.environ.get("SPARK_GRAFT_SQ_REPLICATE", "40"))


def _squery_leg(cpus: int, reps: int = 1) -> dict[str, list]:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from geokitten_spark.session import get_spark
    from geokitten_spark.fixtures import bench_boundaries_pdf
    from geokitten_spark.operators.knn import knn_join
    from geokitten_spark.operators.dedup import span_coverage
    from geokitten_spark.operators.pip_join import partitioned_pip_join
    from geokitten_spark.operators.tile import tile_rollup

    spark = get_spark(app_name=f"squery-scaling-{cpus}", master=f"local[{cpus}]")
    out: dict[str, list] = {}
    try:
        from geokitten_spark.operators.ann import (
            sq8_code_col, sq8_params, sq8_quantize_query,
        )

        docs = bench_documents(spark, SF_DIR, SQ_REPLICATE).cache()
        n_docs = docs.count()
        points = docs.select("doc_id", "lang", "lon", "lat")
        texts = docs.select("doc_id", "lang", "text")
        bnd = spark.createDataFrame(
            bench_boundaries_pdf()[["region_key", "geometry_wkt"]]
        )

        # the JVM-only ops finish in ~1s at the text-sized input — pure
        # overhead, no scaling signal — so each leg sizes its own frame:
        # tile_rollup uses jittered(1000), the PIP leg jittered(25), and
        # knn_join the base points frame (deterministic arithmetic of
        # (doc_id, rep); generation is codegen and scales with the job)
        def jittered(factor):
            reps_arr = F.sequence(F.lit(0), F.lit(factor - 1))
            return points.select(
                "doc_id",
                F.explode(reps_arr).alias("rep"),
                "lon", "lat",
            ).select(
                (F.col("doc_id") * factor + F.col("rep")).alias("doc_id"),
                (F.col("lon") + (F.col("rep") % 31 - 15) * 0.003).alias("lon"),
                (F.col("lat") + (F.col("rep") % 13 - 6) * 0.003).alias("lat"),
            )

        # leg sizes re-calibrated round 4: the kNN bound prune and the
        # partitioned-PIP fast path cut their absolute times ~5-7x, so the
        # r2-era inputs left ~2-8s legs that measured stage-scheduling
        # latency, not throughput (knn read 0.38 "efficiency" purely from
        # a ~4.5s fixed session/stage floor). Each leg now targets the
        # 30-80s band at local[2], where the floor is <10% of the leg.
        # kNN note: replica coords are hash-spread, so per-cell density —
        # and with it candidate work per point — grows with ANY
        # replication scheme (distinct-cell shifting measured WORSE, 27x
        # base at x8, because shifted hotspots stack on other hotspots);
        # the quadratic-ish growth is a property of the kNN-join problem,
        # not the plan, and scaling efficiency compares the SAME input at
        # both parallelism levels, so in-place jitter at a factor sized
        # for ~45s is the honest choice.
        points_big = jittered(4000)   # JVM-only rollup: ~800M rows
        points_mid = jittered(800)    # Arrow-refine pip: ~160M rows
        points_knn = jittered(4)      # ~800k pts, ~45s at local[2]
        n_big = n_docs * 4000
        n_mid = n_docs * 800
        n_knn = n_docs * 4
        texts_half = texts.filter(F.col("doc_id") % 2 == 0)
        n_half = n_docs // 2

        # SQ8 scan leg (round-4 session 4): the quantize+int-dot scoring
        # map stage over a replicated embeddings table. The base table is
        # tiny, so REPARTITION BEFORE THE EXPLODE — without it the whole
        # 20M-row scan runs as one task and measures nothing (calibration
        # run: 1 partition, 103s at local[2]). Factor sized for the
        # 30-80s local[2] band like the other legs.
        sq8_factor = int(os.environ.get("SPARK_GRAFT_SQ8_FACTOR", "4000"))
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        sq8_mn, sq8_mx = sq8_params(emb)
        sq8_qc = sq8_quantize_query(
            [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]],
            sq8_mn, sq8_mx,
        )
        n_sq8 = emb.count() * sq8_factor
        emb_big = (
            emb.repartition(64)
            .select(
                F.explode(F.sequence(F.lit(0), F.lit(sq8_factor - 1))).alias("rep"),
                "vec_id", "embedding",
            )
            .select(
                (F.col("vec_id") * sq8_factor + F.col("rep")).alias("vec_id"),
                "embedding",
            )
        )
        sq8_qlit = F.array(*[F.lit(int(c)).cast("long") for c in sq8_qc])
        sq8_score = F.aggregate(
            F.zip_with(
                sq8_code_col(
                    F.col("embedding").cast("array<double>"), sq8_mn, sq8_mx
                ),
                sq8_qlit,
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

        # GeoParquet sink leg (r5): jittered points -> vectorized WKB
        # encode -> partitioned parquet write with geo footers. End-to-end
        # on local disk like every other leg; compute density per byte is
        # the lowest in the sweep (21-byte blobs, no math), so this leg
        # rides the same DRAM/IO bandwidth ceiling the partitioned-PIP
        # bare scan documents — cached-input/tmpfs controls measured the
        # same ~0.5-0.6, i.e. no hidden serial stage in the sink itself.
        import shutil as _shutil
        import tempfile as _tempfile

        from geokitten_spark.sources.geoparquet import (
            points_to_wkb, write_geoparquet,
        )

        gp_factor = int(os.environ.get("SPARK_GRAFT_GP_FACTOR", "8"))
        points_gp = jittered(gp_factor).repartition(64)
        n_gp = n_docs * gp_factor
        wkb_gp = points_gp.select(
            "doc_id", points_to_wkb(F.col("lon"), F.col("lat")).alias("geometry")
        )

        def geoparquet_write_leg():
            loc = _tempfile.mkdtemp(prefix="gk_sq_geoparquet_")
            try:
                _materialize(write_geoparquet(wkb_gp, loc, geometry_col="geometry"))
            finally:
                _shutil.rmtree(loc, ignore_errors=True)

        # Raster heat-tile leg (r5): Arrow pixel encode over jittered
        # points + map-side-combined pixel aggregate + grouped PNG render
        # (zooms 8/7/6). Throughput is bound by the vectorized encode
        # pass, i.e. the Python-worker pool — the scaling signal for the
        # Arrow UDF lane. Factor targets the 30-80s local[2] band.
        from geokitten_spark.viz.raster import raster_heat_tiles

        raster_factor = int(os.environ.get("SPARK_GRAFT_RASTER_FACTOR", "50"))
        points_raster = jittered(raster_factor)
        n_raster = n_docs * raster_factor

        ops = {
            "ann_sq8_scan": lambda: _materialize(
                emb_big.select("vec_id", sq8_score.alias("s"))
                .orderBy(F.col("s").desc(), F.col("vec_id").asc())
                .limit(10)
            ),
            "raster_tiles": lambda: _materialize(
                raster_heat_tiles(points_raster, zooms=(8, 7, 6))
            ),
            "geoparquet_write": geoparquet_write_leg,
            "knn_join": lambda: _materialize(
                knn_join(points_knn, id_col="doc_id", k=3, res=7, ring_k=2)
            ),
            # span_coverage, not minhash, for the dedup family: replicated
            # text makes every replica a perfect near-dup, so minhash pair
            # output grows QUADRATICALLY in the replicate factor (a bench
            # artifact, not a plan property); the 8-gram doc-frequency join
            # is linear in input at any replicate and exercises the same
            # groupBy+join shuffle shape
            "dedup_span_coverage": lambda: _materialize(
                span_coverage(texts_half, shingle_n=8)
            ),
            "pip_partitioned": lambda: _materialize(
                partitioned_pip_join(
                    points_mid, bnd, id_col="region_key",
                    wkt_col="geometry_wkt", res=9,
                )
            ),
            "tile_rollup": lambda: _materialize(
                tile_rollup(points_big, "lon", "lat", [7, 5, 3])
            ),
        }
        op_rows = {
            "tile_rollup": n_big,
            "pip_partitioned": n_mid,
            "dedup_span_coverage": n_half,
            "knn_join": n_knn,
            "ann_sq8_scan": n_sq8,
            "geoparquet_write": n_gp,
            "raster_tiles": n_raster,
        }
        only = os.environ.get("SPARK_GRAFT_SQ_OPS")
        if only:
            keep = {s.strip() for s in only.split(",")}
            ops = {k: v for k, v in ops.items() if k in keep}
        for name, fn in ops.items():
            fn()  # warmup: Python pool spawn + codegen
            rows = op_rows.get(name, n_docs)
            samples = []
            for _ in range(max(1, reps)):
                t0 = time.monotonic()
                fn()
                dt = time.monotonic() - t0
                samples.append(
                    {"sec": round(dt, 2), "docs_per_sec": round(rows / dt, 1)}
                )
            out[name] = samples
    finally:
        spark.stop()
    return out


def main():
    if "--scaling-queries" in sys.argv:
        legs = {c: {} for c in SCALING_LEGS}
        for _pass in range(3):  # interleave legs; best-of-3 rides out steal bursts
            for cpus in SCALING_LEGS:
                got = _squery_leg(cpus, reps=1)
                for op, samples in got.items():
                    legs[cpus].setdefault(op, []).extend(samples)
        ratio = SCALING_LEGS[1] / SCALING_LEGS[0]
        per_op = {}
        for op in next(iter(legs.values())):
            best = {
                c: max(s["docs_per_sec"] for s in legs[c][op]) for c in SCALING_LEGS
            }
            per_op[op] = {
                "throughput_n": best[SCALING_LEGS[0]],
                "throughput_4n": best[SCALING_LEGS[1]],
                "efficiency": round(
                    best[SCALING_LEGS[1]] / (ratio * best[SCALING_LEGS[0]]), 3
                ),
            }
        out = {
            "metric": (
                f"per-operator scaling efficiency docs_per_sec(local[{SCALING_LEGS[1]}])"
                f" / ({ratio:.0f} x docs_per_sec(local[{SCALING_LEGS[0]}]))"
            ),
            "value": round(
                sum(v["efficiency"] for v in per_op.values()) / len(per_op), 3
            ),
            "unit": "ratio",
            "replicate": SQ_REPLICATE,
            "ops": per_op,
            "runs": {f"local[{c}]": legs[c] for c in SCALING_LEGS},
        }
        print(json.dumps(out))
        return
    if "--scaling" in sys.argv:
        n_rows = _ensure_pipeline_snapshot()
        runs: dict[str, list] = {f"local[{c}]": [] for c in SCALING_LEGS}
        for _pass in range(2):  # interleave legs across passes
            for cpus in SCALING_LEGS:
                runs[f"local[{cpus}]"].extend(_pipeline_leg(cpus, n_rows, reps=2))
        best = {
            leg: max(r["docs_per_sec"] for r in reps) for leg, reps in runs.items()
        }
        lo, hi = (f"local[{SCALING_LEGS[0]}]", f"local[{SCALING_LEGS[1]}]")
        ratio = SCALING_LEGS[1] / SCALING_LEGS[0]
        eff = round(best[hi] / (ratio * best[lo]), 3)
        out = {
            "metric": (
                f"pipeline flagship (extract->score->geocode->PIP->tile, "
                f"checkpointed stages) scaling efficiency "
                f"docs_per_sec({hi}) / ({ratio:.0f} x docs_per_sec({lo}))"
            ),
            "value": eff,
            "unit": "ratio",
            "throughput_n": best[lo],
            "throughput_4n": best[hi],
            "n_docs": n_rows,
            "runs": runs,
        }
        print(json.dumps(out))
        return
    if "--scaling-scan" in sys.argv:
        n_rows = _ensure_snapshot()
        runs: dict[str, list] = {f"local[{c}]": [] for c in SCALING_LEGS}
        for _pass in range(2):  # interleave legs across passes
            for cpus in SCALING_LEGS:
                runs[f"local[{cpus}]"].extend(_scaling_leg(cpus, n_rows, reps=2))
        best = {
            leg: max(r["docs_per_sec"] for r in reps) for leg, reps in runs.items()
        }
        best_gen = {
            leg: max(r["geocode_docs_per_sec"] for r in reps)
            for leg, reps in runs.items()
        }
        lo, hi = (f"local[{SCALING_LEGS[0]}]", f"local[{SCALING_LEGS[1]}]")
        ratio = SCALING_LEGS[1] / SCALING_LEGS[0]
        eff = round(best[hi] / (ratio * best[lo]), 3)
        out = {
            "metric": f"scaling efficiency docs_per_sec({hi}) / ({ratio:.0f} x docs_per_sec({lo}))",
            "value": eff,
            "unit": "ratio",
            "throughput_n": best[lo],
            "throughput_4n": best[hi],
            "geocode_stage_efficiency": round(
                best_gen[hi] / (ratio * best_gen[lo]), 3
            ),
            "geocode_throughput_n": best_gen[lo],
            "geocode_throughput_4n": best_gen[hi],
            "n_docs": n_rows,
            "runs": runs,
        }
        print(json.dumps(out))
        return
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    result = run_once(cpus)
    # 10x scale-step evidence (VERDICT r4 item 4): separate section so the
    # suite-wall "value" and the per-leg regression fence stay comparable
    # across rounds; off by default (it pushes the JSON line past 2000
    # chars), enable with SPARK_GRAFT_SCALE_STEP=1
    if os.environ.get("SPARK_GRAFT_SCALE_STEP", "0") != "0":
        result["scale_step_10x"] = scale_step(cpus)
    base_name, base = load_fence_baseline(
        os.path.dirname(os.path.abspath(__file__)),
        sf=result.get("sf"),
        replicate=result.get("replicate"),
        cpus=result.get("cpus"),
    )
    if base:
        vs, regressions, note = regression_fence(
            result["queries"],
            result.get("cpu_control_sec"),
            base.get("queries", {}),
            base.get("cpu_control_sec"),
        )
        result[f"vs_{base_name}"] = vs
        result[f"regressions_vs_{base_name}"] = regressions
        if note:
            result["regressions_note"] = note
    print(json.dumps(result))


if __name__ == "__main__":
    main()
