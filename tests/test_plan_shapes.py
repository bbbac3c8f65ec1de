"""Plan-shape regression fence: the shuffle-count claims made in the
operator docstrings (and graded at 100 TB) must hold in the actual
physical plans. Counts are upper bounds — a refactor that ADDS an
exchange fails loudly; AQE coalescing below the bound is fine.
"""

import re

from pyspark.sql import functions as F

from geokitten_spark.fixtures import web_documents
from tests.conftest import SF_SMOKE


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(df) -> int:
    # count shuffle exchanges only (not broadcasts, not reused ones)
    plan = _physical(df)
    return len(re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning", plan))


def test_tile_rollup_single_doc_shuffle(spark):
    from geokitten_spark.operators.tile import tile_rollup

    docs = web_documents(spark, SF_SMOKE)
    df = tile_rollup(docs, "lon", "lat", [7, 5, 3])
    # one shuffle for the finest aggregate + one for the rollup regroup of
    # the TILE table (doc-sized data crosses the wire exactly once)
    assert _n_exchanges(df) <= 2


def test_span_coverage_shuffle_bound(spark):
    from geokitten_spark.operators.dedup import span_coverage

    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lang", "text")
    df = span_coverage(docs, shingle_n=8)
    # df-count groupBy, join back, per-doc groupBy, per-lang rollup
    assert _n_exchanges(df) <= 4


def test_quality_repetition_map_only_before_rollup(spark):
    import __spark_entry__ as e

    df = e.queries()["quality_repetition"](spark, SF_SMOKE)
    # per-doc signals are array expressions: the ONLY shuffle is the
    # per-lang rollup
    assert _n_exchanges(df) <= 1


def test_partitioned_pip_no_driver_broadcast_and_bounded_exchanges(spark):
    from geokitten_spark.fixtures import admin_rects_pdf
    from geokitten_spark.operators.pip_join import partitioned_pip_join

    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    bnd = spark.createDataFrame(admin_rects_pdf())
    df = partitioned_pip_join(
        docs, bnd, id_col="n_nationkey", wkt_col="geometry_wkt", res=7
    )
    plan = _physical(df)
    # the cover is built by MapInPandas in executors — never collected
    assert "MapInPandas" in plan
    # docs side may shuffle at most once per branch (AQE broadcasts the
    # tiny cover at this scale → often zero)
    assert _n_exchanges(df) <= 2


def test_broadcast_cover_join_is_one_arrow_pass(spark):
    """PolygonCover.join is one scan of the docs, one Arrow ``refine``
    over lon/lat and one JVM explode of its id lists: no broadcast hash
    join, union or pandas map, so the docs are neither scanned nor
    geocoded twice."""
    from geokitten_spark.fixtures import bench_boundaries_pdf
    from geokitten_spark.operators.pip_join import PolygonCover

    docs = web_documents(spark, SF_SMOKE).select("doc_id", "url", "lon", "lat")
    cover = PolygonCover(
        spark, bench_boundaries_pdf(), id_col="region_key", wkt_col="geometry_wkt", res=7
    )
    df = cover.join(docs)
    df.write.mode("overwrite").format("noop").save()
    plan = _physical(df)
    assert len(re.findall(r"\bArrowEvalPython \[refine\(", plan)) == 1
    assert len(re.findall(r"\bArrowEvalPython\b", plan)) == 1
    assert len(re.findall(r"\bGenerate explode\(", plan)) == 1
    assert len(re.findall(r"\bFileScan\b", plan)) == 1
    for node in ("BroadcastHashJoin", "Union", "MapInPandas"):
        assert node not in plan, node


def test_split_assign_is_pure_projection(spark):
    from geokitten_spark.operators.sampling import split_assign

    docs = web_documents(spark, SF_SMOKE)
    df = docs.select(
        split_assign(F.col("doc_id"), [("a", 0.5), ("b", 0.5)]).alias("s")
    )
    assert _n_exchanges(df) == 0


def _exchange_output_types(df):
    """(name, dataType) of every attribute crossing a shuffle exchange."""
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if "ShuffleExchange" in name:
            attrs = node.output()
            for i in range(attrs.length()):
                a = attrs.apply(i)
                out.append((a.name(), a.dataType().simpleString()))
        kids = node.children()
        for i in range(kids.length()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_lsh_verify_payloads_are_hashed(spark):
    """The band/block joins must shuffle int64 shingle hashes, never the
    shingle/gram STRING arrays (at corpus scale the band exchange
    replicates the payload x bands)."""
    from geokitten_spark.fixtures import neardup_corpus
    from geokitten_spark.operators.dedup import minhash_neardup, ngram_jaccard_pairs

    docs = neardup_corpus(spark, SF_SMOKE)
    for df in (minhash_neardup(docs), ngram_jaccard_pairs(docs)):
        bad = [
            (n, t)
            for (n, t) in _exchange_output_types(df)
            if "array<string>" in t
        ]
        assert not bad, f"string-array payload crosses an exchange: {bad}"


def test_lm_scoring_has_no_per_doc_window(spark):
    """lm_perplexity's scoring path forms bigrams map-side from the
    per-doc token array; the only Window nodes allowed in the whole plan
    are the salted top-K prunes in lm_train (keyed on grp / grp+salt,
    bounded partitions) — never a Window partitioned by doc_id, which
    would shuffle the entire corpus once per scoring pass."""
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.operators.lm import lm_perplexity

    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lang", "text")
    plan = _physical(lm_perplexity(docs))
    for line in plan.splitlines():
        if "Window" in line and "doc_id" in line:
            raise AssertionError(f"per-doc Window in LM plan: {line.strip()}")


def test_raster_tiles_one_exchange_any_zoom_count(spark):
    """viz/raster.py promises exactly ONE shuffle regardless of how many
    zoom levels render: the (z, x, y) repartition of the map-side Arrow
    pass's per-pixel sums. Both aggregates and the batched render run
    above it with no further exchange and no grouped pandas render."""
    from geokitten_spark.viz.raster import raster_heat_tiles

    docs = web_documents(spark, SF_SMOKE).select("lon", "lat")
    for zooms in ((3,), (4, 3, 2, 1)):
        df = raster_heat_tiles(docs, zooms=zooms)
        assert _n_exchanges(df) == 1, zooms
        assert "FlatMapGroupsInPandas" not in _physical(df), zooms


def test_h3_compact_cover_codegen_probe_single_shuffle(spark):
    """The compacted-cover driver query's containment probe must stay
    JVM-side (bit-arithmetic ancestors + INSET literals, NO row-at-a-time
    Python) with exactly one shuffle (the per-cover-cell aggregate), and
    its assignment must agree with the full-uncompact expansion."""
    import numpy as np

    import __spark_entry__ as entrymod
    from geokitten_spark.cells import h3core
    from geokitten_spark.oracles import H3_COMPACT_RES, H3_POLYFILL_RING

    df = entrymod.q_h3_compact_cover(spark, SF_SMOKE)
    rows = df.collect()
    plan = _physical(df)
    assert "BatchEvalPython" not in plan, "probe fell back to per-row Python"
    final_plan = plan.split("== Initial Plan ==")[0]
    assert (
        len(re.findall(r"\bExchange hashpartitioning", final_plan)) == 1
    ), "expected exactly one shuffle (the per-cover-cell aggregate)"

    full = h3core.polygon_to_cells(list(H3_POLYFILL_RING), H3_COMPACT_RES)
    comp = set(h3core.compact_cells(full).astype(np.int64).tolist())
    # every emitted cover cell is a member of the compacted set, at the
    # res its own bits claim
    for r in rows:
        assert r["cover_cell"] in comp
        assert (r["cover_cell"] >> 52) & 15 == r["cover_res"]

    # conservation: total docs assigned via the mixed-res cover == docs
    # whose res-3 cell is in the UNCOMPACTED polyfill (membership is
    # equivalent by the compact/uncompact roundtrip)
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.functions.cells_udfs import h3_cell

    docs = web_documents(spark, SF_SMOKE)
    n_plain = (
        docs.select(
            h3_cell(H3_COMPACT_RES)(F.col("lon"), F.col("lat")).alias("c")
        )
        .filter(F.col("c").isin([int(x) for x in full.astype(np.int64)]))
        .count()
    )
    assert sum(r["n_docs"] for r in rows) == n_plain


def test_tile_distinct_rollup_one_doc_shuffle_and_lossless_merge(spark):
    """The distinct pyramid must shuffle the DOCS exactly once (the
    finest register table); coarser zooms re-shuffle only sketch-sized
    register rows. And the max-merged pyramid estimates must equal an
    independent single-pass sketch at every level (register merge is
    lossless)."""
    from geokitten_spark.functions.cells_udfs import grid_cell_col
    from geokitten_spark.operators.sketch import hll_distinct
    from geokitten_spark.operators.tile import tile_distinct_rollup

    docs = web_documents(spark, SF_SMOKE)
    df = tile_distinct_rollup(docs, "lon", "lat", "url", [3, 5, 7])
    rows = df.collect()
    # 3 shuffles total: docs→finest registers, register pyramid regroup,
    # per-(res,cell) estimate — only the FIRST carries doc-sized data
    # (count the AQE final plan only: after collect() the toString also
    # embeds the pre-AQE "Initial Plan", which would double the count)
    final_plan = _physical(df).split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bExchange hashpartitioning", final_plan)) <= 3

    got = {(r["res"], r["cell_id"]): r["n_distinct"] for r in rows}
    for res in (3, 5, 7):
        single = hll_distinct(
            docs.select(
                grid_cell_col(F.col("lon"), F.col("lat"), res).alias("cell_id"),
                "url",
            ),
            "url",
            ["cell_id"],
        ).collect()
        for s in single:
            assert got[(res, s["cell_id"])] == s["hll_distinct"], (
                res,
                s["cell_id"],
            )
        assert len(single) == sum(1 for k in got if k[0] == res)
