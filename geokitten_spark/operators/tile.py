"""A6 — tile aggregation (SURVEY.md §2.5).

Scale design:
* tile aggregates are plain ``groupBy(cell_id)`` hash aggregates — Catalyst
  plans partial (map-side) + final automatically, so the shuffle carries one
  row per (partition, cell), not per doc;
* multi-resolution rollups re-aggregate PARENT tiles from the finest tiles
  (sums/counts compose), never re-scanning the docs table — the second and
  later resolutions cost O(#tiles), not O(#docs).

The J3 cell-equi join (docs × polygon cover cells on the BIGINT cell key)
lives in ``operators/pip_join.py`` (``PolygonCover`` broadcasts the cover,
``partitioned_pip_join`` shuffles both sides on the cell id).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cells.grid import grid_cell_sql, grid_decode_sql, grid_parent_sql, spark_col_sql

__all__ = ["tile_aggregate", "tile_rollup", "tile_distinct_rollup", "geo_aggregates", "tile_vectorize", "tile_wkt_sql"]


def tile_aggregate(
    docs: DataFrame,
    cell_col: str = "cell_id",
    count_distinct_col: str | None = None,
) -> DataFrame:
    """Per-cell doc counts (+ optional approx distinct) — partial+final hash
    aggregate; one shuffle of pre-aggregated rows. Docs whose cell is NULL
    (``grid_cell_col`` of a NULL/NaN/±Inf coordinate) form one NULL-key
    row."""
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if count_distinct_col:
        aggs.append(F.approx_count_distinct(count_distinct_col).alias("n_distinct"))
    return docs.groupBy(cell_col).agg(*aggs)


def _cell_sql(lon_col: str, lat_col: str, res: int) -> str:
    """Spark SQL grid encode of a caller's lon/lat column names."""
    return grid_cell_sql(spark_col_sql(lon_col), spark_col_sql(lat_col), res)


def _levels_sql(finest: int, resolutions: list) -> str:
    """Explode of a finest-res ``cell_id`` row into one ``lv`` struct
    (res, cell_id) per resolution: the cell itself and its arithmetic
    parents (integer ops on the tile table, no re-encode)."""
    levels = ", ".join(
        f"struct({r} AS res, "
        f"{'cell_id' if r == finest else grid_parent_sql('cell_id', finest, r)} AS cell_id)"
        for r in sorted(resolutions, reverse=True)
    )
    return f"explode(array({levels})) AS lv"


def tile_rollup(
    docs: DataFrame,
    lon_col: str,
    lat_col: str,
    resolutions: list,
) -> DataFrame:
    """Multi-res tile counts in ONE pass: aggregate at the finest
    resolution (map-side partial, one shuffle of #tiles rows), then derive
    every coarser level from the finest TILES via the arithmetic parent —
    an explode over the tiny tile table, not the docs table. Output:
    (res, cell_id, n_docs).

    (A union of per-res group-bys would rescan/re-aggregate the docs once
    per resolution — 3x the work at 3 levels; this shape costs
    O(docs) + O(#tiles x levels).)

    Docs with a NULL/NaN/±Inf coordinate have a NULL cell and count in
    one NULL-``cell_id`` row per resolution."""
    finest = max(resolutions)
    base = (
        docs.select(F.expr(f"{_cell_sql(lon_col, lat_col, finest)} AS cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        base.select(F.expr(_levels_sql(finest, resolutions)), "n_docs")
        .groupBy(F.col("lv.res").alias("res"), F.col("lv.cell_id").alias("cell_id"))
        .agg(F.sum("n_docs").alias("n_docs"))
    )


def tile_distinct_rollup(
    docs: DataFrame,
    lon_col: str,
    lat_col: str,
    key_col: str,
    resolutions: list,
    *,
    m: int = 256,
    salt: str = "hll",
) -> DataFrame:
    """Multi-res per-tile DISTINCT(key) estimates in ONE doc pass.

    ``tile_rollup`` composes upward because counts are sums; distinct
    counts are NOT summable (the same key appears under many child
    tiles), so a naive multi-zoom distinct recomputes a
    ``COUNT(DISTINCT)`` per level — L corpus shuffles. This operator
    instead builds the HLL register table (operators/sketch.py) at the
    FINEST resolution — the only O(docs) shuffle, output <= m rows per
    tile — then derives every coarser level by exploding the register
    table over the arithmetic tile parents and MAX-merging registers.
    A register is a max of per-key ranks, so max-merging the children's
    registers is LOSSLESS: the parent's estimate is bit-identical to a
    single-pass sketch of the parent's docs — which is exactly what the
    DuckDB oracle computes per level (the driver hash-match on query
    ``tile_distinct_rollup`` is the losslessness proof at driver grade).

    At 10^12 docs: one corpus shuffle + L sketch-table shuffles
    (<= m x tiles rows each) instead of L corpus shuffles. Output:
    (res, cell_id, n_distinct) with the sketch's deterministic
    rounding (estimate std err ~1.04/sqrt(m)).
    """
    from .sketch import _hll_estimate, hll_registers

    finest = max(resolutions)
    base = docs.select(
        F.expr(f"{_cell_sql(lon_col, lat_col, finest)} AS cell_id"),
        F.col(key_col).alias("__k"),
    )
    regs = hll_registers(base, "__k", ["cell_id"], m=m, salt=salt)
    merged = (
        regs.select(F.expr(_levels_sql(finest, resolutions)), "__reg", "__R")
        .groupBy(
            F.col("lv.res").alias("res"),
            F.col("lv.cell_id").alias("cell_id"),
            "__reg",
        )
        .agg(F.max("__R").alias("__R"))
    )
    return _hll_estimate(merged, ["res", "cell_id"], m).withColumnRenamed(
        "hll_distinct", "n_distinct"
    )


def adaptive_tiles(
    docs: DataFrame,
    lon_col: str,
    lat_col: str,
    *,
    base_res: int,
    max_res: int,
    threshold: int,
    eager: bool = True,
) -> DataFrame:
    """Density-adaptive quadtree tiling: a cell SPLITS into its 4 children
    while it holds more than ``threshold`` docs and is coarser than
    ``max_res``; the output is the leaf tiling (res, cell_id, n_docs) —
    coarse tiles over sparse regions, fine tiles over hotspots. The
    variable-resolution map/serving layout every dense-city corpus needs.

    Scale shape: docs are aggregated ONCE at ``max_res`` (the only
    doc-sized shuffle — same cost as ``tile_rollup``); every coarser
    level's counts AND the split/keep decisions run on the tiny tile
    tables (semi/anti joins on parent cell ids). Deterministic: the leaf
    set is a pure function of the counts. Docs whose lon or lat is NULL,
    NaN or ±Inf have no cell and are in no leaf.

    EAGERNESS TRADEOFF (``eager``, default True): with ``eager=True`` the
    operator runs Spark jobs AT BUILD TIME via ``localCheckpoint()`` —
    unlike its lazy siblings — and the checkpointed blocks live on
    executors, so a lost executor makes downstream actions unrecoverable
    until recompute-from-source is re-declared (standard localCheckpoint
    caveat; on a cluster prefer a checkpoint dir or accept the re-run).
    The payoff is lineage truncation: without it every union branch and
    level semi-join re-derives the whole upstream plan (125 exchanges vs
    1 doc shuffle, measured). Pass ``eager=False`` to keep the operator
    fully lazy when composing it into a larger plan that is itself
    checkpointed or when build-time job launch is unacceptable.
    """
    return _adaptive_tiles_generic(
        docs,
        encode_col=lambda: F.expr(_cell_sql(lon_col, lat_col, max_res)),
        parent_col=lambda c, fr, to: F.expr(grid_parent_sql(c, fr, to)),
        base_res=base_res,
        max_res=max_res,
        threshold=threshold,
        eager=eager,
    )


def h3_adaptive_tiles(
    docs: DataFrame,
    lon_col: str,
    lat_col: str,
    *,
    base_res: int,
    max_res: int,
    threshold: int,
    eager: bool = True,
) -> DataFrame:
    """Density-adaptive APERTURE-7 tiling on canonical H3 ids: a cell
    splits into its 7 children (6 for pentagons) while it holds more than
    ``threshold`` docs — same scale shape and eagerness tradeoff as
    ``adaptive_tiles`` (one doc-sized aggregate at ``max_res``, decisions
    on tile tables), with the H3 digit-truncation parent. Docs whose lon
    or lat is NULL, NaN or ±Inf are in no leaf."""
    from ..functions.cells_udfs import h3_cell, h3_parent

    return _adaptive_tiles_generic(
        docs,
        encode_col=lambda: h3_cell(max_res)(F.col(lon_col), F.col(lat_col)),
        parent_col=lambda c, fr, to: h3_parent(to)(c),
        base_res=base_res,
        max_res=max_res,
        threshold=threshold,
        eager=eager,
    )


def _adaptive_tiles_generic(
    docs: DataFrame,
    *,
    encode_col,
    parent_col,
    base_res: int,
    max_res: int,
    threshold: int,
    eager: bool = True,
) -> DataFrame:
    if not (base_res <= max_res):
        raise ValueError("base_res must be <= max_res")

    ckpt = (lambda df: df.localCheckpoint()) if eager else (lambda df: df)
    # localCheckpoint (eager) after the doc-sized aggregate and after each
    # tiny per-level derivation: without it, every union branch and every
    # level's semi-join re-derives the WHOLE upstream lineage (measured:
    # 125 exchanges, only 4 reused, 17s at 500 docs → 1 doc shuffle +
    # per-level tile shuffles, sub-second, after truncation). The
    # checkpointed tables are #tiles-sized, never doc-sized.
    # docs with a non-finite coordinate (NULL cell) are in no leaf: only
    # non-NULL cells count, so their one row has n_docs = 0 and is dropped.
    # A filter on cell_id itself would be pushed below the aggregate into
    # the encode's projection and run the encode twice per doc.
    finest = (
        docs.select(encode_col().alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count("cell_id").alias("n_docs"))
        .filter(F.col("n_docs") > 0)
    )
    finest = ckpt(finest)
    # counts per level, finest -> coarsest, each derived from the previous
    counts = {max_res: finest}
    for r in range(max_res - 1, base_res - 1, -1):
        counts[r] = ckpt(
            counts[r + 1]
            .groupBy(parent_col("cell_id", r + 1, r).alias("cell_id"))
            .agg(F.sum("n_docs").alias("n_docs"))
        )
    out = []
    split_prev = None  # cells that split at the previous (coarser) level
    for r in range(base_res, max_res + 1):
        t = counts[r]
        if split_prev is not None:
            # only children of split cells are live at this level
            t = ckpt(
                t.withColumn(
                    "__parent", parent_col("cell_id", r, r - 1)
                ).join(
                    split_prev.select(F.col("cell_id").alias("__parent")),
                    on="__parent",
                    how="left_semi",
                )
            )
        splits = F.col("n_docs") > threshold
        if r < max_res:
            out.append(
                t.filter(~splits).select(
                    F.lit(r).alias("res"), "cell_id", "n_docs"
                )
            )
            split_prev = t.filter(splits)
        else:
            out.append(t.select(F.lit(r).alias("res"), "cell_id", "n_docs"))
    result = out[0]
    for df in out[1:]:
        result = result.unionByName(df)
    return result


def adaptive_tiles_sql(
    points_query: str, *, base_res: int, max_res: int, threshold: int
) -> str:
    """DuckDB twin of :func:`adaptive_tiles` over a (lon, lat) query."""
    parts = [
        f"c{max_res} AS (SELECT * FROM (SELECT {grid_cell_sql('lon', 'lat', max_res)} "
        f"AS cell_id, COUNT(*) AS n_docs FROM ({points_query}) GROUP BY 1) "
        f"WHERE cell_id IS NOT NULL)"
    ]
    for r in range(max_res - 1, base_res - 1, -1):
        parent = grid_parent_sql("cell_id", r + 1, r)
        parts.append(
            f"c{r} AS (SELECT {parent} AS cell_id, SUM(n_docs) AS n_docs "
            f"FROM c{r + 1} GROUP BY 1)"
        )
    live = [f"l{base_res} AS (SELECT * FROM c{base_res})"]
    sel = []
    for r in range(base_res, max_res + 1):
        if r < max_res:
            sel.append(
                f"SELECT CAST({r} AS INT) AS res, cell_id, "
                f"CAST(n_docs AS BIGINT) AS n_docs FROM l{r} "
                f"WHERE n_docs <= {threshold}"
            )
            parent = grid_parent_sql("c.cell_id", r + 1, r)
            live.append(
                f"l{r + 1} AS (SELECT c.* FROM c{r + 1} c "
                f"WHERE {parent} IN "
                f"(SELECT cell_id FROM l{r} WHERE n_docs > {threshold}))"
            )
        else:
            sel.append(
                f"SELECT CAST({r} AS INT) AS res, cell_id, "
                f"CAST(n_docs AS BIGINT) AS n_docs FROM l{r}"
            )
    return (
        "WITH " + ",\n".join(parts + live) + "\n" + " UNION ALL ".join(sel)
    )


# ---------------------------------------------------------------------------
# A3/A4 — geometry aggregates: union centroid + total bounds
# ---------------------------------------------------------------------------

def geo_aggregates(df: DataFrame, wkt_col: str = "geometry_wkt") -> DataFrame:
    """One-row frame with the distributed geometry aggregates the map
    terminal needs (SURVEY §2.5 A3/A4):

    * ``center_x/center_y`` — area-weighted union centroid: per-row
      (area, cx·area, cy·area) then sum ratios — exact for disjoint
      standardized polygons (the choropleth case, mirroring
      ``html_generator.py:133-154``);
    * ``xmin/ymin/xmax/ymax`` — total bounds (``:169-182``).

    All per-row work in one Arrow pass; the aggregate is a partial+final
    sum — one tiny shuffle row per partition.
    """
    from ..functions.geometry_udfs import bbox_struct
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType, StructField, StructType

    @pandas_udf(StructType([StructField(n, DoubleType()) for n in ("a", "cxa", "cya")]))
    def _weighted(wkt: pd.Series) -> pd.DataFrame:
        from ..geom import parse_wkt, geometry_area, centroid

        rows = []
        for w in wkt:
            try:
                g = parse_wkt(w)
                a = geometry_area(g)
                cx, cy = centroid(g)
                rows.append((a, cx * a, cy * a))
            except Exception:
                rows.append((0.0, 0.0, 0.0))
        return pd.DataFrame(rows, columns=["a", "cxa", "cya"])

    enriched = df.select(
        _weighted(F.col(wkt_col)).alias("w"), bbox_struct(F.col(wkt_col)).alias("b")
    )
    return enriched.agg(
        (F.sum("w.cxa") / F.sum("w.a")).alias("center_x"),
        (F.sum("w.cya") / F.sum("w.a")).alias("center_y"),
        F.min("b.xmin").alias("xmin"),
        F.min("b.ymin").alias("ymin"),
        F.max("b.xmax").alias("xmax"),
        F.max("b.ymax").alias("ymax"),
    )


def tile_vectorize(tiles: DataFrame, cell_col: str = "cell_id") -> DataFrame:
    """Raster→vector: turn grid cells back into polygon features (WKT) —
    pure SQL on the packed id (res/ix/iy decode + corner arithmetic), no
    Python, and expressible identically in DuckDB for the oracle."""
    return tiles.withColumn("geometry_wkt", F.expr(tile_wkt_sql(cell_col)))


def tile_wkt_sql(cell_expr: str) -> str:
    """The cell→rectangle-WKT expression (ANSI SQL: runs in Spark + DuckDB).

    Corners derive from the id layout ``res<<58 | ix<<29 | iy``; numbers
    are rendered via round(x, 9) so both engines format identically.
    Decode uses ``grid_decode_sql`` (exact integer division — plain
    FLOOR(x/2^29) through DOUBLE mis-decodes cells >= 2^53, i.e. res>=27
    ids with iy near 0)."""
    dec = grid_decode_sql(cell_expr)
    res, ix, iy = dec["res"], dec["ix"], dec["iy"]
    n = f"POWER(2.0, {res})"
    x0 = f"ROUND(-180.0 + ({ix}) * 360.0 / {n}, 9)"
    x1 = f"ROUND(-180.0 + (({ix}) + 1) * 360.0 / {n}, 9)"
    y0 = f"ROUND(-90.0 + ({iy}) * 180.0 / {n}, 9)"
    y1 = f"ROUND(-90.0 + (({iy}) + 1) * 180.0 / {n}, 9)"
    return (
        f"CONCAT('POLYGON ((', {x0}, ' ', {y0}, ', ', {x0}, ' ', {y1}, ', ', "
        f"{x1}, ' ', {y1}, ', ', {x1}, ' ', {y0}, ', ', {x0}, ' ', {y0}, '))')"
    )
