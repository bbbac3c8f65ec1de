"""J2 — broadcast point-in-polygon spatial join (SURVEY.md §2.4).

Strategy (scale rationale):
* The boundary set (admin polygons) is small relative to the docs table
  (thousands vs 10^12 rows) → classic broadcast asymmetry. We build a packed
  numpy STR-tree over polygon bboxes ONCE on the driver and ship it with
  ``sc.broadcast`` — one copy per executor, not per task.
* The docs side is never shuffled: the join is a ``mapInPandas`` over
  whatever partitioning the scan produced; each Arrow batch does a
  vectorized candidate lookup (tree) + exact even-odd ray-casting refine.
* Skew-free by construction: work per partition is proportional to rows,
  not to key frequency (no hot-cell shuffle key exists in this operator).

Equivalently expressible as cell-cover prefilter + refine: ``PolygonCover``
(square grid) and ``H3PolygonCover`` (H3 cells) broadcast the cover and
send only boundary-cell docs to the Arrow refine; ``partitioned_pip_join``
computes the cover in the executors and shuffles on the cell id — kept for
the case where the boundary set is too big to broadcast (SURVEY §4
"custom Catalyst rule? none — explicit API").
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..cells.grid import _grid_pack, _grid_xy, grid_decode, grid_key_sql, spark_col_sql
from ..functions.cells_udfs import h3_cell, h3_parent_col
from ..geom import parse_wkt, points_in_rings
from ..geom.rtree import STRtree

__all__ = [
    "BoundaryIndex",
    "PolygonCover",
    "H3PolygonCover",
    "pip_join",
    "cover_refine_pip_join",
]


def _parts(g) -> list:
    """A geometry's parts as lists of float64 (lon, lat) ring arrays."""
    return [[np.asarray(r, dtype=np.float64)[:, :2] for r in rings] for rings in g.parts]


def _inside(lons: np.ndarray, lats: np.ndarray, owner: np.ndarray, parts_of) -> np.ndarray:
    """Row mask: point ``i`` lies inside polygon ``owner[i]``, whose parts
    ``parts_of(owner[i])`` returns. Rows are grouped by owner, so each
    polygon ray-casts all its rows in one vectorized call."""
    keep = np.zeros(len(owner), dtype=bool)
    if len(owner) == 0:
        return keep
    order = np.argsort(owner, kind="stable")
    bounds = np.flatnonzero(np.diff(owner[order])) + 1
    for chunk in np.split(order, bounds):
        for rings in parts_of(owner[chunk[0]]):
            keep[chunk] |= points_in_rings(lons[chunk], lats[chunk], rings)
    return keep


def _edge_pieces(ring: np.ndarray, step: float):
    """Split every edge of ``ring`` into pieces at most ``step`` long per
    axis; returns the pieces' start and end coordinates (x0, y0, x1, y1)."""
    ax, ay = ring[:-1, 0], ring[:-1, 1]
    dx, dy = ring[1:, 0] - ax, ring[1:, 1] - ay
    n_sub = np.maximum(1, np.ceil(np.maximum(np.abs(dx), np.abs(dy)) / step).astype(np.int64))
    idx = np.repeat(np.arange(len(ax)), n_sub)
    k = np.concatenate([np.arange(n) for n in n_sub])
    starts, ends = k / n_sub[idx], (k + 1) / n_sub[idx]
    ax, ay, dx, dy = ax[idx], ay[idx], dx[idx], dy[idx]
    return ax + dx * starts, ay + dy * starts, ax + dx * ends, ay + dy * ends


def _left(matched: DataFrame, docs: DataFrame, how: str, doc_key_cols, id_col: str, id_type):
    """``how`` tail of the two-path joins: 'left' adds every unmatched doc
    once with a null ``id_col`` — a key anti-join against the matched set."""
    if how == "inner":
        return matched
    if how != "left":
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if not doc_key_cols:
        raise ValueError("how='left' requires doc_key_cols (a unique doc key)")
    unmatched = docs.join(
        matched.select(*doc_key_cols).distinct(), on=doc_key_cols, how="left_anti"
    ).withColumn(id_col, F.lit(None).cast(id_type))
    return matched.unionByName(unmatched)


class BoundaryIndex:
    """Driver-built, broadcast-able polygon index: packed bbox R-tree +
    parsed ring arrays, pure numpy (pickles compactly)."""

    def __init__(self, ids: list, wkts: list):
        self.ids = list(ids)
        self.geoms = [parse_wkt(w) for w in wkts]
        # one entry per polygon PART so candidate refine touches only the part
        self.part_rings = [rings for g in self.geoms for rings in _parts(g)]
        self.part_owner = np.asarray(
            [gi for gi, g in enumerate(self.geoms) for _ in g.parts], dtype=np.int64
        )
        part_boxes = [(*rings[0].min(axis=0), *rings[0].max(axis=0)) for rings in self.part_rings]
        self.tree = STRtree(np.asarray(part_boxes, dtype=np.float64))

    def locate(self, lons: np.ndarray, lats: np.ndarray):
        """(point_idx, polygon_idx) matches; a point inside k overlapping
        polygons yields k pairs (join semantics, not first-wins)."""
        pi, part_i = self.tree.query_points(lons, lats)
        hit = _inside(lons[pi], lats[pi], part_i, lambda k: self.part_rings[k : k + 1])
        out_p, out_g = pi[hit], self.part_owner[part_i[hit]]
        # a MULTIPOLYGON hit in 2 parts would duplicate: dedupe (point, geom)
        key = out_p * (len(self.geoms) + 1) + out_g
        _, uniq = np.unique(key, return_index=True)
        return out_p[uniq], out_g[uniq]


def pip_join(
    docs: DataFrame,
    boundaries_pdf: pd.DataFrame,
    *,
    id_col: str,
    wkt_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    how: str = "inner",
    s2_cells: dict | None = None,
) -> DataFrame:
    """Join docs (lon/lat) to boundary polygons via broadcast R-tree + exact
    ray-casting PIP. Returns docs columns + the boundary id column.

    ``how``: 'inner' drops unmatched docs; 'left' keeps them with null id.
    ``s2_cells``: optional ``{out_col: s2_level}`` — S2 cell ids computed in
    the SAME Python pass (one Arrow exchange instead of two; at 10^12 rows
    every extra executor↔Python round trip is a full-table serialization).
    """
    spark = docs.sparkSession
    index = BoundaryIndex(boundaries_pdf[id_col].tolist(), boundaries_pdf[wkt_col].tolist())
    bc = spark.sparkContext.broadcast(index)
    id_type = StringType() if boundaries_pdf[id_col].dtype == object else LongType()
    extra_fields = [StructField(c, LongType(), True) for c in (s2_cells or {})]
    out_schema = StructType(
        docs.schema.fields + [StructField(id_col, id_type, True)] + extra_fields
    )

    left = how == "left"
    s2_spec = dict(s2_cells or {})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx: BoundaryIndex = bc.value
        ids = np.asarray(idx.ids, dtype=object)
        if s2_spec:
            from ..cells.s2 import lat_lng_to_cell

        for pdf in batches:
            lons = pdf[lon_col].to_numpy(np.float64)
            lats = pdf[lat_col].to_numpy(np.float64)
            pi, gi = idx.locate(lons, lats)
            matched = pdf.iloc[pi].copy()
            matched[id_col] = ids[gi]
            if left:
                unmatched_mask = np.ones(len(pdf), dtype=bool)
                unmatched_mask[pi] = False
                rest = pdf.loc[unmatched_mask].copy()
                rest[id_col] = None
                matched = pd.concat([matched, rest], ignore_index=True)
            for out_col, level in s2_spec.items():
                matched[out_col] = np.asarray(
                    lat_lng_to_cell(
                        matched[lat_col].to_numpy(np.float64),
                        matched[lon_col].to_numpy(np.float64),
                        level,
                    )
                ).astype("int64")
            yield matched

    return docs.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# J2b — cover-refine PIP join (the 10^12-row fast path)
# ---------------------------------------------------------------------------

def _cover_cells(geoms: list, res: int):
    """Driver-side cell cover: classify every grid cell in each polygon's
    bbox as fully-INSIDE (every point of the cell is inside the part) or
    BOUNDARY (some polygon edge's bbox overlaps the cell — conservative).

    Returns two (cell_id, position) column sets as numpy arrays:
    ``inside``  — docs in these cells match with NO exact test;
    ``border`` — docs in these cells need the exact ray-cast refine.
    Conservativeness only moves cells from the fast path to the refine
    path, never the reverse, so results are exact.
    """
    n = np.int64(1) << res
    cell_w = 360.0 / float(n)
    cell_h = 180.0 / float(n)

    in_cells, in_pos = [], []
    bd_cells, bd_pos = [], []

    for pos, g in enumerate(geoms):
        seen_inside: set = set()
        seen_border: set = set()
        for rings in _parts(g):
            lo, hi = rings[0].min(axis=0), rings[0].max(axis=0)
            (ix0, ix1), (iy0, iy1) = _grid_xy([lo[0], hi[0]], [lo[1], hi[1]], res)
            ix0, iy0 = max(0, int(ix0)), max(0, int(iy0))
            ix1, iy1 = min(int(n) - 1, int(ix1)), min(int(n) - 1, int(iy1))
            if ix1 < ix0 or iy1 < iy0:
                continue
            nx = ix1 - ix0 + 1
            ny = iy1 - iy0 + 1
            # all edges of all rings, SUBDIVIDED to sub-cell length so each
            # sub-edge bbox marks only cells the edge actually crosses (a
            # whole diagonal edge's bbox would mark O(len²) spurious cells)
            pieces = [_edge_pieces(r, 0.5 * min(cell_w, cell_h)) for r in rings]
            sx0, sy0, sx1, sy1 = (np.concatenate(c) for c in zip(*pieces))
            e_x0, e_x1 = np.minimum(sx0, sx1), np.maximum(sx0, sx1)
            e_y0, e_y1 = np.minimum(sy0, sy1), np.maximum(sy0, sy1)
            # map each edge bbox to the cell range it touches
            touched = np.zeros((nx, ny), dtype=bool)
            c_x0, c_y0 = _grid_xy(e_x0, e_y0, res)
            c_x1, c_y1 = _grid_xy(e_x1, e_y1, res)
            c_x0, c_x1 = (np.clip(c, ix0, ix1) - ix0 for c in (c_x0, c_x1))
            c_y0, c_y1 = (np.clip(c, iy0, iy1) - iy0 for c in (c_y0, c_y1))
            for a0, a1, b0, b1 in zip(c_x0, c_x1, c_y0, c_y1):
                touched[a0 : a1 + 1, b0 : b1 + 1] = True
            # untouched cells are uniformly inside or outside: test centers
            ux, uy = np.nonzero(~touched)
            if len(ux):
                cx = -180.0 + (ux + ix0 + 0.5) * cell_w
                cy = -90.0 + (uy + iy0 + 0.5) * cell_h
                inside = points_in_rings(cx, cy, rings)
                for k in np.nonzero(inside)[0]:
                    seen_inside.add((int(ux[k] + ix0), int(uy[k] + iy0)))
            tx, ty = np.nonzero(touched)
            for a, b in zip(tx, ty):
                seen_border.add((int(a + ix0), int(b + iy0)))
        # a cell inside one part but on the border of another (overlapping
        # parts) must refine — border wins
        seen_inside -= seen_border
        for seen, cells, cell_pos in (
            (seen_inside, in_cells, in_pos), (seen_border, bd_cells, bd_pos)
        ):
            xy = np.array(list(seen), dtype=np.int64).reshape(-1, 2)
            cells.append(_grid_pack(res, xy[:, 0], xy[:, 1]))
            cell_pos.append(np.full(len(xy), pos, dtype=np.int64))

    return tuple(
        np.concatenate(a) if a else np.zeros(0, dtype=np.int64)
        for a in (in_cells, in_pos, bd_cells, bd_pos)
    )


def cover_refine_pip_join(
    docs: DataFrame,
    boundaries_pdf: pd.DataFrame,
    *,
    id_col: str,
    wkt_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 10,
    cover: "PolygonCover | None" = None,
    how: str = "inner",
    doc_key_cols: list[str] | None = None,
) -> DataFrame:
    """Exact PIP join via cell-cover prefilter + boundary-cell refine.

    Scale design (SURVEY §4, north_rule): the driver classifies every grid
    cell covering each polygon as fully-inside or boundary. Docs in
    fully-inside cells match through a pure-JVM broadcast hash join — no
    Python, no shuffle of the docs side. Only docs in boundary cells (the
    polygon-perimeter fraction, ~O(perimeter·cell/area) of rows) cross the
    Arrow exchange for the exact ray-cast refine — the same kernel
    ``pip_join`` uses, so results are identical. At 10^12 rows this turns
    the Python exchange from O(N) to O(N·ε).

    Pass a prebuilt ``PolygonCover`` to amortize the driver-side cover
    construction + broadcast across many joins (one boundary set serves the
    whole pipeline).

    Semantics match ``pip_join(how=...)``: one output row per
    (doc, polygon) containment pair; ``how='left'`` additionally keeps
    each unmatched doc once, with a null ``id_col``. Because matches come
    from TWO paths (JVM fast join + Arrow refine), 'left' needs a doc
    identity — pass ``doc_key_cols`` (a unique doc key, e.g.
    ``['doc_id']``); the unmatched set is a key anti-join against the
    matched set (one extra shuffle on the doc key — the inherent price of
    left semantics on a fan-out join).
    """
    if cover is None:
        cover = PolygonCover(
            docs.sparkSession, boundaries_pdf, id_col=id_col, wkt_col=wkt_col, res=res
        )
    matched = cover.join(docs, lon_col=lon_col, lat_col=lat_col)
    return _left(matched, docs, how, doc_key_cols, id_col, cover.id_type)


def _promote_cover(in_cells: np.ndarray, in_pos: np.ndarray, res: int, min_res: int):
    """Quadtree promotion (S2-RegionCoverer-style): wherever all 4 children
    of a parent cell are fully inside for the same polygon, replace them by
    the parent — repeatedly, down to ``min_res``. Shrinks the broadcast
    table ~5-10x (fits in L3, builds in ~0.1s) with identical semantics."""
    out_cells, out_pos = [], []
    _, ix, iy = grid_decode(in_cells)
    pos = in_pos
    for r in range(res, min_res, -1):
        pix_all, piy_all = ix >> 1, iy >> 1
        # group by (pos, parent-ix, parent-iy) without bit-packing (packing
        # pos into the high bits overflows int64 for pos >= 32)
        order = np.lexsort((piy_all, pix_all, pos))
        p_s, x_s, y_s = pos[order], pix_all[order], piy_all[order]
        new_grp = np.empty(len(order), dtype=bool)
        new_grp[0] = True
        new_grp[1:] = (
            (p_s[1:] != p_s[:-1]) | (x_s[1:] != x_s[:-1]) | (y_s[1:] != y_s[:-1])
        )
        grp_id = np.cumsum(new_grp) - 1
        counts = np.bincount(grp_id)
        full = counts == 4
        promoted_mask = np.zeros(len(order), dtype=bool)
        promoted_mask[order] = full[grp_id]
        keep = ~promoted_mask
        out_cells.append(_grid_pack(r, ix[keep], iy[keep]))
        out_pos.append(pos[keep])
        # next level: one cell per full parent
        starts = np.flatnonzero(new_grp)[full]
        ix, iy, pos = x_s[starts], y_s[starts], p_s[starts]
        if len(ix) == 0:
            break
    if len(ix):
        out_cells.append(_grid_pack(min_res, ix, iy))
        out_pos.append(pos)
    return np.concatenate(out_cells), np.concatenate(out_pos)


class _BroadcastCover:
    """Shared half of the broadcast cover-refine joins: the two cover
    tables, the ring broadcast and ``join``. A subclass classifies cells
    and supplies two hooks over column names: ``_cell`` (a doc's cell at
    ``res``) and ``_ancestors`` (the ids it probes the multi-level inside
    cover with, given the doc's coordinates and its ``_cell`` column)."""

    def _publish(self, spark, boundaries_pdf: pd.DataFrame, geoms: list,
                 in_cells, in_pos, bd_cells, bd_pos) -> None:
        ids = boundaries_pdf[self.id_col].tolist()
        self.n_inside_cells = len(in_cells)
        self.n_border_cells = len(bd_cells)
        self.id_type = (
            StringType() if boundaries_pdf[self.id_col].dtype == object else LongType()
        )
        cell = StructField("__cell", LongType())
        self.inside_df = spark.createDataFrame(
            pd.DataFrame({"__cell": np.asarray(in_cells, dtype=np.int64),
                          self.id_col: [ids[p] for p in in_pos]}),
            schema=StructType([cell, StructField(self.id_col, self.id_type)]),
        )
        self.border_df = spark.createDataFrame(
            pd.DataFrame({"__cell": np.asarray(bd_cells, dtype=np.int64),
                          "__pos": np.asarray(bd_pos, dtype=np.int64)}),
            schema=StructType([cell, StructField("__pos", LongType())]),
        )
        self._bc = spark.sparkContext.broadcast(([_parts(g) for g in geoms], ids))

    def join(self, docs: DataFrame, *, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
        id_col, bc = self.id_col, self._bc
        tagged = docs.withColumn("__cell", self._cell(lon_col, lat_col))

        # fast path: pure-JVM broadcast hash join against the multi-level
        # inside cover — each doc probes with its ancestor at every cover
        # level (explode is codegen; a doc matches a region at <=1 level
        # because the cover is disjoint per region)
        anc = self._ancestors(lon_col, lat_col, "__cell")
        probe = tagged.withColumn("__cell", F.explode(anc))
        fast = probe.join(F.broadcast(self.inside_df), on="__cell").drop("__cell")

        # refine path: only boundary-cell docs reach the Arrow exchange
        cand = tagged.join(F.broadcast(self.border_df), on="__cell").drop("__cell")

        def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts_all, ids_local = bc.value
            ids_arr = np.asarray(ids_local, dtype=object)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                pos = pdf["__pos"].to_numpy(np.int64)
                keep = _inside(
                    pdf[lon_col].to_numpy(np.float64),
                    pdf[lat_col].to_numpy(np.float64),
                    pos,
                    parts_all.__getitem__,
                )
                out = pdf.loc[keep].copy()
                out[id_col] = ids_arr[pos[keep]]
                yield out.drop(columns=["__pos"])

        refine_schema = StructType(docs.schema.fields + [StructField(id_col, self.id_type, True)])
        return fast.unionByName(cand.mapInPandas(refine, schema=refine_schema))


class PolygonCover(_BroadcastCover):
    """Reusable cell-cover index over a boundary set: driver-side cover
    classification (multi-resolution quadtree), the two broadcast-able
    cover tables, and the refine kernel broadcast — built once, used by
    every ``join``."""

    def __init__(self, spark, boundaries_pdf: pd.DataFrame, *, id_col: str,
                 wkt_col: str, res: int = 10, min_res: int = 6):
        self.id_col = id_col
        self.res = res
        self.min_res = min_res
        geoms = [parse_wkt(w) for w in boundaries_pdf[wkt_col].tolist()]
        in_cells, in_pos, bd_cells, bd_pos = _cover_cells(geoms, res)
        if len(in_cells) and min_res < res:
            in_cells, in_pos = _promote_cover(in_cells, in_pos, res, min_res)
        self._publish(spark, boundaries_pdf, geoms, in_cells, in_pos, bd_cells, bd_pos)

    def _cell(self, lon, lat):
        return F.expr(grid_key_sql(spark_col_sql(lon), spark_col_sql(lat), self.res))

    def _ancestors(self, lon, lat, cell):
        lon, lat = spark_col_sql(lon), spark_col_sql(lat)
        keys = ", ".join(grid_key_sql(lon, lat, r) for r in range(self.min_res, self.res + 1))
        return F.expr(f"array({keys})")


def partitioned_pip_join(
    docs: DataFrame,
    boundaries: DataFrame,
    *,
    id_col: str,
    wkt_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 10,
    how: str = "inner",
    doc_key_cols: list[str] | None = None,
) -> DataFrame:
    """Exact PIP join with NO driver-side index and NO broadcast of the
    boundary set — the scale path for boundary tables too large to
    broadcast (millions of polygons), where ``pip_join`` /
    ``cover_refine_pip_join`` cannot be used.

    Scale design: the cell cover of every polygon is computed IN THE
    EXECUTORS (``mapInPandas`` over the boundaries DataFrame, same
    ``_cover_cells`` kernel as the broadcast path, one polygon at a time).
    Fully-inside cover cells become a distributed ``(cell, id)`` table;
    boundary cells carry the polygon WKT with them, so after the single
    equi-join shuffle on the cell id the exact ray-cast refine runs
    co-located — the polygon travels to its border cells, never the whole
    boundary set to every executor. Geometry duplication is
    O(perimeter-cells), the same spatial-partitioning trade Sedona/
    GeoSpark make. The docs side shuffles once, keyed on the SAME packed
    grid cell id the tiling aggregates use, so the exchange is reusable
    downstream; a hot cell is an AQE-skew/salting problem, not an
    operator redesign.

    Results are identical to ``pip_join`` (same cover kernel, same
    ray-cast refine): a (doc, polygon) pair matches through exactly one
    of the two paths because a polygon's inside/border cell sets are
    disjoint and a doc has one res-``res`` cell.

    ``how='left'`` keeps unmatched docs once with a null ``id_col``
    (requires ``doc_key_cols``, as in ``cover_refine_pip_join``).
    """
    id_field = boundaries.schema[id_col]
    cover_schema = StructType(
        [
            StructField("__cell", LongType()),
            StructField(id_col, id_field.dataType),
            StructField("__wkt", StringType(), True),
        ]
    )

    def build_cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE _cover_cells pass + ONE output frame per Arrow batch (the
        # former per-row loop built a pandas frame per polygon — frame
        # construction overhead, not cover math, dominated with many
        # polygons per task)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            geoms = [parse_wkt(w) for w in pdf[wkt_col]]
            in_cells, in_pos, bd_cells, bd_pos = _cover_cells(geoms, res)
            if len(in_cells) + len(bd_cells) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            wkts = pdf[wkt_col].to_numpy(dtype=object)
            yield pd.DataFrame(
                {
                    "__cell": np.concatenate([in_cells, bd_cells]),
                    id_col: np.concatenate([ids[in_pos], ids[bd_pos]]),
                    "__wkt": np.concatenate(
                        [
                            np.full(len(in_cells), None, dtype=object),
                            wkts[bd_pos],
                        ]
                    ),
                }
            )

    cover = boundaries.mapInPandas(build_cover, schema=cover_schema)

    tagged = docs.withColumn(
        "__cell", F.expr(grid_key_sql(spark_col_sql(lon_col), spark_col_sql(lat_col), res))
    )
    # ONE join against the whole cover, then route rows by the border flag
    # (__wkt null = fully-inside cell → direct match). The two branches
    # share an identical scan+join subtree, so when the planner picks a
    # shuffle join at scale, ReuseExchange dedupes the docs exchange — one
    # shuffle of the docs table total.
    joined = tagged.join(cover, on="__cell").drop("__cell")
    fast = joined.filter(F.col("__wkt").isNull()).drop("__wkt")
    cand = joined.filter(F.col("__wkt").isNotNull())
    refine_schema = StructType(
        docs.schema.fields + [StructField(id_col, id_field.dataType, True)]
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # parse each polygon once per task; bound the cache by TOTAL vertex
        # count, not entry count: a few coastline-grade polygons can weigh
        # more than thousands of small ones (ADVICE r2) — 2M vertices
        # ~= 32 MB of ring arrays per task
        ring_cache: dict = {}
        cache_verts = 0
        max_cache_verts = 2_000_000

        def parts_of(wkt: str) -> list:
            nonlocal cache_verts
            parts = ring_cache.get(wkt)
            if parts is None:
                parts = _parts(parse_wkt(wkt))
                n_verts = sum(len(r) for rings in parts for r in rings)
                if cache_verts + n_verts <= max_cache_verts:
                    ring_cache[wkt] = parts
                    cache_verts += n_verts
            return parts

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes, wkts = pd.factorize(pdf["__wkt"])
            keep = _inside(
                pdf[lon_col].to_numpy(np.float64),
                pdf[lat_col].to_numpy(np.float64),
                codes,
                lambda c: parts_of(wkts[c]),
            )
            yield pdf.loc[keep, [c for c in pdf.columns if c != "__wkt"]].copy()

    matched = fast.unionByName(cand.mapInPandas(refine, schema=refine_schema))
    return _left(matched, docs, how, doc_key_cols, id_col, id_field.dataType)


# ---------------------------------------------------------------------------
# cover-refine PIP on true H3 cells (north-star flagship shape on H3 ids)
# ---------------------------------------------------------------------------

class H3PolygonCover(_BroadcastCover):
    """Cover-refine PIP join on canonical H3 cells.

    Driver-side classification per polygon at resolution ``res``:

    * ``border``  — cells the boundary passes through (every ring, and the
      antimeridian for a part reaching lon ±180, sampled at 0.25x the
      cell spacing) DILATED by one kRing. Dilation makes the
      set conservative: a corner-clipped cell whose boundary arc is
      shorter than the sampling step is always within one ring of a
      sampled cell, so no sliver is ever misclassified.
    * ``inside``  — polygon_to_cells (center containment) minus the
      dilated border. A cell whose center is inside and which is a full
      ring away from every boundary-crossed cell is provably contained,
      so its docs match with NO exact test.

    ``join`` runs ONE vectorized H3 encode over the docs (Arrow), a
    pure-JVM broadcast equi-join on the bigint cell id for the interior
    fast path, and the exact ray-cast refine only for dilated-border
    docs — identical results to ``pip_join``, Python exchange O(N·ε).
    """

    def __init__(self, spark, boundaries_pdf: pd.DataFrame, *, id_col: str,
                 wkt_col: str, res: int = 3, min_res: int = 0):
        from ..cells import h3core

        self.id_col = id_col
        self.res = res
        self.min_res = min_res
        geoms = [parse_wkt(w) for w in boundaries_pdf[wkt_col].tolist()]

        step = math.degrees(h3core._cell_spacing_rad(res)) * 0.25
        in_cells, in_pos, bd_cells, bd_pos = [], [], [], []
        for pos, g in enumerate(geoms):
            sampled: set = set()
            inside_raw: set = set()
            for rings in _parts(g):
                (x0, y0), (x1, y1) = rings[0].min(axis=0), rings[0].max(axis=0)
                # a part reaching lon ±180 is cut there for the planar
                # refine, while H3 cells wrap: the antimeridian is boundary
                seam = [np.array([[180.0, y0], [180.0, y1]])] if x0 <= -180 or x1 >= 180 else []
                for r in rings + seam:
                    sx, sy, _, _ = _edge_pieces(r, step)
                    sampled.update(int(c) for c in np.unique(h3core.latlng_to_cell(sy, sx, res)))
                part_cells = h3core.polygon_to_cells(
                    rings[0][:, [1, 0]], res, holes=[h[:, [1, 0]] for h in rings[1:]]
                )
                inside_raw.update(int(c) for c in part_cells)
            bd_arr = np.array(sorted(sampled), dtype=np.uint64)
            dilated: set = set()
            if bd_arr.size:
                for d in h3core.grid_disk_arrays(bd_arr, 1):
                    dilated.update(int(x) for x in d)
            inside = np.array(sorted(inside_raw - dilated), dtype=np.uint64)
            # compactCells shrinks the interior broadcast ~3-7x (complete
            # sibling sets fold into parents down to min_res); H3 ids carry
            # their res, so the mixed-res cover stays ONE bigint column and
            # docs probe it with pure-JVM digit-truncation ancestors
            if inside.size and min_res < res:
                comp = h3core.compact_cells(inside)
                keep = h3core.get_resolution(comp) >= min_res
                shallow = comp[~keep]
                if shallow.size:  # re-expand anything coarser than min_res
                    comp = np.concatenate(
                        [comp[keep], h3core.uncompact_cells(shallow, min_res)]
                    )
                inside = np.unique(comp)
            in_cells += inside.tolist()
            in_pos += [pos] * inside.size
            bd_cells += sorted(dilated)
            bd_pos += [pos] * len(dilated)
        self._publish(spark, boundaries_pdf, geoms, in_cells, in_pos, bd_cells, bd_pos)

    def _cell(self, lon, lat):
        # ONE Arrow encode per doc; the ancestors below derive from it
        return h3_cell(self.res)(lon, lat)

    def _ancestors(self, lon, lat, cell):
        # the COMPACTED cover's levels as pure-JVM digit truncation
        cell = F.col(cell)
        return F.array(
            cell, *[h3_parent_col(cell, self.res, r) for r in range(self.res - 1, self.min_res - 1, -1)]
        )
