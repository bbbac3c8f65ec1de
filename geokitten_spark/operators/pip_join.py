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
(square grid) and ``H3PolygonCover`` (H3 cells) broadcast the cover as
one hash index over its cells, with the polygons' edges. Their ``join`` is
ONE scalar Arrow UDF, ``refine``, over (lon, lat) only — 16 B per doc in,
a list of polygon ids out — and a JVM ``explode`` of the lists: per batch,
numpy keys every doc at each cover level and looks the keys up in the
index; an inside-cell hit needs no exact test, a border-cell hit runs the
exact ray-cast (one vectorized pass over every candidate's edges). Every
other doc column stays in the JVM. The earlier shape, a JVM
broadcast-hash-join fast path for inside-cell docs unioned with a second
broadcast join into a ``mapInPandas`` refine for border-cell docs, scanned
and geocoded the docs twice and ran two broadcasts per query; on the
120k-doc ``geo_tile`` benchmark job (4 vCPUs) its join alone cost
1.1-1.3 s, more than the 0.72 s of brute ``pip_join`` over every doc, and
on 20M bare lon/lat docs (``local[4]``) it was no faster than one pass
(~7 s each).
``partitioned_pip_join`` computes the cover in the executors and shuffles
on the cell id — kept for the case where the boundary set is too big to
broadcast (SURVEY §4 "custom Catalyst rule? none — explicit API").
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from ..cells.grid import _grid_pack, _grid_xy, grid_cell, grid_decode, grid_key_sql, spark_col_sql
from ..geom import parse_wkt, points_in_rings
from ..geom.kernels import ray_hits
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


def _ranges(offsets: np.ndarray, keys: np.ndarray):
    """CSR fan-out: (i, j) for every j in ``offsets[keys[i]]`` up to
    ``offsets[keys[i] + 1]``."""
    lo = offsets[keys]
    n = offsets[keys + 1] - lo
    at = np.repeat(np.arange(len(keys)), n)
    return at, np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(len(at))


def _edge_table(polygons: list) -> tuple:
    """Flat ray-cast table of polygons, each a list of parts (a part: its
    ring arrays, exterior first): CSR offsets polygon → part → edge, then
    the edges' (x0, y0, x1, y1)."""
    parts = [part for polygon in polygons for part in polygon]
    rings = [r for part in parts for r in part] or [np.zeros((1, 2))]
    part_off = np.cumsum([0] + [len(polygon) for polygon in polygons])
    edge_off = np.cumsum([0] + [sum(len(r) - 1 for r in part) for part in parts])
    a, b = (np.concatenate(e) for e in zip(*((r[:-1], r[1:]) for r in rings)))
    return part_off, edge_off, a[:, 0], a[:, 1], b[:, 0], b[:, 1]


_PAIRS_PER_PASS = 1 << 20


def _inside(lons: np.ndarray, lats: np.ndarray, owner: np.ndarray, edges: tuple) -> np.ndarray:
    """Row mask: point ``i`` lies inside polygon ``owner[i]`` of the
    ``_edge_table`` ``edges`` (even-odd over each part's rings, any part).
    One vectorized test over every (point, edge) pair, in passes of at most
    ``_PAIRS_PER_PASS`` pairs (a point with more edges gets a pass alone)."""
    part_off, edge_off = edges[:2]
    pairs = np.zeros(len(owner) + 1, dtype=np.int64)
    np.cumsum(edge_off[part_off[owner + 1]] - edge_off[part_off[owner]], out=pairs[1:])
    keep = np.zeros(len(owner), dtype=bool)
    lo = 0
    while lo < len(owner):
        hi = max(lo + 1, int(np.searchsorted(pairs, pairs[lo] + _PAIRS_PER_PASS, "right")) - 1)
        keep[lo:hi] = _ray_cast(lons[lo:hi], lats[lo:hi], owner[lo:hi], edges)
        lo = hi
    return keep


def _ray_cast(lons, lats, owner, edges) -> np.ndarray:
    """One pass of ``_inside``."""
    part_off, edge_off, x0, y0, x1, y1 = edges
    pt, part = _ranges(part_off, owner)
    pp, e = _ranges(edge_off, part)
    hits = ray_hits(lons[pt][pp], lats[pt][pp], x0[e], y0[e], x1[e], y1[e])
    odd = np.bincount(pp, weights=hits, minlength=len(part)) % 2 == 1
    return np.bincount(pt[odd], minlength=len(owner)) > 0


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


def _flat_coords(df: DataFrame, lon_col: str, lat_col: str):
    """(df, lon, lat): ``df`` and the names of flat columns holding its
    coordinates, for a pandas kernel to read. A top-level column is read as
    it is; a struct-field path such as ``p.lon``, which names no pandas
    column, is projected to a hidden ``__lon``/``__lat`` double column that
    the caller drops after the kernel."""
    names = []
    for col, hidden in ((lon_col, "__lon"), (lat_col, "__lat")):
        if col not in df.columns:
            df = df.withColumn(hidden, F.col(spark_col_sql(col)).cast("double"))
            col = hidden
        names.append(col)
    return (df, *names)


def _left(matched: DataFrame, docs: DataFrame, how: str, doc_key_cols, id_col: str, id_type):
    """``how`` tail of ``partitioned_pip_join``, whose matches come from two
    paths: 'left' adds every unmatched doc once with a null ``id_col`` — a
    key anti-join against the matched set."""
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
        part_rings = [rings for g in self.geoms for rings in _parts(g)]
        self.part_owner = np.asarray(
            [gi for gi, g in enumerate(self.geoms) for _ in g.parts], dtype=np.int64
        )
        part_boxes = [(*rings[0].min(axis=0), *rings[0].max(axis=0)) for rings in part_rings]
        self.tree = STRtree(np.asarray(part_boxes, dtype=np.float64))
        self.edges = _edge_table([[rings] for rings in part_rings])

    def locate(self, lons: np.ndarray, lats: np.ndarray):
        """(point_idx, polygon_idx) matches; a point inside k overlapping
        polygons yields k pairs (join semantics, not first-wins)."""
        pi, part_i = self.tree.query_points(lons, lats)
        hit = _inside(lons[pi], lats[pi], part_i, self.edges)
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
    flat, lon, lat = _flat_coords(docs, lon_col, lat_col)
    out_schema = StructType(
        flat.schema.fields + [StructField(id_col, id_type, True)] + extra_fields
    )

    left = how == "left"
    s2_spec = dict(s2_cells or {})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx: BoundaryIndex = bc.value
        ids = np.asarray(idx.ids, dtype=object)
        if s2_spec:
            from ..cells.s2 import lat_lng_to_cell

        for pdf in batches:
            lons = pdf[lon].to_numpy(np.float64)
            lats = pdf[lat].to_numpy(np.float64)
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
                        matched[lat].to_numpy(np.float64),
                        matched[lon].to_numpy(np.float64),
                        level,
                    )
                ).astype("int64")
            yield matched

    return flat.mapInPandas(run, schema=out_schema).drop("__lon", "__lat")


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
) -> DataFrame:
    """Exact PIP join via cell-cover prefilter + boundary-cell refine.

    Scale design (SURVEY §4, north_rule): the driver classifies every grid
    cell covering each polygon as fully-inside or boundary. Every doc
    crosses the Arrow boundary once, as its lon/lat only (16 B), with no
    shuffle of the docs side; the wide doc columns stay in the JVM. In
    Python a doc in a fully-inside cell matches by a hash-index lookup
    with no exact test; only docs in boundary cells (the polygon-perimeter
    fraction, ~O(perimeter·cell/area) of rows) run the exact ray-cast — the
    same kernel ``pip_join`` uses, so results are identical.

    Pass a prebuilt ``PolygonCover`` to amortize the driver-side cover
    construction + broadcast across many joins (one boundary set serves the
    whole pipeline).

    Semantics match ``pip_join(how=...)``: one output row per
    (doc, polygon) containment pair; ``how='left'`` additionally keeps
    each unmatched doc once, with a null ``id_col`` — every doc gets one
    list of ids, so an outer explode of it is the left join.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if cover is None:
        cover = PolygonCover(
            docs.sparkSession, boundaries_pdf, id_col=id_col, wkt_col=wkt_col, res=res
        )
    explode = F.explode_outer if how == "left" else F.explode
    return cover._join(docs, lon_col, lat_col, explode)


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


def _cell_index(in_cells, in_pos, bd_cells, bd_pos) -> tuple:
    """The inside and border covers as one hash index over their distinct
    cells: (``pd.Index`` of the cells, CSR offsets into the rows, each
    row's polygon position, each row's border flag). A cell shared by
    several polygons has one row per polygon."""
    cells = np.concatenate([np.asarray(c, dtype=np.int64) for c in (in_cells, bd_cells)])
    pos = np.concatenate([np.asarray(p, dtype=np.int64) for p in (in_pos, bd_pos)])
    border = np.arange(len(cells)) >= len(in_cells)
    order = np.argsort(cells, kind="stable")
    distinct, starts = np.unique(cells[order], return_index=True)
    return pd.Index(distinct), np.append(starts, len(order)), pos[order], border[order]


class _BroadcastCover:
    """Shared half of the broadcast cover-refine joins: one broadcast of
    the polygons' edge table, their ids and the cover index, and ``join``.
    A subclass classifies cells and sets ``_probe``, a numpy function of
    finite (lon, lat) arrays that returns the doc's cover keys, one int64
    array per cover level, the ``res`` level first. It is a closure over plain values, never a bound method:
    the refine kernel pickles it, and ``self`` holds the SparkContext."""

    def _publish(self, spark, boundaries_pdf: pd.DataFrame, geoms: list,
                 in_cells, in_pos, bd_cells, bd_pos) -> None:
        ids = boundaries_pdf[self.id_col].tolist()
        self.n_inside_cells = len(in_cells)
        self.n_border_cells = len(bd_cells)
        string_ids = boundaries_pdf[self.id_col].dtype == object
        self.id_type = StringType() if string_ids else LongType()
        self._bc = spark.sparkContext.broadcast((
            _edge_table([_parts(g) for g in geoms]),
            pa.array(ids, type=pa.string() if string_ids else pa.int64()),
            *_cell_index(in_cells, in_pos, bd_cells, bd_pos),
        ))

    def join(self, docs: DataFrame, *, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
        return self._join(docs, lon_col, lat_col, F.explode)

    def _join(self, docs: DataFrame, lon_col: str, lat_col: str, explode) -> DataFrame:
        """``docs`` with ``id_col``: ``explode`` (inner) or ``explode_outer``
        (left) of each doc's list of containing polygon ids."""
        bc, probe = self._bc, self._probe

        def refine(lon: pa.Array, lat: pa.Array) -> pa.Array:
            """Each doc's list of containing polygon ids: its keys at every
            level probe the cover index; an inside row matches with no
            exact test, a border row (only ``res``-level keys meet one) is
            kept or dropped by the exact ray-cast. NULL/NaN/±Inf docs get
            an empty list."""
            edges, ids, cells, rows_of, pos, border = bc.value
            lo = lon.to_numpy(zero_copy_only=False)
            la = lat.to_numpy(zero_copy_only=False)
            ok = np.flatnonzero(np.isfinite(lo) & np.isfinite(la))
            lo, la = lo[ok], la[ok]
            levels = np.stack(probe(lo, la), axis=1)
            cell = cells.get_indexer(levels.ravel())
            key = np.flatnonzero(cell >= 0)
            at, rows = _ranges(rows_of, cell[key])
            doc, hit, keep = key[at] // levels.shape[1], pos[rows], ~border[rows]
            test = np.flatnonzero(~keep)
            keep[test] = _inside(lo[doc[test]], la[doc[test]], hit[test], edges)
            doc, hit = doc[keep], hit[keep]
            offsets = np.zeros(len(lon) + 1, dtype=np.int32)
            np.cumsum(np.bincount(ok[doc], minlength=len(lon)), out=offsets[1:])
            return pa.ListArray.from_arrays(
                offsets, ids.take(hit[np.argsort(doc, kind="stable")])
            )

        located = arrow_udf(refine, ArrayType(self.id_type))(
            F.col(spark_col_sql(lon_col)).cast("double"),
            F.col(spark_col_sql(lat_col)).cast("double"),
        )
        return docs.withColumn(self.id_col, explode(located))


class PolygonCover(_BroadcastCover):
    """Reusable cell-cover index over a boundary set: driver-side cover
    classification (multi-resolution quadtree from ``min_res`` to ``res``)
    and one broadcast of the inside and border covers' cell index with
    the polygons' edges — built once, used by every ``join``. ``join`` keys each doc
    with ``grid_cell`` at every level, the numpy twin of ``grid_key_sql``
    that built the cover."""

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
        # the grid_key_sql encode, in the same float operations, at every
        # level the promoted inside cover holds
        levels = range(res, min(min_res, res) - 1, -1)
        self._probe = lambda lon, lat: [grid_cell(lon, lat, r) for r in levels]


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
    (requires ``doc_key_cols``, a unique doc key: the unmatched set is a
    key anti-join against the matches of both paths).
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
    cand, lon, lat = _flat_coords(joined.filter(F.col("__wkt").isNotNull()), lon_col, lat_col)
    refine_schema = cand.drop("__wkt").schema

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
                pdf[lon].to_numpy(np.float64),
                pdf[lat].to_numpy(np.float64),
                codes,
                _edge_table([parts_of(w) for w in wkts]),
            )
            yield pdf.loc[keep, [c for c in pdf.columns if c != "__wkt"]].copy()

    refined = cand.mapInPandas(refine, schema=refine_schema).drop("__lon", "__lat")
    matched = fast.unionByName(refined)
    return _left(matched, docs, how, doc_key_cols, id_col, id_field.dataType)


# ---------------------------------------------------------------------------
# cover-refine PIP on true H3 cells (north-star flagship shape on H3 ids)
# ---------------------------------------------------------------------------

# border key, never an H3 id, of the docs off the world and of the
# polygons that reach past lon ±180 or lat ±90 (H3PolygonCover)
_OFF_WORLD = -2


class H3PolygonCover(_BroadcastCover):
    """Cover-refine PIP join on canonical H3 cells.

    Driver-side classification per polygon at resolution ``res``:

    * ``border``  — cells the boundary passes through (every ring, and the
      antimeridian for a part reaching lon ±180, sampled at 0.25x the
      cell spacing) DILATED by one kRing. Dilation makes the
      set conservative: a corner-clipped cell whose boundary arc is
      shorter than the sampling step is always within one ring of a
      sampled cell, so no sliver is ever misclassified.
    * ``off-world`` — one border row keyed ``_OFF_WORLD`` for a polygon
      reaching past lon ±180 or lat ±90. A doc there keys only that row
      (H3 would wrap it back onto the sphere), so the exact ray-cast
      decides it, as brute ``pip_join`` does.
    * ``inside``  — polygon_to_cells (center containment) minus the
      dilated border. A cell whose center is inside and which is a full
      ring away from every boundary-crossed cell is provably contained,
      so its docs match with NO exact test.

    ``join`` runs ONE Arrow pass over the docs' lon/lat: a vectorized H3
    encode, ``cell_to_parent`` down to ``min_res`` to probe the compacted
    inside cover, and the exact ray-cast only for dilated-border docs —
    identical results to ``pip_join``.
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
            dilated: set = set()
            for rings in _parts(g):
                (x0, y0), (x1, y1) = rings[0].min(axis=0), rings[0].max(axis=0)
                if x0 < -180 or x1 > 180 or y0 < -90 or y1 > 90:
                    dilated.add(_OFF_WORLD)
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
            if bd_arr.size:
                for d in h3core.grid_disk_arrays(bd_arr, 1):
                    dilated.update(int(x) for x in d)
            inside = np.array(sorted(inside_raw - dilated), dtype=np.uint64)
            # compactCells shrinks the interior broadcast ~3-7x (complete
            # sibling sets fold into parents down to min_res); H3 ids carry
            # their res, so the mixed-res cover stays ONE sorted int64 array
            # and docs probe it with their cell_to_parent ancestors
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

        def probe(lon, lat):
            # the doc's cell, then its ancestors at the compacted cover's levels
            cell = h3core.latlng_to_cell(lat, lon, res)
            parents = [h3core.cell_to_parent(cell, r) for r in range(res - 1, min_res - 1, -1)]
            keys = [c.astype(np.int64) for c in (cell, *parents)]
            # H3 wraps a doc past lon ±180 / lat ±90 back onto the sphere,
            # the planar ray-cast does not: such a doc keys only the
            # off-world border rows, so it is tested exactly against the
            # polygons that reach off the world and nothing else
            off = (np.abs(lon) > 180) | (np.abs(lat) > 90)
            keys[0][off] = _OFF_WORLD
            for k in keys[1:]:
                k[off] = -1
            return keys

        self._probe = probe
