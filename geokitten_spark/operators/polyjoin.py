"""Polygon×polygon overlap join: cell-cover candidates + exact GH refine.

The missing spatial-join shape: PIP joins points to polygons
(``operators/pip_join.py``); this joins POLYGON SETS to each other —
"which admin boundaries overlap which coverage areas", the reference's
``subtract_swallowed``/overlap semantics (``gdf_standardization.py:920-967``)
generalized from a per-key lookup to an all-pairs join.

Plan shape (the classic two-phase spatial join):

1. **cover** — one Arrow pass parses each WKT to its bbox, then a pure
   Catalyst double ``explode(sequence(...))`` emits the grid cells (same
   packed ids as ``cells/grid.py``) covering the bbox at ``res``. Cheap
   and conservative: candidates ⊇ true overlaps because overlap of
   polygons ⇒ overlap of bboxes ⇒ a shared cover cell (cells partition
   the plane).
2. **candidates** — the ONLY shuffle that matters: equi-join of the two
   cover tables on the 8-byte cell id (hash join, AQE-skew-splittable),
   dropDuplicates on the id pair. Only (id, cell) rows fly.
3. **refine** — candidate pairs join back to their WKT payloads and one
   Arrow-batched pandas UDF computes the EXACT Greiner–Hormann
   intersection area (``geom.clip.intersection_area`` — holes via
   inclusion–exclusion); pairs with area 0 drop.

100-TB shape: both covers partition by cell id, so dense regions
(coastlines, cities) are the natural skew — ``res`` trades candidate
volume against cover size exactly like the PIP cover-refine join, and
the candidate join is the AQE skew-split point. The refine stage is
embarrassingly parallel; WKT payloads cross the shuffle once per
CANDIDATE pair (not per cell — the dropDuplicates runs before the
payload join).

The oracle (``oracles.polygon_overlap_sql``) brute-forces all pairs
driver-side through the SAME kernel, so the cover must find every
overlapping pair — a cover miss is a row-count mismatch, not a silent
approximation.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

__all__ = ["wkt_bbox", "bbox_cell_cover", "polygon_overlap_join"]


@pandas_udf(ArrayType(DoubleType()))
def wkt_bbox(wkt: pd.Series) -> pd.Series:
    """WKT → [lon0, lat0, lon1, lat1] (Arrow-batched; None for empties)."""
    from ..geom import parse_wkt

    def one(w):
        if w is None:
            return None
        g = parse_wkt(w)
        if g.is_empty or not g.is_polygonal:
            return None
        xs = []
        ys = []
        for part in g.parts:
            ext = np.asarray(part[0], dtype=np.float64)
            xs.append(ext[:, 0])
            ys.append(ext[:, 1])
        x = np.concatenate(xs)
        y = np.concatenate(ys)
        return [float(x.min()), float(y.min()), float(x.max()), float(y.max())]

    return wkt.map(one)


def bbox_cell_cover(df: DataFrame, id_col: str, wkt_col: str, res: int) -> DataFrame:
    """(id, cell_id) cover of each polygon's bbox at grid ``res`` — the
    bbox parse is one Arrow pass; the cell explode is pure Catalyst."""
    from ..cells.grid import _grid_clamp_sql, _grid_pack_sql, _grid_xy_sql

    b = df.select(
        F.col(id_col).alias("_pid"), wkt_bbox(F.col(wkt_col)).alias("_bb")
    ).filter(F.col("_bb").isNotNull())
    ix0, iy0 = _grid_xy_sql("element_at(_bb, 1)", "element_at(_bb, 2)", res)
    ix1, iy1 = _grid_xy_sql("element_at(_bb, 3)", "element_at(_bb, 4)", res)
    cells = b.selectExpr(
        "_pid",
        f"explode(sequence({_grid_clamp_sql(ix0, res)}, {_grid_clamp_sql(ix1, res)})) AS _ix",
        f"{_grid_clamp_sql(iy0, res)} AS _iy0",
        f"{_grid_clamp_sql(iy1, res)} AS _iy1",
    ).selectExpr("_pid", "explode(sequence(_iy0, _iy1)) AS _iy", "_ix")
    return cells.selectExpr("_pid", f"{_grid_pack_sql(res, '_ix', '_iy')} AS cell_id")


@pandas_udf(DoubleType())
def _pair_intersection_area(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    from ..geom import parse_wkt
    from ..geom.clip import intersection_area

    out = [
        intersection_area(parse_wkt(a), parse_wkt(b))
        for a, b in zip(wkt_a, wkt_b)
    ]
    return pd.Series(out, dtype="float64")


def polygon_overlap_join(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    id_right: str,
    wkt_left: str = "geometry_wkt",
    wkt_right: str = "geometry_wkt",
    res: int = 5,
) -> DataFrame:
    """All (left, right) polygon pairs with positive intersection area →
    (id_a, id_b, inter_area). Self-join callers should filter
    ``id_a < id_b`` afterwards to halve the refine work."""
    # aliases keep a self-join (left is right) unambiguous
    cov_l = bbox_cell_cover(left, id_left, wkt_left, res).alias("covL")
    cov_r = bbox_cell_cover(right, id_right, wkt_right, res).alias("covR")
    cands = (
        cov_l.join(cov_r, "cell_id")
        .select(
            F.col("covL._pid").alias("id_a"), F.col("covR._pid").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    geoms_l = left.select(
        F.col(id_left).alias("id_a"), F.col(wkt_left).alias("_wa")
    )
    geoms_r = right.select(
        F.col(id_right).alias("id_b"), F.col(wkt_right).alias("_wb")
    )
    return (
        cands.join(geoms_l, "id_a")
        .join(geoms_r, "id_b")
        .withColumn("inter_area", _pair_intersection_area("_wa", "_wb"))
        .filter(F.col("inter_area") > 0.0)
        .select("id_a", "id_b", "inter_area")
    )
