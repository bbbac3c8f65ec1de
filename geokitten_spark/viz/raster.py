"""PNG raster heat tiles — the vector→RASTER half of the north_rule's
"raster↔vector" loop.

``operators/tile.py:tile_vectorize`` and ``viz/mvt.py`` cover
raster→vector (cell aggregates → polygon WKT / MVT protobuf); this
module renders the opposite direction every slippy-map stack also
serves: per-(z, x, y) grayscale PNG heatmaps of point density, encoded
with the from-scratch PNG encoder (``functions/multimodal.py:
encode_png`` — no native deps, the same codec the libpng16 interop
tests pin).

Reference parity: the reference's only raster-ish sink is the folium
HTML choropleth (``html_generator.py``, re-expressed in
``viz/choropleth.py``); a raster tile *pyramid* is the distributed-scale
form of that sink (S7/A6 in SURVEY §2), same argument as ``viz/mvt.py``.

Pipeline shape (scale notes — this is what survives 100 TB):

* point → global-pixel encode is ONE Arrow ``pandas_udf`` pass sharing
  the exact numpy web-mercator kernel (:func:`point_pixel`, i.e.
  ``viz/mvt.py``'s one projection) with the driver-side oracle replica —
  the same shared-kernel pattern as the S2/H3 encodes in
  ``functions/cells_udfs.py``, so Spark and oracle do bit-identical
  float64 math (JVM ``sin``/``log`` never enter the plan, which is what
  makes the floor() at pixel boundaries safe to hash-compare). A point
  whose lon or lat is NULL, NaN or ±Inf gets a NULL pixel id; its one
  aggregate row is dropped before the render, so it draws nothing.
* per-pixel counts: a single hash aggregate on the packed int64 pixel
  id — partial (map-side) combine collapses the corpus to at most
  ``tile_px²`` rows per occupied tile BEFORE the only O(docs)-input
  shuffle; post-shuffle volume is O(occupied pixels), not O(docs).
* pyramid: a parent-zoom pixel id is an integer right-shift of the
  finest-zoom id, so every coarser level is pure column arithmetic
  over the tiny pixel table (counts add exactly — integer math all the
  way down), emitted as ONE exploded struct array per pixel row
  (map-side; a Union of per-zoom branches would re-plan the corpus
  aggregate once per level — plan-fenced in tests/test_plan_shapes.py).
  The corpus is scanned ONCE for any number of zoom levels, the same
  one-aggregate-feeds-all-levels contract as ``viz/mvt.py:mvt_pyramid``.
* render: ONE grouped ``applyInPandas`` keyed by (z, x, y); each group
  holds at most ``tile_px²`` (pix, count) rows per source zoom. The
  kernel sums duplicate pixels (so no intermediate per-pixel re-
  aggregate is needed after the per-zoom explode) and normalizes the
  gray ramp by the tile max with INTEGER math — bytes are a pure
  function of the group's row multiset, partitioning-independent, and
  hash-comparable against :func:`render_heat_tile` run driver-side.
"""

from __future__ import annotations

from typing import Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .mvt import _mercator_pixel

__all__ = [
    "point_pixel",
    "pixel_id_udf",
    "render_heat_tile",
    "raster_heat_tiles",
]

# packed id = (gx << 32) | gy; both coords < tile_px * 2^z must fit 31 bits
_PACK_SHIFT = 32


def point_pixel(lon, lat, z: int, tile_px: int) -> Tuple[np.ndarray, np.ndarray]:
    """WGS84 → (global pixel x, global pixel y) at zoom ``z`` with
    ``tile_px`` pixels per tile edge (y grows downward, slippy-map
    convention). Vectorized float64, clamped to the web-mercator band
    and the pixel range (``viz/mvt.py``'s one projection). Shared
    VERBATIM by the Spark UDF and the DuckDB-side oracle replica — same
    floats, same floors. Finite input only: a NaN/±Inf row lands on an
    arbitrary edge pixel (:func:`pixel_id_udf` makes it NULL instead)."""
    gx, gy, _ = _mercator_pixel(lon, lat, z, tile_px)
    return gx, gy


def pixel_id_udf(z: int, tile_px: int):
    """UDF factory: (lon, lat) → packed int64 global pixel id at zoom
    ``z`` (``(gx << 32) | gy``); NULL where lon or lat is NULL, NaN or
    ±Inf. One Arrow batch pass, no per-row Python."""
    if tile_px << z > (1 << 31):
        raise ValueError(f"tile_px<<z = {tile_px << z} overflows the 31-bit pack")

    @pandas_udf(LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        gx, gy, finite = _mercator_pixel(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), z, tile_px
        )
        return pd.Series(pd.arrays.IntegerArray((gx << _PACK_SHIFT) | gy, ~finite))

    return _enc


def render_heat_tile(pix: Sequence[int], counts: Sequence[int],
                     tile_px: int) -> bytes:
    """Pure kernel: local pixel indices (``ly * tile_px + lx``) +
    counts → one grayscale PNG blob. Duplicate pixel entries are SUMMED
    (so callers may feed per-source-zoom unions without pre-merging);
    the gray ramp is integer-exact: 0 for empty, else
    ``55 + count * 200 // max_count`` (every occupied pixel ≥ 55, the
    tile max is always 255). Shared verbatim by the Spark sink and the
    driver-side oracle replica."""
    img = np.zeros(tile_px * tile_px, dtype=np.int64)
    if len(pix):
        np.add.at(img, np.asarray(pix, dtype=np.int64),
                  np.asarray(counts, dtype=np.int64))
    occupied = img > 0
    if occupied.any():
        maxc = int(img.max())
        vals = 55 + (img * 200) // maxc
        img = np.where(occupied, vals, 0)
    from ..functions.multimodal import encode_png

    return encode_png(img.reshape(tile_px, tile_px).astype(np.uint8))


_RASTER_SCHEMA = StructType([
    StructField("z", IntegerType()),
    StructField("x", LongType()),
    StructField("y", LongType()),
    StructField("n_points", LongType()),
    StructField("png", BinaryType()),
])


def _zoom_struct(pid: Column, dz: int, z: int, tile_px: int) -> Column:
    """Pure-Catalyst projection of a finest-zoom packed pixel id onto
    zoom ``z = zf - dz``: struct(z, tile x, tile y, local pixel index).
    Integer shifts/masks only — stays in whole-stage codegen."""
    log2t = tile_px.bit_length() - 1
    gx = F.shiftright(pid, _PACK_SHIFT + dz)
    gy = F.shiftright(pid.bitwiseAND(F.lit((1 << _PACK_SHIFT) - 1)), dz)
    tx = F.shiftright(gx, log2t)
    ty = F.shiftright(gy, log2t)
    mask = F.lit(tile_px - 1)
    pix = gy.bitwiseAND(mask) * tile_px + gx.bitwiseAND(mask)
    return F.struct(
        F.lit(z).cast("int").alias("z"),
        tx.alias("x"),
        ty.alias("y"),
        pix.alias("pix"),
    )


def raster_heat_tiles(points: DataFrame, zooms: Sequence[int],
                      tile_px: int = 64,
                      weight_col: str | None = None) -> DataFrame:
    """(lon, lat) points → one grayscale PNG heat tile per (z, x, y)
    web-mercator tile, for every zoom in ``zooms``.

    ``weight_col`` (integer column, e.g. a token count) switches the
    per-pixel measure from point count to weight sum — same plan, the
    aggregate just sums instead of counting, and a weight-w point is
    byte-identical to w coincident unweighted points.

    Exactly TWO exchanges regardless of how many zooms are rendered:
    the packed-pixel hash aggregate (the only shuffle whose input is
    O(docs), map-side combined down to occupied finest pixels) and the
    (z, x, y) grouping of the per-zoom explode of that pixel table
    (O(pixels × zooms) rows). Returns (z, x, y, n_points, png)."""
    if tile_px & (tile_px - 1) or tile_px < 2:
        raise ValueError("tile_px must be a power of two >= 2")
    zooms = sorted({int(z) for z in zooms}, reverse=True)
    zf = zooms[0]
    # weights: NULL coalesces to 0 (an all-NULL pixel renders empty
    # instead of poisoning the int64 cast with NaN); weights must be
    # non-negative — the >=55 gray-ramp floor assumes counts-like input
    measure = (
        F.count(F.lit(1)) if weight_col is None
        else F.sum(F.coalesce(F.col(weight_col).cast("long"), F.lit(0)))
    )
    pid = pixel_id_udf(zf, tile_px)(F.col("lon"), F.col("lat")).alias("pid")
    cols = [pid] if weight_col is None else [pid, weight_col]
    base = points.select(*cols).groupBy("pid").agg(measure.alias("n"))
    # ONE exploded struct array per pixel row (map-side), NOT a Union of
    # per-zoom branches — a Union would re-plan (and re-scan) the whole
    # corpus aggregate once per level
    lv = F.explode(
        F.array(*[_zoom_struct(F.col("pid"), zf - z, z, tile_px) for z in zooms])
    ).alias("lv")
    # non-finite points (NULL pid, one aggregate row) draw nothing. The
    # filter tests the exploded struct: Spark would push a predicate on
    # pid below the aggregate into the encode's projection and run the
    # Python UDF twice
    levels = (
        base.select(lv, "n")
        .select("lv.z", "lv.x", "lv.y", "lv.pix", "n")
        .filter(F.col("x").isNotNull())
    )

    # (r6 audit: a collect_list(struct)+batched-pandas_udf render and a
    # packed-int64 variant were measured against this grouped form —
    # all three within noise at ~5.4k tiles, so the simplest shape
    # stays; the grouped pandas path batches groups efficiently.)
    def render(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        z, tx, ty = int(key[0]), int(key[1]), int(key[2])
        blob = render_heat_tile(
            pdf["pix"].to_numpy(np.int64), pdf["n"].to_numpy(np.int64), tile_px
        )
        return pd.DataFrame(
            {
                "z": [z],
                "x": [tx],
                "y": [ty],
                "n_points": [int(pdf["n"].sum())],
                "png": [blob],
            }
        )

    return levels.groupBy("z", "x", "y").applyInPandas(render, schema=_RASTER_SCHEMA)
