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

Pipeline shape (scale notes — this is what survives 100 TB): ONE
map-side Arrow pass, ONE exchange, ONE batched render, for any number
of zoom levels.

* map-side combine: one ``mapInArrow`` (``_enc``) over
  ``(lon, lat, w)``, ``w`` being 1 or the JVM's
  ``coalesce(cast(weight AS long), 0)``. Each partition computes the
  finest-zoom global pixel with the exact numpy web-mercator kernel
  (:func:`point_pixel`, i.e. ``viz/mvt.py``'s one projection) that the
  driver-side oracle replica also runs, so Spark and oracle do
  bit-identical float64 math (JVM ``sin``/``log`` never enter the plan,
  which is what makes the floor() at pixel boundaries safe to
  hash-compare). A point whose lon or lat is NULL, NaN or ±Inf is
  dropped there and draws nothing. ``w`` is summed per finest pixel in
  int64 (a float ``bincount`` would round sums past 2^53), and the
  sums are shifted to every requested zoom — a parent-zoom pixel is an
  integer right-shift of its finest-zoom child, so counts add exactly —
  and summed again there. A partition emits at most one
  ``(z, x, y, pix, n)`` row per occupied pixel and zoom, never one per
  point.
* one exchange: ``repartition(z, x, y)``. Both aggregates above it —
  the JVM sum of ``n`` per ``(z, x, y, pix)`` (so a tile holds at most
  ``tile_px²`` rows) and the per-tile ``collect_list`` of its
  ``(pix, n)`` with ``n_points`` — are satisfied by that partitioning
  and add no shuffle (plan-fenced in tests/test_plan_shapes.py).
* render: one scalar Arrow UDF (``render``) over a whole batch of
  tiles' ``(pix, n)`` lists; each tile goes through
  :func:`render_heat_tile`, which normalizes the gray ramp by the tile
  max with INTEGER math — bytes are a pure function of the tile's pixel
  sums, partitioning-independent, and hash-comparable against the same
  kernel run driver-side.
"""

from __future__ import annotations

from typing import Iterator, Sequence, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import BinaryType

from .mvt import _mercator_pixel

__all__ = [
    "point_pixel",
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
    VERBATIM by the Spark pass and the DuckDB-side oracle replica — same
    floats, same floors. Finite input only: a NaN/±Inf row lands on an
    arbitrary edge pixel (:func:`raster_heat_tiles` drops it instead)."""
    gx, gy, _ = _mercator_pixel(lon, lat, z, tile_px)
    return gx, gy


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


def _sum_by(keys: np.ndarray, vals: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """(distinct keys, int64 sum of ``vals`` per key)."""
    if not len(keys):
        return keys, vals
    order = np.argsort(keys, kind="stable")
    keys = keys[order]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    return keys[starts], np.add.reduceat(vals[order], starts)


def raster_heat_tiles(points: DataFrame, zooms: Sequence[int],
                      tile_px: int = 64,
                      weight_col: str | None = None) -> DataFrame:
    """(lon, lat) points → one grayscale PNG heat tile per (z, x, y)
    web-mercator tile, for every zoom in ``zooms``.

    ``weight_col`` (integer column, e.g. a token count) switches the
    per-pixel measure from point count to weight sum — same plan, the
    pixel sums just add weights instead of ones, and a weight-w point is
    byte-identical to w coincident unweighted points.

    Exactly ONE exchange regardless of how many zooms are rendered: the
    (z, x, y) repartition of the map-side per-pixel sums (O(occupied
    pixels × zooms) rows per partition, never O(docs)). Returns
    (z, x, y, n_points, png)."""
    if tile_px & (tile_px - 1) or tile_px < 2:
        raise ValueError("tile_px must be a power of two >= 2")
    zooms = sorted({int(z) for z in zooms}, reverse=True)
    zf = zooms[0]
    if tile_px << zf > (1 << 31):
        raise ValueError(f"tile_px<<z = {tile_px << zf} overflows the 31-bit pack")
    log2t, mask = tile_px.bit_length() - 1, tile_px - 1
    low = (1 << _PACK_SHIFT) - 1

    def _enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pids, ns = [], []
        for b in batches:
            lon, lat, w = (c.to_numpy(zero_copy_only=False) for c in b.columns)
            gx, gy, finite = _mercator_pixel(lon, lat, zf, tile_px)
            pid, n = _sum_by(((gx << _PACK_SHIFT) | gy)[finite], w[finite])
            pids.append(pid)
            ns.append(n)
        if not pids:
            return
        pid, n = _sum_by(np.concatenate(pids), np.concatenate(ns))
        for z in zooms:
            dz = zf - z
            zpid, zn = _sum_by(((pid >> (_PACK_SHIFT + dz)) << _PACK_SHIFT)
                               | ((pid & low) >> dz), n)
            gx, gy = zpid >> _PACK_SHIFT, zpid & low
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.full(len(zpid), z, dtype=np.int32)),
                 pa.array(gx >> log2t), pa.array(gy >> log2t),
                 pa.array(((gy & mask) * tile_px + (gx & mask)).astype(np.int32)),
                 pa.array(zn)],
                names=["z", "x", "y", "pix", "n"],
            )

    def render(px: pa.Array) -> pa.Array:
        """A batch of tiles' (pix, n) lists → their PNG blobs."""
        off = px.offsets.to_numpy()
        pix = px.values.field("pix").to_numpy()
        n = px.values.field("n").to_numpy()
        return pa.array(
            [render_heat_tile(pix[a:b], n[a:b], tile_px) for a, b in zip(off[:-1], off[1:])],
            type=pa.binary(),
        )

    w = (
        F.lit(1).cast("long") if weight_col is None
        else F.coalesce(F.col(weight_col).cast("long"), F.lit(0))
    )
    pixels = points.select(
        F.col("lon").cast("double"), F.col("lat").cast("double"), w.alias("w")
    ).mapInArrow(_enc, "z int, x long, y long, pix int, n long")
    png = arrow_udf(render, BinaryType())(F.collect_list(F.struct("pix", "n")))
    return (
        pixels.repartition("z", "x", "y")
        .groupBy("z", "x", "y", "pix").agg(F.sum("n").alias("n"))
        .groupBy("z", "x", "y")
        .agg(F.sum("n").alias("n_points"), png.alias("png"))
    )
