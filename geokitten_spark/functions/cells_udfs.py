"""Cell-encode pandas UDFs (F12/F13) + the pure-SQL grid encode column.

S2/hex encodes are numpy-vectorized per Arrow batch (no per-row Python).
The square-grid encode is a pure Spark SQL expression (``grid_cell_col``) so
it stays inside whole-stage codegen AND matches the DuckDB oracle formula.
This module is the Column home of the grid layout (``cells/grid.py`` holds
the numpy and SQL dialects): ``_grid_xy_col``, ``_grid_clamp_col``,
``_grid_world_col``, ``_grid_pack_col``, ``_grid_decode_col`` and
``_grid_bounds_col`` are the only Column code that knows
``cell_id = res·2^58 + ix·2^29 + iy``. Every (lon, lat) encode here is
NULL where lon or lat is NULL, NaN or ±Inf; ``_grid_key_col`` is the
non-nullable join-key form of ``grid_cell_col``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..cells import s2 as s2mod
from ..cells.grid import RES_SHIFT, X_SHIFT
from ..cells.hexgrid import hex_cell as _hex_cell, hex_kring as _hex_kring

__all__ = [
    "s2_cell",
    "s2_parent",
    "s2_kring",
    "hex_cell_udf",
    "hex_kring_udf",
    "grid_cell_col",
    "grid_kring_col",
    "geohash_cell",
]


def _encode_finite(lon: pd.Series, lat: pd.Series, encode, dtype=np.int64) -> pd.Series:
    """``encode(lat, lon)`` as int64 cell ids (strings for ``dtype=object``);
    NULL where either coordinate is NULL, NaN or ±Inf (the encoders would
    raise or return a bogus id)."""
    lo, la = lon.to_numpy(np.float64), lat.to_numpy(np.float64)
    ok = np.isfinite(lo) & np.isfinite(la)
    cells = np.zeros(len(lo), dtype=dtype)
    if ok.any():
        cells[ok] = encode(la[ok], lo[ok])
    if dtype is object:
        cells[~ok] = None
        return pd.Series(cells)
    return pd.Series(pd.arrays.IntegerArray(cells, ~ok))


def s2_cell(level: int):
    """UDF factory: (lon, lat) → S2 cell id at ``level``."""

    @pandas_udf(LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return _encode_finite(lon, lat, lambda la, lo: s2mod.lat_lng_to_cell(la, lo, level))

    return _enc


def s2_parent(level: int):
    @pandas_udf(LongType())
    def _par(cell: pd.Series) -> pd.Series:
        return pd.Series(s2mod.parent(cell.to_numpy(np.int64), level))

    return _par


def s2_kring(k: int = 1):
    """UDF factory: cell id → array of same-level neighbor ids (incl. self)."""

    @pandas_udf(ArrayType(LongType()))
    def _ring(cell: pd.Series) -> pd.Series:
        rings = s2mod.all_neighbors(cell.to_numpy(np.int64), k=k)
        return pd.Series([r.tolist() for r in rings])

    return _ring


def hex_cell_udf(res: int):
    @pandas_udf(LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return _encode_finite(lon, lat, lambda la, lo: _hex_cell(lo, la, res))

    return _enc


def hex_kring_udf(k: int = 1):
    @pandas_udf(ArrayType(LongType()))
    def _ring(cell: pd.Series) -> pd.Series:
        rings = _hex_kring(cell.to_numpy(np.int64), k=k)
        return pd.Series([row.tolist() for row in rings])

    return _ring


def _grid_xy_col(lon: Column, lat: Column, res: int):
    """Column twin of ``cells.grid._grid_xy``: lon/lat → UNCLAMPED integer
    grid coordinates (ix, iy) at ``res`` (callers clamp with
    ``_grid_clamp_col``, as the numpy callers clip)."""
    n = 1 << res
    ix = F.floor((lon + F.lit(180.0)) / 360.0 * n).cast("long")
    iy = F.floor((lat + F.lit(90.0)) / 180.0 * n).cast("long")
    return ix, iy


def _grid_clamp_col(v: Column, res: int) -> Column:
    """An integer grid coordinate clamped to the world range [0, 2^res)."""
    return F.least(F.lit((1 << res) - 1), F.greatest(F.lit(0), v))


def _grid_pack_col(res: int, ix: Column, iy: Column) -> Column:
    """Column twin of ``cells.grid._grid_pack``: (res, ix, iy) → cell id."""
    return (F.lit(res).cast("long") * F.lit(1 << RES_SHIFT)) + ix * F.lit(1 << X_SHIFT) + iy


def _grid_decode_col(cell: Column):
    """Column twin of ``cells.grid.grid_decode``: cell id → (ix, iy) by
    exact bit ops (double division flips FLOOR for cells >= 2^53)."""
    ix = F.shiftright(cell.cast("long"), X_SHIFT).bitwiseAND(
        F.lit((1 << (RES_SHIFT - X_SHIFT)) - 1)
    )
    iy = cell.cast("long") % F.lit(1 << X_SHIFT)
    return ix, iy


def _grid_bounds_col(cell: Column, res: int):
    """Cell id at ``res`` → its corners (lon0, lat0, lon1, lat1). All
    corner math is dyadic, so every form of it yields the same doubles
    in Spark, numpy and DuckDB."""
    ix, iy = _grid_decode_col(cell)
    w, h = 360.0 / (1 << res), 180.0 / (1 << res)
    return (
        F.lit(-180.0) + ix * w,
        F.lit(-90.0) + iy * h,
        F.lit(-180.0) + (ix + 1) * w,
        F.lit(-90.0) + (iy + 1) * h,
    )


def _grid_world_col(lon: Column, lat: Column, res: int) -> Column:
    """lon/lat → cell id at ``res`` with (ix, iy) clamped to the world; no
    finite test (``_grid_finite_col`` guards it)."""
    ix, iy = _grid_xy_col(lon, lat, res)
    return _grid_pack_col(res, _grid_clamp_col(ix, res), _grid_clamp_col(iy, res))


def _grid_finite_col(lon: Column, lat: Column) -> Column:
    """True where lon and lat are both finite; never true where either is
    NULL, NaN or ±Inf.
    Callers encoding several resolutions build it once: every Column call
    is a driver round trip to the JVM."""
    inf = float("inf")
    return (F.abs(lon) < inf) & (F.abs(lat) < inf)


def grid_cell_col(lon: Column, lat: Column, res: int) -> Column:
    """Square-grid encode as a pure Spark SQL column (JVM-side; identical to
    ``cells.grid.grid_cell`` and to ``grid_cell_sql`` for the oracle);
    NULL where lon or lat is NULL, NaN or ±Inf, so a group-by on it
    (``tile_aggregate``, ``tile_rollup``) puts such docs in one NULL-key
    row (per level) instead of on a real cell."""
    return F.when(_grid_finite_col(lon, lat), _grid_world_col(lon, lat, res))


def _grid_key_col(
    lon: Column, lat: Column, res: int, finite: Column | None = None
) -> Column:
    """``grid_cell_col`` as a NON-nullable equi-join key: -1, which no grid
    cell has, where the encode is NULL. An inner join on a nullable key
    makes Spark infer ``isnotnull(key)`` and push the finite test below a
    computed lon/lat, which then runs twice per row; a -1 key matches no
    cover or cell row, so such docs still join nothing. ``finite`` reuses
    a ``_grid_finite_col`` already built for the same lon/lat."""
    if finite is None:
        finite = _grid_finite_col(lon, lat)
    return F.when(finite, _grid_world_col(lon, lat, res)).otherwise(F.lit(-1))


def grid_kring_col(cell: Column, res: int, k: int = 1) -> Column:
    """kRing as a pure SQL array expression over the packed grid id
    (lon wraps, lat clamps — same as ``cells.grid.grid_kring``)."""
    n = 1 << res
    ix, iy = _grid_decode_col(cell)
    cells = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            nx = (ix + F.lit(dx) + F.lit(n)) % F.lit(n)
            cells.append(_grid_pack_col(res, nx, _grid_clamp_col(iy + F.lit(dy), res)))
    return F.array_distinct(F.array(*cells))


def geohash_cell(precision: int):
    """UDF factory: (lon, lat) → interoperable geohash string
    (cells/geohash.py — verified against published vectors); NULL where
    lon or lat is NULL, NaN or ±Inf. Prefix rollups downstream are plain
    ``substr`` (no re-encode)."""
    from pyspark.sql.types import StringType

    from ..cells.geohash import geohash_encode

    @pandas_udf(StringType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return _encode_finite(
            lon, lat, lambda la, lo: geohash_encode(lo, la, precision), dtype=object
        )

    return _enc


def h3_cell(res: int):
    """UDF factory: (lon, lat) → canonical H3 cell id at ``res``.

    Ids are bit-for-bit H3-interoperable (cells/h3core.py — published
    test vectors verified in tests/test_h3.py), returned as signed int64
    (H3 indexes have bit 63 clear, so the cast is lossless).
    """
    from ..cells import h3core

    @pandas_udf(LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return _encode_finite(lon, lat, lambda la, lo: h3core.latlng_to_cell(la, lo, res))

    return _enc


def h3_parent(parent_res: int):
    """UDF factory: H3 cell id → ancestor id at ``parent_res``."""
    from ..cells import h3core

    @pandas_udf(LongType())
    def _par(cell: pd.Series) -> pd.Series:
        out = h3core.cell_to_parent(
            cell.to_numpy(np.int64).astype(np.uint64), parent_res
        )
        return pd.Series(out.astype(np.int64))

    return _par


def h3_kring(k: int = 1):
    """UDF factory: H3 cell id → array of ids within grid distance k
    (incl. self; pentagon-adjacent rings dedupe, matching gridDiskUnsafe
    + dedupe semantics)."""
    from ..cells import h3core

    @pandas_udf(ArrayType(LongType()))
    def _ring(cell: pd.Series) -> pd.Series:
        rings = h3core.grid_disk_arrays(
            cell.to_numpy(np.int64).astype(np.uint64), k
        )
        return pd.Series([r.astype(np.int64).tolist() for r in rings])

    return _ring


def h3_boundary_wkt():
    """UDF factory: H3 cell id → WKT POLYGON of its boundary (7-decimal
    lng lat, closed ring). Per-cell kernel — intended for POST-aggregate
    tile tables (O(cells), not O(rows)); the raster→vector step of the
    north star on true H3 ids."""
    from pyspark.sql.types import StringType

    from ..cells import h3core

    @pandas_udf(StringType())
    def _wkt(cell: pd.Series) -> pd.Series:
        out = []
        for c in cell.to_numpy(np.int64).astype(np.uint64):
            b = h3core.cell_to_boundary(c)
            pts = [f"{lng:.7f} {lat:.7f}" for lat, lng in b]
            pts.append(pts[0])
            out.append("POLYGON ((" + ", ".join(pts) + "))")
        return pd.Series(out)

    return _wkt


def h3_parent_col(cell: Column, child_res: int, parent_res: int) -> Column:
    """H3 ancestor as PURE JVM bit arithmetic (digit truncation: clear the
    res nibble, set ``parent_res``, fill digits below with 7) — no Python
    stage, so codegen ancestor probes against compacted covers stay
    whole-stage. Equality with the kernel cell_to_parent is pinned in
    tests/test_h3.py."""
    clear = ~(0xF << 52)
    filler = (1 << ((15 - parent_res) * 3)) - (1 << ((15 - child_res) * 3))
    return (
        cell.bitwiseAND(F.lit(clear))
        .bitwiseOR(F.lit(parent_res << 52))
        .bitwiseOR(F.lit(filler))
    )
