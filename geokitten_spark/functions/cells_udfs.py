"""Cell-encode pandas UDFs (F12/F13), the H3 cell-id kernels and the
Column grid encode.

S2/hex/H3/geohash encodes are numpy-vectorized per Arrow batch (no
per-row Python); every (lon, lat) encode here is NULL where lon or lat is
NULL, NaN or ±Inf. The H3 cell → cell kernels (``h3_parent``,
``h3_kring``, ``h3_boundary_wkt``) are Arrow UDFs: NULL in gives NULL
out, and ids stay exact int64.

The square grid (``cells/grid.py``) has three dialects: numpy; SQL, run by
Spark through ``F.expr`` over column names and by DuckDB; and
``grid_cell_col`` here, the one Column code that knows
``cell_id = res·2^58 + ix·2^29 + iy``, for callers that hold Columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..cells import s2 as s2mod
from ..cells.grid import RES_SHIFT, X_SHIFT
from ..cells.hexgrid import hex_cell as _hex_cell

__all__ = [
    "s2_cell",
    "hex_cell_udf",
    "grid_cell_col",
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


def hex_cell_udf(res: int):
    @pandas_udf(LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return _encode_finite(lon, lat, lambda la, lo: _hex_cell(lo, la, res))

    return _enc


def grid_cell_col(lon: Column, lat: Column, res: int) -> Column:
    """Square-grid encode as a Spark Column (JVM-side; identical to
    ``cells.grid.grid_cell`` and to ``grid_cell_sql``); NULL where lon or
    lat is NULL, NaN or ±Inf, so a group-by on it (``tile_aggregate``,
    ``tile_rollup``) puts such docs in one NULL-key row (per level)
    instead of on a real cell. Code that has column names builds
    ``F.expr(grid_cell_sql(...))`` instead: one JVM call, not ~30."""
    n, inf = 1 << res, float("inf")

    def world(v: Column, span: float) -> Column:
        v = F.floor((v + F.lit(span / 2)) / span * n).cast("long")
        return F.least(F.lit(n - 1), F.greatest(F.lit(0), v))

    ix, iy = world(lon, 360.0), world(lat, 180.0)
    cell = (F.lit(res).cast("long") * F.lit(1 << RES_SHIFT)) + ix * F.lit(1 << X_SHIFT) + iy
    return F.when((F.abs(lon) < inf) & (F.abs(lat) < inf), cell)


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


def _h3_cell_kernel(return_type, kernel):
    """Arrow UDF, named as ``kernel``, over an H3 cell-id column:
    ``kernel`` maps the non-NULL ids (uint64 numpy) to a pyarrow array of
    the same length. NULL in gives NULL out (``h3_cell`` is NULL for
    non-finite coordinates), and ids stay exact int64: a pandas UDF gets a
    nullable bigint batch that holds a NULL as float64, which rounds H3
    ids (they exceed 2^53)."""

    def udf(cell: pa.Array) -> pa.Array:
        out = kernel(cell.drop_null().to_numpy().astype(np.uint64))
        if cell.null_count == 0:
            return out
        ok = cell.is_valid().to_numpy(zero_copy_only=False)
        return out.take(pa.array(np.cumsum(ok) - 1, mask=~ok))

    udf.__name__ = kernel.__name__
    return arrow_udf(udf, return_type)


def h3_parent(parent_res: int):
    """UDF factory: H3 cell id → ancestor id at ``parent_res``."""
    from ..cells import h3core

    def _par(ids):
        return pa.array(h3core.cell_to_parent(ids, parent_res).astype(np.int64))

    return _h3_cell_kernel(LongType(), _par)


def h3_kring(k: int = 1):
    """UDF factory: H3 cell id → array of ids within grid distance k
    (incl. self; pentagon-adjacent rings dedupe, matching gridDiskUnsafe
    + dedupe semantics)."""
    from ..cells import h3core

    def _ring(ids):
        disks = h3core.grid_disk_arrays(ids, k)
        offsets = np.zeros(len(disks) + 1, dtype=np.int32)
        np.cumsum([len(d) for d in disks], out=offsets[1:])
        values = np.concatenate(disks) if disks else np.empty(0, np.uint64)
        return pa.ListArray.from_arrays(offsets, pa.array(values.astype(np.int64)))

    return _h3_cell_kernel(ArrayType(LongType()), _ring)


def h3_boundary_wkt():
    """UDF factory: H3 cell id → WKT POLYGON of its boundary (7-decimal
    lng lat, closed ring). Per-cell kernel — intended for POST-aggregate
    tile tables (O(cells), not O(rows)); the raster→vector step of the
    north star on true H3 ids."""
    from pyspark.sql.types import StringType

    from ..cells import h3core

    def _wkt(ids):
        out = []
        for c in ids:
            pts = [f"{lng:.7f} {lat:.7f}" for lat, lng in h3core.cell_to_boundary(c)]
            pts.append(pts[0])
            out.append("POLYGON ((" + ", ".join(pts) + "))")
        return pa.array(out, pa.string())

    return _h3_cell_kernel(StringType(), _wkt)


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
