"""Equirectangular square-grid cell index — the SQL-expressible tiling.

The oracle-checkable complement to S2/hex (SURVEY §5(c)): the encode is pure
integer arithmetic, so the exact same cell assignment can be computed by
Spark SQL *and* DuckDB SQL (``__spark_entry__.oracle_sql``), making the
tiling join / tile aggregate / kRing-kNN operators verifiable end-to-end.

Layout: at resolution ``r`` the world [-180,180)×[-90,90) is split into
``2^r × 2^r`` cells; ``cell_id = r·2^58 + ix·2^29 + iy`` (single BIGINT so
range/hash partitioning and sort-merge joins apply natively — SURVEY §1.2).

The layout is known only here and in its Column twins in
``functions/cells_udfs.py``; every operator packs, decodes and projects
through these operations:

* numpy — ``grid_cell`` (encode; finite input only), ``_grid_xy``
  (unclamped floor projection), ``_grid_pack``, ``grid_decode``;
* SQL (Spark SQL and DuckDB) — ``grid_cell_sql`` (encode; NULL where lon
  or lat is NULL, NaN or ±Inf), ``_grid_pack_sql``, ``grid_decode_sql``;
* Column (``cells_udfs``) — ``grid_cell_col`` (encode, same NULL rule),
  ``_grid_key_col`` (the same encode as a non-nullable join key, -1 where
  it is NULL), ``_grid_finite_col`` (its guard), ``_grid_world_col``
  (world-clamped encode, unguarded), ``_grid_xy_col`` (unclamped floor
  projection, like ``_grid_xy``), ``_grid_clamp_col`` (world clamp),
  ``_grid_pack_col``, ``_grid_decode_col``, ``_grid_bounds_col`` (cell
  corner lon/lat).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "grid_cell",
    "grid_cell_sql",
    "grid_decode",
    "grid_decode_sql",
    "grid_kring",
    "morton_code",
    "morton_sql",
    "RES_SHIFT",
    "X_SHIFT",
]

RES_SHIFT = 58
X_SHIFT = 29


def _grid_xy(lon, lat, res: int):
    """Vectorized lon/lat → UNCLAMPED integer grid coordinates (ix, iy)
    at ``res``: the floor of the equirectangular projection. Callers clip
    to the range they need (the world for ``grid_cell``, a polygon's bbox
    range for the cover builder)."""
    n = np.int64(1) << res
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n)
    return ix.astype(np.int64), iy.astype(np.int64)


def _grid_pack(res, ix, iy):
    """Vectorized (res, ix, iy) int64 grid coordinates → packed cell id."""
    return (np.int64(res) << RES_SHIFT) | (ix << X_SHIFT) | iy


def grid_cell(lon, lat, res: int):
    """Vectorized lon/lat → grid cell id at resolution ``res`` (0–28).
    Takes finite input only (NaN/±Inf land on an arbitrary cell); the
    SQL and Column encodes return NULL for non-finite coordinates."""
    n = np.int64(1) << res
    ix, iy = _grid_xy(lon, lat, res)
    return _grid_pack(res, np.clip(ix, 0, n - 1), np.clip(iy, 0, n - 1))


def _grid_pack_sql(res: int, ix_expr: str, iy_expr: str) -> str:
    """(res, ix, iy) → packed cell id as portable SQL (bit packing via
    multiplication — DuckDB and Spark agree on BIGINT semantics)."""
    return (
        f"(CAST({res} AS BIGINT) * {1 << RES_SHIFT} "
        f"+ ({ix_expr}) * {1 << X_SHIFT} + ({iy_expr}))"
    )


def grid_cell_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """The identical computation as ANSI SQL (runs in Spark SQL and DuckDB),
    NULL where lon or lat is NULL, NaN or ±Inf (``ABS(v) < Infinity`` is
    false for NaN in both engines, and CASE never evaluates the FLOOR
    cast that DuckDB would raise on)."""
    n = 1 << res
    ix = (
        f"LEAST({n - 1}, GREATEST(0, CAST(FLOOR((({lon_expr}) + 180.0) / 360.0 * {n}) AS BIGINT)))"
    )
    iy = (
        f"LEAST({n - 1}, GREATEST(0, CAST(FLOOR((({lat_expr}) + 90.0) / 180.0 * {n}) AS BIGINT)))"
    )
    finite = (
        f"ABS({lon_expr}) < CAST('Infinity' AS DOUBLE) "
        f"AND ABS({lat_expr}) < CAST('Infinity' AS DOUBLE)"
    )
    return f"(CASE WHEN {finite} THEN {_grid_pack_sql(res, ix, iy)} END)"


def _idiv_pow2_sql(expr: str, d: int) -> str:
    """Exact integer division of a non-negative BIGINT by a power of two,
    portable across Spark SQL and DuckDB.

    Plain ``FLOOR(x / d)`` goes through DOUBLE: for x >= 2^53 the rounding
    can flip FLOOR and decode the wrong column (ADVICE r1). Subtracting the
    remainder first makes the numerator a multiple of d whose quotient has
    <= 29 significant bits, so the DOUBLE round-trip is exact.
    """
    return f"CAST(((({expr}) - (({expr}) % {d})) / {d}) AS BIGINT)"


def grid_decode_sql(cell_expr: str) -> dict[str, str]:
    """Exact (res, ix, iy) decode expressions for a packed cell id — the
    SQL twin of ``grid_decode``, safe for all 0-28 resolutions in both
    Spark SQL and DuckDB."""
    return {
        "res": _idiv_pow2_sql(cell_expr, 1 << RES_SHIFT),
        "ix": _idiv_pow2_sql(f"(({cell_expr}) % {1 << RES_SHIFT})", 1 << X_SHIFT),
        "iy": f"(({cell_expr}) % {1 << X_SHIFT})",
    }


def grid_decode(cell_id):
    """cell ids → (res, ix, iy) (exact bit ops)."""
    cid = np.asarray(cell_id, dtype=np.int64)
    res = cid >> RES_SHIFT
    ix = (cid >> X_SHIFT) & ((np.int64(1) << X_SHIFT) - 1)
    iy = cid & ((np.int64(1) << X_SHIFT) - 1)
    return res, ix, iy


def grid_kring(cell_id, k: int = 1):
    """All cells within Chebyshev distance k → shape (n, (2k+1)^2) array.

    Longitude wraps (antimeridian); latitude clamps (no polar wrap) — rows
    whose neighbor falls off the pole repeat the clamped cell, and callers
    dedupe via the equi-join itself.
    """
    cid = np.asarray(cell_id, dtype=np.int64)
    res, ix, iy = grid_decode(cid)
    n = np.int64(1) << res
    out = np.empty((len(cid), (2 * k + 1) ** 2), dtype=np.int64)
    col = 0
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            nx = np.mod(ix + dx, n)
            ny = np.clip(iy + dy, 0, n - 1)
            out[:, col] = _grid_pack(res, nx, ny)
            col += 1
    return out


# ---------------------------------------------------------------------------
# Z-order (Morton) linearization — spatial file-layout clustering
# ---------------------------------------------------------------------------
# Sorting rows by the Morton code of their cell clusters spatially-near
# rows into the same parquet files, so per-file min/max cell statistics
# prune range scans (DEPLOY.md "file sizing"). The defining property —
# morton(ix, iy) >> 2 == morton(ix >> 1, iy >> 1) — means a z-prefix of
# 2k bits IS the res-k ancestor quad: hierarchical pruning for free.

def morton_code(ix, iy, res: int):
    """Bit-interleaved (iy even bits, ix odd bits) Morton code of grid
    coordinates at resolution ``res`` (vectorized numpy)."""
    ix = np.asarray(ix, dtype=np.int64)
    iy = np.asarray(iy, dtype=np.int64)
    z = np.zeros_like(ix)
    for b in range(res):
        z |= ((iy >> b) & 1) << (2 * b)
        z |= ((ix >> b) & 1) << (2 * b + 1)
    return z


def morton_sql(ix_expr: str, iy_expr: str, res: int) -> str:
    """The identical interleave as portable SQL (exact power-of-two
    integer division via ``_idiv_pow2_sql`` — runs verbatim in Spark SQL
    and DuckDB)."""
    terms = []
    for b in range(res):
        yb = _idiv_pow2_sql(iy_expr, 1 << b)
        xb = _idiv_pow2_sql(ix_expr, 1 << b)
        terms.append(f"(({yb}) % 2) * {1 << (2 * b)}")
        terms.append(f"(({xb}) % 2) * {1 << (2 * b + 1)}")
    return "(" + " + ".join(terms) + ")"
