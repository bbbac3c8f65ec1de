"""Equirectangular square-grid cell index — the SQL-expressible tiling.

The oracle-checkable complement to S2/hex (SURVEY §5(c)): the encode is pure
integer arithmetic, so the exact same cell assignment can be computed by
Spark SQL *and* DuckDB SQL (``__spark_entry__.oracle_sql``), making the
tiling join / tile aggregate / kRing-kNN operators verifiable end-to-end.

Layout: at resolution ``r`` the world [-180,180)×[-90,90) is split into
``2^r × 2^r`` cells; ``cell_id = r·2^58 + ix·2^29 + iy`` (single BIGINT so
range/hash partitioning and sort-merge joins apply natively — SURVEY §1.2).

The layout is known only here and in ``functions/cells_udfs.grid_cell_col``;
every operator packs, decodes and projects through these operations, in
three dialects:

* numpy — ``grid_cell`` (encode; finite input only), ``_grid_xy``
  (unclamped floor projection), ``_grid_pack``, ``grid_decode``,
  ``grid_kring``;
* SQL, run by Spark through ``F.expr`` over column names and by DuckDB —
  ``grid_cell_sql`` (encode; NULL where lon or lat is NULL, NaN or ±Inf),
  ``grid_key_sql`` (the same encode as a non-nullable join key, -1 where
  it is NULL), ``_grid_xy_sql`` (unclamped floor projection, like
  ``_grid_xy``), ``_grid_clamp_sql`` (world clamp), ``_grid_pack_sql``,
  ``grid_decode_sql``, ``_grid_ix_bits_sql`` (ix left in place by a
  mask), ``grid_parent_sql``, ``grid_bounds_sql`` (cell corner lon/lat),
  ``grid_neighbor_sql`` (one neighbor of a cell; lon wraps, lat clamps)
  and ``grid_kring_sql`` (Spark's kRing array of it);
  Spark callers pass a caller's column name through ``spark_col_sql``
  first, so any name ``F.col`` accepts (a space, a hyphen) still parses;
* Column — ``grid_cell_col`` only, the encode for callers that hold
  Columns rather than column names.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "grid_cell",
    "grid_cell_sql",
    "grid_decode",
    "grid_bounds_sql",
    "grid_decode_sql",
    "grid_key_sql",
    "grid_kring",
    "grid_kring_sql",
    "grid_neighbor_sql",
    "grid_parent_sql",
    "morton_code",
    "morton_sql",
    "spark_col_sql",
    "RES_SHIFT",
    "X_SHIFT",
]

RES_SHIFT = 58
X_SHIFT = 29


def spark_col_sql(name: str) -> str:
    """A caller's column name as a Spark SQL reference that resolves as
    ``F.col(name)`` does: each dot-separated part backtick-quoted (a dotted
    name stays a struct-field path); a name that already holds backticks
    is taken as quoted."""
    if "`" in name:
        return name
    return ".".join(f"`{part}`" for part in name.split("."))


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


def _grid_xy_sql(lon_expr: str, lat_expr: str, res: int) -> tuple[str, str]:
    """SQL twin of ``_grid_xy``: lon/lat → UNCLAMPED integer grid
    coordinates (ix, iy) at ``res`` (callers clamp with
    ``_grid_clamp_sql`` to the range they need)."""
    n = 1 << res
    return (
        f"CAST(FLOOR((({lon_expr}) + 180.0) / 360.0 * {n}) AS BIGINT)",
        f"CAST(FLOOR((({lat_expr}) + 90.0) / 180.0 * {n}) AS BIGINT)",
    )


def _grid_clamp_sql(v_expr: str, res: int) -> str:
    """An integer grid coordinate clamped to the world range [0, 2^res)."""
    return f"LEAST({(1 << res) - 1}, GREATEST(0, {v_expr}))"


def _grid_finite_world_sql(lon_expr: str, lat_expr: str, res: int) -> tuple[str, str]:
    """(finite test, world-clamped encode) for lon/lat at ``res``.
    ``ABS(v) < Infinity`` is false for NULL and NaN in both engines."""
    ix, iy = _grid_xy_sql(lon_expr, lat_expr, res)
    finite = (
        f"ABS({lon_expr}) < CAST('Infinity' AS DOUBLE) "
        f"AND ABS({lat_expr}) < CAST('Infinity' AS DOUBLE)"
    )
    return finite, _grid_pack_sql(res, _grid_clamp_sql(ix, res), _grid_clamp_sql(iy, res))


def grid_cell_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """The identical computation as ANSI SQL (runs in Spark SQL and DuckDB),
    NULL where lon or lat is NULL, NaN or ±Inf (CASE never evaluates the
    FLOOR cast that DuckDB would raise on)."""
    finite, cell = _grid_finite_world_sql(lon_expr, lat_expr, res)
    return f"(CASE WHEN {finite} THEN {cell} END)"


def grid_key_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """``grid_cell_sql`` as a NON-nullable equi-join key: -1, which no grid
    cell has, where the encode is NULL. An inner join on a nullable key
    makes Spark infer ``isnotnull(key)`` and push the finite test below a
    computed lon/lat, which then runs twice per row; a -1 key matches no
    cover or cell row, so such rows still join nothing."""
    finite, cell = _grid_finite_world_sql(lon_expr, lat_expr, res)
    return f"(CASE WHEN {finite} THEN {cell} ELSE -1 END)"


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


def _grid_ix_bits_sql(cell_expr: str) -> str:
    """``ix·2^29`` of a packed cell id: its ix bits left in place by one
    mask. The bounds and neighbor builders work on it and never decode ix:
    Spark SQL and DuckDB share no integer division (Spark's ``>>`` does
    not even parse after ``array(`` or ``struct(``), so the exact decode
    goes through a DOUBLE division, and a knn kRing explode plus cell-box
    test built on that decode compiled to a method past the JVM's
    8000-byte JIT limit: 30x slower per row (4M points, ``local[4]``)."""
    return f"(({cell_expr}) & {((1 << X_SHIFT) - 1) << X_SHIFT})"


def grid_parent_sql(cell_expr: str, child_res: int, parent_res: int) -> str:
    """Arithmetic parent of a res-``child_res`` packed grid id at
    ``parent_res`` (no re-encode from lon/lat): each of ix and iy loses
    its low ``shift`` bits by a mask and is scaled down in place by
    2^shift — exact, as the masked value is a multiple of 2^shift with at
    most 29 significant bits. Half the operations of a decode and repack
    (``_grid_ix_bits_sql`` says why that counts)."""
    shift = child_res - parent_res
    low = (1 << (X_SHIFT + shift)) - 1
    ix_mask = (((1 << X_SHIFT) - 1) << X_SHIFT) & ~low
    iy_mask = ((1 << X_SHIFT) - 1) & ~((1 << shift) - 1)
    ix_bits, iy = (
        f"CAST(CAST(({cell_expr}) & {mask} AS DOUBLE) / {1 << shift} AS BIGINT)"
        for mask in (ix_mask, iy_mask)
    )
    return f"(CAST({parent_res} AS BIGINT) * {1 << RES_SHIFT} + {ix_bits} + {iy})"


def grid_bounds_sql(cell_expr: str, res: int) -> tuple[str, str, str, str]:
    """A res-``res`` cell id → its corners (lon0, lat0, lon1, lat1) as
    DOUBLE. All corner math is dyadic, so numpy, Spark and DuckDB yield
    the same doubles; the constants are cast because a literal such as
    ``2.8125`` is a DECIMAL in both SQL engines."""
    ix_bits, iy = _grid_ix_bits_sql(cell_expr), f"(({cell_expr}) % {1 << X_SHIFT})"
    w = f"CAST({360.0 / (1 << (res + X_SHIFT))!r} AS DOUBLE)"  # per ix·2^29
    h = f"CAST({180.0 / (1 << res)!r} AS DOUBLE)"
    lon0, lat0 = "CAST(-180.0 AS DOUBLE)", "CAST(-90.0 AS DOUBLE)"
    return (
        f"({lon0} + CAST({ix_bits} AS DOUBLE) * {w})",
        f"({lat0} + {iy} * {h})",
        f"({lon0} + CAST({ix_bits} + {1 << X_SHIFT} AS DOUBLE) * {w})",
        f"({lat0} + ({iy} + 1) * {h})",
    )


def grid_neighbor_sql(cell_expr: str, res: int, dx, dy) -> str:
    """The res-``res`` cell at offset (``dx``, ``dy``) — integers or SQL
    expressions — from a cell: longitude wraps, latitude clamps (as in
    ``grid_kring``). Offsets must be >= -2^res."""
    n = 1 << res
    step = f"CAST({1 << X_SHIFT} AS BIGINT)"
    ix_bits = f"(({_grid_ix_bits_sql(cell_expr)} + (({dx}) + {n}) * {step}) % {n << X_SHIFT})"
    iy = _grid_clamp_sql(f"(({cell_expr}) % {1 << X_SHIFT}) + ({dy})", res)
    return f"(CAST({res} AS BIGINT) * {1 << RES_SHIFT} + {ix_bits} + {iy})"


def grid_kring_sql(cell_expr: str, res: int, k: int = 1) -> str:
    """Spark SQL kRing: the distinct cells within Chebyshev distance ``k``
    of a res-``res`` cell as one BIGINT array (``grid_kring`` deduped)."""
    cells = [
        grid_neighbor_sql(cell_expr, res, dx, dy)
        for dx in range(-k, k + 1)
        for dy in range(-k, k + 1)
    ]
    return f"array_distinct(array({', '.join(cells)}))"


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
