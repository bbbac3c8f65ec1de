"""Grid-density spatial clustering (DBSCAN-style over packed grid cells).

The distributed answer to "find the dense geographic blobs in 10^12
points": instead of DBSCAN's per-point epsilon graph (quadratic, needs a
spatial index per partition), density is evaluated per GRID CELL — a
single partial+final count aggregate — and clusters are connected
components of the (tiny) dense-cell adjacency graph. This is the standard
grid-approximation of DBSCAN: epsilon == cell size, minPts == per-cell
density threshold; cluster ids are the min cell id of each component, so
results are deterministic at any parallelism.

Scale shape:
* points → cell counts: one shuffle of pre-aggregated (cell, count) rows;
* dense-cell filter drops the table to the hotspots (*cells*, not points);
* kRing-1 adjacency is the pure-SQL array expression (no Python);
* components run min-label propagation over cells (operators/dedup.py
  machinery) — the graph is several orders of magnitude smaller than the
  input, so the iterative joins touch trivial data;
* labelling the original points back is one broadcast-able equi-join on
  the cell id.

Generalizes the reference's per-geometry surface to corpus-scale density
analytics (no reference equivalent; north_rule "tiling engine" family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cells.grid import grid_cell_sql, grid_kring_sql, grid_neighbor_sql, spark_col_sql
from .dedup import connected_components

__all__ = ["grid_dbscan", "grid_dbscan_sql"]


def grid_dbscan(
    points: DataFrame,
    *,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 6,
    min_pts: int = 5,
    max_iters: int = 25,
) -> DataFrame:
    """Cluster dense grid cells; returns (cell_id, n_pts, cluster_id).

    A cell is dense iff it holds >= ``min_pts`` points; dense cells within
    kRing-1 of each other (8-neighborhood, lon wraps, lat clamps) share a
    cluster; ``cluster_id`` is the minimum cell id of the component (a
    singleton dense cell is its own cluster).

    ``max_iters`` bounds the label-propagation rounds; convergence needs
    O(component diameter) rounds, and spatial adjacency graphs can hold
    long thin components (corridors/coastlines), so the propagation now
    RAISES instead of returning truncated labels when the budget is
    exhausted — raise ``max_iters`` for continent-spanning dense regions.
    """
    cell = grid_cell_sql(spark_col_sql(lon_col), spark_col_sql(lat_col), res)
    cells = (
        points.groupBy(F.expr(f"{cell} AS cell_id"))
        .agg(F.count(F.lit(1)).alias("n_pts"))
        .filter(F.col("n_pts") >= min_pts)
    )
    nb = cells.select(
        "cell_id",
        F.expr(f"explode({grid_kring_sql('cell_id', res, 1)}) AS nb"),
    ).filter(F.col("nb") > F.col("cell_id"))
    edges = nb.join(
        cells.select(F.col("cell_id").alias("nb")), on="nb"
    ).select(F.col("cell_id").alias("doc_a"), F.col("nb").alias("doc_b"))
    comp = connected_components(edges, max_iters=max_iters)
    return cells.join(
        comp, cells.cell_id == comp.doc_id, "left"
    ).select(
        "cell_id",
        "n_pts",
        F.coalesce(F.col("cluster_id"), F.col("cell_id")).alias("cluster_id"),
    )


def grid_dbscan_sql(
    points_query: str, *, res: int = 6, min_pts: int = 5
) -> str:
    """DuckDB twin over a query yielding (lon, lat). Same dense-cell set,
    same 8-neighbor adjacency (lon wrap / lat clamp), same min-cell-id
    labels via WITH RECURSIVE closure."""
    from .dedup import connected_components_sql

    cell = grid_cell_sql("lon", "lat", res)
    neighbor = grid_neighbor_sql("c.cell_id", res, "d.dx", "d.dy")
    dense = (
        f"SELECT {cell} AS cell_id, COUNT(*) AS n_pts "
        f"FROM ({points_query}) GROUP BY 1 HAVING COUNT(*) >= {min_pts}"
    )
    deltas = ", ".join(
        f"({dx}, {dy})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if not (dx == 0 and dy == 0)
    )
    pairs = f"""
        SELECT DISTINCT c.cell_id AS doc_a, x.nb AS doc_b
        FROM ({dense}) c
        JOIN (VALUES {deltas}) AS d(dx, dy) ON TRUE
        CROSS JOIN LATERAL (SELECT {neighbor} AS nb) x
        JOIN ({dense}) c2 ON c2.cell_id = x.nb
        WHERE x.nb > c.cell_id
    """
    comp = connected_components_sql(pairs)
    return f"""
        SELECT c.cell_id, c.n_pts,
               COALESCE(k.cluster_id, c.cell_id) AS cluster_id
        FROM ({dense}) c
        LEFT JOIN ({comp}) k ON k.doc_id = c.cell_id
    """
