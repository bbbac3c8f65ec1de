"""J4 — kRing kNN join (SURVEY.md §2.4): cell-bucketed top-k neighbors.

Plan shape (built from Spark primitives only):
1. encode each point's grid cell (pure SQL, codegen);
2. LEFT side explodes its kRing (array expression, still codegen) — the
   candidate generator;
3. sort-merge equi-join candidates on the BIGINT neighbor-cell key;
4. per-point ``Window.orderBy(dist², id).row_number() <= k`` top-k refine.

Correctness contract (oracle-able): "k nearest by squared planar lon/lat
distance among points within Chebyshev cell distance ``ring_k``, ties by
neighbor id" — the exact same predicate is expressible in DuckDB SQL via the
grid arithmetic, so the driver's hash-compare validates the whole pipeline.

Scale: candidates per point ≈ ring area × density; choose ``res`` so cells
hold O(10-100) points. Dense cells (skew) → AQE skew-join splits the
oversized partitions; optionally pre-salt via operators/skew.py.

Bound prune (round 4): before the ring join, each point computes the
distance of its k-th nearest SAME-CELL neighbor (a ring-0 window over
~density rows per point — a strict subset of the candidates the main
join enumerates anyway). Any ring candidate strictly farther than that
bound cannot enter the top-k (k closer candidates already exist), so
the filter runs inside the candidate-join stage and the expensive
per-id sort feeding WindowGroupLimit sees ~k-dozens of rows per point
instead of ring_area x density (measured on the bench leg: 80M -> ~2M
sort input, 58s -> 7.6s at local[8]). Points whose cell holds < k+1
points get a NULL bound and skip the prune — output is bit-identical
with or without it (the prune keeps dist2 == bound ties, which the
(dist2, neighbor_id) tie-break may still admit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cells.grid import grid_bounds_sql, grid_cell_sql, grid_kring_sql

__all__ = ["knn_join"]


def knn_join(
    points: DataFrame,
    *,
    id_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    k: int = 5,
    res: int = 6,
    ring_k: int = 1,
    include_self: bool = False,
    cell_col: str | None = None,
    prune: bool = True,
) -> DataFrame:
    """Self-kNN: for every point, its k nearest neighbors within ring_k
    cells. Output: (id, neighbor_id, dist2, rank).

    ``cell_col`` names a PRE-COMPUTED res-``res`` grid cell column: pass
    it when ``points`` comes from a table bucketed on that column so the
    join's build side keeps the storage distribution (re-deriving the
    cell from lon/lat severs the bucketing provenance and forces an
    exchange Catalyst could have skipped).

    ``prune`` enables the same-cell k-th-neighbor bound prune (module
    docstring) — output is identical either way; disable only to audit.

    A point whose lon or lat is NULL, NaN or ±Inf has a NULL cell: it
    gets no rows and is no point's neighbor. (The nullable key lets Spark
    push the finite test below a computed lon/lat, one more evaluation of
    it per point; a shared non-null key for such points would instead
    pair all of them with each other in the same-cell self-join.)
    """
    if cell_col is not None:
        pts = points.select(
            F.col(id_col).alias("id"),
            F.col(lon_col).alias("lon"),
            F.col(lat_col).alias("lat"),
            F.col(cell_col).alias("cell_id"),
        )
    else:
        pts = points.select(
            F.col(id_col).alias("id"),
            F.col(lon_col).alias("lon"),
            F.col(lat_col).alias("lat"),
        ).withColumn("cell_id", F.expr(grid_cell_sql("lon", "lat", res)))

    pre = pts
    if prune and ring_k > 0:
        # k-th-nearest SAME-CELL neighbor distance per id: ring-0 window
        # over ~density rows per point. Same self-exclusion rule and the
        # same (dist2, neighbor_id) order as the final refine, so a ring
        # candidate with dist2 > bound is strictly beaten by k closer ones.
        sc_r = pts.select(
            F.col("id").alias("nid"),
            F.col("lon").alias("nlon"),
            F.col("lat").alias("nlat"),
            "cell_id",
        )
        sc = pts.join(sc_r, on="cell_id", how="inner")
        if not include_self:
            sc = sc.filter(F.col("id") != F.col("nid"))
        sdlon = F.col("lon") - F.col("nlon")
        sdlat = F.col("lat") - F.col("nlat")
        # k-th smallest same-cell sd2 per id as a HASH AGGREGATE, not a
        # window: the (sd2, nid)-ordered k-th element's sd2 equals the
        # k-th smallest sd2 of the multiset (the nid tie-break only
        # permutes equal sd2 values), so sorting a ~density-length array
        # per id replaces the per-partition sort of the whole pair table
        # (O(pairs log pairs) -> O(pairs + ids*density log density);
        # measured 17M pair rows at the bench leg's density). ``F.get``
        # yields NULL when the cell has < k+1 points — same no-bound
        # semantics as the row_number()==k form it replaces.
        bound = (
            sc.withColumn("sd2", sdlon * sdlon + sdlat * sdlat)
            .groupBy("id")
            .agg(
                F.get(F.array_sort(F.collect_list("sd2")), k - 1).alias("__bound")
            )
        )
        pre = pts.join(bound, on="id", how="left")

    left = pre.select(
        "id",
        "lon",
        "lat",
        *(["__bound"] if prune and ring_k > 0 else []),
        F.expr(f"explode({grid_kring_sql('cell_id', res, ring_k)}) AS nb_cell"),
    )
    if prune and ring_k > 0:
        # Cell-box mindist prune (still codegen, BEFORE the candidate
        # join): the closest any point of neighbor cell ``nb_cell`` can be
        # is the planar distance to the cell's bbox. If that already
        # exceeds the same-cell k-th-neighbor bound, no candidate from
        # that cell can enter the top-k — drop the exploded row here, so
        # it never reaches the exchange. Only rows with
        # ``mindist2 > __bound`` are removed, and those all fail the
        # existing ``dist2 <= __bound`` filter anyway (dist2 >= mindist2),
        # so output is bit-identical. At O(10-100) points/cell density
        # this cuts the exploded side from (2k+1)^2 cells/point to the
        # 1-3 cells the bound circle actually touches.
        lon0, lat0, lon1, lat1 = grid_bounds_sql("nb_cell", res)
        ddx = f"GREATEST(CAST(0.0 AS DOUBLE), {lon0} - lon, lon - {lon1})"
        ddy = f"GREATEST(CAST(0.0 AS DOUBLE), {lat0} - lat, lat - {lat1})"
        left = left.filter(
            F.expr(f"__bound IS NULL OR ({ddx} * {ddx} + {ddy} * {ddy}) <= __bound")
        )
    right = pts.select(
        F.col("id").alias("neighbor_id"),
        F.col("lon").alias("nb_lon"),
        F.col("lat").alias("nb_lat"),
        F.col("cell_id").alias("nb_cell"),
    )
    # build the hash table on the un-exploded side; SHJ skips the sort of
    # the (bigger) exploded candidate side that sort-merge would pay
    cand = left.join(right, on="nb_cell", how="inner")
    if not include_self:
        cand = cand.filter(F.col("id") != F.col("neighbor_id"))
    # explicit multiplies (not pow) so the FP result is bit-identical to the
    # DuckDB oracle's (a-b)*(a-b) evaluation
    dlon = F.col("lon") - F.col("nb_lon")
    dlat = F.col("lat") - F.col("nb_lat")
    cand = cand.withColumn("dist2", dlon * dlon + dlat * dlat)
    if prune and ring_k > 0:
        cand = cand.filter(
            F.col("__bound").isNull() | (F.col("dist2") <= F.col("__bound"))
        )
    w = Window.partitionBy("id").orderBy(F.col("dist2").asc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "neighbor_id", "dist2", "rank")
    )
