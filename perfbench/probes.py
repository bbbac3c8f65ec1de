"""Direct calls into single kernels on seeded inputs (traced run only).

Each probe times one public kernel outside Spark, so its per-item cost
reads without the Arrow exchange and the scheduler around it.  Every
probe runs on every workload's seed, and reports the median of
``REPEATS`` calls.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from perfbench import inputs

from geokitten_spark.cells import h3core, s2
from geokitten_spark.functions.text import extract_text
from geokitten_spark.geom import parse_wkt, points_in_rings
from geokitten_spark.viz.raster import render_heat_tile

REPEATS = 5
N_POINTS = 100_000
N_TILES = 16
TILE_PX = 64


def _median_s(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run(seed: int, html, polys) -> dict:
    """``html``: a pandas Series of seeded page html; ``polys``: the seeded
    polygons frame."""
    lons, lats = inputs.sample_points(seed, N_POINTS)
    out = {
        "cells.h3_encode_ns_per_pt": _median_s(lambda: h3core.latlng_to_cell(lats, lons, 7))
        * 1e9 / N_POINTS,
        "cells.s2_encode_ns_per_pt": _median_s(lambda: s2.lat_lng_to_cell(lats, lons, 9))
        * 1e9 / N_POINTS,
    }
    # PIP: points spread over the first polygon's bounding box
    rings = [np.asarray(r, dtype=np.float64)[:, :2] for r in parse_wkt(polys["geometry_wkt"][0]).parts[0]]
    x0, y0 = rings[0].min(axis=0)
    x1, y1 = rings[0].max(axis=0)
    px = x0 + (lons + 180.0) / 360.0 * (x1 - x0)
    py = y0 + (lats + 60.0) / 140.0 * (y1 - y0)
    out["geom.pip_ns_per_test"] = _median_s(lambda: points_in_rings(px, py, rings)) * 1e9 / N_POINTS
    out["functions.extract_text_us_per_doc"] = (
        _median_s(lambda: extract_text.func(html)) * 1e6 / max(1, len(html))
    )
    rng = np.random.default_rng([int(seed), 17])
    tiles = [
        (rng.integers(0, TILE_PX * TILE_PX, 800), rng.integers(1, 50, 800)) for _ in range(N_TILES)
    ]
    out["viz.render_ms_per_tile"] = (
        _median_s(lambda: [render_heat_tile(p, c, TILE_PX) for p, c in tiles]) * 1e3 / N_TILES
    )
    return out
