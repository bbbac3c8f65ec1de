"""Pure-numpy geometry kernels with reference-parity semantics.

Each kernel reproduces the observable behavior of a GeoKitten operation
(file:line citations into /root/reference) without shapely/GEOS. They run
batched inside vectorized pandas UDFs (geometry loop in Python, coordinate
math in numpy) — per SURVEY.md §2.3.
"""

from __future__ import annotations

import numpy as np

from .model import Geometry, GeomKind, empty_point, to_wkt  # noqa: F401
from .mercator import transform_xy

__all__ = [
    "drop_z",
    "remove_holes",
    "standardize_geometry",
    "ring_signed_area",
    "geometry_area",
    "mercator_area",
    "centroid",
    "point_in_polygon",
    "points_in_rings",
    "interior_point",
    "repair_bowtie",
    "intersects",
    "difference",
]


# ---------------------------------------------------------------------------
# Z removal + kind promotion  (reference: gdf_standardization.py:487-578)
# ---------------------------------------------------------------------------

def _ring_2d(arr: np.ndarray) -> np.ndarray:
    return np.asarray(arr, dtype=np.float64)[:, :2]


def drop_z(g: Geometry) -> Geometry:
    """Mirror ``_remove_z_coord`` (gdf_standardization.py:560-578):
    empty → unchanged; Polygon/LinearRing → 2-D Polygon; MultiPolygon or
    GeometryCollection-of-rings → 2-D MultiPolygon; anything else unchanged.
    """
    if g.is_empty:
        return g
    if g.kind in (GeomKind.POLYGON, GeomKind.LINEARRING):
        if g.kind == GeomKind.LINEARRING:
            # LinearRing → Polygon promotion (:487-500)
            return Geometry(GeomKind.POLYGON, parts=[[_ring_2d(g.coords)]])
        return Geometry(GeomKind.POLYGON, parts=[[_ring_2d(r) for r in g.parts[0]]])
    if g.kind == GeomKind.MULTIPOLYGON:
        return Geometry(
            GeomKind.MULTIPOLYGON,
            parts=[[_ring_2d(r) for r in rings] for rings in g.parts],
        )
    if g.kind == GeomKind.GEOMETRYCOLLECTION:
        # collection of valid rings → MultiPolygon (:502-525); else unchanged
        if g.members and all(
            m.kind == GeomKind.LINEARRING and m.coords is not None and len(m.coords) >= 4
            for m in g.members
        ):
            return Geometry(
                GeomKind.MULTIPOLYGON, parts=[[_ring_2d(m.coords)] for m in g.members]
            )
        return g
    return g


# ---------------------------------------------------------------------------
# Hole ("geni") removal  (reference: gdf_standardization.py:183-390)
# ---------------------------------------------------------------------------

def _nearest_pair(ext: list, hole: list):
    """Brute-force nearest (ext_point, hole_point) — same scan order and
    strict-< update as the reference (:250-270), so the FIRST minimal pair in
    (ext-order, hole-order) wins. Vectorized: row-major argmin == first min."""
    ea = np.asarray(ext, dtype=np.float64)
    ha = np.asarray(hole, dtype=np.float64)
    d2 = ((ea[:, None, :] - ha[None, :, :]) ** 2).sum(axis=2)
    flat = int(np.argmin(d2))  # first occurrence in row-major (ext, hole) order
    i, j = divmod(flat, d2.shape[1])
    return tuple(ea[i]), tuple(ha[j]), float(np.sqrt(d2[i, j]))


def _first_index(seq: list, pt: tuple) -> int:
    """``list.index`` semantics (:293-294): first exact-equality match."""
    for i, p in enumerate(seq):
        if p == pt:
            return i
    raise ValueError("point not in ring")


def _process_hole(curr_ext: list, hole: list, ext_point: tuple, hole_point: tuple) -> list:
    """Exact mirror of ``_GeniRemover._process_hole`` (:272-304): traverse
    hole in REVERSE from the matched vertex, cut replaces the matched
    exterior vertex, duplicated cut vertices intentional (SURVEY §2.12.5)."""
    insert_idx = _first_index(curr_ext, ext_point)
    hole_point_idx = _first_index(hole, hole_point)
    ordered_hole = (
        [hole_point]
        + hole[hole_point_idx - 1 :: -1]
        + hole[: hole_point_idx - 1 : -1]
    )
    new_sequence = [ext_point] + ordered_hole + [ext_point]
    return curr_ext[:insert_idx] + new_sequence + curr_ext[insert_idx + 1 :]


def _remove_holes_ring_list(ext: list, holes: list) -> list:
    """Greedy nearest-hole-first merge loop (:339-360) + ring close (:362-375)."""
    curr_ext = list(ext)
    holes = [list(h) for h in holes]
    while holes:
        best = (float("inf"), None, None, None)
        for idx, hole in enumerate(holes):
            ep, hp, dist = _nearest_pair(curr_ext, hole)
            if dist < best[0]:
                best = (dist, idx, ep, hp)
        _, idx, ep, hp = best
        curr_ext = _process_hole(curr_ext, holes[idx], ep, hp)
        holes.pop(idx)
    if curr_ext[0] != curr_ext[-1]:
        curr_ext.append(curr_ext[0])
    return curr_ext


def remove_holes(g: Geometry) -> Geometry:
    """Mirror ``_remove_geni`` (:580-598): empty pass-through, per-part for
    MultiPolygon, non-polygonal unchanged."""
    if g.is_empty or not g.is_polygonal:
        return g
    new_parts = []
    for rings in g.parts:
        if len(rings) <= 1:
            new_parts.append(rings)
            continue
        ext = [tuple(p) for p in np.asarray(rings[0], dtype=np.float64)[:, :2]]
        holes = [
            [tuple(p) for p in np.asarray(r, dtype=np.float64)[:, :2]] for r in rings[1:]
        ]
        merged = _remove_holes_ring_list(ext, holes)
        new_parts.append([np.asarray(merged, dtype=np.float64)])
    return Geometry(g.kind, parts=new_parts)


def standardize_geometry(g: Geometry, remove_geni: bool = True) -> Geometry:
    """Entry-point-1 geometry path (gdf_standardization.py:600-621):
    drop Z (+ kind promotion), optionally remove holes."""
    out = drop_z(g)
    if remove_geni:
        out = remove_holes(out)
    return out


# ---------------------------------------------------------------------------
# Area  (reference: gdf_standardization.py:998-1023, 1117-1165)
# ---------------------------------------------------------------------------

def ring_signed_area(ring: np.ndarray) -> float:
    r = np.asarray(ring, dtype=np.float64)[:, :2]
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))


def geometry_area(g: Geometry) -> float:
    """Planar area, shapely semantics: Σ parts (|exterior| − Σ|holes|)."""
    if g.is_empty or not g.is_polygonal:
        return 0.0
    total = 0.0
    for rings in g.parts:
        total += abs(ring_signed_area(rings[0]))
        for h in rings[1:]:
            total -= abs(ring_signed_area(h))
    return total


def _transform_geometry(g: Geometry, src_crs: str, dst_crs: str) -> Geometry:
    if g.is_empty:
        return g
    def tx(arr):
        a = np.asarray(arr, dtype=np.float64)
        x, y = transform_xy(a[:, 0], a[:, 1], src_crs, dst_crs)
        out = a.copy()
        out[:, 0], out[:, 1] = x, y
        return out
    if g.coords is not None:
        return Geometry(g.kind, coords=tx(g.coords))
    return Geometry(g.kind, parts=[[tx(r) for r in rings] for rings in g.parts],
                    members=[_transform_geometry(m, src_crs, dst_crs) for m in g.members])


def mercator_area(g: Geometry, src_crs: str = "EPSG:4326", km2: bool = False) -> float:
    """Surface area with the reference's deliberate Mercator-plane semantics:
    temporary reprojection to EPSG:3395 then planar area
    (gdf_standardization.py:1020); km² divisor is 10**6 (:1160). NOT geodesic
    — SURVEY §2.12.3."""
    area = geometry_area(_transform_geometry(g, src_crs, "EPSG:3395"))
    return area / 1e6 if km2 else area


def transform_geometry(g: Geometry, src_crs: str, dst_crs: str) -> Geometry:
    """CRS normalization kernel (F1): reproject all coordinates."""
    return _transform_geometry(g, src_crs, dst_crs)


# ---------------------------------------------------------------------------
# Centroid + point-in-polygon + interior point
# (reference: gdf_standardization.py:624-709)
# ---------------------------------------------------------------------------

def _ring_centroid_terms(ring: np.ndarray):
    """(signed_area, Cx·A, Cy·A) shoelace terms for one ring."""
    r = np.asarray(ring, dtype=np.float64)[:, :2]
    x, y = r[:, 0], r[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y1 - x1 * y
    a = 0.5 * float(cross.sum())
    if a == 0.0:
        return 0.0, 0.0, 0.0
    cx = float(((x + x1) * cross).sum()) / 6.0
    cy = float(((y + y1) * cross).sum()) / 6.0
    return a, cx, cy


def centroid(g: Geometry):
    """Area-weighted centroid over parts, holes subtracted (GEOS semantics
    for non-degenerate polygons). Returns (x, y) or None for empty."""
    if g.is_empty:
        return None
    if g.kind == GeomKind.POINT:
        c = np.asarray(g.coords, dtype=np.float64)
        return float(c[:, 0].mean()), float(c[:, 1].mean())
    if not g.is_polygonal:
        return None
    A = Mx = My = 0.0
    for rings in g.parts:
        for k, ring in enumerate(rings):
            a, cx, cy = _ring_centroid_terms(ring)
            # normalize ring orientation: exterior adds |a|, hole subtracts
            s = 1.0 if k == 0 else -1.0
            if a < 0:
                a, cx, cy = -a, -cx, -cy
            A += s * a
            Mx += s * cx
            My += s * cy
    if A == 0.0:
        return None
    return Mx / A, My / A


def ray_hits(px, py, x0, y0, x1, y1) -> np.ndarray:
    """Elementwise (broadcasting): the ray from (px, py) toward +x crosses
    the edge (x0, y0)-(x1, y1) — the even-odd test of one point-edge pair."""
    cond = (y0 > py) != (y1 > py)  # half-open edge rule
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    return cond & (px < xint)


def _ray_crossings(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd crossing counts for points vs one ring."""
    r = np.asarray(ring, dtype=np.float64)[:, :2]
    hits = ray_hits(px[:, None], py[:, None], r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1])
    return hits.sum(axis=1)


def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list) -> np.ndarray:
    """Even-odd PIP for a batch of points vs one polygon part (ext + holes)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    total = np.zeros(len(px), dtype=np.int64)
    for ring in rings:
        total += _ray_crossings(px, py, ring)
    return (total % 2) == 1


def point_in_polygon(x: float, y: float, g: Geometry) -> bool:
    """Even-odd PIP over all parts (boundary points undefined, as with
    ray-casting generally; exercised cases are strictly interior/exterior)."""
    if g.is_empty or not g.is_polygonal:
        return False
    px = np.array([x])
    py = np.array([y])
    inside = False
    for rings in g.parts:
        inside ^= bool(points_in_rings(px, py, rings)[0])
    return inside


def _interior_point_scanline(g: Geometry):
    """GEOS-style InteriorPointArea fallback: horizontal scanline through the
    bbox midpoint; widest interior interval; its midpoint. Matches
    ``representative_point`` semantics for the exercised fixtures (SURVEY
    §7(c)); goldens are frozen from this implementation (FIXTURES.md §4)."""
    xmin, ymin, xmax, ymax = g.bbox()
    yc = (ymin + ymax) / 2.0
    # nudge off any vertex y exactly on the scanline (GEOS "safe bisector")
    ys = np.concatenate([np.asarray(r)[:, 1] for rings in g.parts for r in rings])
    if np.any(ys == yc):
        lo = ys[ys < yc]
        hi = ys[ys > yc]
        cand_lo = (lo.max() + yc) / 2.0 if len(lo) else yc
        cand_hi = (hi.min() + yc) / 2.0 if len(hi) else yc
        yc = cand_hi if (ymax - yc) >= (yc - ymin) else cand_lo
    xs = []
    for rings in g.parts:
        for ring in rings:
            r = np.asarray(ring, dtype=np.float64)[:, :2]
            x0, y0 = r[:-1, 0], r[:-1, 1]
            x1, y1 = r[1:, 0], r[1:, 1]
            cond = (y0 > yc) != (y1 > yc)
            if cond.any():
                xi = x0[cond] + (yc - y0[cond]) * (x1[cond] - x0[cond]) / (y1[cond] - y0[cond])
                xs.append(xi)
    if not xs:
        c = centroid(g)
        return c
    xs = np.sort(np.concatenate(xs))
    # crossings pair up into interior intervals (even-odd)
    widths = xs[1::2] - xs[0:-1:2] if len(xs) % 2 == 0 else np.array([])
    if len(widths) == 0:
        return centroid(g)
    k = int(np.argmax(widths))
    return (float(xs[2 * k] + widths[k] / 2.0), yc)


def interior_point(g: Geometry) -> Geometry:
    """Mirror ``_get_interior_point`` (gdf_standardization.py:647-680):
    None/empty → empty Point; centroid if contained; else representative
    point; exceptions → empty Point."""
    if g is None or g.is_empty:
        return empty_point()
    try:
        c = centroid(g)
        if c is not None and g.is_polygonal and point_in_polygon(c[0], c[1], g):
            return Geometry(GeomKind.POINT, coords=np.array([c], dtype=np.float64))
        sp = _interior_point_scanline(g) if g.is_polygonal else c
        if sp is None:
            return empty_point()
        return Geometry(GeomKind.POINT, coords=np.array([sp], dtype=np.float64))
    except Exception:
        return empty_point()


# ---------------------------------------------------------------------------
# Validity repair  (reference: gdf_standardization.py:791-804 — buffer(0))
# ---------------------------------------------------------------------------

def _seg_intersection(p0, p1, q0, q1):
    """Proper segment intersection point or None (parallel/collinear → None)."""
    d1 = p1 - p0
    d2 = q1 - q0
    denom = d1[0] * d2[1] - d1[1] * d2[0]
    if denom == 0.0:
        return None
    t = ((q0[0] - p0[0]) * d2[1] - (q0[1] - p0[1]) * d2[0]) / denom
    u = ((q0[0] - p0[0]) * d1[1] - (q0[1] - p0[1]) * d1[0]) / denom
    if 0.0 < t < 1.0 and 0.0 < u < 1.0:
        return p0 + t * d1
    return None


def repair_bowtie(g: Geometry) -> Geometry:
    """``buffer(0)``-equivalent repair scoped to the reference-exercised case:
    a self-intersecting ring (bowtie, tests/gdf_standardization_test_suite.py
    :880-887). Nodes the ring at proper self-intersections, splits it into
    simple loops at repeated nodes, keeps loops with nonzero area. Valid
    input → returned unchanged."""
    if g.is_empty or g.kind != GeomKind.POLYGON or len(g.parts[0]) != 1:
        return g
    ring = np.asarray(g.parts[0][0], dtype=np.float64)[:, :2]
    n = len(ring) - 1
    # collect intersections per edge
    per_edge = {i: [] for i in range(n)}
    found = False
    for i in range(n):
        for j in range(i + 1, n):
            if j == i or (i == 0 and j == n - 1) or j == i + 1:
                continue
            pt = _seg_intersection(ring[i], ring[i + 1], ring[j], ring[j + 1])
            if pt is not None:
                found = True
                per_edge[i].append((np.linalg.norm(pt - ring[i]), tuple(pt)))
                per_edge[j].append((np.linalg.norm(pt - ring[j]), tuple(pt)))
    if not found:
        return g
    # noded vertex sequence
    seq = []
    for i in range(n):
        seq.append(tuple(ring[i]))
        for _, pt in sorted(per_edge[i]):
            seq.append(pt)
    seq.append(tuple(ring[0]))
    # split into simple loops at repeated nodes (stack algorithm)
    loops, stack = [], []
    for pt in seq:
        if pt in stack:
            k = stack.index(pt)
            loop = stack[k:] + [pt]
            if len(loop) >= 4:
                loops.append(np.asarray(loop, dtype=np.float64))
            stack = stack[: k + 1]
        else:
            stack.append(pt)
    if len(stack) >= 3:
        loop = stack + [stack[0]]
        if len(loop) >= 4:
            loops.append(np.asarray(loop, dtype=np.float64))
    loops = [l for l in loops if abs(ring_signed_area(l)) > 0.0]
    if not loops:
        return g
    if len(loops) == 1:
        return Geometry(GeomKind.POLYGON, parts=[[loops[0]]])
    return Geometry(GeomKind.MULTIPOLYGON, parts=[[l] for l in loops])


# ---------------------------------------------------------------------------
# Intersects + difference  (reference: gdf_standardization.py:944-967)
# ---------------------------------------------------------------------------

def _bbox_overlap(a: Geometry, b: Geometry) -> bool:
    ax0, ay0, ax1, ay1 = a.bbox()
    bx0, by0, bx1, by1 = b.bbox()
    if np.isnan(ax0) or np.isnan(bx0):
        return False
    return not (ax1 < bx0 or bx1 < ax0 or ay1 < by0 or by1 < ay0)


def _any_edge_crossing(a: Geometry, b: Geometry) -> bool:
    for ra in a.parts:
        for ring_a in ra:
            arr_a = np.asarray(ring_a, dtype=np.float64)[:, :2]
            for rb in b.parts:
                for ring_b in rb:
                    arr_b = np.asarray(ring_b, dtype=np.float64)[:, :2]
                    for i in range(len(arr_a) - 1):
                        for j in range(len(arr_b) - 1):
                            if _seg_intersection(arr_a[i], arr_a[i + 1], arr_b[j], arr_b[j + 1]) is not None:
                                return True
    return False


def intersects(a: Geometry, b: Geometry) -> bool:
    """Polygon-polygon intersects: bbox prefilter, then edge crossing or
    containment either way (used as J1's join predicate, :965)."""
    if a.is_empty or b.is_empty or not (a.is_polygonal and b.is_polygonal):
        return False
    if not _bbox_overlap(a, b):
        return False
    pa = np.asarray(a.parts[0][0], dtype=np.float64)
    pb = np.asarray(b.parts[0][0], dtype=np.float64)
    if point_in_polygon(float(pa[0, 0]), float(pa[0, 1]), b):
        return True
    if point_in_polygon(float(pb[0, 0]), float(pb[0, 1]), a):
        return True
    return _any_edge_crossing(a, b)


from .clip import polygon_difference  # noqa: E402  (cycle-free: clip imports model only)


def difference(target: Geometry, sub: Geometry) -> Geometry:
    """``target.difference(sub)`` applied only when they intersect —
    mirrors ``_get_differenced_geometry`` (gdf_standardization.py:944-967):
    non-intersecting pairs return the target unchanged."""
    if not intersects(target, sub):
        return target
    return polygon_difference(target, sub)
