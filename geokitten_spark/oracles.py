"""Driver-side expected-value oracles for queries whose kernels are not
SQL-expressible (S2/hex encode, geometry standardization, IVF/LSH).

The trick (VERDICT r1 item 2): the underlying kernels are deterministic
pure numpy functions, so the expected output of each query can be computed
ONCE on the driver — through the NON-Spark code path (duckdb for the
relational part, the ``geom``/``cells`` numpy kernels for the rest) — and
registered as a literal ``SELECT ... FROM (VALUES ...)`` oracle. The
driver's DuckDB run then hash-compares the Spark pipeline against these
independent expected values, which catches any Spark-side plumbing
regression (mapInPandas schema drift, partition-dependent bugs, Arrow
casting) even though the kernel math is shared.

Float discipline: where Spark computes a value through a JVM ``aggregate``
fold (cosine similarities), the replica folds in the same left-to-right
order; where Spark rounds (``F.round`` on DOUBLE = BigDecimal HALF_UP),
the replica rounds with ``decimal.ROUND_HALF_UP`` on the exact binary
value. Everything else is bit-identical by construction (same numpy, same
inputs).

All builders read the driver's correctness scale factor
(``SPARK_GRAFT_ORACLE_SF_DIR``, default sf0.01) and cache per process.
"""

from __future__ import annotations

import os
from decimal import Decimal, ROUND_HALF_UP
from functools import lru_cache

import numpy as np

ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in _TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _spark_round(x: float, digits: int) -> float:
    """F.round(double, d) — BigDecimal HALF_UP on the exact binary value."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        return repr(v)  # shortest round-trip decimal; DuckDB parses exactly
    return str(int(v))


def values_sql(rows: list[tuple], schema: list[tuple[str, str]]) -> str:
    """``SELECT CAST(...) AS name, ... FROM (VALUES ...)`` literal oracle."""
    cols = ", ".join(
        f"CAST(c{i} AS {typ}) AS {name}" for i, (name, typ) in enumerate(schema)
    )
    names = ", ".join(f"c{i}" for i in range(len(schema)))
    vals = ", ".join("(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in rows)
    return f"SELECT {cols} FROM (VALUES {vals}) AS t({names})"


def _webdocs_lonlat(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    from .fixtures import web_documents_sql

    con = _duck(sf_dir)
    pdf = con.sql(
        f"WITH webdocs AS ({web_documents_sql()}) SELECT lon, lat FROM webdocs"
    ).df()
    return pdf["lon"].to_numpy(np.float64), pdf["lat"].to_numpy(np.float64)


def _cell_count_values(cells: np.ndarray) -> str:
    uniq, counts = np.unique(cells, return_counts=True)
    rows = list(zip(uniq.tolist(), counts.tolist()))
    return values_sql(rows, [("cell_id", "BIGINT"), ("n_docs", "BIGINT")])


@lru_cache(maxsize=4)
def s2_tile_agg_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (cell_id, n_docs) for q_s2_tile_agg (S2 level 8)."""
    from .cells import s2

    lons, lats = _webdocs_lonlat(sf_dir)
    return _cell_count_values(np.asarray(s2.lat_lng_to_cell(lats, lons, 8)))


@lru_cache(maxsize=4)
def hex_tile_agg_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (cell_id, n_docs) for q_hex_tile_agg (hex res 6)."""
    from .cells.hexgrid import hex_cell

    lons, lats = _webdocs_lonlat(sf_dir)
    return _cell_count_values(np.asarray(hex_cell(lons, lats, 6)))


# ---------------------------------------------------------------------------
# geometry-kernel oracles over the admin_polygons fixture
# ---------------------------------------------------------------------------

@lru_cache(maxsize=1)
def admin_standardize_sql() -> str:
    """Expected (region_id, area_km2, interior_pt) for q_admin_standardize:
    the same standardize→area/interior pipeline run directly through the
    numpy kernels (no Spark, no Arrow)."""
    from .fixtures import admin_polygons_pdf
    from .geom import parse_wkt, to_wkt, repair_bowtie, standardize_geometry
    from .geom import interior_point, mercator_area

    rows = []
    for _, r in admin_polygons_pdf().iterrows():
        g = standardize_geometry(repair_bowtie(parse_wkt(r["geometry_wkt"])), remove_geni=True)
        rows.append(
            (
                r["region_id"],
                _spark_round(mercator_area(g, km2=True), 4),
                to_wkt(interior_point(g)),
            )
        )
    return values_sql(
        rows,
        [("region_id", "VARCHAR"), ("area_km2", "DOUBLE"), ("interior_pt", "VARCHAR")],
    )


@lru_cache(maxsize=1)
def subtract_overlap_sql() -> str:
    """Expected (region_id, area_km2) for q_subtract_overlap — the
    subtract_overlapping fold replicated row-by-row on the driver."""
    from .fixtures import admin_polygons_pdf
    from .geom import (
        parse_wkt, repair_bowtie, standardize_geometry, difference, intersects,
    )
    from .geom import mercator_area

    spec = {"5001000002": ["5001000003"], "5001000004": ["5001000005"]}
    pdf = admin_polygons_pdf()
    sub_geoms = {
        k: [w] for k, w in zip(pdf["region_id"], pdf["geometry_wkt"])
        if k in {v for subs in spec.values() for v in subs}
    }
    rows = []
    for _, r in pdf.iterrows():
        g = None
        if r["region_id"] in spec:
            g = repair_bowtie(parse_wkt(r["geometry_wkt"]))
            for sub_key in spec[r["region_id"]]:
                for sub_wkt in sub_geoms[sub_key]:
                    sub = parse_wkt(sub_wkt)
                    if intersects(g, sub):
                        g = difference(g, sub)
        g = standardize_geometry(
            g if g is not None else parse_wkt(r["geometry_wkt"]), remove_geni=True
        )
        rows.append((r["region_id"], _spark_round(mercator_area(g, km2=True), 4)))
    return values_sql(rows, [("region_id", "VARCHAR"), ("area_km2", "DOUBLE")])


@lru_cache(maxsize=1)
def geo_aggregates_sql() -> str:
    """Expected one-row (center_x, center_y, xmin..ymax) for
    q_geo_aggregates (area-weighted union centroid + total bounds)."""
    from .fixtures import admin_polygons_pdf
    from .geom import parse_wkt, geometry_area, centroid

    a_sum = cxa = cya = 0.0
    xmin = ymin = np.inf
    xmax = ymax = -np.inf
    for w in admin_polygons_pdf()["geometry_wkt"]:
        g = parse_wkt(w)
        a = geometry_area(g)
        cx, cy = centroid(g)
        a_sum += a
        cxa += cx * a
        cya += cy * a
        b = g.bbox()
        xmin, ymin = min(xmin, b[0]), min(ymin, b[1])
        xmax, ymax = max(xmax, b[2]), max(ymax, b[3])
    row = tuple(
        _spark_round(v, 6)
        for v in (cxa / a_sum, cya / a_sum, xmin, ymin, xmax, ymax)
    )
    return values_sql(
        [row],
        [(n, "DOUBLE") for n in ("center_x", "center_y", "xmin", "ymin", "xmax", "ymax")],
    )


# ---------------------------------------------------------------------------
# embedding oracles — fold-order-faithful cosine replicas
# ---------------------------------------------------------------------------

def _fold_cosine(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine(mat[i], q) with the SAME left-to-right accumulation order as
    the Spark-side F.aggregate fold (dot and squared-norm alike)."""
    n, dim = mat.shape
    dot = np.zeros(n)
    nm = np.zeros(n)
    for d in range(dim):
        dot += mat[:, d] * q[d]
        nm += mat[:, d] * mat[:, d]
    nq = 0.0
    for d in range(dim):
        nq += q[d] * q[d]
    return dot / (np.sqrt(nm) * np.sqrt(nq))


def _load_embeddings(sf_dir: str):
    con = _duck(sf_dir)
    pdf = con.sql("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").df()
    ids = pdf["vec_id"].to_numpy(np.int64)
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    return ids, mat


@lru_cache(maxsize=4)
def ann_ivf_topk_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected vec_id set for q_ann_ivf_topk: IVF (label centroids,
    deterministic sorted-list tie-break, 3-probe, top-10 by (sim desc,
    vec_id asc)) replicated in numpy."""
    con = _duck(sf_dir)
    pdf = con.sql(
        "SELECT vec_id, embedding, label FROM embeddings ORDER BY vec_id"
    ).df()
    ids = pdf["vec_id"].to_numpy(np.int64)
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    labels = pdf["label"].to_numpy(np.int64)
    qv = mat[ids == 0][0]
    keep = ids != 0
    ids, mat, labels = ids[keep], mat[keep], labels[keep]

    lists = sorted(set(labels.tolist()))
    cents = np.asarray([mat[labels == lst].mean(axis=0) for lst in lists])
    # assignment: nearest centroid by cosine, ties to first in sorted order
    sims = np.asarray([_fold_cosine(mat, c) for c in cents])  # (L, n)
    assign = np.asarray(lists)[np.argmax(sims, axis=0)]
    # probe: 3 centroids nearest to the query (ties by list asc)
    qsims = _fold_cosine(cents, qv)
    probe = [lists[i] for i in sorted(range(len(lists)), key=lambda i: (-qsims[i], lists[i]))[:3]]
    cand = np.isin(assign, probe)
    cs = _fold_cosine(mat[cand], qv)
    cids = ids[cand]
    order = sorted(range(len(cids)), key=lambda i: (-cs[i], cids[i]))[:10]
    return values_sql([(int(cids[i]),) for i in order], [("vec_id", "BIGINT")])


@lru_cache(maxsize=4)
def embed_neardup_lsh_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (vec_a, vec_b) pairs for q_embed_neardup_lsh: the sign-LSH
    pipeline (md5-derived planes, 4×4 banding, cosine>=0.99 verify)
    replicated in numpy over the injected-near-dup corpus."""
    import hashlib

    from .fixtures import _NEARDUP_ID_OFFSET, _NEARDUP_STRIDE

    ids, mat = _load_embeddings(sf_dir)
    # corpus = embeddings ∪ perturbed copies (first component ×1.05 after
    # the float→double cast) — mirrors fixtures.embedding_neardup_corpus
    pick = ids % _NEARDUP_STRIDE == 0
    mut = mat[pick].copy()
    mut[:, 0] *= 1.05
    ids = np.concatenate([ids, ids[pick] + _NEARDUP_ID_OFFSET])
    mat = np.vstack([mat, mut])

    n_planes, bands = 16, 4
    rows_per_band = n_planes // bands
    dim = mat.shape[1]
    planes = np.empty((n_planes, dim))
    for p in range(n_planes):
        for d in range(dim):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16)
            planes[p, d] = (h % 2001 - 1000) / 1000.0
    signs = (mat @ planes.T) > 0
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    sig = (signs * weights).sum(axis=1).astype(np.int64)

    mask = (1 << rows_per_band) - 1
    buckets: dict = {}
    for bnd in range(bands):
        keys = (sig >> (bnd * rows_per_band)) & mask
        for i, k in enumerate(keys.tolist()):
            buckets.setdefault((bnd, k), []).append(i)
    pairs = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                a, b = (i, j) if ids[i] < ids[j] else (j, i)
                pairs.add((a, b))
    out = []
    for i, j in pairs:
        sim = float(_fold_cosine(mat[i][None, :], mat[j])[0])
        if sim >= 0.99:
            out.append((int(ids[i]), int(ids[j])))
    out.sort()
    return values_sql(out, [("vec_a", "BIGINT"), ("vec_b", "BIGINT")])


@lru_cache(maxsize=4)
def semdedup_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (vec_id, cluster, removed) for q_semdedup: deterministic
    Lloyd k-means (shared kmeans_fit kernel, first-2048-by-id sample) +
    fold-order cosine assignment (first-max tie-break, matching
    array_position) + within-cluster keep-first-id pair scan, replicated
    in numpy over the injected-near-dup corpus. The Spark side runs the
    assignment map-only and the pair scan as a distributed cluster-keyed
    self-join; this replica is a single-process re-evaluation."""
    from .fixtures import _NEARDUP_ID_OFFSET, _NEARDUP_STRIDE
    from .operators.semdedup import kmeans_fit

    ids, mat = _load_embeddings(sf_dir)
    pick = ids % _NEARDUP_STRIDE == 0
    mut = mat[pick].copy()
    mut[:, 0] *= 1.05
    ids = np.concatenate([ids, ids[pick] + _NEARDUP_ID_OFFSET])
    mat = np.vstack([mat, mut])
    order = np.argsort(ids, kind="stable")
    ids, mat = ids[order], mat[order]

    k, iters, sample_n, threshold = 10, 5, 2048, 0.99
    C = kmeans_fit(mat[:sample_n], k=k, iters=iters)
    # assignment: fold-order cosine per centroid, first-max wins (the
    # exact semantics of array_position(sims, array_max(sims)))
    sims = np.stack([_fold_cosine(mat, C[c]) for c in range(k)], axis=1)
    cluster = np.argmax(sims, axis=1)

    # within-cluster pair scan with fold-order dot/norm accumulation:
    # dot and squared-norm accumulate dimension-by-dimension, exactly
    # like the Spark-side zip_with-product fold
    n, dim = mat.shape
    nm = np.zeros(n)
    for d in range(dim):
        nm += mat[:, d] * mat[:, d]
    norms = np.sqrt(nm)
    removed = np.zeros(n, dtype=bool)
    for c in range(k):
        idx = np.where(cluster == c)[0]  # ids sorted ⇒ idx id-ascending
        if len(idx) < 2:
            continue
        X = mat[idx]
        D = np.zeros((len(idx), len(idx)))
        for d in range(dim):
            D += np.outer(X[:, d], X[:, d])
        cs = D / np.outer(norms[idx], norms[idx])
        for y in range(1, len(idx)):
            if np.any(cs[:y, y] >= threshold):
                removed[idx[y]] = True
    rows = [
        (int(ids[i]), int(cluster[i]), bool(removed[i])) for i in range(n)
    ]
    rows.sort()
    return values_sql(
        rows,
        [("vec_id", "BIGINT"), ("cluster", "INTEGER"), ("removed", "BOOLEAN")],
    )


# ---------------------------------------------------------------------------
# GeoJSON roundtrip oracle
# ---------------------------------------------------------------------------

def geojson_fixture_text() -> str:
    """Canonical FeatureCollection text of the 200-polygon admin fixture —
    the exact bytes q_geojson_roundtrip writes and scans. Shared so the
    oracle and the query cannot drift."""
    from .fixtures import admin_polygons_pdf
    from .sources.geojson import render_geojson

    pdf = admin_polygons_pdf()
    rows = [
        (str(r["region_id"]), {"region_id": str(r["region_id"])}, r["geometry_wkt"])
        for _, r in pdf.iterrows()
    ]
    return render_geojson(rows)


@lru_cache(maxsize=1)
def geojson_roundtrip_sql() -> str:
    """Expected (feature_id, wkt_md5, wkt_chars) for q_geojson_roundtrip:
    the same FeatureCollection parsed through the NON-Spark path
    (parse_geojson_bytes on the driver) — catches any mapInPandas schema
    or Arrow-casting drift in the distributed scan."""
    import hashlib

    from .sources.geojson import parse_geojson_bytes

    rows = []
    for fid, _props, wkt in parse_geojson_bytes(geojson_fixture_text().encode()):
        rows.append((fid, hashlib.md5(wkt.encode()).hexdigest(), len(wkt)))
    return values_sql(
        rows,
        [("feature_id", "VARCHAR"), ("wkt_md5", "VARCHAR"), ("wkt_chars", "BIGINT")],
    )


# ---------------------------------------------------------------------------
# multimodal + KML roundtrip oracles (the last two rows-only queries)
# ---------------------------------------------------------------------------

@lru_cache(maxsize=4)
def media_features_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (kind, n, avg_dim0) for q_media_features: the same
    synthesize→encode→decode→histogram chain run through the pure numpy
    kernels on the driver, folding the per-kind average in file order —
    the same order Spark's single-partition partial aggregate uses after
    ``limit(100)`` on the one-file documents table."""
    import pyarrow.parquet as pq

    from .functions.multimodal import _decode, _features_of, synth_payload

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    doc_ids = tbl.column("doc_id").to_pylist()[:100]
    texts = tbl.column("text").to_pylist()[:100]

    acc: dict[str, list[float]] = {}
    for doc_id, text in zip(doc_ids, texts):
        kind = {0: "image", 1: "audio", 2: "video"}[doc_id % 3]
        w = doc_id % 64 + 16
        h = doc_id % 48 + 16
        # the shared fixture synthesizer (real PNG/PPM/JPEG/WAV/AVI bytes)
        payload = synth_payload(doc_id, text)
        feat = _features_of(_decode(payload, w, h, fake=True))
        acc.setdefault(kind, []).append(float(np.float32(feat[25])))

    rows = []
    for kind in sorted(acc):
        vals = acc[kind]
        s = 0.0
        for v in vals:  # left-to-right fold, like Spark's partial avg
            s += v
        rows.append((kind, len(vals), _spark_round(s / len(vals), 6)))
    return values_sql(
        rows, [("kind", "VARCHAR"), ("n", "BIGINT"), ("avg_dim25", "DOUBLE")]
    )


@lru_cache(maxsize=1)
def kml_roundtrip_sql() -> str:
    """Expected (file_name, kml_chars) for q_kml_roundtrip: the fixture
    corpus pushed through parse→standardize(keep holes)→render directly on
    the driver. The rendered length is placemark-order-invariant, so the
    expected value is stable under any Spark partitioning of the group."""
    from .fixtures import kml_corpus
    from .geom.kernels import repair_bowtie, standardize_geometry
    from .geom.model import parse_wkt, to_wkt
    from .sources.kml import parse_kml_bytes, render_kml

    rows = []
    for _, r in kml_corpus().iterrows():
        stem = r["file_name"].replace(".kml", "")
        try:
            placemarks = parse_kml_bytes(r["kml_bytes"])
        except Exception:
            continue  # bad files yield no rows, like the distributed scan
        wkts = [
            to_wkt(standardize_geometry(repair_bowtie(parse_wkt(w)), remove_geni=False))
            for _name, w in placemarks
        ]
        kml = render_kml(stem, [(stem, w) for w in wkts])
        rows.append((f"{stem}.kml", len(kml)))
    return values_sql(rows, [("file_name", "VARCHAR"), ("kml_chars", "BIGINT")])


@lru_cache(maxsize=1)
def simplify_tiles_sql() -> str:
    """Expected (region_id, v_before, v_after, wkt_md5) for
    q_simplify_tiles: the same Douglas-Peucker decimation run through the
    numpy kernel on the driver."""
    import hashlib

    from .fixtures import admin_polygons_pdf
    from .geom.model import parse_wkt, to_wkt
    from .geom.simplify import simplify_geometry

    def nvert(g):
        n = len(g.coords) if g.coords is not None else 0
        for rings in g.parts:
            for r in rings:
                n += len(r)
        for m in g.members:
            n += nvert(m)
        return n

    rows = []
    for _, r in admin_polygons_pdf().iterrows():
        g = parse_wkt(r["geometry_wkt"])
        s = simplify_geometry(g, 0.02)
        w = to_wkt(s)
        rows.append(
            (
                str(r["region_id"]),
                nvert(g),
                nvert(s),
                hashlib.md5(w.encode()).hexdigest(),
            )
        )
    return values_sql(
        rows,
        [
            ("region_id", "VARCHAR"),
            ("v_before", "BIGINT"),
            ("v_after", "BIGINT"),
            ("wkt_md5", "VARCHAR"),
        ],
    )


@lru_cache(maxsize=1)
def hull_compactness_sql() -> str:
    """Expected (region_id, hull_md5, compactness) for q_hull_compactness:
    convex hull + planar area ratio through the numpy kernels."""
    import hashlib

    from .fixtures import admin_polygons_pdf
    from .geom import geometry_area
    from .geom.model import parse_wkt, to_wkt
    from .geom.simplify import convex_hull

    rows = []
    for _, r in admin_polygons_pdf().iterrows():
        g = parse_wkt(r["geometry_wkt"])
        h = convex_hull(g)
        hw = to_wkt(h)
        ga, ha = geometry_area(g), geometry_area(h)
        comp = _spark_round(ga / ha, 6) if ha > 0 else 0.0
        rows.append(
            (str(r["region_id"]), hashlib.md5(hw.encode()).hexdigest(), comp)
        )
    return values_sql(
        rows,
        [("region_id", "VARCHAR"), ("hull_md5", "VARCHAR"), ("compactness", "DOUBLE")],
    )


@lru_cache(maxsize=4)
def geohash_tile_agg_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (geohash, n_docs) for q_geohash_tile_agg (precision 4)."""
    from .cells.geohash import geohash_encode

    lons, lats = _webdocs_lonlat(sf_dir)
    cells = geohash_encode(lons, lats, 4)
    uniq, counts = np.unique(cells, return_counts=True)
    rows = list(zip(uniq.tolist(), counts.tolist()))
    return values_sql(rows, [("geohash", "VARCHAR"), ("n_docs", "BIGINT")])


@lru_cache(maxsize=4)
def ann_pq_topk_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (vec_id, adc_dist) for q_ann_pq_topk: the full PQ
    train→encode→ADC chain replicated in numpy on the driver, folding
    the m-term distance sum in the same order as Spark's aggregate."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.asarray(tbl.column("vec_id").to_pylist(), dtype=np.int64)
    mat = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    ids, mat = ids[order], mat[order]
    mat = mat / (np.linalg.norm(mat, axis=1, keepdims=True) + 1e-300)

    m = 8
    d = mat.shape[1]
    dsub = d // m
    train = mat[:2048]
    n_codes = min(256, len(train))
    sub = train.reshape(len(train), m, dsub)
    books = np.empty((m, n_codes, dsub))
    for mm in range(m):
        X = sub[:, mm, :]
        C = X[:n_codes].copy()
        for _ in range(5):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = np.argmin(d2, axis=1)
            for c in range(n_codes):
                members = X[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[mm] = C

    Xs = mat.reshape(len(mat), m, dsub)
    codes = np.empty((len(mat), m), dtype=np.int64)
    for mm in range(m):
        diff = Xs[:, mm, None, :] - books[mm][None, :, :]
        codes[:, mm] = np.argmin(np.einsum("nkd,nkd->nk", diff, diff), axis=1)

    qv = mat[ids == 0][0]  # already normalized
    qs = qv.reshape(m, dsub)
    diff = qs[:, None, :] - books
    table = np.einsum("mkd,mkd->mk", diff, diff)
    rows = []
    for vid, code in zip(ids.tolist(), codes):
        s = 0.0
        for mm in range(m):  # left-to-right, matching F.aggregate
            s += float(table[mm, code[mm]])
        rows.append((vid, _spark_round(s, 9)))
    rows.sort(key=lambda r: (r[1], r[0]))
    return values_sql(
        rows[:10], [("vec_id", "BIGINT"), ("adc_dist", "DOUBLE")]
    )


@lru_cache(maxsize=4)
def media_frames_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (media_id, n_frames, avg_dim25) for q_media_frames: the
    real MJPEG-AVI chunk walk + baseline-JPEG decode per sampled frame,
    folding the per-media average in frame order (the within-row order
    the mapInPandas stage emits)."""
    import pyarrow.parquet as pq

    from .functions.multimodal import _features_of, synth_payload
    from .functions.riff import decode_avi_mjpeg

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    doc_ids = tbl.column("doc_id").to_pylist()[:100]
    texts = tbl.column("text").to_pylist()[:100]

    rows = []
    for doc_id, text in zip(doc_ids, texts):
        if doc_id % 3 != 2:  # only video rows
            continue
        payload = synth_payload(doc_id, text)  # real MJPEG AVI bytes
        s = 0.0
        n = 0
        for _f, img in decode_avi_mjpeg(payload, every_k=5):
            feat = _features_of(img)
            s += float(np.float32(feat[25]))
            n += 1
        rows.append((doc_id, n, _spark_round(s / n, 6)))
    return values_sql(
        rows, [("media_id", "BIGINT"), ("n_frames", "BIGINT"), ("avg_dim25", "DOUBLE")]
    )


@lru_cache(maxsize=4)
def media_audio_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected per-clip waveform stats for q_media_audio: the same
    WAV-synthesize→parse→stats chain run through the pure numpy kernels
    on the driver."""
    import pyarrow.parquet as pq

    from .functions.multimodal import synth_payload
    from .functions.riff import decode_wav

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    doc_ids = tbl.column("doc_id").to_pylist()[:100]
    texts = tbl.column("text").to_pylist()[:100]

    rows = []
    for doc_id, text in zip(doc_ids, texts):
        if doc_id % 3 != 1:  # only audio rows
            continue
        samples, rate = decode_wav(synth_payload(doc_id, text))
        x = samples.astype(np.float64) / 32768.0
        mono = x.mean(axis=1)
        n = len(mono)
        rms = float(np.sqrt(np.mean(mono**2)))
        zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
        peak = float(np.max(np.abs(mono)))
        rows.append(
            (
                doc_id,
                n,
                rate,
                _spark_round(float(np.float32(rms)), 6),
                _spark_round(float(np.float32(zcr)), 6),
                _spark_round(float(np.float32(peak)), 6),
            )
        )
    return values_sql(
        rows,
        [
            ("media_id", "BIGINT"),
            ("n_samples", "BIGINT"),
            ("sample_rate", "INTEGER"),
            ("rms", "DOUBLE"),
            ("zcr", "DOUBLE"),
            ("peak", "DOUBLE"),
        ],
    )


# ---------------------------------------------------------------------------
# H3 oracles (canonical H3 ids — cells/h3core.py, vector-verified)
# ---------------------------------------------------------------------------

def _webdocs_id_lonlat(sf_dir: str):
    from .fixtures import web_documents_sql

    con = _duck(sf_dir)
    pdf = con.sql(
        f"WITH webdocs AS ({web_documents_sql()}) "
        "SELECT doc_id, lon, lat FROM webdocs"
    ).df()
    return (
        pdf["doc_id"].to_numpy(np.int64),
        pdf["lon"].to_numpy(np.float64),
        pdf["lat"].to_numpy(np.float64),
    )


@lru_cache(maxsize=4)
def h3_tile_agg_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (cell_id, n_docs) for q_h3_tile_agg (H3 res 4)."""
    from .cells import h3core

    lons, lats = _webdocs_lonlat(sf_dir)
    cells = h3core.latlng_to_cell(lats, lons, 4).astype(np.int64)
    return _cell_count_values(cells)


@lru_cache(maxsize=4)
def h3_rollup_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected res-2 rollup of the res-4 H3 encode: (parent_id, n_docs,
    n_child_cells)."""
    from .cells import h3core

    lons, lats = _webdocs_lonlat(sf_dir)
    cells = h3core.latlng_to_cell(lats, lons, 4)
    parents = h3core.cell_to_parent(cells, 2).astype(np.int64)
    uniq, counts = np.unique(parents, return_counts=True)
    child_counts = {}
    for p, c in zip(parents, cells.astype(np.int64)):
        child_counts.setdefault(int(p), set()).add(int(c))
    rows = [
        (int(p), int(n), len(child_counts[int(p)])) for p, n in zip(uniq, counts)
    ]
    return values_sql(
        rows,
        [("parent_id", "BIGINT"), ("n_docs", "BIGINT"), ("n_child_cells", "BIGINT")],
    )


@lru_cache(maxsize=4)
def h3_knn_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (doc_id, neighbor_id, rank) for q_h3_knn.

    Contract: k=3 nearest by squared planar lon/lat distance among docs
    whose H3 res-1 cell lies in the doc's kRing(1), excluding self, ties
    by neighbor id — evaluated here by an independent numpy replica.
    """
    from .cells import h3core

    ids, lons, lats = _webdocs_id_lonlat(sf_dir)
    cells = h3core.latlng_to_cell(lats, lons, 1)
    disks = h3core.grid_disk_arrays(cells, 1)
    rows = []
    for i in range(ids.size):
        in_ring = np.isin(cells, disks[i])
        in_ring[i] = False
        cand = np.nonzero(in_ring)[0]
        if cand.size == 0:
            continue
        dlon = lons[i] - lons[cand]
        dlat = lats[i] - lats[cand]
        d2 = dlon * dlon + dlat * dlat
        order = np.lexsort((ids[cand], d2))[:3]
        for r, ci in enumerate(order, start=1):
            rows.append((int(ids[i]), int(ids[cand[ci]]), r))
    return values_sql(
        rows, [("doc_id", "BIGINT"), ("neighbor_id", "BIGINT"), ("rank", "INTEGER")]
    )


@lru_cache(maxsize=4)
def ann_batch_topk_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (query_id, vec_id, rank) for q_ann_batch_topk: the batched
    IVF search (index on vec_id%5<>0, queries = vec_id%5=0, 3-probe,
    top-5 by (sim desc, vec_id asc)) replicated in numpy with the same
    fold-cosine and tie-breaks as ann_ivf_topk_sql."""
    con = _duck(sf_dir)
    pdf = con.sql(
        "SELECT vec_id, embedding, label FROM embeddings ORDER BY vec_id"
    ).df()
    ids = pdf["vec_id"].to_numpy(np.int64)
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    labels = pdf["label"].to_numpy(np.int64)

    isq = ids % 5 == 0
    q_ids, q_mat = ids[isq][:100], mat[isq][:100]
    ids, mat, labels = ids[~isq], mat[~isq], labels[~isq]

    lists = sorted(set(labels.tolist()))
    cents = np.asarray([mat[labels == lst].mean(axis=0) for lst in lists])
    sims = np.asarray([_fold_cosine(mat, c) for c in cents])
    assign = np.asarray(lists)[np.argmax(sims, axis=0)]

    rows = []
    for qid, qv in zip(q_ids, q_mat):
        qsims = _fold_cosine(cents, qv)
        probe = [
            lists[i]
            for i in sorted(
                range(len(lists)), key=lambda i: (-qsims[i], lists[i])
            )[:3]
        ]
        cand = np.isin(assign, probe)
        cs = _fold_cosine(mat[cand], qv)
        cids = ids[cand]
        order = sorted(range(len(cids)), key=lambda i: (-cs[i], cids[i]))[:5]
        for r, i in enumerate(order, start=1):
            rows.append((int(qid), int(cids[i]), r))
    return values_sql(
        rows, [("query_id", "BIGINT"), ("vec_id", "BIGINT"), ("rank", "INTEGER")]
    )


# the polyfill test polygon: a quadrilateral over the dense mid-Atlantic /
# Africa doc region ((lat, lng) degrees) — shared by query and oracle
H3_POLYFILL_RING = ((0.0, -30.0), (40.0, -30.0), (40.0, 20.0), (0.0, 20.0))
H3_POLYFILL_RES = 2


@lru_cache(maxsize=4)
def h3_polyfill_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (cell_id, n_docs) for q_h3_polyfill: docs whose res-2 H3
    cell center-falls inside the fixed polygon, counted per cell."""
    from .cells import h3core

    lons, lats = _webdocs_lonlat(sf_dir)
    cells = h3core.latlng_to_cell(lats, lons, H3_POLYFILL_RES)
    member = set(
        int(x)
        for x in h3core.polygon_to_cells(
            list(H3_POLYFILL_RING), H3_POLYFILL_RES
        ).astype(np.int64)
    )
    keep = np.array([int(c) in member for c in cells.astype(np.int64)])
    return _cell_count_values(cells.astype(np.int64)[keep])


H3_COMPACT_RES = 3


@lru_cache(maxsize=4)
def h3_compact_cover_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (cover_cell, cover_res, n_docs) for q_h3_compact_cover:
    each doc's res-3 cell mapped to its covering cell in the COMPACTED
    mixed-res polyfill of the fixed test polygon, counted per cover cell.
    Same kernels as the Spark side (polygon_to_cells / compact_cells /
    latlng_to_cell); containment resolved by full uncompact expansion —
    the Spark side instead probes digit-truncation ancestors, so a hash
    match proves the two containment formulations agree."""
    import collections

    from .cells import h3core

    lons, lats = _webdocs_lonlat(sf_dir)
    cell3 = h3core.latlng_to_cell(lats, lons, H3_COMPACT_RES).astype(np.int64)
    full = h3core.polygon_to_cells(list(H3_POLYFILL_RING), H3_COMPACT_RES)
    comp = h3core.compact_cells(full).astype(np.int64)
    cover: dict[int, int] = {}
    for c in comp.tolist():
        kids = h3core.uncompact_cells(
            np.array([c], dtype=np.uint64), H3_COMPACT_RES
        ).astype(np.int64)
        for child in kids.tolist():
            cover[child] = c
    cnt = collections.Counter(
        cover[int(x)] for x in cell3.tolist() if int(x) in cover
    )
    rows = [(c, (c >> 52) & 15, n) for c, n in sorted(cnt.items())]
    return values_sql(
        rows,
        [("cover_cell", "BIGINT"), ("cover_res", "INTEGER"), ("n_docs", "BIGINT")],
    )


def h3_pentagon_disk_origins() -> list[int]:
    """The 72 warp-zone origins for q_h3_pentagon_disk: each of the 12
    res-2 pentagons plus its disk(1) — every cell the pentagon-safe BFS
    router must handle."""
    from .cells import h3core

    origins: set[int] = set()
    for b in h3core.PENTAGON_BASE_CELLS:
        c0 = np.uint64((1 << 59) | (int(b) << 45) | ((1 << 45) - 1))
        p2 = h3core.cell_to_center_child(c0, 2)[0]
        origins.update(int(x) for x in h3core.grid_disk(p2, 1))
    return sorted(origins)


@lru_cache(maxsize=1)
def h3_pentagon_disk_sql() -> str:
    """Expected (origin_cell, n_disk, min_cell, max_cell) for
    q_h3_pentagon_disk: disk(2) of every pentagon-adjacent res-2 origin,
    replicated driver-side (pentagon origins must count 16 = 1+5+10)."""
    from .cells import h3core

    rows = []
    for o in h3_pentagon_disk_origins():
        d = h3core.grid_disk(np.uint64(o), 2).astype(np.int64)
        rows.append((o, int(d.size), int(d.min()), int(d.max())))
    return values_sql(
        rows,
        [
            ("origin_cell", "BIGINT"),
            ("n_disk", "BIGINT"),
            ("min_cell", "BIGINT"),
            ("max_cell", "BIGINT"),
        ],
    )


@lru_cache(maxsize=4)
def h3_vectorize_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (cell_id, n_docs, wkt) for q_h3_vectorize: the res-2 tile
    aggregate with each cell's boundary rendered as WKT (raster→vector on
    true H3 ids; identical fixed 7-decimal formatting on both engines)."""
    from .cells import h3core

    lons, lats = _webdocs_lonlat(sf_dir)
    cells = h3core.latlng_to_cell(lats, lons, 2).astype(np.int64)
    uniq, counts = np.unique(cells, return_counts=True)
    rows = []
    for c, n in zip(uniq, counts):
        b = h3core.cell_to_boundary(np.uint64(c))
        pts = [f"{lng:.7f} {lat:.7f}" for lat, lng in b]
        pts.append(pts[0])
        rows.append((int(c), int(n), "POLYGON ((" + ", ".join(pts) + "))"))
    return values_sql(
        rows, [("cell_id", "BIGINT"), ("n_docs", "BIGINT"), ("wkt", "VARCHAR")]
    )


@lru_cache(maxsize=4)
def h3_adaptive_tiles_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (res, cell_id, n_docs) leaf tiling for q_h3_adaptive_tiles
    (base 1, max 3, threshold 6) — numpy replica of the aperture-7 split
    recursion over the res-3 H3 encode."""
    from .cells import h3core

    base_res, max_res, threshold = 1, 3, 6
    lons, lats = _webdocs_lonlat(sf_dir)
    finest = h3core.latlng_to_cell(lats, lons, max_res)
    counts = {}
    u, c = np.unique(finest, return_counts=True)
    counts[max_res] = dict(zip(u.tolist(), c.tolist()))
    for r in range(max_res - 1, base_res - 1, -1):
        prev = counts[r + 1]
        cur: dict = {}
        cells = np.array(sorted(prev), dtype=np.uint64)
        pars = h3core.cell_to_parent(cells, r)
        for cell, par in zip(cells.tolist(), pars.tolist()):
            cur[par] = cur.get(par, 0) + prev[cell]
        counts[r] = cur
    rows = []
    split_prev: set | None = None
    for r in range(base_res, max_res + 1):
        level = counts[r]
        if split_prev is not None:
            cells = np.array(sorted(level), dtype=np.uint64)
            pars = h3core.cell_to_parent(cells, r - 1)
            level = {
                cell: n
                for (cell, n), par in zip(
                    [(c2, level[c2]) for c2 in cells.tolist()], pars.tolist()
                )
                if par in split_prev
            }
        if r < max_res:
            rows.extend(
                (r, int(np.int64(np.uint64(cell))), n)
                for cell, n in level.items()
                if n <= threshold
            )
            split_prev = {cell for cell, n in level.items() if n > threshold}
        else:
            rows.extend(
                (r, int(np.int64(np.uint64(cell))), n) for cell, n in level.items()
            )
    rows.sort()
    return values_sql(
        rows, [("res", "INTEGER"), ("cell_id", "BIGINT"), ("n_docs", "BIGINT")]
    )


def bpe_vocab_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (token, n_occ) for q_bpe_vocab: the word dictionary comes
    from DuckDB, training + tokenization run the SAME pure-Python kernel
    as the Spark path (operators/bpe.py) — integer-exact by construction."""
    from .operators.bpe import bpe_vocab_stats_oracle_rows

    rows = bpe_vocab_stats_oracle_rows(sf_dir)
    return values_sql(rows, [("token", "VARCHAR"), ("n_occ", "BIGINT")])


@lru_cache(maxsize=4)
def media_phash_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (id_a, id_b, hamming) for q_media_phash: originals plus
    baseline-JPEG recompressed copies (ids +100000) hashed with the
    SAME pure-numpy pHash kernel on the driver, then brute-force
    all-pairs Hamming <= 12 — the pigeonhole band join finds exactly
    this set (bands=16 > max_hamming=12 guarantees no misses)."""
    import pyarrow.parquet as pq

    from .functions.jpeg import encode_jpeg
    from .functions.multimodal import _decode, synth_payload
    from .functions.phash import phash64

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    doc_ids = tbl.column("doc_id").to_pylist()[:100]
    texts = tbl.column("text").to_pylist()[:100]
    hashes: list[tuple[int, int]] = []
    for doc_id, text in zip(doc_ids, texts):
        if doc_id % 3 != 0:
            continue
        w, h = doc_id % 64 + 16, doc_id % 48 + 16
        img = _decode(synth_payload(doc_id, text), w, h, True)
        hashes.append((doc_id, phash64(img)))
        hashes.append((doc_id + 100000, phash64(_decode(encode_jpeg(img), w, h, True))))
    rows = []
    for i, (ida, ha) in enumerate(hashes):
        for idb, hb in hashes[i + 1 :]:
            a, b = min(ida, idb), max(ida, idb)
            ham = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if ham <= 12:
                rows.append((a, b, ham))
    rows.sort()
    return values_sql(
        rows, [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("hamming", "BIGINT")]
    )


# ---------------------------------------------------------------------------
# MVT tile sink oracle (viz/mvt.py)
# ---------------------------------------------------------------------------

@lru_cache(maxsize=4)
def mvt_tiles_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (z, x, y, n_features, pbf_len, pbf_md5) for q_mvt_tiles:
    the same aggregate → corner decode → web-mercator tile assignment →
    MVT render chain driver-side through the shared pure kernels
    (cells.grid.grid_cell / grid_decode, viz.mvt.tile_of /
    render_cells_tile) — the Spark side must reproduce every blob
    byte-for-byte (md5-compared)."""
    import hashlib

    from .cells.grid import grid_cell, grid_decode
    from .viz.mvt import render_cells_tile, tile_of

    z = 3
    lons, lats = _webdocs_lonlat(sf_dir)
    cells = np.asarray(grid_cell(lons, lats, 6))
    uniq, counts = np.unique(cells, return_counts=True)
    res, ix, iy = grid_decode(uniq)
    n = 2.0 ** res
    lon0 = -180.0 + ix * 360.0 / n
    lon1 = -180.0 + (ix + 1) * 360.0 / n
    lat0 = -90.0 + iy * 180.0 / n
    lat1 = -90.0 + (iy + 1) * 180.0 / n
    tx, ty = tile_of((lon0 + lon1) / 2, (lat0 + lat1) / 2, z)
    groups: dict = {}
    for k in range(len(uniq)):
        groups.setdefault((int(tx[k]), int(ty[k])), []).append(
            (int(uniq[k]), int(counts[k]), float(lon0[k]), float(lat0[k]),
             float(lon1[k]), float(lat1[k]))
        )
    rows = []
    for (gx, gy), rws in sorted(groups.items()):
        blob = render_cells_tile(z, gx, gy, rws)
        rows.append(
            (z, gx, gy, len(rws), len(blob),
             hashlib.md5(blob).hexdigest())
        )
    return values_sql(
        rows,
        [("z", "INTEGER"), ("x", "BIGINT"), ("y", "BIGINT"),
         ("n_features", "BIGINT"), ("pbf_len", "BIGINT"),
         ("pbf_md5", "VARCHAR")],
    )


def mvt_pyramid_sql(sf_dir: str = ORACLE_SF_DIR,
                    zooms: tuple = (3, 2, 1)) -> str:
    """Expected (z, x, y, n_features, pbf_len, pbf_md5) for
    q_mvt_pyramid: the same res-6 aggregate rendered at EVERY zoom in
    ``zooms`` driver-side through the shared pure kernels — one VALUES
    row per (z, x, y) blob, md5-compared byte-for-byte."""
    import hashlib

    from .cells.grid import grid_cell, grid_decode
    from .viz.mvt import render_cells_tile, tile_of

    lons, lats = _webdocs_lonlat(sf_dir)
    cells = np.asarray(grid_cell(lons, lats, 6))
    uniq, counts = np.unique(cells, return_counts=True)
    res, ix, iy = grid_decode(uniq)
    n = 2.0 ** res
    lon0 = -180.0 + ix * 360.0 / n
    lon1 = -180.0 + (ix + 1) * 360.0 / n
    lat0 = -90.0 + iy * 180.0 / n
    lat1 = -90.0 + (iy + 1) * 180.0 / n
    rows = []
    for z in sorted({int(v) for v in zooms}, reverse=True):
        tx, ty = tile_of((lon0 + lon1) / 2, (lat0 + lat1) / 2, z)
        groups: dict = {}
        for k in range(len(uniq)):
            groups.setdefault((int(tx[k]), int(ty[k])), []).append(
                (int(uniq[k]), int(counts[k]), float(lon0[k]),
                 float(lat0[k]), float(lon1[k]), float(lat1[k]))
            )
        for (gx, gy), rws in sorted(groups.items()):
            blob = render_cells_tile(z, gx, gy, rws)
            rows.append(
                (z, gx, gy, len(rws), len(blob),
                 hashlib.md5(blob).hexdigest())
            )
    return values_sql(
        rows,
        [("z", "INTEGER"), ("x", "BIGINT"), ("y", "BIGINT"),
         ("n_features", "BIGINT"), ("pbf_len", "BIGINT"),
         ("pbf_md5", "VARCHAR")],
    )


def raster_tiles_replica(lons, lats, zooms, tile_px: int = 64, weights=None) -> list:
    """(z, x, y, n_points, png) per tile, sorted: points pushed through the
    SAME pure numpy kernels as ``viz/raster.py`` (point_pixel +
    render_heat_tile) driver-side, with numpy binning instead of the Spark
    plan. ``weights`` (int64, default 1 per point) are summed exactly;
    points with a NaN or ±Inf coordinate draw nothing."""
    from .viz.raster import point_pixel, render_heat_tile

    lons, lats = np.asarray(lons, np.float64), np.asarray(lats, np.float64)
    w = np.ones(len(lons), np.int64) if weights is None else np.asarray(weights, np.int64)
    ok = np.isfinite(lons) & np.isfinite(lats)
    zs = sorted({int(z) for z in zooms}, reverse=True)
    zf = zs[0]
    gx, gy = point_pixel(lons[ok], lats[ok], zf, tile_px)
    uniq, inv = np.unique((gx << 32) | gy, return_inverse=True)
    counts = np.zeros(len(uniq), np.int64)
    np.add.at(counts, inv, w[ok])
    ugx, ugy = uniq >> 32, uniq & 0xFFFFFFFF
    log2t = tile_px.bit_length() - 1
    rows = []
    for z in zs:
        dz = zf - z
        zx, zy = ugx >> dz, ugy >> dz
        tx, ty = zx >> log2t, zy >> log2t
        pix = (zy & (tile_px - 1)) * tile_px + (zx & (tile_px - 1))
        groups: dict = {}
        for k in range(len(uniq)):
            groups.setdefault((int(tx[k]), int(ty[k])), []).append(
                (int(pix[k]), int(counts[k]))
            )
        for (gtx, gty), rws in sorted(groups.items()):
            blob = render_heat_tile(
                [p for p, _ in rws], [c for _, c in rws], tile_px
            )
            rows.append((z, gtx, gty, sum(c for _, c in rws), blob))
    return rows


def raster_tiles_sql(sf_dir: str = ORACLE_SF_DIR, zooms: tuple = (3, 2),
                     tile_px: int = 64) -> str:
    """Expected (z, x, y, n_points, png_len, png_md5) for q_raster_tiles:
    the webdocs points through :func:`raster_tiles_replica`, so the
    distributed plumbing (map-side Arrow pixel sums, the (z, x, y)
    exchange, batched render) is what the hash compare exercises. One
    VALUES row per (z, x, y) blob, md5-compared byte-for-byte."""
    import hashlib

    lons, lats = _webdocs_lonlat(sf_dir)
    rows = [
        (z, x, y, n, len(blob), hashlib.md5(blob).hexdigest())
        for z, x, y, n, blob in raster_tiles_replica(lons, lats, zooms, tile_px)
    ]
    return values_sql(
        rows,
        [("z", "INTEGER"), ("x", "BIGINT"), ("y", "BIGINT"),
         ("n_points", "BIGINT"), ("png_len", "BIGINT"),
         ("png_md5", "VARCHAR")],
    )


# ---------------------------------------------------------------------------
# polygon×polygon overlap join oracle (operators/polyjoin.py)
# ---------------------------------------------------------------------------

@lru_cache(maxsize=1)
def polygon_overlap_sql() -> str:
    """Expected (id_a, id_b, inter_area) for q_polygon_overlap: brute-force
    ALL pairs of the 200-row admin fixture through the SAME Greiner–Hormann
    intersection-area kernel driver-side — the distributed cover-refine
    join must find exactly this pair set (a cover miss is a row-count
    mismatch, not a silent approximation)."""
    from .fixtures import admin_polygons_pdf
    from .geom import parse_wkt
    from .geom.clip import intersection_area

    pdf = admin_polygons_pdf()
    geoms = [parse_wkt(w) for w in pdf["geometry_wkt"]]
    ids = list(pdf["region_id"])
    rows = []
    for i in range(len(geoms)):
        for j in range(i + 1, len(geoms)):
            area = intersection_area(geoms[i], geoms[j])
            if area > 0.0:
                rows.append((ids[i], ids[j], _spark_round(area, 9)))
    rows.sort()
    return values_sql(
        rows,
        [("id_a", "VARCHAR"), ("id_b", "VARCHAR"), ("inter_area", "DOUBLE")],
    )


def media_afp_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (id_a, id_b, hamming) for q_media_audio_dedup: the audio
    lane plus re-gained copies (3/4 gain + dither, ids +200000)
    fingerprinted with the SAME pure-numpy spectral kernel on the
    driver, then brute-force all-pairs Hamming <= 6 — the pigeonhole
    band join (bands=8 > 6) finds exactly this set."""
    import numpy as np
    import pyarrow.parquet as pq

    from .functions.multimodal import synth_payload
    from .functions.phash import afp64
    from .functions.riff import decode_wav, encode_wav

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    doc_ids = tbl.column("doc_id").to_pylist()[:100]
    texts = tbl.column("text").to_pylist()[:100]
    hashes: list[tuple[int, int]] = []
    for doc_id, text in zip(doc_ids, texts):
        if doc_id % 3 != 1:
            continue
        samples, sr = decode_wav(synth_payload(doc_id, text))
        hashes.append((doc_id, afp64(samples)))
        g = samples.astype(np.int32) * 3 // 4
        g = (g + (np.arange(len(g)) % 5 - 2)).astype(np.int16)
        regained, _ = decode_wav(encode_wav(g, sr))
        hashes.append((doc_id + 200000, afp64(regained)))
    rows = []
    for i, (ida, ha) in enumerate(hashes):
        for idb, hb in hashes[i + 1 :]:
            a, b = min(ida, idb), max(ida, idb)
            ham = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if ham <= 6:
                rows.append((a, b, ham))
    rows.sort()
    return values_sql(
        rows, [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("hamming", "BIGINT")]
    )


def fix_mojibake_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (doc_id, rounds, restored, fixed_md5) for q_fix_mojibake:
    the same plant -> corrupt(x1/x2) -> fixpoint-repair pure-string
    kernels run driver-side over the identical fixture rows."""
    import hashlib

    import pyarrow.parquet as pq

    from .functions.mojibake import (
        corrupt_utf8_cp1252,
        plant_accents,
        repair_mojibake,
    )

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    rows = []
    for did, txt in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()):
        if did >= 400:
            continue
        expected = plant_accents(txt) if did % 5 == 0 else txt
        damaged = corrupt_utf8_cp1252(expected) if did % 5 == 0 else expected
        if did % 10 == 0:
            damaged = corrupt_utf8_cp1252(damaged)
        fixed, rounds = repair_mojibake(damaged)
        rows.append(
            (
                did,
                rounds,
                fixed == expected,
                hashlib.md5(fixed.encode("utf-8")).hexdigest(),
            )
        )
    rows.sort()
    return values_sql(
        rows,
        [
            ("doc_id", "BIGINT"),
            ("rounds", "INTEGER"),
            ("restored", "BOOLEAN"),
            ("fixed_md5", "VARCHAR"),
        ],
    )


def unigram_vocab_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (token, n_occ) for q_unigram_vocab: the word dictionary
    comes from DuckDB, seed/EM/prune training + Viterbi tokenization run
    the SAME pure-Python kernel as the Spark path (operators/unigram.py)
    — emitted counts are integer-exact by construction."""
    from .operators.unigram import unigram_vocab_stats_oracle_rows

    rows = unigram_vocab_stats_oracle_rows(sf_dir)
    return values_sql(rows, [("token", "VARCHAR"), ("n_occ", "BIGINT")])


def mix_sources_oracle_sql() -> str:
    """Twin for q_mix_sources: the SAME integer quota vector (pure
    Python apportionment, engine-free) + the SAME portable hash-ranked
    window in DuckDB SQL."""
    from .operators.sampling import (
        largest_remainder_quotas,
        mix_rank_sql,
        mix_sources_sql,
    )

    weights = {f"src{i}": i + 1 for i in range(20)}
    quotas = largest_remainder_quotas(weights, total=200)
    return f"""
        WITH ranked AS (
            SELECT doc_id, source, {mix_rank_sql("doc_id", "source")} AS rk
            FROM documents
        )
        SELECT doc_id, source FROM ranked WHERE {mix_sources_sql(quotas)}
    """


def sitemap_frontier_sql() -> str:
    """Formula twin for q_sitemap_frontier: the listing rule and every
    url are doc_id arithmetic, so the expected reconciliation is pure
    SQL over `documents` — no XML is ever rendered or parsed here."""
    from .functions.geocode import url_from_doc_id_sql

    url = url_from_doc_id_sql("doc_id", "lang")
    return f"""
        WITH d AS (
            SELECT doc_id, CAST(doc_id % 97 AS VARCHAR) AS hn, {url} AS url,
                   '2025-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
                       AS lastmod
            FROM documents
        ),
        listed AS (
            SELECT 'host' || hn || '.example' AS host, url AS u, lastmod
            FROM d WHERE doc_id % 3 <> 2
            UNION ALL
            SELECT 'host' || hn || '.example',
                   'https://host' || hn || '.example/new/page-' || hn,
                   '2025-02-01'
            FROM (SELECT DISTINCT hn FROM d)
        ),
        crawled AS (SELECT 'host' || hn || '.example' AS host, url AS u FROM d),
        j AS (
            SELECT coalesce(l.host, c.host) AS host,
                   (l.u IS NOT NULL)::INT AS l, (c.u IS NOT NULL)::INT AS c,
                   l.lastmod
            FROM listed l FULL OUTER JOIN crawled c ON l.u = c.u
        )
        SELECT host,
               CAST(SUM(l) AS BIGINT) AS n_listed,
               CAST(SUM(c) AS BIGINT) AS n_crawled,
               CAST(SUM(CASE WHEN l = 1 AND c = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_new,
               CAST(SUM(CASE WHEN c = 1 AND l = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_stale,
               MAX(lastmod) AS latest_lastmod
        FROM j GROUP BY host
    """


def stream_neardup_sql() -> str:
    """Twin for q_stream_neardup: under id-monotone arrival the
    incremental verdicts equal the batch banded-pair set, so the twin
    is the SAME pair SQL the batch simhash lane is hash-proven against,
    aggregated to per-doc (is_neardup, dup_of = smallest earlier
    match)."""
    from .fixtures import neardup_corpus_cte
    from .operators.dedup import simhash_neardup_sql

    inner = simhash_neardup_sql(neardup_corpus_cte())
    return f"""
        WITH {neardup_corpus_cte()},
        pairs AS (SELECT * FROM ({inner})),
        agg AS (SELECT doc_b AS doc_id, MIN(doc_a) AS dup_of FROM pairs GROUP BY doc_b)
        SELECT c.doc_id, (a.doc_id IS NOT NULL) AS is_neardup, a.dup_of
        FROM corpus c LEFT JOIN agg a USING (doc_id)
    """


def quality_compression_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Expected (doc_id, raw_len, comp_len, comp_permille) for
    q_quality_compression: the same frozen zlib-level-6 DEFLATE over the
    same corpus rows, driver-side."""
    import zlib

    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    rows = []
    for did, txt in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()):
        if did >= 500:
            continue
        variants = [(did, txt)]
        if did % 10 == 0:
            variants.append((did + 2_000_000, txt[:16] * 20))
        for vid, s in variants:
            raw = len(s.encode("utf-8"))
            comp = len(zlib.compress(s.encode("utf-8"), 6))
            rows.append((vid, raw, comp, comp * 1000 // raw if raw else None))
    rows.sort()
    return values_sql(
        rows,
        [
            ("doc_id", "BIGINT"),
            ("raw_len", "BIGINT"),
            ("comp_len", "BIGINT"),
            ("comp_permille", "BIGINT"),
        ],
    )


def curation_pipeline_sql() -> str:
    """Twin for q_curation_pipeline: the SAME quality gate, fingerprint
    dedup window, quota vector, and hash-ranked mixing window chained in
    one DuckDB query — proving the stages compose engine-identically."""
    from .functions.text import fingerprint_sql, quality_sql
    from .operators.sampling import (
        largest_remainder_quotas,
        mix_rank_sql,
        mix_sources_sql,
    )

    qual = quality_sql("text")
    quotas = largest_remainder_quotas(
        {f"src{i}": i + 1 for i in range(20)}, total=150
    )
    return f"""
        WITH scored AS (
            SELECT doc_id, source, {fingerprint_sql("text")} AS fp,
                   {qual["quality_score"]} AS score,
                   {qual["n_tokens"]} AS n_tokens
            FROM documents
        ),
        filtered AS (
            SELECT * FROM scored WHERE score >= 0.5 AND n_tokens >= 10
        ),
        deduped AS (
            SELECT doc_id, source, n_tokens FROM (
                SELECT doc_id, source, n_tokens,
                       ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
                FROM filtered
            ) WHERE rn = 1
        ),
        ranked AS (
            SELECT doc_id, source, n_tokens,
                   {mix_rank_sql("doc_id", "source")} AS rk
            FROM deduped
        ),
        mixed AS (SELECT * FROM ranked WHERE {mix_sources_sql(quotas)})
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM mixed GROUP BY source
    """


def lang_consistency_sql() -> str:
    """Twin for q_lang_consistency: the SAME quarter arithmetic,
    planting rule, shared marker-count lang id, and deterministic
    main-lang election in pure DuckDB SQL."""
    from .functions.text import lang_id_sql

    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               w -> w <> '') AS toks
            FROM documents
        ),
        secs AS (
            SELECT doc_id, k,
                   CAST(floor(k * len(toks) / 4.0) AS INT) AS s,
                   CAST(floor((k + 1) * len(toks) / 4.0) AS INT) AS e,
                   toks
            FROM t, UNNEST([0, 1, 2, 3]) AS u(k)
        ),
        texts AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 AND k = 3
                        THEN 'el ' || array_to_string(
                                 list_transform(toks[s + 1 : e], x -> x || ' el'),
                                 ' ')
                        ELSE array_to_string(toks[s + 1 : e], ' ')
                   END AS sec
            FROM secs WHERE e > s
        ),
        langs AS (SELECT doc_id, {lang_id_sql("sec")} AS lang FROM texts),
        counts AS (SELECT doc_id, lang, COUNT(*) AS c FROM langs GROUP BY 1, 2),
        main AS (
            SELECT doc_id, lang AS main_lang FROM (
                SELECT doc_id, lang,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY c DESC, lang ASC) AS rn
                FROM counts
            ) WHERE rn = 1
        ),
        agg AS (
            SELECT doc_id, CAST(COUNT(*) AS INT) AS n_sections,
                   CAST(COUNT(DISTINCT lang) AS INT) AS n_langs
            FROM langs GROUP BY doc_id
        )
        SELECT a.doc_id, n_sections, n_langs, (n_langs > 1) AS is_mixed,
               main_lang
        FROM agg a JOIN main m ON a.doc_id = m.doc_id
    """
