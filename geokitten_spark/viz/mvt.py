"""Mapbox Vector Tile (MVT 2.1) encoder/decoder + the distributed tile sink.

The north_star's last mile is "rasterize tile aggregates back to vector
tiles". ``operators/tile.py:tile_vectorize`` already emits cell polygons as
WKT; this module emits the REAL wire format every map stack consumes: the
MVT protobuf (spec: github.com/mapbox/vector-tile-spec, v2.1), hand-rolled
varint/zigzag wire encoding — no protobuf library, same no-native-deps
discipline as the JPEG/PNG/WAV codecs.

* :func:`encode_mvt_tile` / :func:`decode_mvt` — Tile → Layer → Feature →
  command-integer geometry (MoveTo/LineTo/ClosePath with zigzag deltas),
  key/value attribute pools, extent 4096. The decoder exists so tests can
  verify the bytes semantically (same encoder+decoder pattern as the
  media codecs) and so MVT is a *source* too.
* ``_mercator`` — the package's ONE web-mercator projection (lat
  clamped to the square-world band, y down). :func:`lonlat_to_tile_px`
  (tile-local MVT pixels), :func:`tile_of` (tile indices) and
  ``viz/raster.py:point_pixel`` (global heat-map pixels) all call it.
  It flags rows whose lon or lat is not finite (NULL arrives as NaN):
  their coordinates are meaningless, and the raster sink drops them.
* :func:`mvt_pyramid` — the distributed sink (:func:`mvt_cells` is its
  one-zoom case): a (cell_id, n_docs) tile aggregate → one MVT blob per
  (z, x, y) web-mercator tile via ONE grouped ``applyInPandas`` pass.
  Its NULL-``cell_id`` row (the docs with a non-finite coordinate, see
  ``grid_cell_col``) draws nothing. The aggregate is already tiny
  relative to the corpus (O(cells), not O(docs)); grouping by tile id
  shuffles only (cell_id, count) pairs, and each task renders its tiles
  independently — features sorted by cell_id so the bytes are a pure
  function of the group's row multiset (partitioning-independent,
  hash-comparable against the driver-side oracle replica).

Determinism: quantization is ``floor(x * n + 0.5)`` in float64 on exact
dyadic tile math; feature order is sorted; key/value pools are emitted in
first-use order of the sorted features.

Reference parity: the reference renders folium HTML maps
(``html_generator.py``); MVT is the distributed-scale re-expression of
that sink (S7/A6 in SURVEY §2) — a 10^6-tile pyramid can't be one HTML
file.
"""

from __future__ import annotations

import math
from typing import Iterator, List, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

__all__ = [
    "zigzag",
    "unzigzag",
    "encode_mvt_layer",
    "encode_mvt_tile",
    "decode_mvt",
    "lonlat_to_tile_px",
    "mvt_cells",
    "mvt_pyramid",
    "EXTENT",
]

EXTENT = 4096

# geometry types (Tile.GeomType)
POINT, LINESTRING, POLYGON = 1, 2, 3


# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------

def _varint(v: int) -> bytes:
    if v < 0:
        v &= (1 << 64) - 1  # two's-complement 64-bit, per protobuf
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(data: bytes, i: int) -> Tuple[int, int]:
    shift = 0
    v = 0
    while True:
        b = data[i]
        v |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            return v, i
        shift += 7


def zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _packed(field: int, values: Sequence[int]) -> bytes:
    return _len_delim(field, b"".join(_varint(v) for v in values))


# ---------------------------------------------------------------------------
# Value / Layer / Tile encode
# ---------------------------------------------------------------------------

def _encode_value(v) -> bytes:
    if isinstance(v, bool):
        return _tag(7, 0) + _varint(1 if v else 0)
    if isinstance(v, (int, np.integer)):
        return _tag(4, 0) + _varint(int(v))  # int_value (sign via 64-bit)
    if isinstance(v, float):
        import struct as _s

        return _tag(3, 1) + _s.pack("<d", v)  # double_value
    if isinstance(v, str):
        return _len_delim(1, v.encode("utf-8"))
    raise TypeError(f"unsupported MVT attribute type {type(v).__name__}")


def _ring_commands(ring: Sequence[Tuple[int, int]], cursor) -> List[int]:
    """One polygon ring (first point NOT repeated at the end) as command
    integers: MoveTo(1) + LineTo(n-1) + ClosePath."""
    cmds = [(1 << 3) | 1]  # MoveTo, count 1
    cx, cy = cursor
    x0, y0 = ring[0]
    cmds += [zigzag(x0 - cx), zigzag(y0 - cy)]
    cx, cy = x0, y0
    cmds.append((len(ring) - 1) << 3 | 2)  # LineTo, count n-1
    for x, y in ring[1:]:
        cmds += [zigzag(x - cx), zigzag(y - cy)]
        cx, cy = x, y
    cmds.append((1 << 3) | 7)  # ClosePath
    cursor[0], cursor[1] = cx, cy
    return cmds


def encode_mvt_layer(
    name: str,
    features: Sequence[dict],
    extent: int = EXTENT,
) -> bytes:
    """One Layer message. Each feature dict:
    ``{"id": int, "type": POINT|LINESTRING|POLYGON,
       "rings": [[(x, y), ...], ...], "attrs": {key: value}}``
    (for POINT, one ring of one point; rings carry tile-local ints with
    the spec's y-down axis; polygon exterior rings must be y-down
    clockwise = positive shoelace area, which the spec mandates)."""
    keys: List[str] = []
    vals: List[bytes] = []
    kidx: dict = {}
    vidx: dict = {}
    feats = []
    for f in features:
        tags: List[int] = []
        for k, v in f.get("attrs", {}).items():
            if k not in kidx:
                kidx[k] = len(keys)
                keys.append(k)
            enc = _encode_value(v)
            if enc not in vidx:
                vidx[enc] = len(vals)
                vals.append(enc)
            tags += [kidx[k], vidx[enc]]
        cursor = [0, 0]
        gtype = f["type"]
        cmds: List[int] = []
        if gtype == POINT:
            (x, y) = f["rings"][0][0]
            cmds = [(1 << 3) | 1, zigzag(x), zigzag(y)]
        elif gtype == LINESTRING:
            for ring in f["rings"]:
                c = _ring_commands(ring, cursor)
                cmds += c[:-1]  # no ClosePath on lines
        else:
            for ring in f["rings"]:
                cmds += _ring_commands(ring, cursor)
        body = b""
        if "id" in f:
            body += _tag(1, 0) + _varint(int(f["id"]))
        body += _packed(2, tags)
        body += _tag(3, 0) + _varint(gtype)
        body += _packed(4, cmds)
        feats.append(body)
    layer = _tag(15, 0) + _varint(2)  # version = 2
    layer += _len_delim(1, name.encode("utf-8"))
    for fb in feats:
        layer += _len_delim(2, fb)
    for k in keys:
        layer += _len_delim(3, k.encode("utf-8"))
    for vb in vals:
        layer += _len_delim(4, vb)
    layer += _tag(5, 0) + _varint(extent)
    return layer


def encode_mvt_tile(layers: Sequence[Tuple[str, Sequence[dict]]],
                    extent: int = EXTENT) -> bytes:
    return b"".join(
        _len_delim(3, encode_mvt_layer(name, feats, extent))
        for name, feats in layers
    )


# ---------------------------------------------------------------------------
# decode (tests + MVT-as-source)
# ---------------------------------------------------------------------------

def _decode_value(data: bytes) -> object:
    import struct as _s

    i = 0
    tag, i = _read_varint(data, i)
    field, wire = tag >> 3, tag & 7
    if field == 1:
        ln, i = _read_varint(data, i)
        return data[i:i + ln].decode("utf-8")
    if field == 3:
        return _s.unpack("<d", data[i:i + 8])[0]
    if field == 7:
        v, i = _read_varint(data, i)
        return bool(v)
    v, i = _read_varint(data, i)
    if field == 4:  # int_value: 64-bit two's complement
        if v >= 1 << 63:
            v -= 1 << 64
        return v
    if field == 6:
        return unzigzag(v)
    return v  # uint_value


def _decode_geometry(cmds: List[int], gtype: int) -> List[List[Tuple[int, int]]]:
    rings: List[List[Tuple[int, int]]] = []
    cur: List[Tuple[int, int]] = []
    x = y = 0
    i = 0
    while i < len(cmds):
        cid, cnt = cmds[i] & 7, cmds[i] >> 3
        i += 1
        if cid == 1:  # MoveTo
            for _ in range(cnt):
                x += unzigzag(cmds[i]); y += unzigzag(cmds[i + 1]); i += 2
                if cur:
                    rings.append(cur)
                cur = [(x, y)]
        elif cid == 2:  # LineTo
            for _ in range(cnt):
                x += unzigzag(cmds[i]); y += unzigzag(cmds[i + 1]); i += 2
                cur.append((x, y))
        elif cid == 7:  # ClosePath
            rings.append(cur)
            cur = []
        else:
            raise ValueError(f"bad MVT command id {cid}")
    if cur:
        rings.append(cur)
    return rings


def decode_mvt(data: bytes) -> List[dict]:
    """Tile bytes → [{name, extent, version, features: [...]}]."""
    layers = []
    i = 0
    while i < len(data):
        tag, i = _read_varint(data, i)
        if tag >> 3 != 3 or (tag & 7) != 2:
            raise ValueError("not an MVT Tile message")
        ln, i = _read_varint(data, i)
        layers.append(_decode_layer(data[i:i + ln]))
        i += ln
    return layers


def _decode_layer(data: bytes) -> dict:
    name = ""
    version = extent = 0
    feats = []
    keys: List[str] = []
    vals: List[object] = []
    i = 0
    while i < len(data):
        tag, i = _read_varint(data, i)
        field, wire = tag >> 3, tag & 7
        if wire == 2:
            ln, i = _read_varint(data, i)
            chunk = data[i:i + ln]
            i += ln
            if field == 1:
                name = chunk.decode("utf-8")
            elif field == 2:
                feats.append(chunk)
            elif field == 3:
                keys.append(chunk.decode("utf-8"))
            elif field == 4:
                vals.append(_decode_value(chunk))
        else:
            v, i = _read_varint(data, i)
            if field == 15:
                version = v
            elif field == 5:
                extent = v
    out_feats = []
    for fb in feats:
        fid = None
        gtype = 0
        tags: List[int] = []
        cmds: List[int] = []
        j = 0
        while j < len(fb):
            tag, j = _read_varint(fb, j)
            field, wire = tag >> 3, tag & 7
            if wire == 2:
                ln, j = _read_varint(fb, j)
                end = j + ln
                seq = []
                while j < end:
                    v, j = _read_varint(fb, j)
                    seq.append(v)
                if field == 2:
                    tags = seq
                elif field == 4:
                    cmds = seq
            else:
                v, j = _read_varint(fb, j)
                if field == 1:
                    fid = v
                elif field == 3:
                    gtype = v
        attrs = {
            keys[tags[k]]: vals[tags[k + 1]] for k in range(0, len(tags), 2)
        }
        out_feats.append(
            {
                "id": fid,
                "type": gtype,
                "rings": _decode_geometry(cmds, gtype),
                "attrs": attrs,
            }
        )
    return {"name": name, "version": version, "extent": extent,
            "features": out_feats}


# ---------------------------------------------------------------------------
# web-mercator projection
# ---------------------------------------------------------------------------

_MERC_LAT_MAX = 85.0511287798066  # atan(sinh(pi)) — the square-world cut


def _mercator(lon, lat, n: float):
    """The one WGS84 → web-mercator projection: fractional world
    coordinates (gx, gy) with ``n`` units per axis, latitude clamped to
    the square-world band, y growing DOWNWARD (the tile scheme and the MVT
    spec). Also returns ``finite``, the rows whose lon and lat are both
    finite — NULL (NaN in numpy), NaN and ±Inf rows get meaningless
    coordinates that callers must drop."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    finite = np.isfinite(lon) & np.isfinite(lat)
    lat = np.clip(lat, -_MERC_LAT_MAX, _MERC_LAT_MAX)
    gx = (lon + 180.0) / 360.0 * n
    sin = np.sin(np.radians(lat))
    gy = (0.5 - np.log((1.0 + sin) / (1.0 - sin)) / (4.0 * math.pi)) * n
    return gx, gy, finite


def _mercator_pixel(lon, lat, z: int, tile_px: int):
    """Integer global pixel (gx, gy) at zoom ``z`` with ``tile_px`` pixels
    per tile edge (``tile_px=1`` gives tile indices), clamped to the pixel
    range, plus the ``finite`` mask of :func:`_mercator`."""
    hi = (tile_px << z) - 1
    gx, gy, finite = _mercator(lon, lat, float(tile_px << z))
    return (
        np.clip(np.floor(gx).astype(np.int64), 0, hi),
        np.clip(np.floor(gy).astype(np.int64), 0, hi),
        finite,
    )


def lonlat_to_tile_px(lon, lat, z: int, tx: int, ty: int,
                      extent: int = EXTENT):
    """WGS84 → integer pixel coords local to web-mercator tile (z, tx, ty)
    (y grows DOWNWARD, per both the tile scheme and the MVT spec).
    Vectorized; quantization is floor(v * n + 0.5) in float64."""
    gx, gy, _ = _mercator(lon, lat, float(1 << z))
    px = np.floor((gx - tx) * extent + 0.5).astype(np.int64)
    py = np.floor((gy - ty) * extent + 0.5).astype(np.int64)
    return px, py


def tile_of(lon, lat, z: int):
    """Containing web-mercator tile indices (vectorized)."""
    tx, ty, _ = _mercator_pixel(lon, lat, z, 1)
    return tx, ty


# ---------------------------------------------------------------------------
# the distributed sink
# ---------------------------------------------------------------------------

_MVT_SCHEMA = StructType([
    StructField("z", IntegerType()),
    StructField("x", LongType()),
    StructField("y", LongType()),
    StructField("n_features", LongType()),
    StructField("pbf", BinaryType()),
])


def render_cells_tile(z: int, tx: int, ty: int,
                      rows: Sequence[Tuple[int, int, float, float, float, float]],
                      layer: str = "cells") -> bytes:
    """Pure kernel: (cell_id, n_docs, lon0, lat0, lon1, lat1) rows →
    one MVT blob. Shared verbatim by the Spark sink and the driver-side
    oracle replica, features sorted by cell_id."""
    feats = []
    for cell_id, n_docs, lon0, lat0, lon1, lat1 in sorted(rows):
        xs, ys = lonlat_to_tile_px(
            [lon0, lon0, lon1, lon1], [lat0, lat1, lat1, lat0], z, tx, ty
        )
        # lat0 < lat1 ⇒ py(lat1) < py(lat0) in y-down coords; order the
        # ring y-down CLOCKWISE = positive shoelace area (spec §4.3.3.3)
        ring = [
            (int(xs[0]), int(ys[0])),  # (lon0, lat0) bottom-left
            (int(xs[1]), int(ys[1])),  # (lon0, lat1) top-left
            (int(xs[2]), int(ys[2])),  # (lon1, lat1) top-right
            (int(xs[3]), int(ys[3])),  # (lon1, lat0) bottom-right
        ]
        feats.append(
            {
                "id": int(cell_id),
                "type": POLYGON,
                "rings": [ring],
                "attrs": {"n_docs": int(n_docs)},
            }
        )
    return encode_mvt_tile([(layer, feats)])


def mvt_cells(tiles: DataFrame, z: int, layer: str = "cells") -> DataFrame:
    """(cell_id, n_docs, lon0, lat0, lon1, lat1) aggregate → one MVT blob
    per containing (z, x, y) web-mercator tile (assignment by cell
    center): the one-level :func:`mvt_pyramid`."""
    return mvt_pyramid(tiles, [z], layer=layer)


def mvt_pyramid(tiles: DataFrame, zooms: Sequence[int],
                layer: str = "cells") -> DataFrame:
    """Tile pyramid from ONE cell aggregate: blobs for every zoom in
    ``zooms`` (production tile serving needs z, z-1, … together).

    Scale shape: the assignment map pass emits each cell row once per
    zoom (|zooms|× expansion, map-only — no per-level job), then a
    SINGLE (z, x, y)-keyed shuffle feeds one grouped render. Rendering
    L levels costs one exchange of L·O(cells) rows, not L aggregate
    recomputations; coarser zooms pack more cells per tile but hold the
    same total rows, so no level is a hot key beyond the z=0 world tile
    (bounded by the cell count).

    The NULL-``cell_id`` row a grid aggregate holds for docs with a
    NULL/NaN/±Inf coordinate is dropped first: it has no corners, and a
    NULL in the int64 column would turn the whole Arrow batch into
    float64, rounding every packed id of 2^53 or more."""
    zs = sorted({int(z) for z in zooms}, reverse=True)
    if not zs:
        raise ValueError("mvt_pyramid needs at least one zoom level")
    with_c = tiles.filter(F.col("cell_id").isNotNull()).withColumn(
        "_clon", (F.col("lon0") + F.col("lon1")) / 2
    ).withColumn("_clat", (F.col("lat0") + F.col("lat1")) / 2)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            clon = pdf["_clon"].to_numpy()
            clat = pdf["_clat"].to_numpy()
            base = pdf.drop(columns=["_clon", "_clat"])
            for z in zs:
                tx, ty = tile_of(clon, clat, z)
                out = base.copy()
                out["z"] = np.int32(z)
                out["x"] = tx
                out["y"] = ty
                yield out

    assigned_schema = StructType(
        [f for f in tiles.schema.fields]
        + [
            StructField("z", IntegerType()),
            StructField("x", LongType()),
            StructField("y", LongType()),
        ]
    )
    assigned = with_c.mapInPandas(assign, schema=assigned_schema)

    def render(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        z, tx, ty = int(key[0]), int(key[1]), int(key[2])
        rows = list(
            zip(pdf["cell_id"], pdf["n_docs"], pdf["lon0"], pdf["lat0"],
                pdf["lon1"], pdf["lat1"])
        )
        blob = render_cells_tile(z, tx, ty, rows, layer=layer)
        return pd.DataFrame(
            [(z, tx, ty, len(rows), blob)],
            columns=["z", "x", "y", "n_features", "pbf"],
        )

    return assigned.groupBy("z", "x", "y").applyInPandas(
        render, schema=_MVT_SCHEMA
    )
