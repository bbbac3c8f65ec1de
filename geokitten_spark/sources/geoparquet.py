"""GeoParquet source/sink — WKB geometry in parquet with ``geo`` footer
metadata (GeoParquet spec v1.0/v1.1, OGC; public).

This is the SCALE path for geometry interchange: the reference moves
geometries between formats as shapely objects in a GeoDataFrame
(``/root/reference/geokitten/gdf_kml_converter.py``), which is bounded
by one process' memory; a 10^12-row engine exchanges geometry as WKB
blobs inside ordinary parquet, so every Catalyst optimization (column
pruning, predicate pushdown on the attribute columns, partition
pruning) applies and any GeoParquet reader (GeoPandas, DuckDB-spatial,
GDAL, BigQuery) can consume the output directly.

Write path is DISTRIBUTED: one parquet file per Spark partition,
written inside ``mapInPandas`` by pyarrow (Arrow-batched, no driver
materialization), each carrying the full ``geo`` footer metadata with
that file's own bbox + geometry-type inventory.  The sink returns a
manifest DataFrame (file, rows, bbox) — materialize it to execute the
write, same contract as the engine's other sinks.  On a cluster, point
``path`` at shared storage (the writer uses pyarrow's filesystem, so
``s3://…`` works where pyarrow has the FS).

Read path: ``spark.read.parquet`` (vanilla scan — WKB is just a binary
column) plus a driver-side, metadata-only footer validation via
pyarrow, and an Arrow-batched WKB->WKT decode column for the engine's
WKT-speaking operators.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from geokitten_spark.geom.model import parse_wkt, to_wkt
from geokitten_spark.geom.wkb import parse_wkb, to_wkb, wkb_kind

GEO_KEY = b"geo"
GEOPARQUET_VERSION = "1.0.0"

_KIND_NAMES = {
    1: "Point",
    2: "LineString",
    3: "Polygon",
    4: "MultiPoint",
    5: "MultiLineString",
    6: "MultiPolygon",
    7: "GeometryCollection",
}



# --------------------------------------------------------------------------
# WKT <-> WKB columns (Arrow-batched; the engine speaks WKT internally)
# --------------------------------------------------------------------------

@pandas_udf(BinaryType())
def wkt_to_wkb(wkt: pd.Series) -> pd.Series:
    return wkt.map(lambda s: None if s is None else to_wkb(parse_wkt(s)))


@pandas_udf(StringType())
def wkb_to_wkt(wkb: pd.Series) -> pd.Series:
    return wkb.map(lambda b: None if b is None else to_wkt(parse_wkb(bytes(b))))


from pyspark.sql.functions import arrow_udf


@arrow_udf(BinaryType())
def points_to_wkb(lon, lat):
    """Vectorized (lon, lat) -> 21-byte ISO WKB POINT blobs — the scale
    path for point-geometry tables. Arrow-native: the batch is assembled
    as one (n, 21) byte matrix in numpy and handed back as a BinaryArray
    built from that single buffer plus a stride-21 offsets array — no
    per-row Python objects anywhere (the old pandas form sliced one
    bytes object per row). NULL lon or lat -> NULL blob."""
    import pyarrow as pa

    n = len(lon)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0] = 1  # little-endian
    buf[:, 1:5] = np.frombuffer(np.uint32(1).tobytes(), dtype=np.uint8)
    x = lon.to_numpy(zero_copy_only=False)
    y = lat.to_numpy(zero_copy_only=False)
    buf[:, 5:13] = x.astype("<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = y.astype("<f8").view(np.uint8).reshape(n, 8)
    offsets = np.arange(0, 21 * (n + 1), 21, dtype=np.int32)
    null_mask = np.zeros(n, dtype=bool)
    if lon.null_count:
        null_mask |= lon.is_null().to_numpy(zero_copy_only=False)
    if lat.null_count:
        null_mask |= lat.is_null().to_numpy(zero_copy_only=False)
    if null_mask.any():
        validity = pa.array(~null_mask).buffers()[1]
        null_count = int(null_mask.sum())
    else:
        validity, null_count = None, 0
    return pa.Array.from_buffers(
        pa.binary(),
        n,
        [validity, pa.py_buffer(offsets.tobytes()), pa.py_buffer(buf.tobytes())],
        null_count=null_count,
    )


# --------------------------------------------------------------------------
# geo metadata
# --------------------------------------------------------------------------

def _geo_metadata(column: str, geometry_types: list, bbox: list) -> bytes:
    """GeoParquet file metadata JSON (spec §file metadata). ``crs`` is
    omitted -> default OGC:CRS84 (WGS84 lon/lat), matching the engine's
    coordinate convention after `geom/mercator.py` normalization."""
    return json.dumps(
        {
            "version": GEOPARQUET_VERSION,
            "primary_column": column,
            "columns": {
                column: {
                    "encoding": "WKB",
                    "geometry_types": sorted(geometry_types),
                    "bbox": bbox,
                }
            },
        },
        sort_keys=True,
    ).encode()


def _coord_arrays(g) -> list:
    arrs = []
    if g.coords is not None and np.asarray(g.coords).size:
        arrs.append(np.asarray(g.coords)[:, :2])
    for rings in g.parts:
        for r in rings:
            arrs.append(np.asarray(r)[:, :2])
    for m in g.members:
        arrs.extend(_coord_arrays(m))
    return arrs


def _bounds_of(blob: bytes) -> tuple:
    arrs = _coord_arrays(parse_wkb(blob))
    if not arrs:
        return (float("nan"),) * 4
    allc = np.vstack(arrs)
    return (
        float(allc[:, 0].min()),
        float(allc[:, 1].min()),
        float(allc[:, 0].max()),
        float(allc[:, 1].max()),
    )


def _file_stats(col) -> tuple:
    """-> (geometry_type_names, bbox[4]) for one file's Arrow (chunked)
    binary geometry column.

    Fast path: an all-2D-POINT column (the dominant shape for web-doc
    tables — one geocoded point per page) is one numpy gather over the
    Arrow offsets/data buffers and the fixed 21-byte little-endian
    layout, no per-row Python objects. Everything else takes the general
    per-blob parse."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    arr = col.drop_null()
    n = len(arr)
    if n == 0:
        return [], [float("nan")] * 4
    off_dt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    bufs = arr.buffers()  # [validity, offsets, data]
    offsets = np.frombuffer(bufs[1], dtype=off_dt)[arr.offset : arr.offset + n + 1]
    if (np.diff(offsets) == 21).all():
        vals = np.frombuffer(bufs[2], dtype=np.uint8)
        mat = vals[offsets[:-1, None] + np.arange(21)]
        hdr = np.frombuffer(np.uint32(1).tobytes(), dtype=np.uint8)
        if (mat[:, 0] == 1).all() and (mat[:, 1:5] == hdr).all():
            xy = np.ascontiguousarray(mat[:, 5:21]).view("<f8").reshape(-1, 2)
            return ["Point"], [
                float(np.nanmin(xy[:, 0])),
                float(np.nanmin(xy[:, 1])),
                float(np.nanmax(xy[:, 0])),
                float(np.nanmax(xy[:, 1])),
            ]
    blobs = arr.to_pylist()
    kinds = sorted({_KIND_NAMES[wkb_kind(b)] for b in blobs})
    bounds = [_bounds_of(b) for b in blobs]
    return kinds, [
        min(b[0] for b in bounds),
        min(b[1] for b in bounds),
        max(b[2] for b in bounds),
        max(b[3] for b in bounds),
    ]


# --------------------------------------------------------------------------
# sink
# --------------------------------------------------------------------------

_MANIFEST_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("n_rows", LongType()),
        StructField("minx", DoubleType()),
        StructField("miny", DoubleType()),
        StructField("maxx", DoubleType()),
        StructField("maxy", DoubleType()),
        StructField("geometry_types", StringType()),
    ]
)


def write_geoparquet(
    df: DataFrame, path: str, geometry_col: str = "geometry"
) -> DataFrame:
    """Write ``df`` (with a WKB binary ``geometry_col``) as GeoParquet:
    one ``part-{pid:05d}.parquet`` per Spark partition, each with the
    spec's ``geo`` footer metadata (per-file bbox + geometry types).

    Returns the manifest DataFrame (file, n_rows, bbox, types) — the
    write executes when the manifest is materialized.  Attribute columns
    keep their Spark types (anything Spark's Arrow bridge carries,
    including array/struct columns — embeddings ride along).  Use
    ``wkt_to_wkb(col)`` (or ``points_to_wkb``) first if the geometry is
    not WKB yet.  Determinism: file content is a pure function of
    partition content and order — fix both (e.g. ``repartition(n, key)``
    + ``sortWithinPartitions``) for byte-reproducible output.

    The writer runs in ``mapInArrow``: record batches flow Spark->Arrow->
    parquet without a pandas detour, so the WKB blobs never materialize
    as per-row Python objects (the all-POINT stats path below is a single
    numpy gather over the Arrow buffers).
    """
    names = [f.name for f in df.schema.fields]
    if geometry_col not in names:
        raise ValueError(f"geometry column {geometry_col!r} not in {names}")
    if not isinstance(df.schema[geometry_col].dataType, BinaryType):
        raise ValueError(
            f"{geometry_col!r} must be BinaryType WKB (use wkt_to_wkb)"
        )
    os.makedirs(path, exist_ok=True)

    def write_partition(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        batches = list(batches)
        if not batches or sum(b.num_rows for b in batches) == 0:
            return  # empty partition -> no file
        table = pa.Table.from_batches(batches)
        kinds, bbox = _file_stats(table.column(geometry_col))
        table = table.replace_schema_metadata(
            {GEO_KEY: _geo_metadata(geometry_col, kinds, bbox)}
        )
        fname = f"part-{pid:05d}.parquet"
        pq.write_table(table, os.path.join(path, fname))
        yield pa.RecordBatch.from_pydict(
            {
                "file": [fname],
                "n_rows": [table.num_rows],
                "minx": [bbox[0]],
                "miny": [bbox[1]],
                "maxx": [bbox[2]],
                "maxy": [bbox[3]],
                "geometry_types": [json.dumps(kinds)],
            }
        )

    return df.mapInArrow(write_partition, schema=_MANIFEST_SCHEMA)


# --------------------------------------------------------------------------
# source
# --------------------------------------------------------------------------

def geoparquet_metadata(path: str) -> dict:
    """Driver-side, metadata-only: parse the ``geo`` footer of the first
    data file (spec: every file carries it). Raises if absent/invalid."""
    import pyarrow.parquet as pq

    files = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith("_")
    )
    if not files:
        raise ValueError(f"no parquet files under {path}")
    meta = pq.ParquetFile(os.path.join(path, files[0])).schema_arrow.metadata or {}
    if GEO_KEY not in meta:
        raise ValueError(f"{files[0]} has no 'geo' footer metadata")
    geo = json.loads(meta[GEO_KEY])
    col = geo.get("primary_column")
    spec = geo.get("columns", {}).get(col, {})
    if spec.get("encoding") != "WKB":
        raise ValueError(f"unsupported GeoParquet encoding {spec.get('encoding')!r}")
    return geo


def read_geoparquet(
    spark: SparkSession,
    path: str,
    as_wkt: bool = True,
) -> DataFrame:
    """GeoParquet directory -> DataFrame. Validates the ``geo`` footer on
    the driver (metadata-only, no data pass), scans with the vanilla
    parquet reader (so pushdown/pruning on attribute columns is intact),
    and — when ``as_wkt`` — adds ``<geometry>_wkt`` decoded Arrow-batched
    for the engine's WKT operators, keeping the WKB column."""
    geo = geoparquet_metadata(path)
    col = geo["primary_column"]
    df = spark.read.parquet(path)
    if col not in df.columns:
        raise ValueError(f"geo metadata names {col!r} but scan has {df.columns}")
    if as_wkt:
        df = df.withColumn(f"{col}_wkt", wkb_to_wkt(F.col(col)))
    return df
