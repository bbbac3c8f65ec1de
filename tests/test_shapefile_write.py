"""Shapefile sink (S6): write→read roundtrips on synthetic and REAL
reference fixtures, ring-orientation enforcement, dBASE typing."""

import os

import numpy as np
import pandas as pd
import pytest

from geokitten_spark.geom.model import GeomKind, parse_wkt, to_wkt
from geokitten_spark.geom.shapefile import (
    orient_rings,
    read_dbf,
    read_prj_crs,
    read_shapefile,
    write_dbf,
    write_shapefile,
    write_shp,
)

REF = "/root/reference/tests/tests_files"


def _canon(g):
    return to_wkt(orient_rings(g))


def test_polygon_roundtrip_with_hole(tmp_path):
    wkt = (
        "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), "
        "(3 3, 7 3, 7 7, 3 7, 3 3))"
    )
    g = parse_wkt(wkt)
    attrs = pd.DataFrame({"name": ["sq"], "pop": [7], "score": [1.25]})
    base = str(tmp_path / "one")
    write_shapefile(base, attrs, [g])
    a2, g2, crs = read_shapefile(base)
    assert crs == "EPSG:4326"
    assert len(g2) == 1
    # reader groups CW exterior + CCW hole back into one polygon
    assert to_wkt(g2[0]) == _canon(g)
    assert a2["name"][0] == "sq" and a2["pop"][0] == 7
    assert a2["score"][0] == pytest.approx(1.25)


def test_multipolygon_and_point_and_line(tmp_path):
    mp = parse_wkt(
        "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), ((5 5, 5 6, 6 6, 6 5, 5 5)))"
    )
    base = str(tmp_path / "mp")
    write_shapefile(base, pd.DataFrame({"id": [1]}), [mp])
    _, gs, _ = read_shapefile(base)
    assert to_wkt(gs[0]) == _canon(mp)

    pt = parse_wkt("POINT (3.5 -2.25)")
    base = str(tmp_path / "pt")
    write_shapefile(base, pd.DataFrame({"id": [1]}), [pt])
    _, gs, _ = read_shapefile(base)
    assert to_wkt(gs[0]) == "POINT (3.5 -2.25)"

    ls = parse_wkt("LINESTRING (0 0, 1 2, 3 4.5)")
    base = str(tmp_path / "ls")
    write_shapefile(base, pd.DataFrame({"id": [1]}), [ls])
    _, gs, _ = read_shapefile(base)
    assert to_wkt(gs[0]) == "LINESTRING (0 0, 1 2, 3 4.5)"


def test_orientation_enforced_on_write(tmp_path):
    # CCW exterior (positive shoelace) must be reversed to CW on disk
    ccw = parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    base = str(tmp_path / "ccw")
    write_shapefile(base, pd.DataFrame({"id": [1]}), [ccw])
    _, gs, _ = read_shapefile(base)
    assert to_wkt(gs[0]) == to_wkt(orient_rings(ccw))
    assert to_wkt(gs[0]) != to_wkt(ccw)  # genuinely reversed


def test_mixed_shape_types_rejected(tmp_path):
    with pytest.raises(ValueError, match="mixed shape types"):
        write_shp(
            str(tmp_path / "bad"),
            [parse_wkt("POINT (0 0)"), parse_wkt("POLYGON ((0 0, 0 1, 1 1, 0 0))")],
        )


def test_fixture_corpus_roundtrip(tmp_path):
    """All 200 jittered-hex fixture polygons survive write→read
    coordinate-exactly (after canonical orientation)."""
    from geokitten_spark.fixtures import admin_polygons_pdf

    pdf = admin_polygons_pdf()
    geoms = [parse_wkt(w) for w in pdf["geometry_wkt"]]
    attrs = pdf[["region_id"]].copy()
    base = str(tmp_path / "corpus")
    write_shapefile(base, attrs, geoms)
    a2, g2, _ = read_shapefile(base)
    assert len(g2) == len(geoms)
    assert list(a2["region_id"].astype(str)) == list(attrs["region_id"].astype(str))
    for orig, got in zip(geoms, g2):
        assert to_wkt(got) == _canon(orig)


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference not present")
def test_reference_fixture_rewrite_parity(tmp_path):
    """REAL data: the reference's 124-row standardization shapefile written
    by this sink and re-read equals the original read (geometry set and
    attribute values) — a user can round-trip reference data through the
    engine's native sink."""
    attrs, geoms, crs = read_shapefile(f"{REF}/inputs/gdf_standardization_test_file")
    base = str(tmp_path / "ref_rw")
    write_shapefile(base, attrs, geoms)
    a2, g2, _ = read_shapefile(base)
    assert len(g2) == len(geoms)
    for orig, got in zip(geoms, g2):
        assert to_wkt(got) == _canon(orig)
    # attribute parity column by column (numeric via float compare)
    for col in attrs.columns:
        va, vb = attrs[col], a2[col]
        if np.issubdtype(np.asarray(va).dtype, np.number):
            np.testing.assert_allclose(
                np.asarray(va, dtype=float),
                np.asarray(vb, dtype=float),
                rtol=0, atol=5e-7,  # N(19,6) fixed-point attribute encoding
            )
        else:
            assert list(map(str, va)) == list(map(str, vb)), col


def test_dbf_types_roundtrip(tmp_path):
    attrs = pd.DataFrame(
        {
            "s": ["a", "longer string", ""],
            "i": np.array([1, -42, 10**12], dtype=np.int64),
            "f": [1.5, -0.000001, 123456.789],
            "b": [True, False, True],
        }
    )
    p = str(tmp_path / "t.dbf")
    write_dbf(p, attrs)
    back = read_dbf(p)
    assert list(back["s"]) == list(attrs["s"])
    assert list(back["i"]) == list(attrs["i"])
    np.testing.assert_allclose(back["f"], attrs["f"], atol=5e-7)
    assert list(back["b"]) == list(attrs["b"])


def test_spark_df_sink_roundtrip(spark, tmp_path):
    """write_shapefile_df → read_shapefile_dir distributed scan parity."""
    import json

    from geokitten_spark.fixtures import admin_polygons_pdf
    from geokitten_spark.sources.kml import read_shapefile_dir, write_shapefile_df

    pdf = admin_polygons_pdf().head(30)[["region_id", "geometry_wkt"]]
    src = spark.createDataFrame(pdf)
    n = write_shapefile_df(src, str(tmp_path / "out" / "regions"))
    assert n == 30
    back = read_shapefile_dir(spark, str(tmp_path / "out")).toPandas()
    assert len(back) == 30
    got = {
        json.loads(a)["region_id"]: w
        for a, w in zip(back["attrs"], back["geometry_wkt"])
    }
    want = {
        str(r["region_id"]): _canon(parse_wkt(r["geometry_wkt"]))
        for _, r in pdf.iterrows()
    }
    assert got == want


def test_dbf_long_column_name_truncates(tmp_path):
    """Column names beyond the 10-char dBASE limit truncate in the field
    descriptor but values still write from the full-name source column."""
    attrs = pd.DataFrame({"a_very_long_column_name": [1, 2], "s": ["x", "y"]})
    p = str(tmp_path / "t.dbf")
    write_dbf(p, attrs)
    back = read_dbf(p)
    assert back.columns.tolist() == ["a_very_lon", "s"]
    assert back["a_very_lon"].tolist() == [1, 2]
