"""WKB interop: WKT⇄WKB round-trips on the reference's own fixtures, both
byte orders on read, and the BinaryType → ring-columns Spark decode path.
"""

import os
import struct

import numpy as np
import pytest

from geo_spark.geometry.wkb import parse_wkb, polygon_from_wkb, to_wkb
from geo_spark.geometry.wkt import parse_wkt

FIXTURES = "/root/reference/geo-test-fixtures/fixtures"


def _eq(g1, g2):
    k1, d1 = g1
    k2, d2 = g2
    assert k1 == k2
    if k1 == "Point":
        assert (np.asarray(d1) == np.asarray(d2)).all()
    elif k1 == "LineString":
        assert (np.asarray(d1) == np.asarray(d2)).all()
    elif k1 == "Polygon":
        assert len(d1) == len(d2)
        for r1, r2 in zip(d1, d2):
            assert (np.asarray(r1) == np.asarray(r2)).all()
    else:
        assert len(d1) == len(d2)
        for m1, m2 in zip(d1, d2):
            _eq((k1[5:], m1), (k2[5:], m2))


def test_roundtrip_simple_kinds():
    cases = [
        ("Point", np.array([1.5, -2.25])),
        ("LineString", np.array([(0.0, 0.0), (1.0, 2.0), (3.5, -1.0)])),
        ("Polygon", [np.array([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], float),
                     np.array([(1, 1), (1, 2), (2, 2), (2, 1), (1, 1)], float)]),
        ("MultiPoint", [np.array([0.0, 1.0]), np.array([2.0, 3.0])]),
        ("MultiLineString", [np.array([(0, 0), (1, 1)], float),
                             np.array([(2, 2), (3, 3), (4, 4)], float)]),
        ("MultiPolygon", [[np.array([(0, 0), (1, 0), (1, 1), (0, 0)], float)],
                          [np.array([(5, 5), (6, 5), (6, 6), (5, 5)], float)]]),
    ]
    for g in cases:
        _eq(parse_wkb(to_wkb(g)), g)


def test_big_endian_read():
    # hand-built big-endian POINT(1 2)
    buf = bytes([0]) + struct.pack(">I", 1) + struct.pack(">dd", 1.0, 2.0)
    kind, data = parse_wkb(buf)
    assert kind == "Point" and data[0] == 1.0 and data[1] == 2.0


@pytest.mark.skipif(not os.path.isdir(FIXTURES), reason="reference fixtures absent")
def test_roundtrip_reference_fixtures():
    for name in ("louisiana.wkt", "norway_main.wkt", "poly1.wkt"):
        path = os.path.join(FIXTURES, name)
        if not os.path.exists(path):
            continue
        g = parse_wkt(open(path).read())
        _eq(parse_wkb(to_wkb(g)), g)  # byte-exact coordinates


def test_polygon_from_wkb_spark(spark):
    from pyspark.sql import functions as F

    ring = np.array([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)], float)
    hole = np.array([(4, 4), (4, 6), (6, 6), (6, 4), (4, 4)], float)
    tri = np.array([(1, 1), (2, 1), (1, 2), (1, 1)], float)  # holes of unequal length
    wkb = to_wkb(("Polygon", [ring, hole]))
    wkb2 = to_wkb(("Polygon", [ring, hole, tri]))
    df = spark.createDataFrame(
        [(1, bytearray(wkb)), (2, None), (3, bytearray(wkb2))], "id long, wkb binary"
    )
    out = df.select("id", polygon_from_wkb("wkb").alias("g")).collect()
    g = out[0]["g"]
    assert [(c["x"], c["y"]) for c in g["exterior"]] == [tuple(p) for p in ring]
    assert [(c["x"], c["y"]) for c in g["interiors"][0]] == [tuple(p) for p in hole]
    assert out[1]["g"] is None
    g = out[2]["g"]
    assert [[(c["x"], c["y"]) for c in r] for r in g["interiors"]] == [
        [tuple(p) for p in h] for h in (hole, tri)
    ]


def test_parse_geometrycollection():
    g = parse_wkt(
        "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1), "
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)))"
    )
    assert g[0] == "GeometryCollection" and len(g[1]) == 3
    assert [m[0] for m in g[1]] == ["Point", "LineString", "Polygon"]
    assert parse_wkt("GEOMETRYCOLLECTION EMPTY") == ("GeometryCollection", [])
    nested = parse_wkt("GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POINT (1 1)))")
    assert nested[1][0][0] == "GeometryCollection"


def test_ewkb_srid_flag_is_skipped():
    # PostGIS EWKB: type word 0x20000001 (POINT | SRID flag) + SRID=4326
    buf = struct.pack("<BIIdd", 1, 0x20000001, 4326, 1.0, 2.0)
    kind, data = parse_wkb(buf)
    assert kind == "Point" and data[0] == 1.0 and data[1] == 2.0


def test_ewkb_z_m_dimensions_are_stripped():
    # EWKB Z linestring: extra double per point must be consumed, not
    # smeared into the next point's x
    buf = struct.pack("<BII", 1, 0x80000002, 2) + struct.pack(
        "<6d", 1.0, 2.0, 9.0, 3.0, 4.0, 9.5
    )
    kind, data = parse_wkb(buf)
    assert kind == "LineString"
    assert data.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    # EWKB ZM point with SRID: 0xE0000001
    buf = struct.pack("<BIIdddd", 1, 0xE0000001, 3857, 5.0, 6.0, 1.0, 2.0)
    kind, data = parse_wkb(buf)
    assert kind == "Point" and data[0] == 5.0 and data[1] == 6.0


def test_iso_wkb_1000_offset_codes():
    # ISO/SQL-MM: 1001 = POINT Z, 2002 = LINESTRING M, 3001 = POINT ZM
    buf = struct.pack("<BIddd", 1, 1001, 1.0, 2.0, 3.0)
    assert parse_wkb(buf)[1].tolist() == [1.0, 2.0]
    buf = struct.pack("<BII", 1, 2002, 2) + struct.pack("<6d", 1, 2, 0, 3, 4, 0)
    assert parse_wkb(buf)[1].tolist() == [[1.0, 2.0], [3.0, 4.0]]
    buf = struct.pack("<BIdddd", 1, 3001, 7.0, 8.0, 0.0, 0.0)
    assert parse_wkb(buf)[1].tolist() == [7.0, 8.0]


def test_geometrycollection_roundtrip():
    gc = parse_wkt(
        "GEOMETRYCOLLECTION(POINT(1 2),LINESTRING(0 0,1 1),"
        "POLYGON((0 0,4 0,4 4,0 4,0 0)),"
        "GEOMETRYCOLLECTION(POINT(9 9),MULTIPOINT((1 1),(2 2))))"
    )
    kind, members = parse_wkb(to_wkb(gc))
    assert kind == "GeometryCollection" and len(members) == 4
    assert members[0][0] == "Point" and members[0][1].tolist() == [1.0, 2.0]
    assert members[2][0] == "Polygon"
    nk, nm = members[3]
    assert nk == "GeometryCollection" and len(nm) == 2
    assert nm[1][0] == "MultiPoint"
    # byte-exact re-encode (write is canonical little-endian)
    assert to_wkb((kind, members)) == to_wkb(gc)
