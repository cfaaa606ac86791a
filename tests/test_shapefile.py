"""Shapefile ingest: pure-codec round-trips and the distributed
reader feeding the geometry operators."""

from __future__ import annotations

import os

from soil_data_development_tools___arcmap_spark.sources.shapefile import (
    decode_dbf,
    decode_shp,
    encode_dbf,
    encode_shp,
    read_shapefiles,
    write_shapefile,
)


def test_shp_roundtrip():
    rings = [
        [(0.0, 0.0), (10.0, 0.0), (10.0, 4.0), (0.0, 4.0)],
        [(100.0, 100.0), (106.0, 100.0), (103.0, 105.0)],
    ]
    buf = encode_shp(rings)
    assert buf == encode_shp(rings)  # deterministic
    shapes = decode_shp(buf)
    assert len(shapes) == 2
    # rings come back closed
    assert shapes[0][0][0] == shapes[0][0][-1] == (0.0, 0.0)
    assert shapes[0][0][:4] == [(0.0, 0.0), (10.0, 0.0), (10.0, 4.0), (0.0, 4.0)]
    assert shapes[1][0][2] == (103.0, 105.0)


def test_dbf_roundtrip_cp1252_and_deleted():
    fields = [("AREASYMBOL", 20), ("MUSYM", 6), ("MUKEY", 30)]
    rows = [["IA001", "55B", "409914"], ["NE137’", "W", "757"]]
    buf = encode_dbf(fields, rows)
    names, got = decode_dbf(buf)
    assert names == ["AREASYMBOL", "MUSYM", "MUKEY"]
    assert got == rows
    # a deleted row (flag '*') is skipped by the reader
    hacked = bytearray(buf)
    rec_size = 1 + 20 + 6 + 30
    hdr_size = 32 + 32 * 3 + 1
    hacked[hdr_size] = ord("*")
    _, got2 = decode_dbf(bytes(hacked))
    assert got2 == rows[1:]


def test_read_shapefiles_distributed(spark, tmp_path):
    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.functions.geometry import (
        point_in_geom,
    )

    fields = [("AREASYMBOL", 20), ("MUSYM", 6), ("MUKEY", 30)]
    for i, sym in enumerate(["IA001", "NE137"]):
        stem = str(tmp_path / f"soilmu_a_{sym.lower()}")
        write_shapefile(
            stem,
            fields,
            [[sym, f"M{i}", str(1000 + i)], [sym, f"N{i}", str(2000 + i)]],
            [
                [(0.0 + i * 100, 0.0), (10.0 + i * 100, 0.0),
                 (10.0 + i * 100, 4.0), (0.0 + i * 100, 4.0)],
                [(50.0 + i * 100, 50.0), (54.0 + i * 100, 50.0),
                 (54.0 + i * 100, 54.0), (50.0 + i * 100, 54.0)],
            ],
        )
    paths = sorted(str(p) for p in tmp_path.glob("*.shp"))
    df = read_shapefiles(spark, paths)
    rows = df.collect()
    assert len(rows) == 4
    assert {r["areasymbol"] for r in rows} == {"IA001", "NE137"}
    assert all(r["wkt"].startswith("POLYGON ((") for r in rows)
    # the WKT feeds the existing ray-cast: centers are inside,
    # far-away probes are not
    checked = df.select(
        "mukey",
        point_in_geom(F.col("wkt"), F.lit(5), F.lit(1)).alias("inside_a"),
        point_in_geom(F.col("wkt"), F.lit(-999), F.lit(-999)).alias("out"),
    ).collect()
    assert all(r["out"] == 0 for r in checked)
    assert sum(r["inside_a"] for r in checked) == 1  # only IA001's first poly


def test_decode_point_and_polyline_records():
    """The other SSURGO shapefile types: special-feature points
    (soilsf_p) and lines (soilsl) — same part/point layout for
    polylines, single coordinate for points."""
    import struct

    from soil_data_development_tools___arcmap_spark.sources.shapefile import (
        SHP_POINT,
        SHP_POLYLINE,
    )

    pt = struct.pack("<i2d", SHP_POINT, 3.5, -2.25)
    line_pts = [(0.0, 0.0), (5.0, 5.0), (9.0, 2.0)]
    line = struct.pack("<i", SHP_POLYLINE)
    line += struct.pack("<4d", 0, 0, 9, 5)
    line += struct.pack("<2i", 1, 3) + struct.pack("<i", 0)
    for x, y in line_pts:
        line += struct.pack("<2d", x, y)
    body = (
        struct.pack(">2i", 1, len(pt) // 2) + pt
        + struct.pack(">2i", 2, len(line) // 2) + line
    )
    header = struct.pack(">i", 9994) + b"\x00" * 20
    header += struct.pack(">i", (100 + len(body)) // 2)
    header += struct.pack("<2i", 1000, SHP_POINT)
    header += struct.pack("<8d", 0, -2.25, 9, 5, 0, 0, 0, 0)
    shapes = decode_shp(header + body)
    assert shapes[0] == [[(3.5, -2.25)]]
    assert shapes[1] == [line_pts]


from hypothesis import given, settings
from hypothesis import strategies as st

coord = st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False)


@settings(max_examples=60, deadline=None)
@given(
    rings=st.lists(
        st.lists(st.tuples(coord, coord), min_size=3, max_size=12),
        min_size=1,
        max_size=5,
    )
)
def test_shp_roundtrip_property(rings):
    shapes = decode_shp(encode_shp(rings))
    assert len(shapes) == len(rings)
    for ring, shape in zip(rings, shapes):
        closed = ring + [ring[0]] if ring[0] != ring[-1] else ring
        assert shape[0] == closed


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(
                    min_codepoint=32, max_codepoint=126
                ),
                max_size=10,
            ),
            min_size=2,
            max_size=2,
        ),
        min_size=0,
        max_size=6,
    )
)
def test_dbf_roundtrip_property(rows):
    fields = [("A", 12), ("B", 12)]
    names, got = decode_dbf(encode_dbf(fields, rows))
    assert names == ["A", "B"]
    assert got == [[v.strip() for v in r] for r in rows]
