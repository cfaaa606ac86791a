"""Byte-level sinks (round 5): the GeoTIFF raster file and the PDF
report file the reference delegates to ArcGIS, emitted
dependency-free and verified by round-trip / structural parsing."""

from __future__ import annotations

import struct

from geotiff import decode_geotiff

from soil_data_development_tools___arcmap_spark.functions.raster import (
    encode_geotiff,
    write_raster_tiles,
)
from soil_data_development_tools___arcmap_spark.functions.sdv_report import (
    encode_pdf_report,
)


def test_geotiff_roundtrip():
    vals = [(r * 7 + c * 3) % 97 for r in range(5) for c in range(4)]
    buf = encode_geotiff(
        4, 5, vals, origin_x=1500.0, origin_y=9000.0, cell_size=30.0,
        epsg=5070, nodata=0,
    )
    # deterministic bytes
    assert buf == encode_geotiff(
        4, 5, vals, origin_x=1500.0, origin_y=9000.0, cell_size=30.0,
        epsg=5070, nodata=0,
    )
    got = decode_geotiff(buf)
    assert (got["width"], got["height"]) == (4, 5)
    assert got["values"] == vals
    assert got["cell_size"] == 30.0
    assert (got["origin_x"], got["origin_y"]) == (1500.0, 9000.0)
    assert got["epsg"] == 5070 and got["nodata"] == 0


def test_geotiff_structure_is_valid_tiff():
    buf = encode_geotiff(2, 2, [1, 2, 3, 4])
    order, magic, ifd_off = struct.unpack_from("<2sHI", buf, 0)
    assert order == b"II" and magic == 42
    (n,) = struct.unpack_from("<H", buf, ifd_off)
    tags = [
        struct.unpack_from("<HHII", buf, ifd_off + 2 + 12 * i)[0]
        for i in range(n)
    ]
    assert tags == sorted(tags)  # TIFF spec: ascending tag order
    assert 33550 in tags and 33922 in tags and 34735 in tags  # GeoTIFF
    # next-IFD pointer terminates
    (nxt,) = struct.unpack_from("<I", buf, ifd_off + 2 + 12 * n)
    assert nxt == 0


def test_write_raster_tiles_distributed(spark, tmp_path):
    from pyspark.sql import functions as F

    cells = (
        spark.range(4 * 16 * 16)
        .selectExpr(
            "id div 256 AS tile_id",
            "(id % 256) div 16 AS row",
            "id % 16 AS col",
            "CASE WHEN id % 5 = 0 THEN 0 ELSE id % 97 + 1 END AS cellvalue",
        )
        .where("cellvalue > 0")  # sparse cell table; gaps fill nodata
    )
    manifest = {
        r["tile_id"]: r
        for r in write_raster_tiles(cells, str(tmp_path / "tiles")).collect()
    }
    assert len(manifest) == 4
    for tid, r in manifest.items():
        with open(r["path"], "rb") as fh:
            got = decode_geotiff(fh.read())
        assert (got["width"], got["height"]) == (16, 16)
        n_nodata = sum(1 for v in got["values"] if v == 0)
        assert n_nodata == r["n_nodata"] > 0
        assert got["epsg"] == 5070
    # per-tile content differs (distinct pixels + georeferencing)
    assert len({r["content_md5"] for r in manifest.values()}) == 4


def test_pdf_report_bytes():
    pages = [[f"row {i}" for i in range(40)], ["second page only row"]]
    buf = encode_pdf_report("Acreage Report", pages)
    assert buf == encode_pdf_report("Acreage Report", pages)  # deterministic
    assert buf.startswith(b"%PDF-1.4")
    assert buf.rstrip().endswith(b"%%EOF")
    assert buf.count(b"/Type /Page ") == 2  # one object per input page
    assert b"(Acreage Report) Tj" in buf
    assert b"(second page only row) Tj" in buf
    # xref offsets actually point at their objects
    xref_off = int(buf.rsplit(b"startxref\n", 1)[1].split(b"\n")[0])
    assert buf[xref_off : xref_off + 4] == b"xref"
    first = int(buf[xref_off:].split(b"\n")[3].split(b" ")[0])
    assert buf[first : first + 7] == b"1 0 obj"
    # escaping: parentheses in content can't break the text operator
    esc = encode_pdf_report("t", [["a(b)c"]])
    assert rb"(a\(b\)c) Tj" in esc


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    data=st.data(),
    ox=st.floats(-1e7, 1e7, allow_nan=False),
    cell=st.floats(0.1, 1000, allow_nan=False),
)
def test_geotiff_roundtrip_property(w, h, data, ox, cell):
    vals = data.draw(
        st.lists(st.integers(0, 2**32 - 1), min_size=w * h, max_size=w * h)
    )
    buf = encode_geotiff(w, h, vals, origin_x=ox, cell_size=cell)
    got = decode_geotiff(buf)
    assert (got["width"], got["height"]) == (w, h)
    assert got["values"] == vals
    assert got["origin_x"] == ox and got["cell_size"] == cell


@settings(max_examples=60, deadline=None)
@given(
    pages=st.lists(
        st.lists(st.text(min_size=0, max_size=40), min_size=0, max_size=8),
        min_size=1,
        max_size=4,
    )
)
def test_pdf_structure_property(pages):
    buf = encode_pdf_report("T", pages)
    assert buf.startswith(b"%PDF-1.4") and b"%%EOF" in buf
    assert buf.count(b"/Type /Page ") == len(pages)
    # xref table has catalog+pages+font+2*pages objects
    assert f"/Size {3 + 2 * len(pages) + 1}".encode() in buf
