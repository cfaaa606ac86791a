"""Dependency-free ESRI shapefile ingest (SURVEY §1.3 spatial side).

The reference consumes one soil-polygon shapefile per survey area
(soilmu_a_<areasymbol>.shp + .dbf — SSURGO_Convert_to_Geodatabase.py
appends them into the gSSURGO featureclass;
SSURGO_MergeSoilShapefilesbyAreasymbol.py merges them directly). The
formats are public and simple (ESRI Shapefile Technical Description,
July 1998): .shp = 100-byte header + polygon records (bbox, part
offsets, xy doubles), .dbf = dBase III fixed-width attribute rows.

Spark-first shape: `read_shapefiles` lists the .shp/.dbf pairs,
parallelizes the FILE LIST, and parses each pair inside
``mapInPandas`` — per-survey files are the natural unit of work (3k+
files for CONUS), so the parse scales with files, pixels never visit
the driver, and the output is a plain DataFrame (areasymbol attrs +
exterior-ring WKT) that feeds the existing geometry operators
(acreage_geom shoelace, point_in_geom, clip, tile partitioning).

The writer exists to round-trip the reader in tests and to emit
shapefiles for consumers that still want them — same byte-determinism
policy as the GeoTIFF/PDF sinks.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame, SparkSession

SHP_POINT = 1
SHP_POLYLINE = 3
SHP_POLYGON = 5


def encode_shp(polygons: list[list[tuple[float, float]]]) -> bytes:
    """Polygon .shp bytes: one single-ring polygon record per input
    ring (closed automatically; ESRI wants exterior rings clockwise —
    callers pass any orientation, consumers here use even-odd tests)."""
    records = []
    for i, ring in enumerate(polygons, start=1):
        pts = list(ring)
        if pts[0] != pts[-1]:
            pts.append(pts[0])
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        content = struct.pack("<i", SHP_POLYGON)
        content += struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
        content += struct.pack("<2i", 1, len(pts))  # numParts, numPoints
        content += struct.pack("<i", 0)  # part 0 starts at point 0
        for x, y in pts:
            content += struct.pack("<2d", x, y)
        records.append(
            struct.pack(">2i", i, len(content) // 2) + content
        )
    body = b"".join(records)
    all_pts = [p for ring in polygons for p in ring]
    xs = [p[0] for p in all_pts]
    ys = [p[1] for p in all_pts]
    header = struct.pack(">i", 9994) + b"\x00" * 20
    header += struct.pack(">i", (100 + len(body)) // 2)
    header += struct.pack("<2i", 1000, SHP_POLYGON)
    header += struct.pack(
        "<8d", min(xs), min(ys), max(xs), max(ys), 0.0, 0.0, 0.0, 0.0
    )
    return header + body


def decode_shp(buf: bytes) -> list[list[list[tuple[float, float]]]]:
    """Parse polygon .shp bytes → per-record list of rings (each ring a
    list of (x, y)). Null shapes (type 0) yield empty ring lists."""
    (code,) = struct.unpack_from(">i", buf, 0)
    if code != 9994:
        raise ValueError("not a shapefile (.shp)")
    out = []
    off = 100
    while off < len(buf):
        _recno, clen = struct.unpack_from(">2i", buf, off)
        off += 8
        end = off + clen * 2
        (stype,) = struct.unpack_from("<i", buf, off)
        if stype == 0:
            out.append([])
        elif stype == SHP_POINT:
            # special-feature points (soilsf_p_*): one single-point "ring"
            out.append([[struct.unpack_from("<2d", buf, off + 4)]])
        elif stype in (SHP_POLYLINE, SHP_POLYGON):
            # identical part/point layout; a polyline's parts are open
            n_parts, n_pts = struct.unpack_from("<2i", buf, off + 36)
            parts = list(
                struct.unpack_from(f"<{n_parts}i", buf, off + 44)
            ) + [n_pts]
            pts_off = off + 44 + 4 * n_parts
            pts = [
                struct.unpack_from("<2d", buf, pts_off + 16 * i)
                for i in range(n_pts)
            ]
            out.append(
                [pts[parts[j]: parts[j + 1]] for j in range(n_parts)]
            )
        else:
            raise ValueError(f"unsupported shape type {stype}")
        off = end
    return out


def encode_dbf(fields: list[tuple[str, int]], rows: list[list[str]]) -> bytes:
    """dBase III .dbf with character fields only (SSURGO attribute
    tables ship keys/symbols as text; numerics ride as digits)."""
    n_rec = len(rows)
    rec_size = 1 + sum(w for _, w in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    out = bytearray()
    out += struct.pack(
        "<B3BIHH20x", 0x03, 99, 1, 1, n_rec, hdr_size, rec_size
    )
    for name, width in fields:
        out += struct.pack(
            "<11sc4xBB14x", name.upper().encode("ascii")[:11], b"C", width, 0
        )
    out += b"\x0d"
    for row in rows:
        out += b" "  # not deleted
        for (name, width), val in zip(fields, row):
            out += ("" if val is None else str(val)).ljust(width)[:width].encode(
                "cp1252"
            )
    out += b"\x1a"
    return bytes(out)


def decode_dbf(buf: bytes) -> tuple[list[str], list[list[str]]]:
    """Parse .dbf → (field names, rows of stripped strings); deleted
    rows (flag ``*``) are skipped like every dBase consumer does."""
    n_rec, hdr_size, rec_size = struct.unpack_from("<IHH", buf, 4)
    fields = []
    off = 32
    while buf[off] != 0x0D:
        name = buf[off : off + 11].split(b"\x00")[0].decode("ascii")
        width = buf[off + 16]
        fields.append((name, width))
        off += 32
    rows = []
    off = hdr_size
    for _ in range(n_rec):
        rec = buf[off : off + rec_size]
        off += rec_size
        if rec[:1] == b"*":
            continue
        vals = []
        p = 1
        for _name, width in fields:
            vals.append(rec[p : p + width].decode("cp1252").strip())
            p += width
        rows.append(vals)
    return [n for n, _ in fields], rows


def ring_to_wkt(ring: list[tuple[float, float]]) -> str:
    pts = list(ring)
    if pts and pts[0] != pts[-1]:
        pts.append(pts[0])
    inner = ", ".join(f"{x:g} {y:g}" for x, y in pts)
    return f"POLYGON (({inner}))"


def write_shapefile(
    path_stem: str,
    fields: list[tuple[str, int]],
    rows: list[list[str]],
    polygons: list[list[tuple[float, float]]],
) -> None:
    """Emit <stem>.shp + <stem>.dbf for one survey area."""
    with open(path_stem + ".shp", "wb") as fh:
        fh.write(encode_shp(polygons))
    with open(path_stem + ".dbf", "wb") as fh:
        fh.write(encode_dbf(fields, rows))


def read_shapefiles(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Distributed shapefile ingest: the .shp path LIST parallelizes
    (one task unit per survey file — the CONUS build's natural
    partitioning), each task parses its .shp + sibling .dbf with the
    pure codecs above and emits (path, rec_no, attrs..., wkt) rows.
    Output columns: src (file stem), rec_no, every dbf field (as
    string), and the exterior-ring WKT the geometry operators consume.

    Scale: parse cost ∝ bytes per file, distributed across the file
    inventory; no driver-side geometry. A single pathological
    multi-GB shapefile would bound one task — SSURGO ships per-survey
    files, so the unit is naturally sized."""
    import pandas as pd

    field_names: list[str] = []
    if paths:
        with open(os.path.splitext(paths[0])[0] + ".dbf", "rb") as fh:
            field_names, _ = decode_dbf(fh.read())
    schema = (
        "src string, rec_no int, "
        + ", ".join(f"{n.lower()} string" for n in field_names)
        + ", wkt string"
    )

    pdf_paths = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(max(len(paths), 1))

    def parse(batches):
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                stem = os.path.splitext(p)[0]
                with open(stem + ".shp", "rb") as fh:
                    shapes = decode_shp(fh.read())
                with open(stem + ".dbf", "rb") as fh:
                    names, recs = decode_dbf(fh.read())
                for i, (shape, rec) in enumerate(zip(shapes, recs), start=1):
                    wkt = ring_to_wkt(shape[0]) if shape else None
                    rows.append(
                        [os.path.basename(stem), i, *rec, wkt]
                    )
            yield pd.DataFrame(
                rows, columns=["src", "rec_no", *field_names, "wkt"]
            ).rename(columns={n: n.lower() for n in field_names})

    return pdf_paths.mapInPandas(parse, schema)
