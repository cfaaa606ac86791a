"""GeoTIFF reader for the raster sink tests: parses what
``functions.raster.encode_geotiff`` writes, so the tile tests can
round-trip a rating raster through bytes. Nothing in the package
reads GeoTIFFs back."""

from __future__ import annotations

import struct

from soil_data_development_tools___arcmap_spark.functions.raster import (
    _TIFF_TAGS,
)


def decode_geotiff(buf: bytes) -> dict:
    """Parse what encode_geotiff writes (and any uncompressed
    single-strip uint32 little-endian GeoTIFF): returns width, height,
    values, cell_size, origin, epsg, nodata. The read half of the
    raster seam — a rating raster round-trips through bytes."""
    order, magic, ifd_off = struct.unpack_from("<2sHI", buf, 0)
    if order != b"II" or magic != 42:
        raise ValueError("not a little-endian TIFF")
    (n_entries,) = struct.unpack_from("<H", buf, ifd_off)
    tags = {}
    for i in range(n_entries):
        tag, typ, count, value = struct.unpack_from(
            "<HHII", buf, ifd_off + 2 + 12 * i
        )
        tags[tag] = (typ, count, value)
    T = _TIFF_TAGS
    width = tags[T["ImageWidth"]][2]
    height = tags[T["ImageLength"]][2]
    off = tags[T["StripOffsets"]][2]
    nbytes = tags[T["StripByteCounts"]][2]
    values = list(struct.unpack_from(f"<{nbytes // 4}I", buf, off))
    sx, sy, _ = struct.unpack_from("<3d", buf, tags[T["ModelPixelScale"]][2])
    tie = struct.unpack_from("<6d", buf, tags[T["ModelTiepoint"]][2])
    geo = struct.unpack_from(
        f"<{tags[T['GeoKeyDirectory']][1]}H", buf, tags[T["GeoKeyDirectory"]][2]
    )
    epsg = next(
        (geo[j + 3] for j in range(4, len(geo), 4) if geo[j] == 3072), 0
    )
    t, c, v = tags[T["GdalNodata"]]
    nod = buf[v : v + c].split(b"\x00")[0].decode("ascii")
    return {
        "width": width,
        "height": height,
        "values": values,
        "cell_size": sx,
        "origin_x": tie[3],
        "origin_y": tie[4],
        "epsg": epsg,
        "nodata": int(nod),
    }
