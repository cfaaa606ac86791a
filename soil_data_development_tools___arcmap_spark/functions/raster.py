"""Raster lookup-code assignment — the portable core of the
mapunit-raster export (SSURGO_ExportMuRaster.py:1252-1357).

The reference builds a Lookup table mapping each distinct MUKEY from
the soil-polygon layer to a raster CELLVALUE (sorted-distinct cursor
insert, :1288-1300), then joins it back to assign cell values. The
rasterization itself is GIS-bound (out of scope per SURVEY §2.1);
this code assignment + join IS portable and is what a tabular user
needs to interpret an existing raster.

Scale note: the lookup is one global window over the DISTINCT keys —
a single-task sort by design, safe because the key inventory is tiny
relative to the fact data (CONUS ≈ 300k map units) and it runs AFTER
the distinct's full shuffle reduction. The fact-side join is a
broadcast of that lookup — no shuffle of the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def mukey_lookup(df: DataFrame, key: str = "mukey", dense: bool = True) -> DataFrame:
    """(cellvalue, mukey) lookup over the distinct keys of ``df``.

    ``dense=True``: sequential 1-based codes via dense_rank in key
    order — the general form (works for the TEXT mukeys SSURGO
    actually ships, keeps the raster value range minimal).
    ``dense=False``: cellvalue = the numeric key itself, exactly the
    reference's insert loop (:1297-1300)."""
    keys = df.select(key).distinct()
    if not dense:
        return keys.select(
            F.col(key).cast("long").alias("cellvalue"), F.col(key)
        )
    w = Window.orderBy(F.col(key).asc())
    return keys.select(
        F.dense_rank().over(w).cast("long").alias("cellvalue"), F.col(key)
    )


def attach_cellvalues(
    fact: DataFrame, lookup: DataFrame, key: str = "mukey"
) -> DataFrame:
    """Join the lookup onto a fact table (the raster attribute
    assignment). The lookup side is explicitly broadcast — it is the
    distinct-key inventory, always tiny next to the fact side."""
    return fact.join(F.broadcast(lookup), key)


#: auto-redistribute decisions keyed by (input semanticHash, params) —
#: see the cache note inside polygon_cell_inventory
_REDISTRIBUTE_DECISIONS: dict[tuple, bool] = {}


def polygon_cell_inventory(
    polys: DataFrame,
    wkt_col: str = "wkt",
    cell_size: int = 2,
    tile_cells: int = 64,
    redistribute: bool | None = None,
    redistribute_tile_threshold: int = 256,
) -> DataFrame:
    """Real polygon→cell rasterization — ``PolygonToRaster …
    CELL_CENTER`` (SSURGO_ExportMuRaster.py:1434): every lattice cell
    whose CENTER lies inside the polygon belongs to it. Replaces the
    synthetic per-mukey cell inventory (round ≤10) with containment
    derived from the geometry itself.

    Two-level explode, no shuffle:

    1. bbox → TILE explode: the polygon's vertex bbox (parsed from the
       WKT across all rings of all parts) snaps to a coarse tile grid
       of ``tile_cells`` × ``tile_cells`` cells; one row per
       (polygon, tile). This is the 100 TB row-blow-up guard: a
       CONUS-sized polygon becomes many bounded (polygon, tile) rows
       that spread across tasks instead of one task exploding an
       unbounded cell range — the same salt/tile discipline as
       ``banded_buckets`` in dedup.
    2. tile → CELL: cells inside tile ∩ bbox (≤ tile_cells² per input
       row, a hard per-row bound) whose centers satisfy
       ``point_in_geom(wkt, cx, cy) = 1`` (even-odd across all rings,
       so lake cells drop and multipart mapunits work in one pass),
       computed by the mapInArrow scanline kernel
       ``arrowgeom.inventory_cells`` rather than a per-cell fold.

    Exactness contract: with geometry vertices on the EVEN integer
    grid and an even ``cell_size``, centers land on ODD integers —
    never edge-incident — so every containment decision is exact
    BIGINT arithmetic (the same even-grid/odd-probe discipline as the
    select-by-location queries). Coordinates must be ≥ 0 (integral
    truncating division = floor): a negative vertex raises at runtime
    instead of yielding wrong cells. Output: input columns (minus the
    WKT) + (tile_x, tile_y, col, row, cx, cy), one row per cell.

    ``redistribute=True`` adds ONE hash exchange on (tile_x, tile_y)
    between the tile and cell explodes — the SKEW escape hatch: the
    default map-only plan keeps each polygon's tiles in its input
    split, so a layer dominated by a few giant polygons serializes
    their cell explodes onto few tasks; redistribution spreads a
    giant polygon's tiles across the cluster at the cost of
    shuffling the (polygon, tile) rows (each still carries the WKT —
    only worth it when per-polygon tile counts are very skewed).

    ``redistribute=None`` (the default) decides AUTOMATICALLY: one
    cheap pre-explode aggregate computes the maximum per-polygon tile
    count from the bbox arithmetic alone (no explode, no containment
    test — just the parsed vertex min/max), and the exchange turns on
    iff that max is ≥ ``redistribute_tile_threshold`` tiles (a
    ≥ threshold·tile_cells² cell explode for one input row). This
    closes the scale trap where a single-split input with one giant
    polygon silently serializes the whole rasterization onto one task
    unless the caller remembered the flag; pass an explicit bool to
    override the heuristic either way."""
    from .geometry import parse_geom_rings, rings_to_edges

    half = cell_size // 2
    # parse the WKT ONCE per polygon (regex/split/cast) — every cell
    # row downstream tests containment against the parsed arrays; at
    # ~100 cells/polygon re-parsing per cell would burn ~100× the
    # parse cost for identical results
    parsed = polys.withColumn(
        "_rings", parse_geom_rings(F.col(wkt_col))
    ).drop(wkt_col)
    pts = F.flatten(F.col("_rings"))
    xs = F.transform(pts, lambda p: p["x"])
    ys = F.transform(pts, lambda p: p["y"])

    def first_index(vs: Column, axis: str) -> Column:
        # the ≥ 0 contract fails LOUDLY (same raise_error pattern as
        # parse_geom_rings' integer-grid contract, no extra job): the
        # truncating divisions here and the scanline kernel's index
        # math are floor only for non-negative coordinates
        lo = F.array_min(vs)
        return F.when(
            lo < 0,
            F.raise_error(
                F.concat(
                    F.lit(
                        "polygon_cell_inventory: negative " + axis
                        + " coordinate "
                    ),
                    lo.cast("string"),
                    F.lit(" (coordinates must be >= 0)"),
                )
            ).cast("long"),
        ).otherwise(((lo - half + cell_size - 1) / cell_size).cast("long"))

    # candidate center indices: center(i) = i·cs + cs/2 ∈ [min, max]
    with_bbox = parsed.withColumn(
        "_i0", first_index(xs, "x")
    ).withColumn(
        "_i1", ((F.array_max(xs) - half) / cell_size).cast("long")
    ).withColumn(
        "_j0", first_index(ys, "y")
    ).withColumn(
        "_j1", ((F.array_max(ys) - half) / cell_size).cast("long")
    )
    t = F.lit(tile_cells)

    # degenerate-bbox guard: with cell_size > 2 a polygon bbox may
    # straddle no cell CENTER along an axis (_i0 > _i1); Spark's
    # sequence(start, stop) DESCENDS when start > stop, which would
    # emit spurious out-of-bbox rows saved only by the containment
    # filter. Emit an empty sequence by construction instead.
    def seq(lo: Column, hi: Column) -> Column:
        return F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<long>")
        )

    # per-polygon tile count from bbox arithmetic alone (pre-explode)
    n_tiles = F.when(
        (F.col("_i0") <= F.col("_i1")) & (F.col("_j0") <= F.col("_j1")),
        ((F.col("_i1") / t).cast("long") - (F.col("_i0") / t).cast("long") + 1)
        * ((F.col("_j1") / t).cast("long") - (F.col("_j0") / t).cast("long") + 1),
    ).otherwise(F.lit(0))
    if redistribute is None:
        # decision cache keyed on the input's SEMANTIC plan hash: the
        # pre-pass costs a full WKT-parse scan (~24% on a uniform 1.5M
        # layer — SCALING.md), so repeat builds over the same logical
        # input (bench steady passes, iterative notebooks, the
        # composed queries that call this twice) pay it once. A
        # 32-bit collision would only flip the EXCHANGE decision —
        # plan shape, never results — and the explicit-bool override
        # bypasses the cache entirely.
        key = None
        try:
            key = (
                polys.semanticHash(), wkt_col, cell_size, tile_cells,
                redistribute_tile_threshold,
            )
        except Exception:
            pass
        if key is not None and key in _REDISTRIBUTE_DECISIONS:
            redistribute = _REDISTRIBUTE_DECISIONS[key]
        else:
            mx = with_bbox.select(F.max(n_tiles).alias("m")).first()["m"]
            redistribute = (
                mx is not None and mx >= redistribute_tile_threshold
            )
            if key is not None:
                # bound the cache for long-lived drivers: entries are
                # tiny but a notebook building thousands of distinct
                # inputs shouldn't leak — dropping ALL simply re-runs
                # the pre-pass on the next auto call
                if len(_REDISTRIBUTE_DECISIONS) >= 1024:
                    _REDISTRIBUTE_DECISIONS.clear()
                _REDISTRIBUTE_DECISIONS[key] = redistribute

    # edge structs built ONCE per polygon, BEFORE the tile/cell
    # explodes — the per-cell containment then folds a flat edge array
    # with one aggregate instead of re-running per-cell index chains
    # over the ring arrays (exact same crossing arithmetic; 1.8x on
    # the sf0.1 inventory — optimization r12, see
    # geometry.rings_to_edges)
    with_bbox = with_bbox.withColumn(
        "_edges", rings_to_edges(F.col("_rings"))
    ).drop("_rings")
    tiles = with_bbox.withColumn(
        "tile_x",
        F.explode(seq((F.col("_i0") / t).cast("long"),
                      (F.col("_i1") / t).cast("long"))),
    ).withColumn(
        "tile_y",
        F.explode(seq((F.col("_j0") / t).cast("long"),
                      (F.col("_j1") / t).cast("long"))),
    )
    if redistribute:
        tiles = tiles.repartition("tile_x", "tile_y")
    # optimization r13 (guide §4.2): the tile→cell explode and the
    # per-cell containment fold run as ONE vectorized mapInArrow
    # scanline kernel — bit-identical cells (proof + parity tests:
    # functions/arrowgeom.py, tests/test_round13opt.py), ~O(scanlines
    # × edges + cells) int64 numpy work instead of one interpreted
    # Catalyst aggregate per cell.
    from .arrowgeom import inventory_cells

    return inventory_cells(tiles, cell_size, tile_cells)


# --------------------------------------------------------------------
# NLCD snap-grid alignment (round 10): SSURGO_ExportMuRaster.py:175-335
# SnapToNLCD. The reference aligns every exported raster extent to the
# fixed national 30 m NLCD lattice so CONUS tiles from different runs
# overlay cell-for-cell. The arithmetic is portable integer math:
#   iCol = int((x1 - xNLCD) / 30)          # Python-2 int() = TRUNC
#   x1'  = 30*iCol + xNLCD - 60            # snap + 2-cell buffer
#   nCol = int(round((x2 - x1') / 30)) + 2 # half-up on ints
#   x2'  = 30*nCol + x1'
# (same for rows). The per-region origins are the reference's own
# constants (:225-255). TRUNC (not floor) is the reference's semantic
# for extents below the origin; the -60 buffer absorbs the <=30 m
# trunc/floor discrepancy, so coverage holds either side.

#: (xNLCD, yNLCD) per reference region key (SSURGO_ExportMuRaster.py)
NLCD_SNAP_ORIGINS: dict[str, tuple[int, int]] = {
    "CONUS": (532695, 1550295),
    "Hawaii": (-29805, 839235),
    "Alaska_NAD83": (-368805, 1362465),
    "Alaska_WGS84": (-366405, 2032455),
    "PuertoRico": (197645, 246965),
    "PacBasin": (-2390975, -703265),
}

_NLCD_CELL = 30


def snap_extent_nlcd(
    x1: int, y1: int, x2: int, y2: int, region: str = "CONUS"
) -> tuple[int, int, int, int, int, int]:
    """Python twin of the snap arithmetic (drives tile layout inside
    the sinks): returns (x1', y1', x2', y2', n_cols, n_rows), all
    exact integers on the region's NLCD lattice."""
    xo, yo = NLCD_SNAP_ORIGINS[region]
    c = _NLCD_CELL

    def trunc_div(u: int, d: int) -> int:
        return -((-u) // d) if u < 0 else u // d

    sx = c * trunc_div(x1 - xo, c) + xo - 2 * c
    sy = c * trunc_div(y1 - yo, c) + yo - 2 * c
    ncol = (x2 - sx + c // 2) // c + 2   # round-half-up on ints
    nrow = (y2 - sy + c // 2) // c + 2
    return sx, sy, c * ncol + sx, c * nrow + sy, ncol, nrow


def snap_extent_nlcd_cols(
    x1: Column, y1: Column, x2: Column, y2: Column, region: str = "CONUS"
) -> dict[str, Column]:
    """Column form of ``snap_extent_nlcd`` for distributed per-survey /
    per-tile extent planning. TRUNC division is spelled
    (u - u % d) / d — Spark's % carries the dividend's sign, so the
    quotient truncates toward zero exactly like the reference's
    Python-2 int(); all arithmetic stays integral (exact BIGINT,
    cross-engine hashable)."""
    c = F.lit(_NLCD_CELL)
    xo, yo = NLCD_SNAP_ORIGINS[region]

    def trunc_div(u: Column) -> Column:
        return ((u - u % c) / c).cast("long")

    sx = c * trunc_div(x1 - F.lit(xo)) + F.lit(xo) - 2 * c
    sy = c * trunc_div(y1 - F.lit(yo)) + F.lit(yo) - 2 * c
    # round-half-up on exact ints: (u + 15) div 30, u >= 0 by buffer
    ncol = ((x2 - sx + 15 - (x2 - sx + 15) % c) / c).cast("long") + 2
    nrow = ((y2 - sy + 15 - (y2 - sy + 15) % c) / c).cast("long") + 2
    return {
        "snap_x1": sx.cast("long"),
        "snap_y1": sy.cast("long"),
        "snap_x2": (c * ncol + sx).cast("long"),
        "snap_y2": (c * nrow + sy).cast("long"),
        "n_cols": ncol,
        "n_rows": nrow,
    }


# --------------------------------------------------------------------
# GeoTIFF sink (round 5): the actual raster FILE the reference's
# ExportMuRaster/ExportRasters tools leave to ArcGIS is a plain TIFF
# with three GeoTIFF tags — small enough to emit dependency-free.
# encode_geotiff below writes uncompressed single-band uint32
# GeoTIFF 1.1 (little-endian, one strip), enough for a mapunit or
# rating raster tile (the tests' reader is tests/geotiff.py);
# write_raster_tiles turns a distributed cell
# table into per-tile files on the executors (foreachPartition-style
# via applyInPandas), which is how a 100 TB rasterization actually
# lands — one file per tile, no driver collect of pixels.

import hashlib as _hashlib
import struct as _struct

_TIFF_TAGS = {
    "ImageWidth": 256,
    "ImageLength": 257,
    "BitsPerSample": 258,
    "Compression": 259,
    "Photometric": 262,
    "StripOffsets": 273,
    "SamplesPerPixel": 277,
    "RowsPerStrip": 278,
    "StripByteCounts": 279,
    "SampleFormat": 339,
    "ModelPixelScale": 33550,
    "ModelTiepoint": 33922,
    "GeoKeyDirectory": 34735,
    "GdalNodata": 42113,
}


def encode_geotiff(
    width: int,
    height: int,
    values: list[int],
    origin_x: float = 0.0,
    origin_y: float = 0.0,
    cell_size: float = 30.0,
    epsg: int = 5070,
    nodata: int = 0,
) -> bytes:
    """Uncompressed single-band uint32 GeoTIFF (little-endian, one
    strip, PixelIsArea, north-up affine from origin + square cell).
    ``values`` is row-major, top row first — the exact byte layout the
    reference's 30 m CONUS grids use (gSSURGO_MapunitRaster.xml
    declares EPSG 5070, 30 m cells). Deterministic: same inputs, same
    bytes."""
    if len(values) != width * height:
        raise ValueError(f"need {width * height} values, got {len(values)}")
    pix = _struct.pack(f"<{len(values)}I", *values)
    scale = _struct.pack("<3d", cell_size, cell_size, 0.0)
    # tiepoint: raster (0,0) at model (origin_x, origin_y); north-up
    tiepoint = _struct.pack("<6d", 0.0, 0.0, 0.0, origin_x, origin_y, 0.0)
    # GeoKeys: ModelType=Projected(1), RasterType=PixelIsArea(1),
    # ProjectedCSType=epsg
    geokeys = _struct.pack(
        "<16H",
        1, 1, 0, 3,          # version 1.1.0, 3 keys
        1024, 0, 1, 1,       # GTModelTypeGeoKey = Projected
        1025, 0, 1, 1,       # GTRasterTypeGeoKey = PixelIsArea
        3072, 0, 1, epsg,    # ProjectedCSTypeGeoKey
    )
    nod = (str(nodata) + "\x00").encode("ascii")

    data_off = 8
    off_scale = data_off + len(pix)
    off_tie = off_scale + len(scale)
    off_geo = off_tie + len(tiepoint)
    off_nod = off_geo + len(geokeys)
    ifd_off = off_nod + len(nod)
    if ifd_off % 2:  # IFD must be word-aligned
        nod += b"\x00"
        ifd_off += 1

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return _struct.pack("<HHII", tag, typ, count, value)

    T = _TIFF_TAGS
    entries = [
        entry(T["ImageWidth"], 3, 1, width),
        entry(T["ImageLength"], 3, 1, height),
        entry(T["BitsPerSample"], 3, 1, 32),
        entry(T["Compression"], 3, 1, 1),
        entry(T["Photometric"], 3, 1, 1),
        entry(T["StripOffsets"], 4, 1, data_off),
        entry(T["SamplesPerPixel"], 3, 1, 1),
        entry(T["RowsPerStrip"], 3, 1, height),
        entry(T["StripByteCounts"], 4, 1, len(pix)),
        entry(T["SampleFormat"], 3, 1, 1),
        entry(T["ModelPixelScale"], 12, 3, off_scale),
        entry(T["ModelTiepoint"], 12, 6, off_tie),
        entry(T["GeoKeyDirectory"], 3, 16, off_geo),
        entry(T["GdalNodata"], 2, len(nod), off_nod),
    ]
    ifd = _struct.pack("<H", len(entries)) + b"".join(entries) + b"\x00" * 4
    header = _struct.pack("<2sHI", b"II", 42, ifd_off)
    return header + pix + scale + tiepoint + geokeys + nod + ifd


def write_raster_tiles(
    cells: DataFrame,
    out_dir: str,
    tile_size: int = 16,
    cell_size: float = 30.0,
    epsg: int = 5070,
    snap_region: str | None = None,
) -> DataFrame:
    """Distributed raster export: a (tile_id, row, col, cellvalue) cell
    table becomes one GeoTIFF per tile, ENCODED AND WRITTEN ON THE
    EXECUTORS (applyInPandas per tile — pixels never visit the
    driver); missing cells fill with nodata 0. Returns the manifest
    (tile_id, path, n_pixels, n_nodata, content_md5) the catalog keeps
    per tile. ``out_dir`` must be a shared filesystem in production
    (object store / NFS); local[*] writes to the local path.

    ``snap_region`` (round 10) anchors the tile grid to that region's
    NLCD snap origin (SnapToNLCD, SSURGO_ExportMuRaster.py:175-335):
    tile origins become xNLCD + tile_col·tile_size·cell — every
    decoded GeoTIFF origin then sits on the national 30 m lattice, so
    exports from different runs overlay cell-for-cell (the reference's
    reason for snapping). Requires tile_size·cell_size to be a
    multiple of the 30 m NLCD cell."""
    import os

    import pandas as pd

    if snap_region is not None:
        ox0, oy0 = NLCD_SNAP_ORIGINS[snap_region]
        if (tile_size * cell_size) % _NLCD_CELL:
            raise ValueError(
                "tile stride must be a multiple of the 30 m NLCD cell"
            )
    else:
        ox0, oy0 = 0, 0

    def one_tile(key, pdf):
        (tile_id,) = key
        vals = [0] * (tile_size * tile_size)
        for r, c, v in zip(pdf["row"], pdf["col"], pdf["cellvalue"]):
            vals[int(r) * tile_size + int(c)] = int(v)
        buf = encode_geotiff(
            tile_size,
            tile_size,
            vals,
            origin_x=float(ox0) + float(tile_id % 1000) * tile_size * cell_size,
            origin_y=float(oy0) + float(tile_id // 1000 + 1) * tile_size * cell_size,
            cell_size=cell_size,
            epsg=epsg,
        )
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"tile_{int(tile_id):06d}.tif")
        with open(path, "wb") as fh:
            fh.write(buf)
        return pd.DataFrame(
            {
                "tile_id": [int(tile_id)],
                "path": [path],
                "n_pixels": [len(vals)],
                "n_nodata": [sum(1 for v in vals if v == 0)],
                "content_md5": [_hashlib.md5(buf).hexdigest()],
            }
        )

    return cells.groupBy("tile_id").applyInPandas(
        one_tile,
        "tile_id long, path string, n_pixels int, n_nodata int, content_md5 string",
    )


def block_majority(
    cells: DataFrame,
    factor: int,
    col: str = "col",
    row: str = "row",
    val: str = "cellvalue",
) -> DataFrame:
    """cellFactor MAJORITY block resample of a sparse cell raster —
    the portable core of ``Aggregate(luRas, cellFactor, "MAJORITY",
    "EXPAND", "DATA")`` (gSSURGO_ExportRasters.py:1285) and
    ``BlockStatistics(..., NbrRectangle(f, f, "CELL"), "MAJORITY",
    "DATA")`` (:1192-1193). Input: one row per DATA cell (nodata
    cells simply absent — "DATA" ignore-nodata semantics are
    structural). Output one row per non-empty factor x factor block:

    - ``n_data``            — data cells in the block;
    - ``agg_majority``      — most frequent value, ties to the LOWEST
      (the deterministic Aggregate re-expression);
    - ``blockstat_majority``— same, but the NODATA code 0 on ties
      (the reference's own BlockStatistics footnote: "the majority
      value calculated by BlockStatistics will be NoData for ties").

    Both tie rules come from ONE block-keyed exchange: a tie→lowest
    argbest (max of struct(cnt, -value)) and a tie→highest argbest
    (max of struct(cnt, value)) disagree on the value iff the top
    count is shared — no window, no second shuffle, partial-combined
    on both aggregation levels. Requires non-negative cell indices
    (cast-truncation == floor; the CELL_CENTER inventories guarantee
    it)."""
    c, r, v = F.col(col), F.col(row), F.col(val)
    per_val = (
        cells.withColumn("bcol", (c / factor).cast("long"))
        .withColumn("brow", (r / factor).cast("long"))
        .groupBy("bcol", "brow", val)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    lo = F.max(F.struct(F.col("cnt"), (-F.col(val)).alias("nv")))
    hi = F.max(F.struct(F.col("cnt"), F.col(val).alias("v")))
    return (
        per_val.groupBy("bcol", "brow")
        .agg(F.sum("cnt").alias("n_data"), lo.alias("_lo"), hi.alias("_hi"))
        .select(
            "bcol",
            "brow",
            F.col("n_data").cast("long").alias("n_data"),
            (-F.col("_lo.nv")).cast("long").alias("agg_majority"),
            F.when(-F.col("_lo.nv") == F.col("_hi.v"), -F.col("_lo.nv"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("blockstat_majority"),
        )
    )
