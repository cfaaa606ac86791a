"""Round-13 optimization parity tests: the mapInArrow geometry
kernels (functions/arrowgeom.py) must be BIT-IDENTICAL to the Column
formulations they replace — same cells, same containment decisions,
same clipped areas and serialized WKT — over adversarial geometry the
production queries never reach (self-intersecting rings, holes,
multipart, centers exactly on edges/vertices, degenerate <3-vertex
rings, empty clips)."""

import random
import re

import pytest
from pyspark.sql import functions as F

from soil_data_development_tools___arcmap_spark.functions import arrowgeom
from soil_data_development_tools___arcmap_spark.functions.geometry import (
    clip_ring,
    normalize_ring,
    parse_geom_rings,
    point_in_edges,
    rect_halfplanes,
    ring_area2x,
    ring_to_wkt,
    rings_to_edges,
    _let,
)


def _random_ring(rng, n, span=20, grid=1):
    return [
        (rng.randrange(0, span) * grid, rng.randrange(0, span) * grid)
        for _ in range(n)
    ]


def _ring_wkt(pts):
    closed = list(pts) + [pts[0]]
    return "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in closed) + "))"


def _column_inventory(df, cs, tc):
    """Column reference for the scanline kernel: explode every cell
    whose center lies in the polygon's vertex bbox, keep the centers
    ``point_in_edges`` counts inside, and derive the owning tile from
    the cell index (coordinates are >= 0 here)."""
    half = cs // 2
    rings = parse_geom_rings("wkt")
    pts = F.flatten(rings)

    def centers(axis):
        vs = F.transform(pts, lambda p: p[axis])
        lo = F.ceil((F.array_min(vs) - half) / cs)
        hi = F.floor((F.array_max(vs) - half) / cs)
        return F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<bigint>")
        )

    cells = (
        df.select("k", rings_to_edges(rings).alias("edges"),
                  centers("x").alias("cols"), centers("y").alias("rows"))
        .withColumn("col", F.explode("cols"))
        .withColumn("row", F.explode("rows"))
        .withColumn("cx", F.col("col") * cs + half)
        .withColumn("cy", F.col("row") * cs + half)
    )
    return cells.where(
        point_in_edges(F.col("edges"), F.col("cx"), F.col("cy")) == 1
    ).select(
        "k",
        F.floor(F.col("col") / tc).alias("tile_x"),
        F.floor(F.col("row") / tc).alias("tile_y"),
        "col", "row", "cx", "cy",
    )


def test_inventory_kernel_matches_column_adversarial(spark):
    """Scanline kernel vs the Column point_in_edges cell inventory:
    random integer polygons (self-intersecting allowed — the even-odd
    rule is defined for any edge set), rings with holes, MULTIPOLYGON,
    diagonal edges whose cells centers lie exactly ON the edge, and
    degenerate rings. Exact same (poly, col, row) cell set required."""
    from soil_data_development_tools___arcmap_spark.functions.raster import (
        polygon_cell_inventory,
    )

    rng = random.Random(13)
    wkts = []
    # random (often self-intersecting) rings on mixed odd/even ints
    for i in range(40):
        pts = _random_ring(rng, rng.randrange(3, 9))
        wkts.append(_ring_wkt(pts))
    # diagonal edge passing exactly through cell centers (1,1), (3,3)
    wkts.append("POLYGON ((0 0, 4 4, 4 0, 0 0))")
    # square with hole; center of the hole must drop
    wkts.append("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
                "(4 4, 6 4, 6 6, 4 6, 4 4))")
    # multipart
    wkts.append("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), "
                "((10 10, 14 10, 14 14, 10 14, 10 10)))")
    # degenerate: <3 vertices after parse
    wkts.append("POLYGON ((2 2, 2 2, 2 2))")
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(wkts)], "k int, wkt string"
    )

    def rows(out):
        return sorted(
            (r["k"], r["tile_x"], r["tile_y"], r["col"], r["row"],
             r["cx"], r["cy"])
            for r in out.collect()
        )

    n_kernel = 0
    for cs, tc in ((2, 4), (2, 8), (4, 4)):
        a = rows(polygon_cell_inventory(df, cell_size=cs, tile_cells=tc))
        b = rows(_column_inventory(df, cs, tc))
        assert a == b, (cs, tc, len(a), len(b))
        n_kernel = max(n_kernel, len(a))
    assert n_kernel > 100  # non-vacuous


@pytest.mark.parametrize("redistribute", [None, False])
def test_inventory_rejects_negative_coordinates(spark, redistribute):
    """The >= 0 coordinate contract fails loudly with a message naming
    it — never a numpy error out of the scanline kernel, never a
    silently empty (or wrong) cell set."""
    from soil_data_development_tools___arcmap_spark.functions.raster import (
        polygon_cell_inventory,
    )

    for wkt in (
        "POLYGON ((-15 1, -13 1, -13 9, -15 9, -15 1))",
        "POLYGON ((-31 -7, -3 -7, -3 -1, -31 -1, -31 -7))",
    ):
        df = spark.createDataFrame([(1, wkt)], "k int, wkt string")
        with pytest.raises(Exception) as ei:
            polygon_cell_inventory(
                df, tile_cells=4, redistribute=redistribute
            ).collect()
        msg = str(ei.value)
        assert "coordinates must be >= 0" in msg, msg[:2000]
        assert re.search(r"negative [xy] coordinate -\d+", msg), msg[:2000]
        assert "ValueError" not in msg and "bincount" not in msg


def _mk_ring_df(spark, rows):
    """rows: (id, pts, wx0, wy0, wx1, wy1) with pts open-ring float
    tuples → DataFrame with aring array<struct<x,y:double>> + window."""
    data = [
        (i, [(float(x), float(y)) for x, y in pts], *map(int, win))
        for i, pts, *win in [(r[0], r[1], r[2], r[3], r[4], r[5]) for r in rows]
    ]
    return spark.createDataFrame(
        data,
        "id int, aring array<struct<x:double,y:double>>, "
        "bx0 long, by0 long, bx1 long, by1 long",
    )


def _overlay_cases():
    rng = random.Random(77)
    rows = []
    i = 0
    # random integer rings (concave / self-intersecting included)
    for _ in range(50):
        pts = _random_ring(rng, rng.randrange(3, 9))
        x0 = rng.randrange(0, 16); y0 = rng.randrange(0, 16)
        rows.append((i, pts, x0, y0, x0 + rng.randrange(1, 10),
                     y0 + rng.randrange(1, 10)))
        i += 1
    # quarter-integer coordinates (exact in binary; exercises the
    # interpolation and fold order on non-integral doubles)
    for _ in range(30):
        pts = [
            (rng.randrange(0, 64) / 4.0, rng.randrange(0, 64) / 4.0)
            for _ in range(rng.randrange(3, 8))
        ]
        x0 = rng.randrange(0, 12); y0 = rng.randrange(0, 12)
        rows.append((i, pts, x0, y0, x0 + rng.randrange(1, 8),
                     y0 + rng.randrange(1, 8)))
        i += 1
    # disjoint (empty clip), degenerate (2-point ring), edge-touching
    rows.append((i, [(0, 0), (2, 0), (2, 2), (0, 2)], 10, 10, 12, 12)); i += 1
    rows.append((i, [(0, 0), (5, 5)], 0, 0, 8, 8)); i += 1
    rows.append((i, [(0, 0), (4, 0), (4, 4), (0, 4)], 4, 0, 8, 4)); i += 1
    return rows


def test_overlay_kernel_area_matches_column(spark):
    rows = _overlay_cases()
    df = _mk_ring_df(spark, rows)
    kern = {
        r["id"]: r["ov_a2x"]
        for r in arrowgeom.overlay_clip_rect(
            df, "aring", "bx0", "by0", "bx1", "by1", ["id"]
        ).collect()
    }
    col = {
        r["id"]: r["ov_a2x"]
        for r in df.select(
            "id",
            F.round(ring_area2x(clip_ring(F.col("aring"), rect_halfplanes(
                F.col("bx0").cast("double"), F.col("by0").cast("double"),
                F.col("bx1").cast("double"), F.col("by1").cast("double"),
            )))).cast("long").alias("ov_a2x"),
        ).where(F.col("ov_a2x") > 0).collect()
    }
    assert kern == col
    assert 5 < len(kern) < len(rows)  # survivors and drops both present


def test_overlay_kernel_wkt_matches_column(spark):
    rows = _overlay_cases()
    df = _mk_ring_df(spark, rows)
    kern = {
        r["id"]: (r["clip_wkt"], r["ov_a2x"])
        for r in arrowgeom.overlay_clip_rect(
            df, "aring", "bx0", "by0", "bx1", "by1", ["id"], emit_wkt=True
        ).collect()
    }
    clipped = _let(
        clip_ring(F.col("aring"), rect_halfplanes(
            F.col("bx0").cast("double"), F.col("by0").cast("double"),
            F.col("bx1").cast("double"), F.col("by1").cast("double"),
        )),
        lambda c: F.struct(
            ring_to_wkt(normalize_ring(c)).alias("clip_wkt"),
            F.round(ring_area2x(c)).cast("long").alias("ov_a2x"),
        ),
    )
    col = {
        r["id"]: (r["clip_wkt"], r["ov_a2x"])
        for r in df.select(
            "id", clipped["clip_wkt"].alias("clip_wkt"),
            clipped["ov_a2x"].alias("ov_a2x"),
        ).where(F.col("ov_a2x") > 0).collect()
    }
    assert kern == col


def test_checkpoint_policy_knob(spark, tmp_path):
    """spark.graft.checkpoint = local (default) | reliable | off must
    produce identical dedup results; 'reliable' without a directory
    fails loudly; with a directory it writes real checkpoint files."""
    import os

    from soil_data_development_tools___arcmap_spark.functions.dedup import (
        minhash_lsh_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),
            (3, "q r s t u v w z"),
            (4, "q r s t u v w z"),
            (5, "m n o p"),
        ],
        "doc_id long, text string",
    )

    def pairs(mode):
        spark.conf.set("spark.graft.checkpoint", mode)
        try:
            return sorted(
                (r["i"], r["j"], r["jac_e4"])
                for r in minhash_lsh_pairs(docs).collect()
            )
        finally:
            spark.conf.set("spark.graft.checkpoint", "local")

    base = pairs("local")
    assert base  # non-vacuous
    assert pairs("off") == base

    with pytest.raises(Exception) as ei:
        pairs("reliable")
    assert "checkpoint" in str(ei.value)

    ckdir = str(tmp_path / "ck")
    spark.conf.set("spark.graft.checkpoint.dir", ckdir)
    try:
        assert pairs("reliable") == base
        assert any(
            fns for _, _, fns in os.walk(ckdir)
        ), "no checkpoint files written"
    finally:
        spark.conf.unset("spark.graft.checkpoint.dir")
