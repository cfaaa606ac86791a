"""Round-12 tests: loud-failure parsing, degenerate-bbox guards, the
auto-skew heuristic, and the new geometry-output margins (diagonal-
concave AOI WKT, concave-subject MULTIPOLYGON WKT, raster RAT)."""
import pytest

from soil_data_development_tools___arcmap_spark.functions.raster import (
    polygon_cell_inventory,
)

SF_SMOKE = "/root/testdata/sf0.001"


def test_parse_geom_rings_rejects_non_integral(spark):
    """ADVICE r11: a non-integral coordinate must FAIL LOUDLY instead
    of silently casting to NULL (which made polygon_cell_inventory
    drop the polygon with zero cells)."""
    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 1.5 0, 1.5 2.5, 0 2.5, 0 0))")],
        "k int, wkt string",
    )
    with pytest.raises(Exception) as ei:
        polygon_cell_inventory(df, tile_cells=4).collect()
    assert "non-integral" in str(ei.value)
    # the WKT-level containment predicate shares the parse contract
    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.functions.geometry import (
        point_in_geom,
    )

    with pytest.raises(Exception) as ei:
        df.select(point_in_geom("wkt", F.lit(1), F.lit(1))).collect()
    assert "non-integral" in str(ei.value)


def test_parse_geom_rings_rejects_garbage(spark):
    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, abc 0, 4 4, 0 4, 0 0))")],
        "k int, wkt string",
    )
    with pytest.raises(Exception) as ei:
        polygon_cell_inventory(df, tile_cells=4).collect()
    assert "non-integral or unparseable" in str(ei.value)


def test_degenerate_bbox_emits_no_rows_by_construction(spark):
    """ADVICE r11: with cell_size > 2 a bbox can contain no cell
    center along an axis (_i0 > _i1); sequence(start, stop) would
    DESCEND and emit spurious rows saved only by the containment
    filter. The explode guard must emit nothing by construction —
    verified by counting CANDIDATE cells (containment filter removed
    is not reachable from outside, so assert the final result is
    empty AND the job doesn't error on the descending sequence)."""
    # cell_size=4 -> centers at 2, 6, 10, ...; bbox x in [3, 5]
    # straddles no center (center 2 < 3, center 6 > 5) -> _i0 > _i1
    df = spark.createDataFrame(
        # even-grid vertices, bbox 4x4 between centers
        [(1, "POLYGON ((4 4, 8 4, 8 8, 4 8, 4 4))")],
        "k int, wkt string",
    )
    # cell_size=8: centers at 4, 12, ... bbox [4,8] contains center 4
    # on the boundary -> fine; use cell_size=8 with bbox [6,8]
    df2 = spark.createDataFrame(
        [(1, "POLYGON ((6 6, 8 6, 8 8, 6 8, 6 6))")],
        "k int, wkt string",
    )
    out = polygon_cell_inventory(df2, cell_size=8, tile_cells=4).collect()
    assert out == []


def test_auto_redistribute_giant_polygon_single_split(spark):
    """Verdict r11 #4: a SINGLE-SPLIT input dominated by one giant
    polygon must hit the redistributed plan WITHOUT the manual flag —
    the auto heuristic computes max per-polygon tile count from bbox
    arithmetic pre-explode and flips the exchange on past the
    threshold."""
    # tile_cells=4, cell_size=2 -> tile = 8 units; 260x260 bbox ->
    # 17x17 = 289 tiles >= 256 threshold
    giant = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 260 0, 260 260, 0 260, 0 0))")],
        "k int, wkt string",
    ).coalesce(1)
    auto = polygon_cell_inventory(giant, tile_cells=4)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # small polygons stay map-only (heuristic does NOT fire)
    small = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 12 0, 12 10, 0 10, 0 0))")],
        "k int, wkt string",
    )
    p_small = polygon_cell_inventory(small, tile_cells=4)._jdf\
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in p_small, p_small
    # explicit override still wins both ways
    forced_off = polygon_cell_inventory(
        giant, tile_cells=4, redistribute=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in forced_off


def test_auto_redistribute_same_cells(spark):
    """The auto-redistributed plan computes the identical cell set."""
    giant = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 260 0, 260 260, 0 260, 0 0))")],
        "k int, wkt string",
    )
    auto = polygon_cell_inventory(giant, tile_cells=4)
    off = polygon_cell_inventory(giant, tile_cells=4, redistribute=False)
    cells = lambda d: sorted(  # noqa: E731
        (r["col"], r["row"]) for r in d.collect()
    )
    assert cells(auto) == cells(off)
    assert len(cells(auto)) == 130 * 130


def test_raster_rat_invariants(spark):
    """RAT (SSURGO_ExportMuRaster.py:1543-1590): cellvalue is the
    1-based lookup of mukey; total RAT cells equal the deduplicated
    raster's cell count; mapunits that rasterized away (overlap
    shadowing) carry n_cells=0/in_raster=false — the reference's
    missing-mapunit report."""
    import soil_data_development_tools___arcmap_spark.queries as Q

    rows = Q.raster_rat(spark, SF_SMOKE).collect()
    assert all(r["cellvalue"] == r["mukey"] + 1 for r in rows)
    assert all((r["n_cells"] == 0) == (not r["in_raster"]) for r in rows)
    # (shadowing needs denser overlaps than sf0.001 provides; the
    # sf0.01 oracle run certifies 813 in_raster=false mapunits)
    # cross-check against the tile-export manifest: same dedup rule,
    # so total pixels minus nodata equals the RAT's cell total
    tiles = Q.raster_tile_export_geom(spark, SF_SMOKE).collect()
    assert sum(r["n_cells"] for r in rows) == sum(
        t["n_pixels"] - t["n_nodata"] for t in tiles
    )


def test_clip_wkt_round12_plans_map_only(spark):
    """The round-12 clipped-geometry queries keep the clip family's
    zero-exchange map-only plan invariant."""
    import soil_data_development_tools___arcmap_spark.queries as Q

    for q in (Q.clip_concave_diagonal_aoi_wkt, Q.clip_concave_subject_wkt,
              Q.clip_concave_multipart_wkt):
        plan = q(spark, SF_SMOKE)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Exchange" not in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__


def test_split_bridged_ring_three_components(spark):
    """split_bridged_ring_y generalizes past the query synthesis: a
    W-shaped subject (two notches) clipped above both notch bottoms
    splits into THREE parts, serialized canonically."""
    from pyspark.sql import functions as F
    from soil_data_development_tools___arcmap_spark.functions.geometry import (
        RING_T, clip_ring, parse_geom_rings, rect_halfplanes,
        rings_to_multiwkt, snap_ring_ints, split_bridged_ring_y,
    )

    body = ("0 0, 14 0, 14 8, 10 8, 10 3, 8 3, 8 8, 4 8, 4 3, 2 3, "
            "2 8, 0 8, 0 0")
    df = spark.range(1).select(F.lit(f"POLYGON (({body}))").alias("wkt"))
    ring = parse_geom_rings(F.col("wkt"))[0].cast(RING_T)
    # the y >= 5 and y <= 7 half-planes only
    c = clip_ring(ring, rect_halfplanes(0, 5.0, 0, 7.0)[2:])
    parts = split_bridged_ring_y(snap_ring_ints(c), 5.0)
    out = df.select(rings_to_multiwkt(parts).alias("w")).collect()[0]["w"]
    assert out == (
        "MULTIPOLYGON (((0 5, 2 5, 2 7, 0 7, 0 5)), "
        "((4 5, 8 5, 8 7, 4 7, 4 5)), "
        "((10 5, 14 5, 14 7, 10 7, 10 5)))"
    ), out


def test_stack_band_rings_degenerate_spans(spark):
    """Band stitch where the upper span equals the lower span (no
    step) and where the subject stops exactly at the split line."""
    from pyspark.sql import functions as F
    from soil_data_development_tools___arcmap_spark.functions.geometry import (
        RING_T, clip_ring, edge_halfplane, normalize_ring, parse_geom_rings,
        rect_halfplanes, ring_to_wkt, snap_ring_ints, stack_band_rings,
    )

    TRAP = [((10.0, 25.0), (50.0, 25.0)), ((50.0, 25.0), (30.0, 45.0)),
            ((30.0, 45.0), (10.0, 45.0)), ((10.0, 45.0), (10.0, 25.0))]

    def run_case(body, expected):
        df = spark.range(1).select(F.lit(f"POLYGON (({body}))").alias("wkt"))
        pts = parse_geom_rings(F.col("wkt"))[0].cast(RING_T)
        lo = snap_ring_ints(clip_ring(pts, rect_halfplanes(10, 5, 90, 25)))
        up = snap_ring_ints(
            clip_ring(pts, [edge_halfplane(e, f) for e, f in TRAP])
        )
        merged = stack_band_rings(lo, up, 25.0)
        out = df.select(
            ring_to_wkt(normalize_ring(merged)).alias("w")
        ).collect()[0]["w"]
        assert out == expected, (body, out)

    # b <= 50: spans equal at the split line, no step, (b,25) collapses
    # into the collinear right edge; diagonal cuts (40,35)->(35,40)
    run_case("20 10, 40 10, 40 40, 20 40, 20 10",
             "POLYGON ((20 10, 40 10, 40 35, 35 40, 20 40, 20 10))")
    # subject top exactly at y=25 would make upper degenerate — the
    # caller branches on area, so here test top just above: tiny
    # upper sliver keeps the stitch consistent
    run_case("20 10, 60 10, 60 26, 20 26, 20 10",
             "POLYGON ((20 10, 60 10, 60 25, 50 25, 49 26, 20 26, 20 10))")


def test_auto_redistribute_decision_cached(spark):
    """The auto heuristic's pre-pass runs ONCE per (semantic input,
    params): the second build reads the cached decision — proven by
    mutating the cache entry and observing the next plan obey it."""
    from soil_data_development_tools___arcmap_spark.functions import raster

    giant = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 260 0, 260 260, 0 260, 0 0))")],
        "k int, wkt string",
    )
    raster._REDISTRIBUTE_DECISIONS.clear()
    p1 = polygon_cell_inventory(giant, tile_cells=4)._jdf\
        .queryExecution().executedPlan().toString()
    assert "Exchange" in p1
    assert len(raster._REDISTRIBUTE_DECISIONS) == 1
    key = next(iter(raster._REDISTRIBUTE_DECISIONS))
    # flip the cached decision: if the second build re-ran the
    # aggregate it would overwrite/ignore this — obeying it proves
    # the cache hit
    raster._REDISTRIBUTE_DECISIONS[key] = False
    p2 = polygon_cell_inventory(giant, tile_cells=4)._jdf\
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in p2
    raster._REDISTRIBUTE_DECISIONS.clear()
    # different params -> different key -> fresh decision
    polygon_cell_inventory(giant, tile_cells=8)
    polygon_cell_inventory(giant, tile_cells=4)
    assert len(raster._REDISTRIBUTE_DECISIONS) == 2


def _py_clip_split_wkt(ring, wx0, wx1, wy0, wy1):
    """Pure-Python reference: SH clip an open ring by the window,
    snap, split components at y=wy0, normalize each, serialize —
    independent of every Column expression under test."""
    def clip_half(pts, axis, bound, keep_ge):
        if not pts:
            return pts
        out = []
        n = len(pts)
        for i in range(n):
            a, b = pts[i], pts[(i + 1) % n]
            ia = a[axis] >= bound if keep_ge else a[axis] <= bound
            ib = b[axis] >= bound if keep_ge else b[axis] <= bound
            if ia and ib:
                out.append(b)
            elif ia != ib:
                t = (bound - a[axis]) / (b[axis] - a[axis])
                o = a[1 - axis] + (b[1 - axis] - a[1 - axis]) * t
                p = (bound, o) if axis == 0 else (o, bound)
                out.append(p)
                if ib:
                    out.append(b)
        return out

    c = clip_half(ring, 1, wy0, True)
    c = clip_half(c, 1, wy1, False)
    c = clip_half(c, 0, wx0, True)
    c = clip_half(c, 0, wx1, False)
    c = [(round(x), round(y)) for x, y in c]
    n = len(c)
    if n < 3:
        return "POLYGON EMPTY"
    starts = [i for i in range(n) if c[i][1] == wy0 and c[(i + 1) % n][1] > wy0]
    if not starts:
        comps = [c]
    else:
        r = c[starts[0]:] + c[:starts[0]]
        comps, cur = [], []
        for i in range(n):
            if r[i][1] == wy0 and r[(i + 1) % n][1] > wy0 and cur:
                comps.append(cur)
                cur = []
            cur.append(r[i])
        comps.append(cur)

    def norm(p):
        q = [v for i, v in enumerate(p) if v != p[(i + 1) % len(p)]]
        if len(q) < 3:
            return None
        m = len(q)
        r2 = []
        for i in range(m):
            a, b, d = q[(i - 1) % m], q[i], q[(i + 1) % m]
            cross = (b[0] - a[0]) * (d[1] - a[1]) - (b[1] - a[1]) * (d[0] - a[0])
            if cross != 0:
                r2.append(b)
        if len(r2) < 3:
            return None
        area2 = sum(
            r2[i][0] * r2[(i + 1) % len(r2)][1]
            - r2[(i + 1) % len(r2)][0] * r2[i][1]
            for i in range(len(r2))
        )
        if area2 <= 0:
            return None
        lead = min(range(len(r2)), key=lambda i: r2[i])
        return r2[lead:] + r2[:lead]

    parts = sorted([p for p in (norm(x) for x in comps) if p],
                   key=lambda p: p[0])
    fmt = lambda p: ", ".join(f"{x} {y}" for x, y in p + [p[0]])  # noqa: E731
    if not parts:
        return "POLYGON EMPTY"
    if len(parts) == 1:
        return f"POLYGON (({fmt(parts[0])}))"
    return "MULTIPOLYGON (" + ", ".join(
        f"(({fmt(p)}))" for p in parts) + ")"


def test_concave_subject_clip_random_property(spark):
    """80 seeded random U/W/rect subjects × windows: the full Spark
    pipeline (SH → snap → split_bridged_ring_y → rings_to_multiwkt)
    string-matches the pure-Python reference on every case."""
    import random

    from pyspark.sql import functions as F
    from soil_data_development_tools___arcmap_spark.functions.geometry import (
        RING_T, clip_ring, parse_geom_rings, rect_halfplanes,
        rings_to_multiwkt, snap_ring_ints, split_bridged_ring_y,
    )

    rng = random.Random(1207)
    cases = []
    for i in range(80):
        x0, y0 = rng.randrange(0, 30), rng.randrange(0, 30)
        w, h = rng.randrange(6, 18), rng.randrange(5, 12)
        kind = i % 3
        if kind == 0:  # plain rect
            ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
        elif kind == 1:  # U: one notch from top
            nx0 = x0 + rng.randrange(1, w - 3)
            nx1 = nx0 + rng.randrange(1, min(3, x0 + w - nx0 - 1) + 1)
            ny = y0 + rng.randrange(1, h - 1)
            ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h),
                    (nx1, y0 + h), (nx1, ny), (nx0, ny),
                    (nx0, y0 + h), (x0, y0 + h)]
        else:  # W: two notches from top (w >= 8 guaranteed? force)
            w = max(w, 9)
            a0 = x0 + 1
            a1 = a0 + 1
            b0 = a1 + 2
            b1 = b0 + 1
            ny = y0 + rng.randrange(1, h - 1)
            ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h),
                    (b1, y0 + h), (b1, ny), (b0, ny), (b0, y0 + h),
                    (a1, y0 + h), (a1, ny), (a0, ny), (a0, y0 + h),
                    (x0, y0 + h)]
        wy0 = y0 - 1 + rng.randrange(0, h + 2)
        wy1 = wy0 + rng.randrange(1, 8)
        wx0 = x0 - 1 + rng.randrange(0, 3)
        wx1 = x0 + w + 1 - rng.randrange(0, 3)
        cases.append((i, ring, wx0, wx1, wy0, wy1))

    df = spark.createDataFrame(
        [(i, ", ".join(f"{x} {y}" for x, y in ring + [ring[0]]),
          float(wx0), float(wx1), float(wy0), float(wy1))
         for i, ring, wx0, wx1, wy0, wy1 in cases],
        "i int, rb string, wx0 double, wx1 double, wy0 double, wy1 double",
    )
    ring = parse_geom_rings(
        F.concat(F.lit("POLYGON (("), F.col("rb"), F.lit("))"))
    )[0].cast(RING_T)
    hp = rect_halfplanes(F.col("wx0"), F.col("wy0"), F.col("wx1"), F.col("wy1"))
    c = clip_ring(ring, hp[2:] + hp[:2])  # y bounds first, then x
    got = {
        r["i"]: r["w"]
        for r in df.select(
            "i",
            rings_to_multiwkt(
                split_bridged_ring_y(snap_ring_ints(c), F.col("wy0"))
            ).alias("w"),
        ).collect()
    }
    bad = []
    for i, ring, wx0, wx1, wy0, wy1 in cases:
        want = _py_clip_split_wkt(
            [(float(x), float(y)) for x, y in ring], wx0, wx1, wy0, wy1
        )
        if got[i] != want:
            bad.append((i, got[i], want))
    assert not bad, bad[:3]
