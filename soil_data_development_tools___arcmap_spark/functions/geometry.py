"""Portable polygon-area core for the acreage family.

The reference reads ArcGIS-maintained ``SHAPE_Area`` straight off the
feature class (gSSURGO_AcreageReport.py:176-210;
SSURGO_CheckgSSURGO.py muAcres) — the geometry math lives inside the
GIS. To make the acreage reports self-contained without a GIS
dependency, this module computes ring area from WKT polygon text with
pure Column expressions (split/transform/aggregate — no UDFs, stays in
codegen): the shoelace formula over the exterior ring.

Determinism contract: with integral vertex coordinates the doubled
signed area is an exact integer (sums of integer products), so
``area2x`` is the oracle-hashable form; acre conversion divides by the
exact reference constant once at the end.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: acres per m² — the reference's meter conversion factor
#: (gSSURGO_AcreageReport.py:489: convAcres = 0.000247104393)
ACRES_PER_SQM = 0.000247104393


def ring_coords(wkt: str | Column) -> Column:
    """Exterior-ring vertices of a WKT ``POLYGON ((x y, x y, ...))`` as
    ``array<struct<x:bigint, y:bigint>>`` (closing vertex included).
    Only the exterior ring is read — text before the first ')'."""
    c = F.col(wkt) if isinstance(wkt, str) else wkt
    ring = F.regexp_extract(c, r"POLYGON\s*\(\(([^)]*)\)", 1)
    return F.transform(
        F.split(ring, r",\s*"),
        lambda p: F.struct(
            F.split(F.trim(p), r"\s+").getItem(0).cast("long").alias("x"),
            F.split(F.trim(p), r"\s+").getItem(1).cast("long").alias("y"),
        ),
    )


def shoelace_area2x(wkt: str | Column) -> Column:
    """Twice the absolute shoelace area of the exterior ring —
    |Σ (x_i·y_{i+1} − x_{i+1}·y_i)| over consecutive vertices. Exact
    BIGINT for integral coordinates; divide by 2 (and the acre
    constant) only at the final presentation step."""
    coords = ring_coords(wkt)
    # index-pair terms then one fold — all exact integer arithmetic
    terms = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(coords) - 2, F.lit(0))),
        lambda i: coords[i]["x"] * coords[i + 1]["y"]
        - coords[i + 1]["x"] * coords[i]["y"],
    )
    return F.abs(
        F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v)
    )


def acres_e4(area2x: Column) -> Column:
    """floor(acres · 10⁴) from an exact doubled-m² area: one double
    multiply by the reference's convAcres, halve, floor-quantize —
    the cross-engine-hashable acre figure. Convert AFTER summing
    area2x so the float op happens once per group, not per polygon."""
    return F.floor(
        area2x * F.lit(ACRES_PER_SQM) / 2.0 * 10000.0
    ).cast("long")


def offset_angle_d10(
    ax: Column, ay: Column, bx: Column, by: Column, cx: Column, cy: Column
) -> Column:
    """Map-rotation offset angle in integer tenths of a degree — the
    computation core of the reference's rotate-to-north tool
    (OffsetAngle, MapRotateNorth.py:61-111): the signed angle ∠ABC
    between vectors B→A and B→C, sign from the x-ordering of A and C,
    rounded to one decimal like the reference (``round(degrees, 1)``)
    then scaled ×10 into an exact integer. Applying the angle to the
    ArcGIS data-frame is presentation; computing it is portable math.

    Floating-point note: cos∠ = dot/(‖ba‖·‖bc‖) clamped to [−1, 1]
    (the reference normalizes each vector first — same value, one
    fewer rounding step here; the clamp replaces its try/except on
    acos domain errors). The tenth-of-a-degree rounding absorbs any
    cross-engine libm ulp differences."""
    bax, bay = ax - bx, ay - by
    bcx, bcy = cx - bx, cy - by
    dot = bax * bcx + bay * bcy
    nba = F.sqrt(bax * bax + bay * bay)
    nbc = F.sqrt(bcx * bcx + bcy * bcy)
    scale = F.least(F.greatest(dot / (nba * nbc), F.lit(-1.0)), F.lit(1.0))
    deg1 = F.round(F.degrees(F.acos(scale)), 1)
    s = F.signum(cx - ax)
    return F.round(s * (F.lit(-1.0) * deg1) * 10).cast("long")


def rotate_about_e4(
    px: Column, py: Column, ox: Column, oy: Column, angle_d10: Column
) -> tuple[Column, Column]:
    """Affine rotation of point P about origin O by an angle given in
    integer tenths of a degree (the ``offset_angle_d10`` output —
    MapRotateNorth.py:124-161 applies exactly this rotation to the map
    frame). Returns (x', y') quantized to round(v·10⁴) BIGINT so the
    trig results hash identically across engines."""
    theta = F.radians(angle_d10.cast("double") / 10.0)
    dx, dy = px - ox, py - oy
    rx = ox + F.cos(theta) * dx - F.sin(theta) * dy
    ry = oy + F.sin(theta) * dx + F.cos(theta) * dy
    return (
        F.round(rx * 10000).cast("long"),
        F.round(ry * 10000).cast("long"),
    )


def _let(value: Column, fn) -> Column:
    """Bind ``value`` once and hand ``fn`` a cheap reference to it —
    the single-element transform trick. Chained array passes that
    reference their input k times would otherwise inline the whole
    upstream expression k times (multiplicative tree blow-up: four
    chained Sutherland–Hodgman passes OOMed Catalyst at plan-build
    before this); a lambda variable is a bound reference, so the tree
    stays the SUM of the pass sizes."""
    return F.transform(F.array(value), fn)[0]


def _clip_halfplane(coords: Column, axis: str, bound, keep_ge: bool) -> Column:
    """One Sutherland–Hodgman half-plane pass: clip an OPEN ring
    (array<struct<x:double,y:double>>, no closing vertex) against
    ``axis >= bound`` (keep_ge) or ``axis <= bound``. Per directed
    edge (A, B) the standard emission: B if both inside; the
    edge/boundary intersection I if the edge crosses; [I, B] when
    entering. The intersection ordinate is the exact linear
    interpolation — one double divide whose operands differ by
    construction (A and B are strictly on opposite sides). Empty or
    fully-outside rings clip to an empty array."""
    b = F.lit(float(bound)) if not isinstance(bound, Column) else bound
    other = "y" if axis == "x" else "x"

    def inside(p):
        return p[axis] >= b if keep_ge else p[axis] <= b

    def isect(a, p):
        t = (b - a[axis]) / (p[axis] - a[axis])
        o = a[other] + (p[other] - a[other]) * t
        if axis == "x":
            return F.struct(b.alias("x"), o.alias("y"))
        return F.struct(o.alias("x"), b.alias("y"))

    def pass_(c):
        n = F.size(c)
        emitted = F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.when(
                inside(c[i]) & inside(c[(i + 1) % n]),
                F.array(c[(i + 1) % n]),
            )
            .when(
                inside(c[i]) & ~inside(c[(i + 1) % n]),
                F.array(isect(c[i], c[(i + 1) % n])),
            )
            .when(
                ~inside(c[i]) & inside(c[(i + 1) % n]),
                F.array(isect(c[i], c[(i + 1) % n]), c[(i + 1) % n]),
            )
            .otherwise(
                F.array().cast("array<struct<x:double,y:double>>")
            ),
        )
        # sequence(0, -1) steps BACKWARDS on an empty ring — guard it
        return F.when(n < 1, c).otherwise(F.flatten(emitted))

    return _let(coords, pass_)


def clip_ring_to_rect(
    wkt: str | Column, xmin, ymin, xmax, ymax
) -> Column:
    """Polygon ∩ axis-aligned AOI rectangle — the geometric core of the
    reference's clip tool (gSSURGO_Clip.py:160, arcpy.Clip_analysis;
    point_in_geom covers only the select-by-location half). Classic
    Sutherland–Hodgman against the four AOI half-planes, expressed as
    four chained Column array passes over the parsed WKT exterior ring
    (no UDF, stays in codegen): returns the clipped OPEN ring as
    array<struct<x:double,y:double>> — empty when disjoint. The clip
    region is convex, so SH is exact for any simple subject ring
    (degenerate duplicate vertices it may emit are shoelace-neutral)."""
    return clip_ring_pts_to_rect(
        open_ring_pts(wkt), xmin, ymin, xmax, ymax
    )


def open_ring_pts(wkt: str | Column) -> Column:
    """Exterior WKT ring parsed ONCE to the OPEN double-typed ring
    ``array<struct<x:double,y:double>>`` the clip passes consume.
    Split out (optimization r12) so a join can parse each feature's
    ring once BEFORE replication/pairing instead of re-parsing per
    candidate pair — the spatial overlay join evaluated the full WKT
    regex parse per (a, b) candidate, which dominated its runtime."""
    return _let(
        ring_coords(wkt),
        lambda cc: F.transform(
            F.slice(cc, 1, F.size(cc) - 1),
            lambda p: F.struct(
                p["x"].cast("double").alias("x"),
                p["y"].cast("double").alias("y"),
            ),
        ),
    )


def clip_ring_pts_to_rect(
    open_ring: Column, xmin, ymin, xmax, ymax
) -> Column:
    """Sutherland–Hodgman clip of an ALREADY-PARSED open ring (see
    ``open_ring_pts``) against the AOI rectangle — the pts-level core
    of ``clip_ring_to_rect``, bit-identical passes."""
    r = _clip_halfplane(open_ring, "x", xmin, keep_ge=True)
    r = _clip_halfplane(r, "x", xmax, keep_ge=False)
    r = _clip_halfplane(r, "y", ymin, keep_ge=True)
    return _clip_halfplane(r, "y", ymax, keep_ge=False)


def ring_area2x(ring: Column) -> Column:
    """Twice the absolute shoelace area of an OPEN double-typed ring
    (wrap-around edge included) — the clipped-geometry companion of
    ``shoelace_area2x``. Returned as double; quantize at the caller
    (for integral vertices — e.g. a slope-±1/axis-edged subject
    clipped by an integer AOI, where every SH intersection lands on
    the integer grid — the double arithmetic is exact well past any
    survey-scale coordinate)."""

    def area_(r):
        n = F.size(r)
        terms = F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: r[i]["x"] * r[(i + 1) % n]["y"]
            - r[(i + 1) % n]["x"] * r[i]["y"],
        )
        s = F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)
        return F.when(n < 3, F.lit(0.0)).otherwise(F.abs(s))

    return _let(ring, area_)


def clip_area2x_rect(
    wkt: str | Column, xmin, ymin, xmax, ymax
) -> Column:
    """Doubled intersection area of a WKT polygon with an AOI
    rectangle, quantized to BIGINT — the clipped-acreage figure the
    reference reads off the GIS after Clip_analysis
    (gSSURGO_Clip.py:160 → gSSURGO_AcreageReport SHAPE_Area)."""
    return F.round(
        ring_area2x(clip_ring_to_rect(wkt, xmin, ymin, xmax, ymax))
    ).cast("long")


def clip_area2x_rect_pts(
    ring: Column, xmin, ymin, xmax, ymax
) -> Column:
    """``clip_area2x_rect`` over an already-parsed open ring (see
    ``open_ring_pts``): same clip passes, same shoelace, same
    round/cast quantization — for joins that evaluate the clip once
    per candidate PAIR and must not re-parse the WKT each time."""
    return F.round(
        ring_area2x(clip_ring_pts_to_rect(ring, xmin, ymin, xmax, ymax))
    ).cast("long")


def _ring_pts(ring_str: Column) -> Column:
    """One ring body string ``"x y, x y, ..."`` → OPEN ring
    ``array<struct<x:double,y:double>>`` (closing vertex dropped)."""
    return _let(
        F.transform(
            F.split(ring_str, r",\s*"),
            lambda p: F.struct(
                F.split(F.trim(p), r"\s+").getItem(0).cast("double").alias("x"),
                F.split(F.trim(p), r"\s+").getItem(1).cast("double").alias("y"),
            ),
        ),
        lambda cc: F.slice(cc, 1, F.size(cc) - 1),
    )


def _rings_clip_area2x(rings_body: Column, xmin, ymin, xmax, ymax) -> Column:
    """Clipped doubled area of one polygon given its ring-body strings
    (element 0 = exterior, rest = holes): clip each ring, subtract the
    holes' clipped areas from the exterior's. Valid because each hole
    lies inside the exterior, so its AOI intersection lies inside the
    exterior's AOI intersection — areas subtract exactly (no
    partial-overlap terms)."""

    def clip_ring(r: Column) -> Column:
        return ring_area2x(
            clip_ring_pts_to_rect(_ring_pts(r), xmin, ymin, xmax, ymax)
        )

    return _let(
        F.transform(rings_body, clip_ring),
        lambda a: a[0]
        - F.aggregate(
            F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0))),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def clip_area2x_geom(
    wkt: str | Column, xmin, ymin, xmax, ymax
) -> Column:
    """Doubled geometry∩AOI area for ANY WKT polygon text —
    ``POLYGON`` (with or without interior rings) or ``MULTIPOLYGON``
    (multipart mapunits are routine in real gSSURGO) — the full input
    surface of the reference's Clip_analysis (gSSURGO_Clip.py:160).
    Multipart area = Σ over parts of (exterior − holes), each ring
    clipped by the same Sutherland–Hodgman passes; dispatch on the
    WKT prefix stays one Column CASE, map-only."""
    c = F.col(wkt) if isinstance(wkt, str) else wkt
    # POLYGON ((ext), (hole)) → ring bodies
    poly_rings = _let(
        F.regexp_replace(
            F.regexp_extract(c, r"POLYGON\s*\((.*)\)", 1), r"^\(|\)$", ""
        ),
        lambda body: F.split(body, r"\)\s*,\s*\("),
    )
    # MULTIPOLYGON (((ext), (hole)), ((ext2))) → per-part ring bodies
    multi_area = _let(
        F.regexp_replace(
            F.regexp_extract(c, r"MULTIPOLYGON\s*\((.*)\)", 1),
            r"^\(\s*\(|\)\s*\)$",
            "",
        ),
        lambda body: F.aggregate(
            F.transform(
                F.split(body, r"\)\s*\)\s*,\s*\(\s*\("),
                lambda part: _rings_clip_area2x(
                    _let(part, lambda p: F.split(p, r"\)\s*,\s*\(")),
                    xmin, ymin, xmax, ymax,
                ),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return F.round(
        F.when(c.startswith("MULTIPOLYGON"), multi_area).otherwise(
            _rings_clip_area2x(poly_rings, xmin, ymin, xmax, ymax)
        )
    ).cast("long")


def _clip_halfplane_edge(
    coords: Column, ex, ey, fx, fy
) -> Column:
    """One Sutherland–Hodgman pass against an ARBITRARY half-plane —
    the set of points on or LEFT of the directed edge E→F
    (``cross(F−E, P−E) >= 0``; a counter-clockwise convex AOI keeps
    its interior). Generalizes ``_clip_halfplane``'s axis-aligned
    bounds to the diagonal AOI edges real clip boundaries have
    (gSSURGO_Clip.py:160 clips against arbitrary AOI featureclasses,
    not bounding boxes). Same open-ring contract; the edge/boundary
    intersection uses the exact signed-distance ratio
    t = side(A)/(side(A) − side(B)) — A and B strictly straddle the
    line so the denominator is nonzero by construction. Intersection
    coordinates can carry ~1 ulp of double rounding; area consumers
    quantize with one final round, which absorbs it for grid-exact
    syntheses (slope-±1 AOI edges against axis-aligned subjects land
    on integer coordinates up to that ulp)."""
    exc = F.lit(float(ex)) if not isinstance(ex, Column) else ex
    eyc = F.lit(float(ey)) if not isinstance(ey, Column) else ey
    dxc = (F.lit(float(fx)) if not isinstance(fx, Column) else fx) - exc
    dyc = (F.lit(float(fy)) if not isinstance(fy, Column) else fy) - eyc

    def side(p):
        return dxc * (p["y"] - eyc) - dyc * (p["x"] - exc)

    def isect(a, p):
        t = side(a) / (side(a) - side(p))
        return F.struct(
            (a["x"] + (p["x"] - a["x"]) * t).alias("x"),
            (a["y"] + (p["y"] - a["y"]) * t).alias("y"),
        )

    def pass_(c):
        n = F.size(c)
        emitted = F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.when(
                (side(c[i]) >= 0) & (side(c[(i + 1) % n]) >= 0),
                F.array(c[(i + 1) % n]),
            )
            .when(
                (side(c[i]) >= 0) & ~(side(c[(i + 1) % n]) >= 0),
                F.array(isect(c[i], c[(i + 1) % n])),
            )
            .when(
                ~(side(c[i]) >= 0) & (side(c[(i + 1) % n]) >= 0),
                F.array(isect(c[i], c[(i + 1) % n]), c[(i + 1) % n]),
            )
            .otherwise(
                F.array().cast("array<struct<x:double,y:double>>")
            ),
        )
        return F.when(n < 1, c).otherwise(F.flatten(emitted))

    return _let(coords, pass_)


def clip_ring_convex(ring: Column, edges) -> Column:
    """Clip an OPEN double-typed ring against a convex AOI given as a
    list of directed half-plane edges ``[((ex, ey), (fx, fy)), ...]``
    (counter-clockwise boundary: interior on the left of every edge).
    One chained ``_clip_halfplane_edge`` pass per edge — the AOI's
    edge list is query-plan metadata (one AOI clips the whole layer),
    so the plan stays map-only with |edges| array passes and zero
    shuffles regardless of layer size."""
    out = ring
    for (ex, ey), (fx, fy) in edges:
        out = _clip_halfplane_edge(out, ex, ey, fx, fy)
    return out


def _rings_clip_area2x_convex(rings_body: Column, edges) -> Column:
    """Clipped doubled area of one polygon (ring-body strings, element
    0 = exterior then holes) against a convex edge-list AOI: clip each
    ring, subtract the holes' clipped areas from the exterior's —
    exact because each hole's AOI intersection nests inside the
    exterior's (same argument as ``_rings_clip_area2x``)."""

    def clip_ring(r: Column) -> Column:
        return ring_area2x(clip_ring_convex(_ring_pts(r), edges))

    return _let(
        F.transform(rings_body, clip_ring),
        lambda a: a[0]
        - F.aggregate(
            F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0))),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def clip_area2x_convex(wkt: str | Column, edges) -> Column:
    """Doubled polygon∩AOI area for an arbitrary CONVEX AOI polygon
    (edge list, CCW) over any ``POLYGON`` WKT with optional interior
    rings — the diagonal-boundary generalization of
    ``clip_area2x_geom``. One final round quantizes the ulp
    noise general-edge intersections can carry."""
    c = F.col(wkt) if isinstance(wkt, str) else wkt
    rings = _let(
        F.regexp_replace(
            F.regexp_extract(c, r"POLYGON\s*\((.*)\)", 1), r"^\(|\)$", ""
        ),
        lambda body: F.split(body, r"\)\s*,\s*\("),
    )
    return F.round(_rings_clip_area2x_convex(rings, edges)).cast("long")


def rectilinear_decompose(
    pts: list[tuple[float, float]]
) -> list[tuple[float, float, float, float]]:
    """Decompose a simple RECTILINEAR polygon (axis-aligned edges,
    either orientation, no self-intersection; closing vertex optional)
    into DISJOINT axis-aligned rectangles ``(x0, y0, x1, y1)`` by
    horizontal band slicing: cut at every distinct vertex y, and
    within each band pair up the crossing vertical edges left-to-right
    (even–odd). Driver-side pure Python — the AOI is one small
    polygon (broadcast-scale metadata), the DATA never touches this
    path. Enables concave-AOI clips as Σ over pieces of the convex
    clip: pieces have disjoint interiors, so clipped areas add with
    no overlap terms. Exact integer arithmetic for integer vertices.

    Reference parity: arcpy.Clip_analysis (gSSURGO_Clip.py:160)
    accepts arbitrary AOI shapes; rectilinear covers gridded AOIs
    (raster footprints, tile boundaries, county-mosaic steps) and the
    convex edge-list path covers the rest."""
    if len(pts) >= 2 and pts[0] == pts[-1]:
        pts = pts[:-1]
    n = len(pts)
    if n < 3:
        return []
    vert = []  # (x, ylo, yhi) vertical edges
    for i in range(n):
        (x1, y1), (x2, y2) = pts[i], pts[(i + 1) % n]
        if x1 == x2 and y1 != y2:
            vert.append((x1, min(y1, y2), max(y1, y2)))
        elif y1 != y2:
            raise ValueError(
                "rectilinear_decompose: non-axis-aligned edge "
                f"({x1},{y1})->({x2},{y2})"
            )
    ys = sorted({p[1] for p in pts})
    rects: list[tuple[float, float, float, float]] = []
    for ylo, yhi in zip(ys, ys[1:]):
        xs = sorted(x for x, e0, e1 in vert if e0 <= ylo and e1 >= yhi)
        # even–odd pairing: consecutive (entry, exit) pairs are inside
        for j in range(0, len(xs) - 1, 2):
            if xs[j] < xs[j + 1]:
                rects.append((xs[j], ylo, xs[j + 1], yhi))
    return rects


def triangulate_simple_polygon(
    pts: list[tuple[float, float]]
) -> list[list[tuple[float, float]]]:
    """Ear-clipping triangulation of a simple polygon (either
    orientation, closing vertex optional) into CCW triangles —
    driver-side pure Python, completing the AOI story: ANY simple
    concave AOI decomposes into convex (triangle) pieces for
    ``clip_ring_convex``, clipped areas summing exactly because the
    triangles are interior-disjoint. O(n²) is irrelevant here: the
    AOI is one small polygon (broadcast-scale metadata), never data.

    Reference parity: arcpy.Clip_analysis (gSSURGO_Clip.py:160)
    accepts arbitrary AOI polygons; together with
    ``rectilinear_decompose`` (fewer, larger pieces for gridded AOIs)
    this covers the full simple-polygon AOI surface."""
    if len(pts) >= 2 and pts[0] == pts[-1]:
        pts = pts[:-1]
    n = len(pts)
    if n < 3:
        return []

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    # normalize to CCW (positive signed area)
    signed2x = sum(
        pts[i][0] * pts[(i + 1) % n][1] - pts[(i + 1) % n][0] * pts[i][1]
        for i in range(n)
    )
    poly = list(pts) if signed2x > 0 else list(reversed(pts))

    def point_in_tri(p, a, b, c):
        # INCLUSIVE containment (>= 0): a vertex ON the ear's edge
        # must BLOCK the ear — clipping such an ear pinches the
        # remainder polygon (the new closing edge passes through that
        # vertex) and later ears double-count area. (A strict-interior
        # test was tried and is unsound: see
        # tests/test_round11.py::test_triangulate_boundary_touching_reflex,
        # where it returns 160 for a 120-area2x L-shape.)
        d1, d2, d3 = cross(a, b, p), cross(b, c, p), cross(c, a, p)
        return d1 >= 0 and d2 >= 0 and d3 >= 0

    tris: list[list[tuple[float, float]]] = []
    guard = 0
    while len(poly) > 3:
        guard += 1
        if guard > 10000:
            raise ValueError("triangulate: not a simple polygon?")
        m = len(poly)
        clipped = False
        for i in range(m):
            a, b, c = poly[i - 1], poly[i], poly[(i + 1) % m]
            if cross(a, b, c) <= 0:  # reflex or collinear: not an ear
                continue
            # iterate candidate blockers by INDEX (a distinct vertex
            # that coordinate-equals an ear corner must still be
            # visited), but exempt corner-COINCIDENT points: a vertex
            # sitting exactly on a corner touches the ear, it cannot
            # pierce it
            ear_idx = {(i - 1) % m, i, (i + 1) % m}
            if any(
                point_in_tri(poly[j], a, b, c)
                for j in range(m)
                if j not in ear_idx and poly[j] not in (a, b, c)
            ):
                continue
            tris.append([a, b, c])
            poly.pop(i)
            clipped = True
            break
        if not clipped:
            raise ValueError("triangulate: no ear found (degenerate input)")
    tris.append(list(poly))
    return tris


def convex_piece_edges(
    piece: list[tuple[float, float]]
) -> list[tuple[tuple[float, float], tuple[float, float]]]:
    """CCW directed-edge list of one convex piece — the
    ``clip_ring_convex`` input form."""
    n = len(piece)
    return [(piece[i], piece[(i + 1) % n]) for i in range(n)]


def clip_area2x_pieces(wkt: str | Column, pieces) -> Column:
    """Doubled polygon∩AOI area for an AOI given as DISJOINT convex
    pieces (vertex lists, CCW or any orientation per
    ``triangulate_simple_polygon`` output): Σ over pieces of the
    holes-aware convex clip — the fully-general concave-AOI form
    (rectilinear AOIs should prefer ``clip_area2x_rectilinear``'s
    fewer, axis-aligned pieces). Map-only; plan ∝ Σ piece edges."""
    c = F.col(wkt) if isinstance(wkt, str) else wkt
    rings = _let(
        F.regexp_replace(
            F.regexp_extract(c, r"POLYGON\s*\((.*)\)", 1), r"^\(|\)$", ""
        ),
        lambda body: F.split(body, r"\)\s*,\s*\("),
    )
    if not pieces:
        return F.lit(0).cast("long")

    def total(rb: Column) -> Column:
        s = None
        for piece in pieces:
            term = _rings_clip_area2x_convex(rb, convex_piece_edges(piece))
            s = term if s is None else s + term
        return s

    return F.round(_let(rings, total)).cast("long")


def clip_area2x_rectilinear(
    wkt: str | Column, pieces: list[tuple[float, float, float, float]]
) -> Column:
    """Doubled polygon∩AOI area for a CONCAVE rectilinear AOI given as
    its disjoint rectangle decomposition (``rectilinear_decompose``):
    Σ over pieces of the holes-aware rectangle clip. Disjoint pieces
    ⇒ the per-piece clipped regions are disjoint ⇒ areas sum exactly.
    Map-only; plan size grows with |pieces| × rings, never with data."""
    c = F.col(wkt) if isinstance(wkt, str) else wkt
    rings = _let(
        F.regexp_replace(
            F.regexp_extract(c, r"POLYGON\s*\((.*)\)", 1), r"^\(|\)$", ""
        ),
        lambda body: F.split(body, r"\)\s*,\s*\("),
    )

    if not pieces:
        return F.lit(0).cast("long")

    def total(rb: Column) -> Column:
        s = None
        for x0, y0, x1, y1 in pieces:
            term = _rings_clip_area2x(rb, x0, y0, x1, y1)
            s = term if s is None else s + term
        return s

    # bind the parsed rings ONCE; each piece's clip references the
    # binding instead of re-inlining the WKT parse |pieces| times
    return F.round(_let(rings, total)).cast("long")


def bands_to_ring(bands: Column) -> Column:
    """Rectilinear DISSOLVE: merge per-band clipped rectangles back
    into the boundary ring of their union — the step arcpy's clip
    implies when a decomposed AOI's piece-wise clips are one connected
    feature (gSSURGO_Clip.py:160 returns whole clipped features, not
    decomposition pieces). Input: ``array<struct<lx,lo,rx,hi>>`` of
    surviving bands, y-ascending, vertically adjacent (band i's hi =
    band i+1's lo), sharing a COMMON LEFT EDGE lx — exactly what a
    rectangle subject clipped by a left-aligned staircase
    decomposition produces (x-survival is monotone when band rights
    decrease with height, so survivors stay contiguous). Output: the
    union's OPEN CCW ring, canonical by construction (starts at the
    lexicographic-min vertex (lx, lo₀); equal-right neighbors emit no
    step, so no collinear vertices); empty array when no band
    survived. Map-only Column expression."""

    def pt(x: Column, y: Column) -> Column:
        return F.struct(x.alias("x"), y.alias("y"))

    empty = F.array().cast("array<struct<x:double,y:double>>")

    def run(bs: Column) -> Column:
        n = F.size(bs)
        bottom = F.array(
            pt(bs[0]["lx"], bs[0]["lo"]), pt(bs[0]["rx"], bs[0]["lo"])
        )
        steps = F.when(
            n >= 2,
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), n - 2),
                    lambda i: F.when(
                        bs[i + 1]["rx"] != bs[i]["rx"],
                        F.array(
                            pt(bs[i]["rx"], bs[i]["hi"]),
                            pt(bs[i + 1]["rx"], bs[i]["hi"]),
                        ),
                    ).otherwise(empty),
                )
            ),
        ).otherwise(empty)
        top = F.array(
            pt(bs[n - 1]["rx"], bs[n - 1]["hi"]),
            pt(bs[0]["lx"], bs[n - 1]["hi"]),
        )
        return F.when(n < 1, empty).otherwise(
            F.concat(bottom, steps, top)
        )

    return _let(bands, run)


def normalize_ring(ring: Column) -> Column:
    """Canonical form of an OPEN ring: drop consecutive duplicate
    vertices (wraparound included), drop collinear vertices (cross of
    immediate original neighbors — one pass clears straight runs),
    then rotate so the lexicographically-smallest (x, y) vertex leads.
    Sutherland–Hodgman emits duplicates/collinear points when subject
    edges lie ON clip boundaries; two SH outputs of the same region —
    or an SH output and a closed-form construction — compare equal
    only after this normalization. Exact for the integer-coordinate
    clip syntheses (every comparison is on exactly-represented
    doubles). Map-only Column expression.

    PRECONDITION: the input must be a SINGLE-COMPONENT ring from
    clipping a CONVEX subject (or a subject whose intersection with
    the clip window is connected). SH on a concave subject split into
    disconnected pieces by the window emits spike/bridge vertex
    patterns; this single dedup-then-collinear pass can then leave
    NON-consecutive duplicates and ``ring_to_wkt`` would serialize a
    self-touching ring. Concave subjects go through
    ``split_bridged_ring_y`` (round 12) — which splits the SH output
    into components at the window-bottom bridge line and normalizes
    each part — or a decomposition (``rectilinear_decompose`` /
    ``triangulate_simple_polygon``) before per-piece clipping."""

    def run(c: Column) -> Column:
        n = F.size(c)
        dedup = F.filter(
            c,
            lambda p, i: ~(
                (p["x"] == c[(i + 1) % n]["x"])
                & (p["y"] == c[(i + 1) % n]["y"])
            ),
        )

        def drop_collinear(d: Column) -> Column:
            m = F.size(d)
            return F.filter(
                d,
                lambda p, i: (
                    (p["x"] - d[(i + m - 1) % m]["x"])
                    * (d[(i + 1) % m]["y"] - d[(i + m - 1) % m]["y"])
                    - (p["y"] - d[(i + m - 1) % m]["y"])
                    * (d[(i + 1) % m]["x"] - d[(i + m - 1) % m]["x"])
                )
                != 0,
            )

        def rotate(d: Column) -> Column:
            m = F.size(d)
            lead = F.aggregate(
                F.sequence(F.lit(1), m - 1),
                F.lit(0),
                lambda best, i: F.when(
                    (d[i]["x"] < d[best]["x"])
                    | (
                        (d[i]["x"] == d[best]["x"])
                        & (d[i]["y"] < d[best]["y"])
                    ),
                    i,
                ).otherwise(best),
            )
            return F.concat(
                F.slice(d, lead + 1, m - lead), F.slice(d, 1, lead)
            )

        deduped = _let(dedup, lambda d: F.when(F.size(d) < 3, d).otherwise(
            drop_collinear(d)
        ))
        return _let(
            deduped,
            lambda d: F.when(F.size(d) < 3, d).otherwise(rotate(d)),
        )

    return _let(ring, run)


def snap_ring_ints(ring: Column) -> Column:
    """Round every ring coordinate to the nearest integer (kept as
    double). General-edge Sutherland–Hodgman intersections
    (``_clip_halfplane_edge``) compute t = side/(side−side) and
    interpolate — up to ~1 ulp of double rounding even when the TRUE
    intersection is integral (axis/45° AOI edges against integer
    subjects guarantee that here). Area consumers absorb the ulp with
    one final round; geometry OUTPUT (normalize → WKT text) must snap
    FIRST, or normalize_ring's exact-equality dedup misses
    ulp-separated duplicates and ring_to_wkt's cast truncates
    6.999… to 6. Only valid when intersections are integral by
    construction — the integer-grid clip syntheses."""
    return F.transform(
        ring,
        lambda p: F.struct(
            F.round(p["x"]).alias("x"), F.round(p["y"]).alias("y")
        ),
    )


def ring_to_wkt(ring: Column) -> Column:
    """OPEN integer-valued ring → WKT ``POLYGON ((x y, ..., x y))``
    text with the closing vertex re-appended, or ``POLYGON EMPTY``
    when fewer than 3 vertices remain — the geometry OUTPUT of the
    clip (Clip_analysis returns clipped features, not areas;
    gSSURGO_Clip.py:160). Coordinates print as BIGINT (the integer
    clip syntheses guarantee exact integer vertices)."""

    def fmt(p):
        return F.concat(
            p["x"].cast("long").cast("string"),
            F.lit(" "),
            p["y"].cast("long").cast("string"),
        )

    return _let(
        ring,
        lambda r: F.when(F.size(r) < 3, F.lit("POLYGON EMPTY")).otherwise(
            F.concat(
                F.lit("POLYGON (("),
                F.array_join(F.transform(r, fmt), ", "),
                F.lit(", "),
                fmt(r[0]),
                F.lit("))"),
            )
        ),
    )


def parse_geom_rings(wkt: str | Column) -> Column:
    """ALL rings of ALL parts of a WKT POLYGON / MULTIPOLYGON as
    ``array<array<struct<x:bigint,y:bigint>>>`` (open rings, closing
    vertex dropped) — the parse stage of ``point_in_geom``, public so
    row-multiplying consumers (the cell-inventory explode) parse each
    polygon ONCE and test containment per row against the parsed
    arrays instead of re-running regex/split/cast per cell.

    Coordinates FAIL LOUDLY when off the integer contract: each token
    parses as double first and a non-integral (or unparseable) value
    raises at runtime via ``raise_error`` rather than silently casting
    to NULL — a ``'1.5 2.5'`` vertex would otherwise make
    ``polygon_cell_inventory`` drop the polygon with zero cells."""
    c = F.col(wkt) if isinstance(wkt, str) else wkt

    def to_int(tok: Column, axis: str) -> Column:
        # try_cast: unparseable -> NULL -> the raise_error branch with
        # OUR message, identically under ANSI-on (Spark 4 default) and
        # ANSI-off sessions (a plain cast would throw CAST_INVALID_INPUT
        # first under ANSI, bypassing the contract message)
        d = tok.try_cast("double")
        return F.when(d == F.round(d, 0), d.cast("long")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "parse_geom_rings: non-integral or unparseable "
                        + axis + " coordinate '"
                    ),
                    F.coalesce(tok, F.lit("<null>")),
                    F.lit("' (integer-grid contract)"),
                )
            ).cast("long")
        )

    rings = F.split(
        F.regexp_replace(
            F.regexp_extract(c, r"POLYGON\s*\((.*)\)", 1),
            r"^\(+|\)+$",
            "",
        ),
        r"\)+\s*,\s*\(+",
    )
    return F.transform(
        rings,
        lambda r: _let(
            F.transform(
                F.split(r, r",\s*"),
                lambda p: F.struct(
                    to_int(
                        F.split(F.trim(p), r"\s+").getItem(0), "x"
                    ).alias("x"),
                    to_int(
                        F.split(F.trim(p), r"\s+").getItem(1), "y"
                    ).alias("y"),
                ),
            ),
            lambda cc: F.slice(cc, 1, F.size(cc) - 1),
        ),
    )


def rings_to_edges(rings: Column) -> Column:
    """Flatten PRE-PARSED rings (``parse_geom_rings`` output) into one
    edge array ``array<struct<xa,ya,xb,yb:bigint>>`` (each ring closed
    by its wrap-around edge; degenerate <3-vertex rings contribute no
    edges). Even-odd containment is additive across rings, so one flat
    edge array carries everything the crossing test needs.

    Split out (optimization r12) for the rasterizer's per-cell hot
    path: building the edge structs ONCE per polygon — before the
    tile/cell explodes — and folding them with a single ``aggregate``
    removes the per-cell sequence/element_at/modulo index chains the
    ring-indexed form re-evaluates per candidate cell (interpreted
    higher-order functions; measured 1.8x on the 458k-cell sf0.1
    inventory with bit-identical output)."""
    edge_t = "array<struct<xa:bigint,ya:bigint,xb:bigint,yb:bigint>>"
    empty = F.array().cast(edge_t)
    return F.flatten(
        F.transform(
            rings,
            lambda cc: F.when(F.size(cc) < 3, empty).otherwise(
                # the positional cast pins the struct field names: alias
                # resolution inside nested lambdas is context-dependent
                # (Generate-bearing projections drop them), and the
                # when-branch types must agree exactly
                _let(
                    cc,
                    lambda c2: F.transform(
                        F.sequence(F.lit(0), F.size(c2) - 1),
                        lambda i: F.struct(
                            c2[i]["x"].alias("xa"),
                            c2[i]["y"].alias("ya"),
                            c2[(i + 1) % F.size(c2)]["x"].alias("xb"),
                            c2[(i + 1) % F.size(c2)]["y"].alias("yb"),
                        ),
                    ),
                ).cast(edge_t)
            ),
        )
    )


def point_in_edges(edges: Column, px: Column, py: Column) -> Column:
    """Even-odd containment over a PRE-BUILT flat edge array
    (``rings_to_edges``) — the package's one crossing fold. Standard
    even-odd rule, one +x ray: edge (a, b) crosses when
    (ya > py) != (yb > py) and the intersection lies right of the
    probe. The x-comparison is cross-multiplied — (px−xa)·(yb−ya)
    versus (xb−xa)·(py−ya), orientation-corrected by the sign of
    yb−ya — so with integral vertices the decision is exact BIGINT
    arithmetic, no division, reproducible in any engine. One
    ``aggregate`` pass, no per-cell index arithmetic. Map-only."""
    total = F.aggregate(
        edges,
        F.lit(0),
        lambda acc, e: acc
        + F.when(
            (e["ya"] > py) != (e["yb"] > py),
            F.when(
                (
                    (px - e["xa"]) * (e["yb"] - e["ya"])
                    < (e["xb"] - e["xa"]) * (py - e["ya"])
                )
                == (e["yb"] > e["ya"]),
                F.lit(1),
            ).otherwise(F.lit(0)),
        ).otherwise(F.lit(0)),
    )
    return (total % 2 == 1).cast("int")


def point_in_geom(wkt: str | Column, px: Column, py: Column) -> Column:
    """Point-in-geometry over the FULL WKT surface — ``POLYGON`` (with
    holes) or ``MULTIPOLYGON`` (multipart mapunits) — the package's one
    WKT-level containment entry point: ``point_in_edges`` over
    ``rings_to_edges(parse_geom_rings(wkt))``. The even-odd rule is
    additive across rings, so summing ray crossings over ALL rings of
    ALL parts gives containment for disjoint parts with holes in one
    pass — no per-part dispatch needed. Vertices must sit on the
    integer grid (``parse_geom_rings`` raises otherwise); integral
    vertices + non-edge-incident probes ⇒ exact BIGINT decisions.
    Map-only."""
    return point_in_edges(rings_to_edges(parse_geom_rings(wkt)), px, py)


def linestring_stats(wkt: str | Column) -> Column:
    """Per-feature polyline statistics over ``LINESTRING`` /
    ``MULTILINESTRING`` WKT — the line-FC half of the spatial append
    (SSURGO_Convert_to_Geodatabase.py:1677-1818 appends MULINE /
    FEATLINE per survey; the GIS-maintained SHAPE_Length the reports
    read is re-derived here from coordinates). Returns
    struct(n_parts, n_vertices, len_e4): parts, total vertex count,
    and Σ over segments of floor(10⁴·√(dx²+dy²)) — each segment
    quantized BEFORE the sum, so the figure is an exact
    order-independent BIGINT (IEEE sqrt is correctly rounded in every
    engine; summing raw doubles would be order-sensitive).
    LINESTRING bodies have no inner parens, so the unanchored parse
    (strip paren runs, split on ``)+, (+``) handles both forms in one
    pass — same trick as ``point_in_geom``. Map-only."""
    c = F.col(wkt) if isinstance(wkt, str) else wkt
    parts = F.split(
        F.regexp_replace(
            F.regexp_extract(c, r"LINESTRING\s*\((.*)\)", 1),
            r"^\(+|\)+$",
            "",
        ),
        r"\)+\s*,\s*\(+",
    )

    def part_pts(part: Column) -> Column:
        # ALL vertices kept — polylines have no closing-vertex dup
        return F.transform(
            F.split(part, r",\s*"),
            lambda p: F.struct(
                F.split(F.trim(p), r"\s+").getItem(0)
                .cast("double").alias("x"),
                F.split(F.trim(p), r"\s+").getItem(1)
                .cast("double").alias("y"),
            ),
        )

    def part_len(ps: Column) -> Column:
        def run(q: Column) -> Column:
            n = F.size(q)
            segs = F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.floor(
                    F.sqrt(
                        (q[i + 1]["x"] - q[i]["x"])
                        * (q[i + 1]["x"] - q[i]["x"])
                        + (q[i + 1]["y"] - q[i]["y"])
                        * (q[i + 1]["y"] - q[i]["y"])
                    )
                    * 10000.0
                ).cast("long"),
            )
            total = F.aggregate(
                segs, F.lit(0).cast("long"), lambda acc, v: acc + v
            )
            return F.when(n < 2, F.lit(0).cast("long")).otherwise(total)

        return _let(ps, run)

    stats = _let(
        F.transform(
            parts,
            lambda part: _let(
                part_pts(part),
                lambda ps: F.struct(
                    F.size(ps).alias("nv"), part_len(ps).alias("ln")
                ),
            ),
        ),
        lambda arr: F.struct(
            F.size(arr).alias("n_parts"),
            F.aggregate(
                F.transform(arr, lambda s: s["nv"]),
                F.lit(0),
                lambda a, v: a + v,
            ).alias("n_vertices"),
            F.aggregate(
                F.transform(arr, lambda s: s["ln"]),
                F.lit(0).cast("long"),
                lambda a, v: a + v,
            ).alias("len_e4"),
        ),
    )
    return stats


def linestring_clip_len_e4(
    wkt: str | Column, ax0, ay0, ax1, ay1
) -> Column:
    """Polyline ∩ AOI-rectangle clipped length — the line-FC half of
    the clip tool (gSSURGO_Clip.py:160 clips every layer, MULINE /
    FEATLINE included; the downstream report reads the clipped
    SHAPE_Length). Per segment the classic Liang–Barsky parametric
    clip in symmetric tmin/tmax form: per axis the entry/exit
    parameters least/greatest((bound−x₁)/dx), axis skipped when the
    segment is parallel (then the fixed ordinate must lie inside);
    clipped length = √(dx²+dy²)·(t₁−t₀), floor-quantized ×10⁴ PER
    SEGMENT so the feature total is an exact order-independent BIGINT.
    Every arithmetic step (division, least/greatest, sqrt, the two
    products, floor) is a single IEEE operation mirrored verbatim in
    the oracle SQL — bit-identical cross-engine. Map-only Column
    expression over LINESTRING / MULTILINESTRING WKT."""
    c = F.col(wkt) if isinstance(wkt, str) else wkt
    bx0 = F.lit(float(ax0)) if not isinstance(ax0, Column) else ax0
    by0 = F.lit(float(ay0)) if not isinstance(ay0, Column) else ay0
    bx1 = F.lit(float(ax1)) if not isinstance(ax1, Column) else ax1
    by1 = F.lit(float(ay1)) if not isinstance(ay1, Column) else ay1
    parts = F.split(
        F.regexp_replace(
            F.regexp_extract(c, r"LINESTRING\s*\((.*)\)", 1),
            r"^\(+|\)+$",
            "",
        ),
        r"\)+\s*,\s*\(+",
    )

    def part_pts(part: Column) -> Column:
        return F.transform(
            F.split(part, r",\s*"),
            lambda p: F.struct(
                F.split(F.trim(p), r"\s+").getItem(0)
                .cast("double").alias("x"),
                F.split(F.trim(p), r"\s+").getItem(1)
                .cast("double").alias("y"),
            ),
        )

    def seg_len(a: Column, b: Column) -> Column:
        dx, dy = b["x"] - a["x"], b["y"] - a["y"]

        def axis(v1, d, lo, hi):
            tmin = F.when(d != 0, F.least((lo - v1) / d, (hi - v1) / d)) \
                .otherwise(F.lit(0.0))
            tmax = F.when(d != 0, F.greatest((lo - v1) / d, (hi - v1) / d)) \
                .otherwise(F.lit(1.0))
            ok = (d != 0) | ((v1 >= lo) & (v1 <= hi))
            return tmin, tmax, ok

        tx0, tx1, okx = axis(a["x"], dx, bx0, bx1)
        ty0, ty1, oky = axis(a["y"], dy, by0, by1)
        t0 = F.greatest(F.lit(0.0), tx0, ty0)
        t1 = F.least(F.lit(1.0), tx1, ty1)
        ok = okx & oky & (t1 > t0)
        return F.when(
            ok,
            F.floor(
                F.sqrt(dx * dx + dy * dy) * (t1 - t0) * 10000.0
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    def part_clip(ps: Column) -> Column:
        def run(q: Column) -> Column:
            n = F.size(q)
            segs = F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: seg_len(q[i], q[i + 1]),
            )
            total = F.aggregate(
                segs, F.lit(0).cast("long"), lambda acc, v: acc + v
            )
            return F.when(n < 2, F.lit(0).cast("long")).otherwise(total)

        return _let(ps, run)

    return F.aggregate(
        F.transform(parts, lambda part: part_clip(part_pts(part))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


# ---------------------------------------------------------------- round 12 --
# Dissolve + multi-component machinery completing the clipped-GEOMETRY
# output surface (arcpy.Clip_analysis returns clipped FEATURES for any
# AOI/subject shape — gSSURGO_Clip.py:160): (1) stacked-band dissolve
# so a diagonal-concave AOI decomposed into convex horizontal bands
# re-emits ONE boundary ring, and (2) bridge-splitting so a CONCAVE
# SUBJECT whose window intersection is disconnected emits MULTIPOLYGON
# parts instead of a self-touching ring (the normalize_ring
# single-component precondition, lifted).


def _rotate_open_ring(ring: Column, lead: Column) -> Column:
    """Rotate an OPEN ring so index ``lead`` (0-based) comes first."""
    return _let(
        ring,
        lambda d: F.concat(
            F.slice(d, lead + 1, F.size(d) - lead), F.slice(d, 1, lead)
        ),
    )


def stack_band_rings(lower: Column, upper: Column, ysplit) -> Column:
    """Dissolve TWO vertically-adjacent band clips into the boundary
    ring of their union — the convex-band generalization of
    ``bands_to_ring`` (which dissolves axis-aligned rectangles only):
    an AOI with a diagonal boundary decomposes into convex horizontal
    BANDS (not triangles: triangle pieces share diagonal edges whose
    per-piece clip vertices interleave, while a horizontal split puts
    the entire shared boundary on ONE line y=ysplit, making the
    dissolve a deterministic stitch).

    PRECONDITIONS (the band-decomposed-AOI × rect-subject contract):
    ``lower`` is the clip against the lower band — an axis-aligned
    RECTANGLE ring with top edge exactly on y=ysplit; ``upper`` is a
    CONVEX ring with bottom edge on y=ysplit, LEFT-ANCHORED at the
    same x as ``lower`` (both bands clip the same subject's left
    constraint, and every upper cross-section starts at that x), with
    upper's bottom span contained in lower's top span. Both rings are
    OPEN, CCW, snapped to exact values. Either ring may be
    empty/degenerate — the caller branches on area and only calls
    this when BOTH have positive area.

    Output: the union's OPEN ring = [(A,P), (B,P), (B,ysplit)] ++
    upper rotated to start at its bottom-RIGHT vertex. The shared
    segment [A, upper_right] on y=ysplit cancels (it is interior);
    the leftover lower-top piece [upper_right, B] survives as a step;
    ``normalize_ring`` downstream removes the duplicate when the
    spans coincide and the collinear (A, ysplit) on the left edge.
    Map-only Column expression."""
    ys = F.lit(float(ysplit)) if not isinstance(ysplit, Column) else ysplit

    def run(lo: Column) -> Column:
        ax = F.array_min(F.transform(lo, lambda p: p["x"]))
        bx = F.array_max(F.transform(lo, lambda p: p["x"]))
        py = F.array_min(F.transform(lo, lambda p: p["y"]))
        prefix = F.array(
            F.struct(ax.alias("x"), py.alias("y")),
            F.struct(bx.alias("x"), py.alias("y")),
            F.struct(bx.alias("x"), ys.alias("y")),
        )

        def rot(u: Column) -> Column:
            m = F.size(u)
            lead = F.aggregate(
                F.sequence(F.lit(1), m - 1),
                F.lit(0),
                lambda best, i: F.when(
                    (u[i]["y"] < u[best]["y"])
                    | (
                        (u[i]["y"] == u[best]["y"])
                        & (u[i]["x"] > u[best]["x"])
                    ),
                    i,
                ).otherwise(best),
            )
            return _rotate_open_ring(u, lead)

        return F.concat(prefix, _let(upper, rot))

    return _let(lower, run)


def split_bridged_ring_y(ring: Column, ylo) -> Column:
    """Split one Sutherland–Hodgman output ring into its connected
    COMPONENTS at the horizontal line y=ylo — the window-bottom line
    where SH leaves bridge edges when the window DISCONNECTS a
    concave subject (the exact pattern normalize_ring's precondition
    excludes: clipping a U-shaped subject above its notch bottom
    yields one ring that walks arm 1, bridges along y=ylo across the
    notch, walks arm 2, and closes along y=ylo — the bridge segments
    overlap with zero width, so even-odd area is right but the ring
    self-touches).

    CONTRACT: every ring vertex with y == ylo is a component
    endpoint — a START (next vertex strictly above the line) or an
    END (next vertex also on the line, i.e. a bridge edge follows);
    components lie strictly above the line between consecutive
    contacts, and each component's closing edge runs along y=ylo
    (its own bottom edge — the part of the bridge line it actually
    bounds). Exact equality tests: integer-grid synthesis only
    (coordinates snapped first).

    Output ``array<array<struct<x,y>>>`` of OPEN component rings; a
    ring with no START vertex (window bottom below the subject, or
    no line contact) returns as a single component. O(n²) per ring
    in the vertex count — rings are tiny (≤ ~16 vertices); data
    never leaves the executor. Map-only Column expression."""
    yl = F.lit(float(ylo)) if not isinstance(ylo, Column) else ylo
    empty_parts = F.array().cast(
        "array<array<struct<x:double,y:double>>>"
    )

    def run(c: Column) -> Column:
        n = F.size(c)

        def is_start(d: Column, i) -> Column:
            return (d[i]["y"] == yl) & (d[(i + 1) % n]["y"] > yl)

        lead = F.aggregate(
            F.sequence(F.lit(0), n - 1),
            F.lit(-1),
            lambda best, i: F.when(
                (best == -1) & is_start(c, i), i
            ).otherwise(best),
        )
        rotated = _rotate_open_ring(c, F.greatest(lead, F.lit(0)))

        def components(d: Column) -> Column:
            comp = F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.size(
                    F.filter(
                        F.sequence(F.lit(0), i),
                        lambda j: is_start(d, j),
                    )
                ),
            )
            return _let(
                comp,
                lambda cid: F.transform(
                    F.sequence(F.lit(1), cid[n - 1]),
                    lambda k: F.filter(
                        d, lambda p, i: cid[i] == k
                    ),
                ),
            )

        return F.when(n < 3, empty_parts).otherwise(
            F.when(lead == -1, F.array(c)).otherwise(
                _let(rotated, components)
            )
        )

    return _let(ring, run)


def rings_to_multiwkt(parts: Column) -> Column:
    """Serialize an array of OPEN component rings as canonical WKT:
    each part normalizes (``normalize_ring``) and keeps only positive
    doubled area; parts sort by their leading vertex (which IS the
    part's lexicographic minimum after normalization) so the text is
    deterministic; 0 parts → ``POLYGON EMPTY``, 1 part → ``POLYGON``,
    n parts → ``MULTIPOLYGON (((...)), ((...)))`` — the multi-feature
    output arcpy.Clip_analysis produces when the AOI disconnects a
    subject (gSSURGO_Clip.py:160). Integer coordinates (print as
    BIGINT) — same contract as ``ring_to_wkt``."""

    def fmt(p):
        return F.concat(
            p["x"].cast("long").cast("string"),
            F.lit(" "),
            p["y"].cast("long").cast("string"),
        )

    def body(r: Column) -> Column:
        return F.concat(
            F.lit("(("),
            F.array_join(F.transform(r, fmt), ", "),
            F.lit(", "),
            fmt(r[0]),
            F.lit("))"),
        )

    kept = _let(
        F.transform(parts, normalize_ring),
        lambda ps: F.filter(
            ps, lambda r: (F.size(r) >= 3) & (ring_area2x(r) > 0)
        ),
    )
    ordered = F.array_sort(
        kept,
        lambda a, b: F.when(a[0]["x"] < b[0]["x"], F.lit(-1))
        .when(a[0]["x"] > b[0]["x"], F.lit(1))
        .when(a[0]["y"] < b[0]["y"], F.lit(-1))
        .when(a[0]["y"] > b[0]["y"], F.lit(1))
        .otherwise(F.lit(0)),
    )
    return _let(
        ordered,
        lambda ps: F.when(F.size(ps) == 0, F.lit("POLYGON EMPTY"))
        .when(F.size(ps) == 1, ring_to_wkt(ps[0]))
        .otherwise(
            F.concat(
                F.lit("MULTIPOLYGON ("),
                F.array_join(F.transform(ps, body), ", "),
                F.lit(")"),
            )
        ),
    )
