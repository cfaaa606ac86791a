"""Portable polygon geometry for the acreage, clip and containment
families — pure Column expressions over WKT text (split/transform/
aggregate, no UDFs, stays in codegen).

The reference reads ArcGIS-maintained ``SHAPE_Area`` straight off the
feature class (gSSURGO_AcreageReport.py:176-210;
SSURGO_CheckgSSURGO.py muAcres) and clips with one call,
``arcpy.Clip_analysis`` (gSSURGO_Clip.py:160), for any AOI and any
polygon feature. Here every clip runs through one core:

- ``parse_geom_parts`` — the one WKT polygon parser: POLYGON /
  MULTIPOLYGON (with holes, or EMPTY) to per-part ring arrays on the
  integer grid; ``parse_geom_rings`` is its flattened form.
- ``rect_halfplanes`` / ``convex_halfplanes`` / ``edge_halfplane`` —
  an AOI as a list of half-planes (axis bounds or directed edges);
  ``clip_ring`` runs one Sutherland–Hodgman pass per half-plane.
- ``clip_area2x(wkt, pieces)`` — the one clipped-area entry: Σ over
  disjoint convex AOI pieces of Σ over parts of (exterior − holes).
- ``clip_wkt(wkt, halfplanes)`` — the one clipped-geometry entry:
  canonical POLYGON EMPTY / POLYGON / MULTIPOLYGON text plus its area.
- ``shoelace_area2x`` (unclipped area), ``point_in_geom``
  (containment), and the concave-output steps ``bands_to_ring``,
  ``stack_band_rings``, ``split_bridged_ring_y``, ``rings_to_multiwkt``.

Determinism contract: with integral vertex coordinates the doubled
signed area is an exact integer (sums of integer products), so
``area2x`` is the oracle-hashable form; acre conversion divides by the
exact reference constant once at the end.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

#: acres per m² — the reference's meter conversion factor
#: (gSSURGO_AcreageReport.py:489: convAcres = 0.000247104393)
ACRES_PER_SQM = 0.000247104393

#: the OPEN double-typed ring every clip pass consumes and emits
RING_T = "array<struct<x:double,y:double>>"


def _dbl(v) -> Column:
    """A plan-build literal as a double literal; a Column unchanged."""
    return v if isinstance(v, Column) else F.lit(float(v))


def _let(value: Column, fn) -> Column:
    """Bind ``value`` once and hand ``fn`` a cheap reference to it —
    the single-element transform trick. Chained array passes that
    reference their input k times would otherwise inline the whole
    upstream expression k times (multiplicative tree blow-up: four
    chained Sutherland–Hodgman passes OOMed Catalyst at plan-build
    before this); a lambda variable is a bound reference, so the tree
    stays the SUM of the pass sizes."""
    return F.transform(F.array(value), fn)[0]


def parse_geom_parts(wkt: str | Column) -> Column:
    """Every part of a WKT ``POLYGON`` / ``MULTIPOLYGON`` as
    ``array<array<array<struct<x:bigint,y:bigint>>>>``: per part, the
    exterior ring followed by its holes, each ring OPEN (closing vertex
    dropped). ``POLYGON EMPTY`` and ``MULTIPOLYGON EMPTY`` parse to
    zero parts; NULL text parses to NULL. No prefix dispatch: parts
    split on ``)), ((``, which only occurs between MULTIPOLYGON parts.

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
                        "parse_geom_parts: non-integral or unparseable "
                        + axis + " coordinate '"
                    ),
                    F.coalesce(tok, F.lit("<null>")),
                    F.lit("' (integer-grid contract)"),
                )
            ).cast("long")
        )

    def ring(r: Column) -> Column:
        return _let(
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
        )

    body = F.regexp_replace(
        F.regexp_extract(c, r"POLYGON\s*\((.*)\)", 1), r"^[\s(]+|[\s)]+$", ""
    )
    parts = F.when(
        c.rlike(r"^\s*(MULTI)?POLYGON\s+EMPTY\s*$"),
        F.array().cast("array<string>"),
    ).otherwise(F.split(body, r"\)\s*\)\s*,\s*\(\s*\("))
    return F.transform(
        parts, lambda part: F.transform(F.split(part, r"\)\s*,\s*\("), ring)
    )


def parse_geom_rings(wkt: str | Column) -> Column:
    """ALL rings of ALL parts, flattened:
    ``array<array<struct<x:bigint,y:bigint>>>`` — the form the
    even-odd containment callers need (``rings_to_edges``), public so
    row-multiplying consumers (the cell-inventory explode, the overlay
    joins) parse each polygon ONCE, before replication."""
    return F.flatten(parse_geom_parts(wkt))


def _shoelace(r: Column, zero: Column) -> Column:
    """|Σ x_i·y_{i+1} − x_{i+1}·y_i| over an OPEN ring that is already
    a cheap reference (wrap-around edge included), 0 below 3 vertices;
    ``zero`` fixes the accumulator type (exact BIGINT or double)."""
    n = F.size(r)
    terms = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: r[i]["x"] * r[(i + 1) % n]["y"]
        - r[(i + 1) % n]["x"] * r[i]["y"],
    )
    s = F.aggregate(terms, zero, lambda acc, v: acc + v)
    return F.when(n < 3, zero).otherwise(F.abs(s))


def _net_area(parts: Column, area, zero: Column) -> Column:
    """Σ over parts of (area(exterior) − Σ area(holes)) — holes nest
    inside their exterior, so their areas (clipped or not) subtract
    exactly. ``area`` maps one ring to its unsigned doubled area."""
    return F.aggregate(
        F.flatten(
            F.transform(
                parts,
                lambda rings: F.transform(
                    rings,
                    lambda r, i: area(r)
                    * F.when(i == 0, F.lit(1)).otherwise(F.lit(-1)),
                ),
            )
        ),
        zero,
        lambda acc, v: acc + v,
    )


def shoelace_area2x(wkt: str | Column) -> Column:
    """Twice the polygon area of WKT text: Σ over parts of (exterior −
    holes), each ring's absolute shoelace — the figure ``SHAPE_Area``
    holds. Exact BIGINT on the integer grid; divide by 2 (and the acre
    constant) only at the final presentation step. EMPTY → 0."""
    zero = F.lit(0).cast("long")
    return _net_area(
        parse_geom_parts(wkt), lambda r: _shoelace(r, zero), zero
    )


def ring_area2x(ring: Column) -> Column:
    """Twice the absolute shoelace area of an OPEN double-typed ring
    (wrap-around edge included) as double; quantize at the caller."""
    return _let(ring, lambda r: _shoelace(r, F.lit(0.0)))


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


class HalfPlane(NamedTuple):
    """One clip half-plane, fixed at plan build: ``inside(p)`` and the
    boundary crossing ``isect(a, p)`` of edge A→P (A and P strictly on
    opposite sides). ``general`` marks a directed-edge half-plane,
    whose intersections may carry ~1 ulp of double rounding."""

    inside: Callable[[Column], Column]
    isect: Callable[[Column, Column], Column]
    general: bool


def _axis_halfplane(axis: str, bound, keep_ge: bool) -> HalfPlane:
    """``axis >= bound`` (keep_ge) or ``axis <= bound``. The crossing is
    the exact linear interpolation t = (b − a)/(p − a) with the
    boundary coordinate set to b itself — the arithmetic the
    arrowgeom overlay kernel replays bit for bit."""
    b = _dbl(bound)
    other = "y" if axis == "x" else "x"

    def inside(p: Column) -> Column:
        return p[axis] >= b if keep_ge else p[axis] <= b

    def isect(a: Column, p: Column) -> Column:
        t = (b - a[axis]) / (p[axis] - a[axis])
        o = a[other] + (p[other] - a[other]) * t
        if axis == "x":
            return F.struct(b.alias("x"), o.alias("y"))
        return F.struct(o.alias("x"), b.alias("y"))

    return HalfPlane(inside, isect, False)


def rect_halfplanes(x0, y0, x1, y1) -> list[HalfPlane]:
    """The AOI rectangle [x0, x1] × [y0, y1] as four axis half-planes,
    in the order x ≥ x0, x ≤ x1, y ≥ y0, y ≤ y1. Bounds are literals or
    double Columns."""
    return [
        _axis_halfplane("x", x0, True),
        _axis_halfplane("x", x1, False),
        _axis_halfplane("y", y0, True),
        _axis_halfplane("y", y1, False),
    ]


def edge_halfplane(e, f) -> HalfPlane:
    """The points on or LEFT of the directed edge E→F
    (side(P) = cross(F−E, P−E) ≥ 0) — a counter-clockwise convex AOI
    keeps its interior. The crossing uses the signed-distance ratio
    t = side(A)/(side(A) − side(P)). Coordinates are literals or
    double Columns."""
    ex, ey = _dbl(e[0]), _dbl(e[1])
    dx, dy = _dbl(f[0]) - ex, _dbl(f[1]) - ey

    def side(p: Column) -> Column:
        return dx * (p["y"] - ey) - dy * (p["x"] - ex)

    def isect(a: Column, p: Column) -> Column:
        t = side(a) / (side(a) - side(p))
        return F.struct(
            (a["x"] + (p["x"] - a["x"]) * t).alias("x"),
            (a["y"] + (p["y"] - a["y"]) * t).alias("y"),
        )

    return HalfPlane(lambda p: side(p) >= 0, isect, True)


def _signed_area2x(pts) -> float:
    """Twice the signed shoelace area of a literal vertex list (no
    closing vertex): positive when counter-clockwise."""
    n = len(pts)
    return sum(
        pts[i][0] * pts[(i + 1) % n][1] - pts[(i + 1) % n][0] * pts[i][1]
        for i in range(n)
    )


def convex_halfplanes(vertices) -> list[HalfPlane]:
    """A convex AOI polygon (vertex list, no closing vertex) as one
    directed-edge half-plane per edge. Literal vertex lists are
    oriented counter-clockwise here and rejected when not convex;
    Column vertices must already be CCW and convex."""
    pts = list(vertices)
    n = len(pts)
    if all(not isinstance(v, Column) for p in pts for v in p):
        def cross(i: int) -> float:
            (ax, ay), (bx, by), (cx, cy) = (
                pts[i - 1], pts[i], pts[(i + 1) % n]
            )
            return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

        if _signed_area2x(pts) < 0:
            pts.reverse()
        if any(cross(i) < 0 for i in range(n)):
            raise ValueError(f"convex_halfplanes: not convex: {vertices}")
    return [edge_halfplane(pts[i], pts[(i + 1) % n]) for i in range(n)]


def _halfplane_pass(ring: Column, hp: HalfPlane) -> Column:
    """One Sutherland–Hodgman pass (Sutherland & Hodgman, CACM 1974)
    over an OPEN double ring: per directed edge (A, B) emit B if both
    are inside, the crossing I when leaving, [I, B] when entering.
    Empty or fully-outside rings clip to an empty array."""

    def run(c: Column) -> Column:
        n = F.size(c)

        def emit(i: Column) -> Column:
            a, b = c[i], c[(i + 1) % n]
            return (
                F.when(hp.inside(a) & hp.inside(b), F.array(b))
                .when(hp.inside(a) & ~hp.inside(b), F.array(hp.isect(a, b)))
                .when(
                    ~hp.inside(a) & hp.inside(b),
                    F.array(hp.isect(a, b), b),
                )
                .otherwise(F.array().cast(RING_T))
            )

        # sequence(0, -1) steps BACKWARDS on an empty ring — guard it
        return F.when(n < 1, c).otherwise(
            F.flatten(F.transform(F.sequence(F.lit(0), n - 1), emit))
        )

    return _let(ring, run)


def clip_ring(ring: Column, halfplanes: list[HalfPlane]) -> Column:
    """Clip an OPEN double ring (``RING_T``) against the intersection
    of ``halfplanes``: one chained pass each, every pass binding its
    input once (``_let``), so the plan grows with the SUM of the pass
    sizes. The region is convex, so the result is exact for any simple
    subject ring (degenerate duplicate vertices it may emit are
    shoelace-neutral; ``normalize_ring`` drops them)."""
    return reduce(_halfplane_pass, halfplanes, ring)


def clip_area2x(wkt: str | Column, pieces: list[list[HalfPlane]]) -> Column:
    """Doubled area of WKT polygon ∩ AOI, quantized to BIGINT — the
    clipped acreage the reference reads off ``SHAPE_Area`` after
    Clip_analysis. The AOI is a list of interior-DISJOINT convex
    pieces, each a half-plane list (one ``rect_halfplanes`` for a
    rectangle; a ``rectilinear_decompose`` or
    ``triangulate_simple_polygon`` decomposition for a concave AOI), so
    areas add with no overlap terms: round(Σ pieces Σ parts
    (exterior − holes)). The WKT parses once; any POLYGON /
    MULTIPOLYGON with holes, EMPTY → 0. Map-only."""
    if not pieces:
        return F.lit(0).cast("long")

    def total(parts: Column) -> Column:
        return reduce(
            lambda acc, v: acc + v,
            [
                _net_area(
                    parts,
                    lambda r, hp=hp: ring_area2x(clip_ring(r.cast(RING_T), hp)),
                    F.lit(0.0),
                )
                for hp in pieces
            ],
        )

    return F.round(_let(parse_geom_parts(wkt), total)).cast("long")


def clip_wkt(wkt: str | Column, halfplanes: list[HalfPlane]) -> Column:
    """Clipped GEOMETRY of WKT polygon ∩ convex AOI as
    ``struct<clip_wkt:string, clip_a2x:bigint>`` — the feature output
    of Clip_analysis. Every ring of every part clips, snaps back to the
    integer grid when a half-plane is a general edge (axis passes are
    exact), and canonicalizes (``normalize_ring``). A part drops when
    its exterior dies or its surviving holes fill it (hole ⊆ exterior,
    so equal area is equal region); dead holes drop. The survivors
    serialize in input order as ``POLYGON EMPTY``, ``POLYGON`` or
    ``MULTIPOLYGON``; ``clip_a2x`` is round(Σ survivors (exterior −
    holes)). Integer-grid output contract as ``ring_to_wkt``."""
    snap = any(hp.general for hp in halfplanes)

    def clip_norm(r: Column) -> Column:
        c = clip_ring(r.cast(RING_T), halfplanes)
        return normalize_ring(snap_ring_ints(c) if snap else c)

    def part(rs: Column) -> Column:
        ext = rs[0]
        holes = F.filter(
            F.slice(rs, 2, F.size(rs) - 1), lambda h: F.size(h) >= 3
        )
        ha = F.aggregate(
            F.transform(holes, ring_area2x), F.lit(0.0), lambda a, v: a + v
        )
        a2x = ring_area2x(ext) - ha
        return F.struct(
            ((F.size(ext) >= 3) & ((F.size(holes) == 0) | (a2x != 0)))
            .alias("live"),
            F.concat(F.array(ext), holes).alias("rings"),
            a2x.alias("a2x"),
        )

    def body(s: Column) -> Column:
        return F.concat(
            F.lit("("),
            F.array_join(F.transform(s["rings"], _ring_body), ", "),
            F.lit(")"),
        )

    live = F.filter(
        F.transform(
            F.transform(
                parse_geom_parts(wkt),
                lambda rings: F.transform(rings, clip_norm),
            ),
            part,
        ),
        lambda s: s["live"],
    )
    return _let(
        live,
        lambda ps: F.struct(
            _parts_to_wkt(F.transform(ps, body)).alias("clip_wkt"),
            F.round(
                F.aggregate(
                    F.transform(ps, lambda s: s["a2x"]),
                    F.lit(0.0),
                    lambda a, v: a + v,
                )
            )
            .cast("long")
            .alias("clip_a2x"),
        ),
    )


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
    ``convex_halfplanes``, clipped areas summing exactly because the
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
    poly = list(pts) if _signed_area2x(pts) > 0 else list(reversed(pts))

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
    (``edge_halfplane``) compute t = side/(side−side) and
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


def _ring_body(r: Column) -> Column:
    """``(x y, ..., x y)`` text of an OPEN integer-valued ring with the
    closing vertex re-appended; coordinates print as BIGINT."""

    def fmt(p: Column) -> Column:
        return F.concat(
            p["x"].cast("long").cast("string"),
            F.lit(" "),
            p["y"].cast("long").cast("string"),
        )

    return F.concat(
        F.lit("("),
        F.array_join(F.transform(r, fmt), ", "),
        F.lit(", "),
        fmt(r[0]),
        F.lit(")"),
    )


def _parts_to_wkt(bodies: Column) -> Column:
    """Part bodies ``((ext), (hole), ...)`` → canonical WKT by part
    count: 0 → ``POLYGON EMPTY``, 1 → ``POLYGON``, n → ``MULTIPOLYGON``
    — the multi-feature collapse arcpy.Clip_analysis output implies
    (gSSURGO_Clip.py:160)."""
    return _let(
        bodies,
        lambda b: F.when(F.size(b) == 0, F.lit("POLYGON EMPTY"))
        .when(F.size(b) == 1, F.concat(F.lit("POLYGON "), b[0]))
        .otherwise(
            F.concat(
                F.lit("MULTIPOLYGON ("), F.array_join(b, ", "), F.lit(")")
            )
        ),
    )


def ring_to_wkt(ring: Column) -> Column:
    """OPEN integer-valued ring → WKT ``POLYGON ((x y, ..., x y))``
    text with the closing vertex re-appended, or ``POLYGON EMPTY``
    when fewer than 3 vertices remain — the geometry OUTPUT of the
    clip (Clip_analysis returns clipped features, not areas;
    gSSURGO_Clip.py:160). Coordinates print as BIGINT (the integer
    clip syntheses guarantee exact integer vertices)."""
    return _let(
        ring,
        lambda r: F.when(F.size(r) < 3, F.lit("POLYGON EMPTY")).otherwise(
            F.concat(F.lit("POLYGON ("), _ring_body(r), F.lit(")"))
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
    return _parts_to_wkt(
        F.transform(
            ordered, lambda r: F.concat(F.lit("("), _ring_body(r), F.lit(")"))
        )
    )
