"""The one clip core (functions/geometry.py): parse_geom_parts,
clip_ring over half-plane lists, clip_area2x and clip_wkt — over the
full WKT input surface (POLYGON, POLYGON with hole, MULTIPOLYGON with
hole, EMPTY) for every AOI kind (rectangle, convex pentagon,
triangulated and rectilinear decompositions), under ANSI on and off,
against the independent pure-Python Sutherland–Hodgman references of
test_round10."""

import pytest
from pyspark.sql import functions as F

from soil_data_development_tools___arcmap_spark.functions.geometry import (
    clip_area2x,
    clip_wkt,
    convex_halfplanes,
    edge_halfplane,
    point_in_geom,
    rect_halfplanes,
    rectilinear_decompose,
    shoelace_area2x,
    triangulate_simple_polygon,
)
from soil_data_development_tools___arcmap_spark.q_tools import (
    _LDIAG_AOI,
    _STAIR_AOI,
)
from test_round10 import _py_area2x, _py_clip_edges, _py_clip_rect


@pytest.fixture(params=[True, False], ids=["ansi_on", "ansi_off"])
def ansi_spark(spark, request):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(request.param).lower())
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", old)


def test_empty_geometry_is_valid_input(ansi_spark):
    """POLYGON EMPTY — the text ring_to_wkt and clip_wkt themselves
    emit — and MULTIPOLYGON EMPTY are zero-part geometries: area 0,
    an empty clip and no containment, never a cast or contract
    error."""
    df = ansi_spark.createDataFrame(
        [(0, "POLYGON EMPTY"), (1, "MULTIPOLYGON EMPTY")], "k int, wkt string"
    )
    pentagon = rect_halfplanes(1, 1, 11, 5) + [
        edge_halfplane((13, 0), (12, 1))
    ]
    out = clip_wkt("wkt", rect_halfplanes(1, 1, 11, 3))
    got = df.select(
        shoelace_area2x("wkt").alias("a2x"),
        clip_area2x("wkt", [rect_halfplanes(1, 1, 11, 3)]).alias("rect"),
        clip_area2x("wkt", [pentagon]).alias("pentagon"),
        out["clip_wkt"].alias("w"),
        out["clip_a2x"].alias("wa"),
        point_in_geom("wkt", F.lit(2), F.lit(2)).alias("inside"),
    ).collect()
    assert [tuple(r) for r in got] == [(0, 0, 0, "POLYGON EMPTY", 0, 0)] * 2


def _edges(poly):
    return [(poly[i], poly[(i + 1) % len(poly)]) for i in range(len(poly))]


_PENTAGON = [(1, 1), (11, 1), (11, 2), (8, 5), (1, 5)]  # window ∩ x+y<=13
_TRIS = triangulate_simple_polygon(_LDIAG_AOI)
_STAIR = rectilinear_decompose(_STAIR_AOI)

#: AOI kind -> (subject offset, Spark pieces, pure-Python piece clips);
#: each offset puts the subjects across the AOI's interesting boundary
_AOIS = {
    "rect": (
        (0, 0),
        lambda: [rect_halfplanes(1, 1, 11, 3)],
        [lambda r: _py_clip_rect(r, 1, 1, 11, 3)],
    ),
    "convex_pentagon": (
        (6, 0),
        lambda: [
            rect_halfplanes(1, 1, 11, 5) + [edge_halfplane((13, 0), (12, 1))]
        ],
        [lambda r: _py_clip_edges(r, _edges(_PENTAGON))],
    ),
    "triangulated": (
        (47, 23),
        lambda: [convex_halfplanes(t) for t in _TRIS],
        [lambda r, t=t: _py_clip_edges(r, _edges(t)) for t in _TRIS],
    ),
    "rectilinear": (
        (68, 18),
        lambda: [rect_halfplanes(*p) for p in _STAIR],
        [lambda r, p=p: _py_clip_rect(r, *p) for p in _STAIR],
    ),
}

_SQUARE = [(0, 0), (4, 0), (4, 4), (0, 4)]
_HOLE = [(1, 1), (2, 1), (2, 2), (1, 2)]
_EAST = [(6, 0), (8, 0), (8, 2), (6, 2)]
#: subject -> parts (each: exterior then holes); the hole and the
#: two-part subjects are the three wrong-answer repros of the
#: per-shape clip paths this core replaced
_SUBJECTS = {
    "polygon": [[_SQUARE]],
    "polygon_hole": [[_SQUARE, _HOLE]],
    "multipolygon_hole": [[_SQUARE, _HOLE], [_EAST]],
    "empty": [],
}


def _wkt(parts):
    def ring(r):
        return "(" + ", ".join(f"{x} {y}" for x, y in r + r[:1]) + ")"

    bodies = ["(" + ", ".join(ring(r) for r in rings) + ")" for rings in parts]
    if not bodies:
        return "POLYGON EMPTY"
    if len(bodies) == 1:
        return "POLYGON " + bodies[0]
    return "MULTIPOLYGON (" + ", ".join(bodies) + ")"


def _py_norm(pts):
    """Snapped, deduplicated, collinear-free ring rotated to its
    lexicographic-min vertex; [] when fewer than 3 vertices remain."""
    pts = [(round(x), round(y)) for x, y in pts]
    out = [p for i, p in enumerate(pts) if p != pts[(i + 1) % len(pts)]]
    if len(out) >= 3:
        m = len(out)
        out = [
            p for i, p in enumerate(out)
            if (p[0] - out[i - 1][0]) * (out[(i + 1) % m][1] - out[i - 1][1])
            - (p[1] - out[i - 1][1]) * (out[(i + 1) % m][0] - out[i - 1][0])
            != 0
        ]
    if len(out) < 3:
        return []
    lead = out.index(min(out))
    return out[lead:] + out[:lead]


def _py_clip_wkt(parts, clip):
    """Reference clipped geometry: clip and normalize every ring, drop
    dead holes, drop parts whose exterior died or whose holes fill
    them; serialize survivors; doubled area of the survivors."""
    live, total = [], 0
    for rings in parts:
        ext = _py_norm(clip(rings[0]))
        holes = [h for h in (_py_norm(clip(r)) for r in rings[1:]) if h]
        a2x = _py_area2x(ext) - sum(_py_area2x(h) for h in holes)
        if ext and (not holes or a2x != 0):
            live.append([ext] + holes)
            total += a2x
    return _wkt(live), round(total)


@pytest.mark.parametrize("aoi", list(_AOIS))
def test_clip_core_full_wkt_surface(ansi_spark, aoi):
    (dx, dy), pieces, py_clips = _AOIS[aoi]
    moved = {
        name: [[[(x + dx, y + dy) for x, y in r] for r in rings]
               for rings in parts]
        for name, parts in _SUBJECTS.items()
    }
    df = ansi_spark.createDataFrame(
        [(name, _wkt(parts)) for name, parts in moved.items()],
        "name string, wkt string",
    )
    cols = [
        shoelace_area2x("wkt").alias("a2x"),
        clip_area2x("wkt", pieces()).alias("clip_a2x"),
    ]
    if len(py_clips) == 1:  # one convex AOI: the geometry output too
        out = clip_wkt("wkt", pieces()[0])
        cols += [out["clip_wkt"].alias("w"), out["clip_a2x"].alias("wa")]
    got = {r["name"]: r for r in df.select("name", *cols).collect()}
    assert set(got) == set(_SUBJECTS)
    n_partial = 0
    for name, parts in moved.items():
        r = got[name]
        area = sum(
            _py_area2x(rings[0]) - sum(_py_area2x(h) for h in rings[1:])
            for rings in parts
        )
        clipped = round(sum(
            _py_area2x(clip(rings[0]))
            - sum(_py_area2x(clip(h)) for h in rings[1:])
            for clip in py_clips
            for rings in parts
        ))
        assert r["a2x"] == area, (aoi, name, r)
        assert r["clip_a2x"] == clipped, (aoi, name, r, clipped)
        if len(py_clips) == 1:
            assert (r["w"], r["wa"]) == _py_clip_wkt(parts, py_clips[0]), (
                aoi, name, r,
            )
            assert r["wa"] == clipped
        n_partial += 0 < r["clip_a2x"] < area
    assert n_partial >= 2  # the AOI boundary genuinely cuts subjects
    if aoi == "rect":
        # the three repros: hole-blind shoelace (32) and rect clip (12),
        # and the multipart clip only one old entry got right (14)
        assert got["polygon_hole"]["a2x"] == 30
        assert got["polygon_hole"]["clip_a2x"] == 10
        assert got["multipolygon_hole"]["clip_a2x"] == 14


def test_convex_halfplanes_orients_and_rejects_concave(spark):
    """A literal convex AOI clips the same in either orientation; a
    concave one is refused at plan build instead of clipping to the
    wrong region."""
    with pytest.raises(ValueError, match="not convex"):
        convex_halfplanes(_LDIAG_AOI)
    df = spark.createDataFrame(
        [("POLYGON ((6 0, 10 0, 10 4, 6 4, 6 0))",)], "wkt string"
    )
    got = df.select(
        clip_area2x("wkt", [convex_halfplanes(_PENTAGON)]),
        clip_area2x("wkt", [convex_halfplanes(_PENTAGON[::-1])]),
    ).first()
    # window [6,10]x[1,4] less the x+y>13 corner (doubled area 1)
    assert tuple(got) == (23, 23)
