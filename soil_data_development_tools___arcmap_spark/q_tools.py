"""Tool-shaped queries: merges, rasters, reports, legends,
validation, ingest, the gSSURGO lake and nightly runs."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import (
    RatingSpec,
    agg_dcd,
    agg_dcp,
    agg_hz_dcp_wta,
    agg_limiting,
    agg_maxmin,
    agg_pp_sum,
    agg_wta,
    month_collapse,
)
from .operators.horizon_agg import _member_sums, clipped_thickness

from .cachefs import cached_dir, scratch_dir
from ._qcore import (
    VALU1_RANGES,
    _even_grid_rects,
    _t,
    cents,
    li_component,
    li_horizon,
    read_events,
    ssurgo_synth,
    synth_component,
)
from .q_sdv import sdv_dcp_categorical, sdv_pp_sum, sdv_wta
from .functions.geometry import (
    RING_T,
    _let,
    _signed_area2x,
    acres_e4,
    bands_to_ring,
    clip_area2x,
    clip_ring,
    clip_wkt,
    convex_halfplanes,
    edge_halfplane,
    normalize_ring,
    point_in_geom,
    rect_halfplanes,
    rectilinear_decompose,
    ring_area2x,
    ring_to_wkt,
    rings_to_multiwkt,
    shoelace_area2x,
    snap_ring_ints,
    split_bridged_ring_y,
    stack_band_rings,
    triangulate_simple_polygon,
)



def validate_component_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gSSURGO_ValidateData plausibility report: per-mukey component
    percent sum with anomaly flags (sum <> 100, no major component)."""
    co = synth_component(spark, sf_dir)
    agg = co.groupBy("mukey").agg(
        F.sum("comppct_r").alias("sum_pct"),
        F.count(F.lit(1)).alias("n_comp"),
        F.sum(F.when(F.col("majcompflag") == "Yes", 1).otherwise(0)).alias(
            "n_major"
        ),
    )
    return agg.select(
        "mukey",
        "sum_pct",
        "n_comp",
        (F.col("sum_pct") != 100).cast("int").alias("flag_pct"),
        (F.col("n_major") == 0).cast("int").alias("flag_no_major"),
    )


def raster_lookup_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapunit-raster lookup assignment (SSURGO_ExportMuRaster.py:
    1252-1357): dense sequential cellvalue per distinct mukey, then the
    broadcast join back onto the component fact side — output one row
    per mukey with its cellvalue and component count (what the raster
    attribute table carries)."""
    from .functions.raster import attach_cellvalues, mukey_lookup

    co = synth_component(spark, sf_dir)
    lu = mukey_lookup(co)
    return attach_cellvalues(co, lu).groupBy("cellvalue", "mukey").agg(
        F.count(F.lit(1)).alias("n_comp")
    )


def validate_missing_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gSSURGO_ValidateData missing-data report (CreateQueryTables
    :455-505 + RunReport :517-796): mapunits with no component rows
    (muNoCo — NOTCOM/NOTPUB map units reported separately as
    expected-empty, muNotCom), and components with no horizon rows
    (coNoHz — skipping NOTCOM/NOTPUB components and 'Miscellaneous
    area' compkind, :466-471). Anti-joins, one row per anomaly. The
    mapunit table derives from customer (customers without orders =
    mapunits without components); horizons are withheld for
    cokey % 9 == 0 to make coNoHz non-empty."""
    t = ssurgo_synth(spark, sf_dir)
    mu = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("mukey"),
        F.when(F.col("c_custkey") % 11 == 0, "NOTCOM")
        .otherwise(F.concat(F.lit("MU"), F.col("c_custkey").cast("string")))
        .alias("musym"),
    )
    co = t["component"]
    hz = t["chorizon"].where(F.col("cokey") % 9 != 0)
    no_co = mu.join(co.select("mukey").distinct(), "mukey", "left_anti")
    mu_no_co = no_co.where(F.col("musym") != "NOTCOM").select(
        F.lit("mu_no_component").alias("kind"),
        "mukey",
        F.lit(None).cast("long").alias("cokey"),
    )
    mu_notcom = no_co.where(F.col("musym") == "NOTCOM").select(
        F.lit("mu_notcom").alias("kind"),
        "mukey",
        F.lit(None).cast("long").alias("cokey"),
    )
    co_no_hz = (
        co.join(hz.select("cokey").distinct(), "cokey", "left_anti")
        .where(
            ~F.col("compname").isin("NOTCOM", "NOTPUB")
            & (F.coalesce(F.col("compkind"), F.lit("")) != "Miscellaneous area")
        )
        .select(F.lit("co_no_horizon").alias("kind"), "mukey", "cokey")
    )
    return mu_no_co.unionByName(mu_notcom).unionByName(co_no_hz)


def validate_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CheckgSSURGO structural validation end-to-end over a synthetic
    catalog with deliberate defects: one required table missing, one
    with a wrong column order, the rest healthy; plus the SACATALOG
    survey count and the mapunit tabular-vs-component cross-check
    (which MISmatches here because some customers have no orders).
    Report: (check, subject, status, n)."""
    from .functions.structure import (
        catalog_survey_count,
        check_structure,
        count_cross_check,
    )

    t = ssurgo_synth(spark, sf_dir)
    co, hz = t["component"], t["chorizon"]
    expected = {
        "component": ["mukey", "cokey", "comppct_r", "majcompflag"],
        "chorizon": ["cokey", "chkey", "hzdept_r", "hzdepb_r"],
        "chtexture": ["chtgkey", "lieutex"],
        "sdvattribute": ["attributekey", "attributename"],
    }
    catalog = {
        "component": co.select("mukey", "cokey", "comppct_r", "majcompflag"),
        # wrong order: swapped depth columns
        "chorizon": hz.select("cokey", "chkey", "hzdepb_r", "hzdept_r"),
        # "chtexture" absent -> missing
        "sdvattribute": spark.createDataFrame(
            [], "attributekey int, attributename string"
        ),
    }
    tbl_rows = [
        (r["table_name"], r["status"]) for r in check_structure(catalog, expected)
    ]
    tbl = spark.createDataFrame(tbl_rows, "subject string, status string").select(
        F.lit("table").alias("check"),
        "subject",
        "status",
        F.lit(None).cast("bigint").alias("n"),
    )
    sacatalog = _t(spark, sf_dir, "region").select(
        F.concat(F.lit("R"), F.col("r_regionkey").cast("string")).alias(
            "areasymbol"
        )
    )
    sc = catalog_survey_count(sacatalog).select(
        F.lit("sacatalog").alias("check"),
        F.lit("surveys").alias("subject"),
        "status",
        F.col("n").cast("bigint").alias("n"),
    )
    mu = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("mukey")
    )
    cc = count_cross_check(mu, co, "mukey").select(
        F.lit("mapunit_count").alias("check"),
        F.lit("tabular_vs_component").alias("subject"),
        "status",
        F.col("diff").cast("bigint").alias("n"),
    )
    return tbl.unionByName(sc).unionByName(cc)


def legend_class_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetNumericLegend equal-interval class breaks over the rating's
    min/max (gSSURGO_CreateSoilMap.py:1234-1493)."""
    from .functions.legend import equal_interval_breaks

    cents_tbl = _t(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("rating_c")
    )
    return equal_interval_breaks(cents_tbl, "rating_c", n_classes=5)


def legend_unique_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniqueValuesJSON core: distinct rating values + counts of a
    categorical rating output (the outputValues legend collection)."""
    from .functions.legend import unique_values

    return unique_values(sdv_dcp_categorical(spark, sf_dir), "rating")


def natmusym_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetNatMusym attribute attach (SDA result joined back on mukey,
    GetNatMusym.py:241-410): a broadcast-joined mapping updates the
    symbol column in place."""
    orders = _t(spark, sf_dir, "orders")
    # stand-in for the SDA response: distinct symbol -> national symbol
    sda = (
        orders.select("o_orderpriority")
        .distinct()
        .select(
            "o_orderpriority",
            F.substring(F.md5(F.col("o_orderpriority")), 1, 8).alias("natmusym"),
        )
    )
    return orders.join(F.broadcast(sda), "o_orderpriority").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("musym"),
        "natmusym",
    )


def merge_rating_tables_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gSSURGO_MergeRatingTables: several per-attribute rating tables
    left-joined into one wide table on the map-unit key."""
    from .tools_merge import merge_rating_tables

    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey")
    ).distinct()
    return merge_rating_tables(
        base,
        {
            "dcp": sdv_dcp_categorical(spark, sf_dir),
            "wta": sdv_wta(spark, sf_dir),
            "pp": sdv_pp_sum(spark, sf_dir),
        },
        key="okey",
    )


# --------------------------------------------- set ops / tools (§2.6-7)


def merge_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSURGO_MergeDatabases: multi-source union + PK dedup."""
    n = _t(spark, sf_dir, "nation")
    return n.unionByName(n).distinct()


def merge_by_map_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSURGO_MergeDatabasesByMap: survey list derived from a map
    layer's SELECTED polygons (not a typed list), surveys already in
    the target skipped, then multi-source union + PK dedup — the
    by-map driver over the merge core. Selection = customers with
    c_custkey % 3 = 0; their polygons' areasymbols pick the surveys;
    'A1' already exists in the target and is skipped."""
    from .tools_merge import merge_by_map

    asym = lambda c: F.concat(F.lit("A"), (c % 7).cast("string"))  # noqa: E731
    map_polys = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 3 == 0)
        .select(asym(F.col("c_custkey")).alias("areasymbol"))
    )
    n = _t(spark, sf_dir, "nation").withColumn(
        "areasymbol", asym(F.col("n_nationkey"))
    )
    source = n.unionByName(n)  # two survey downloads with overlap
    existing = spark.createDataFrame([("A1",)], "areasymbol string")
    return merge_by_map(map_polys, source, existing).distinct()


def distinct_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT areasymbol scan (gSSURGO_CreateSoilMap.py:3643-3652)."""
    return _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()


def dominant_member_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetDominantComponent.py:89-120 — first per group under
    ORDER BY group DESC, weight DESC, member DESC."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nkey"),
        F.col("c_custkey").alias("member"),
        cents("c_acctbal").alias("bal_c"),
    )
    w = Window.partitionBy("nkey").orderBy(
        F.col("bal_c").desc(), F.col("member").desc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("nkey", "member", "bal_c")
    )


def acreage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gSSURGO_AcreageReport: Σ area per rating class."""
    return (
        li_component(spark, sf_dir)
        .groupBy(F.col("rflag").alias("rating"))
        .agg(
            F.sum("comppct_r").alias("acres"),
            F.sum("price_c").alias("value_c"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def acreage_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acreage report FROM GEOMETRY (scope extension per VERDICT r2
    item 7): the reference reads GIS-maintained SHAPE_Area
    (gSSURGO_AcreageReport.py:176-232); here the per-polygon area is
    computed from WKT text by the shoelace Column expression
    (functions/geometry.py) so the acreage family is self-contained
    without a GIS. Synthetic mapunit polygons (axis-aligned rectangles
    + right triangles with integer vertices) are built per customer;
    the oracle derives each area INDEPENDENTLY from the key formulas —
    certifying the WKT parse + shoelace end-to-end. Acre conversion
    (convAcres, :489) applied once per survey after the exact integer
    sum."""
    from .functions.geometry import acres_e4, shoelace_area2x

    k = F.col("c_custkey")
    x0, y0 = (k % 100).cast("string"), (k % 57).cast("string")
    x1 = (k % 100 + (k % 13 + 1)).cast("string")
    y1 = (k % 57 + (k % 7 + 1)).cast("string")
    pt = lambda x, y: F.concat(x, F.lit(" "), y)  # noqa: E731
    sep = F.lit(", ")
    rect = F.concat(
        F.lit("POLYGON (("),
        pt(x0, y0), sep, pt(x1, y0), sep, pt(x1, y1), sep, pt(x0, y1),
        sep, pt(x0, y0),
        F.lit("))"),
    )
    tri = F.concat(
        F.lit("POLYGON (("),
        pt(x0, y0), sep, pt(x1, y0), sep, pt(x0, y1), sep, pt(x0, y0),
        F.lit("))"),
    )
    polys = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nkey"),
        F.when(k % 3 == 0, tri).otherwise(rect).alias("wkt"),
    )
    per_poly = polys.select("nkey", shoelace_area2x("wkt").alias("a2x"))
    return per_poly.groupBy("nkey").agg(
        F.count(F.lit(1)).alias("n_poly"),
        F.sum("a2x").alias("area2x"),
    ).select("nkey", "n_poly", "area2x", acres_e4(F.col("area2x")).alias("acres_e4"))


def count_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSURGO_CheckgSSURGO count-reconciliation: per-table row counts,
    compared against the oracle engine running the same counts."""
    from .sources.testdata import TABLES

    dfs = []
    for t in TABLES:
        dfs.append(
            _t(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(t).alias("table_name"), "n")
        )
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def validate_depth_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gSSURGO_ValidateData horizon gap/overlap scan: adjacent synthetic
    horizons per order compared with lag()."""
    li = li_horizon(spark, sf_dir)
    # (okey, lnum) is NOT unique in the synthetic data — hzdepb makes the
    # order total up to fully-identical rows (which are interchangeable).
    w = Window.partitionBy("okey").orderBy("hzdept", "lnum", "hzdepb")
    df = li.withColumn("prev_bot", F.lag("hzdepb").over(w))
    return df.groupBy("okey").agg(
        F.sum((F.col("prev_bot") < F.col("hzdept")).cast("int")).alias("n_gaps"),
        F.sum((F.col("prev_bot") > F.col("hzdept")).cast("int")).alias("n_overlaps"),
    )


# --------------------------------------------------------------------------
# round 4: presentation-core closers (SURVEY §2.7/§2.8 "out of scope" rows
# re-expressed as portable computation) + ANN recall/pruning + as-of join
# --------------------------------------------------------------------------


def legend_color_ramp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bezier legend color ramp (BezierColorRamp.py:180-282 Process;
    ColorRamp, gSSURGO_CreateSoilMap.py:512-591): ramp size = the
    legend's class count, data-derived as COUNT(DISTINCT
    o_orderpriority) — the unique-values legend cardinality."""
    from .functions.colorramp import bezier_legend_ramp

    n_df = _t(spark, sf_dir, "orders").agg(
        F.countDistinct("o_orderpriority").alias("n")
    )
    return bezier_legend_ramp(n_df)


def report_number_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locale number formatting core (Number_Format,
    gSSURGO_CreateSoilMap.py:205-219): the acreage-report presentation
    pass — counts with thousands separators, money from exact cents
    (integer-only formatting, so the strings hash identically across
    engines; no float printf anywhere)."""
    agg = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("rating"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("o_totalprice")).alias("total_c"),
        )
    )
    return agg.select(
        "rating",
        F.format_number(F.col("n"), 0).alias("n_fmt"),
        F.concat(
            F.format_number(F.expr("total_c div 100"), 0),
            F.lit("."),
            F.lpad((F.col("total_c") % 100).cast("string"), 2, "0"),
        ).alias("total_fmt"),
    )


def map_offset_angle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotate-to-north core (MapRotateNorth.py:61-161): per customer a
    deterministic point triple (A, B, C) is synthesized from the key
    (same convention as acreage_geom's synthetic polygons), the signed
    offset angle ∠ABC computed in integer tenths of a degree, and A
    rotated about B by that angle — the affine transform the reference
    applies to the ArcGIS data frame, minus the frame."""
    from .functions.geometry import offset_angle_d10, rotate_about_e4

    k = F.col("c_custkey")
    d = lambda c: c.cast("double")  # noqa: E731
    bx, by = d(k % 50), d(k % 30)
    ax, ay = bx + d(1 + k % 13), by + d(2 + k % 7)
    cx, cy = bx + d(3 + k % 11), by - d(1 + k % 5)
    angle = offset_angle_d10(ax, ay, bx, by, cx, cy)
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"), angle.alias("angle_d10"),
        ax.alias("_ax"), ay.alias("_ay"), bx.alias("_bx"), by.alias("_by"),
    )
    rx, ry = rotate_about_e4(
        F.col("_ax"), F.col("_ay"), F.col("_bx"), F.col("_by"),
        F.col("angle_d10"),
    )
    return cust.select(
        "okey", "angle_d10", rx.alias("rx_e4"), ry.alias("ry_e4")
    )


def report_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report layout core (gSSURGO_TabularReport.py:140-260 picks the
    .rlf template and hands rows to the ArcGIS report engine): the
    engine's pagination — key-ordered rows split into 50-line pages
    with per-page line numbers and group summaries — is portable
    computation. The global row number is a parallel prefix scan (the
    same shape as events_late_data_audit): a PARTITIONED window inside
    1M-key chunks plus a per-chunk row-count carry — the only global
    window runs over one row per chunk, so no single-partition sort of
    the report rows at any scale. Output: one row per page with its
    line count, key span, and exact cent subtotal."""
    rows = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), cents("o_totalprice").alias("c")
    ).withColumn("bkt", F.expr("okey div 1000000"))
    w_in = Window.partitionBy("bkt").orderBy("okey")
    within = rows.withColumn("rn_in", F.row_number().over(w_in))
    bcount = rows.groupBy("bkt").agg(F.count(F.lit(1)).alias("bn"))
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = bcount.select(
        "bkt", F.coalesce(F.sum("bn").over(w_b), F.lit(0)).alias("rn_base")
    )
    paged = within.join(carry, "bkt").withColumn(
        "page",
        ((F.col("rn_base") + F.col("rn_in") - 1) / 50).cast("long") + 1,
    )
    return paged.groupBy("page").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("okey").alias("first_okey"),
        F.max("okey").alias("last_okey"),
        F.sum("c").alias("page_total_c"),
    )


def state_survey_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONUS-build partition planning (SSURGO_gSSURGO_byState.py:10-15,
    :284-300): the state→areasymbol resolution — legend ⨝ laoverlap
    WHERE areatypename = 'State or Territory' — that decides which
    surveys land in each per-state build. Legend synthesized from
    customer (one survey per customer), overlap from the customer's
    nation; output one planning row per state: survey count and the
    areasymbol span (what the batch driver iterates). Both sides of
    the resolve are dimension-sized; the fact-scale work this plan
    feeds (per-state ingest) is the partitioned-write path in
    sources/sinks.py."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    legend = cust.select(
        F.col("c_custkey").alias("lkey"),
        F.concat(F.lit("AS"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")).alias(
            "areasymbol"
        ),
        F.col("c_nationkey"),
    )
    laoverlap = nation.select(
        F.col("n_nationkey"),
        F.lit("State or Territory").alias("areatypename"),
        F.col("n_name").alias("areaname"),
    )
    return (
        legend.join(
            F.broadcast(laoverlap),
            legend["c_nationkey"] == laoverlap["n_nationkey"],
        )
        .where(F.col("areatypename") == "State or Territory")
        .groupBy("areaname")
        .agg(
            F.count(F.lit(1)).alias("n_surveys"),
            F.min("areasymbol").alias("first_areasymbol"),
            F.max("areasymbol").alias("last_areasymbol"),
        )
    )


# ---------------------------------------------------------------------------
# clip family (gSSURGO_Clip.py:160, arcpy.Clip_analysis): every query is a
# thin caller of functions/geometry.py's one clip core
# ---------------------------------------------------------------------------


def _rect(x0, y0, x1, y1) -> list:
    """CCW vertex list of the rectangle [x0, x1] × [y0, y1]."""
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def _ring_text(pts) -> Column:
    """WKT ring text ``(x y, ..., x y)`` of a vertex list, closed."""
    return F.concat(
        F.lit("("),
        F.concat_ws(", ", *[
            F.concat(x.cast("string"), F.lit(" "), y.cast("string"))
            for x, y in [*pts, pts[0]]
        ]),
        F.lit(")"),
    )


def _ring_array(pts) -> Column:
    """The OPEN double ring (``RING_T``) of a vertex list, for the
    concave queries that clip one ring without a WKT round trip."""
    return F.array(*[
        F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"))
        for x, y in pts
    ])


def _holes_subject(
    k: Column, hole: bool = True, east: bool = False
) -> tuple[Column, Column]:
    """The clip family's subject polygon per key: the rectangle at
    (k%100, k%57) sized (k%13+1) × (k%7+1); with ``hole``, an interior
    hole (k%3+1 or less) × (k%2+1 or less) at +1,+1 when the exterior
    is at least 3 × 3; with ``east``, a second rectangle 20 m east
    sized (k%4+1) × (k%3+1) as a MULTIPOLYGON part, except every third
    key, which stays a plain POLYGON. Returns (wkt, poly_a2x), the
    second being the first part's closed-form doubled area."""
    x0, y0 = k % 100, k % 57
    w, h = k % 13 + 1, k % 7 + 1
    rings, hole_a2x = [_ring_text(_rect(x0, y0, x0 + w, y0 + h))], F.lit(0)
    if hole:
        hw, hh = F.least(w - 2, k % 3 + 1), F.least(h - 2, k % 2 + 1)
        has_hole = (w >= 3) & (h >= 3)
        hole_ring = _ring_text(_rect(x0 + 1, y0 + 1, x0 + 1 + hw, y0 + 1 + hh))
        rings.append(
            F.when(has_hole, F.concat(F.lit(", "), hole_ring)).otherwise("")
        )
        hole_a2x = F.when(has_hole, 2 * hw * hh).otherwise(F.lit(0))
    part1 = F.concat(*rings)
    wkt = F.concat(F.lit("POLYGON ("), part1, F.lit(")"))
    if east:
        part2 = _ring_text(
            _rect(x0 + 20, y0, x0 + 20 + k % 4 + 1, y0 + k % 3 + 1)
        )
        wkt = F.when(k % 3 == 0, wkt).otherwise(
            F.concat(
                F.lit("MULTIPOLYGON (("), part1, F.lit("), ("), part2,
                F.lit("))"),
            )
        )
    return wkt, (2 * w * h - hole_a2x).cast("long")


def _aoi_window(k: Column, wide: bool = False) -> list[Column]:
    """The per-key AOI rectangle (x0, y0, x1, y1) as doubles: offset
    (k%5−2, k%4−1) from the subject corner, (k%11+1) wide — (k%29+1)
    when ``wide``, reaching the east part — and (k%6+1) tall. Lands
    anywhere from disjoint to fully covering."""
    ax0 = (k % 100 + k % 5 - 2).cast("double")
    ay0 = (k % 57 + k % 4 - 1).cast("double")
    ax1 = ax0 + ((k % 29 if wide else k % 11) + 1).cast("double")
    return [ax0, ay0, ax1, ay0 + (k % 6 + 1).cast("double")]


def _pentagon(k: Column, fn) -> Column:
    """``fn`` applied to the convex pentagon AOI of the convex queries:
    the AOI window with its upper-right corner cut by the 45°
    half-plane x + y <= c, c = x1 + y1 − k%4 (k%4 = 0 is the tangent
    line through the corner, which cuts nothing). The per-row bounds
    bind once (``_let``): every pass reads them per vertex."""
    ax0, ay0, ax1, ay1 = _aoi_window(k)
    bounds = F.struct(
        ax0.alias("x0"), ay0.alias("y0"), ax1.alias("x1"), ay1.alias("y1"),
        (ax1 + ay1 - (k % 4).cast("double")).alias("c"),
    )
    return _let(bounds, lambda b: fn(
        rect_halfplanes(b["x0"], b["y0"], b["x1"], b["y1"])
        + [edge_halfplane((b["c"], 0.0), (b["c"] - 1, 1.0))]
    ))


def _clip_out(spark: SparkSession, sf_dir: str, out: Column) -> DataFrame:
    """(okey, clip_wkt, clip_a2x) per customer from a ``clip_wkt``-shaped
    struct."""
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"),
        out["clip_wkt"].alias("clip_wkt"),
        out["clip_a2x"].alias("clip_a2x"),
    )


def _probes(spark: SparkSession, sf_dir: str, wkt, px, py) -> DataFrame:
    """(okey, px, py, inside) per customer: ``point_in_geom`` of the
    probe against ``wkt``."""
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"),
        px.alias("px"),
        py.alias("py"),
        point_in_geom(wkt, px, py).alias("inside"),
    )


def clip_select_by_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip / Select-By-Location core (gSSURGO_Clip.py drives the
    GIS's clip; the containment test is the portable half): synthetic
    rectangle polygons on an even-coordinate grid (doubled
    acreage_geom rectangles), probe points on the odd grid (never
    edge-incident), containment decided by the GENERAL ray-casting
    expression over the parsed WKT ring. The oracle derives truth
    INDEPENDENTLY from the rectangle bounds, certifying the ray-cast
    parse + crossing logic end-to-end. Map-only: zero shuffles."""
    k = F.col("c_custkey")
    x0, y0 = (k % 100) * 2, (k % 57) * 2
    x1 = x0 + (k % 13 + 1) * 2
    y1 = y0 + (k % 7 + 1) * 2
    wkt = F.concat(
        F.lit("POLYGON ("), _ring_text(_rect(x0, y0, x1, y1)), F.lit(")")
    )
    px = x0 + (k % 23) * 2 - 9  # odd: misses every even-grid edge
    py = y0 + (k % 19) * 2 - 7
    return _probes(spark, sf_dir, wkt, px, py)


def clip_polygon_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon ∩ AOI intersection clip — the reference capability the
    containment test (clip_select_by_location) does NOT cover:
    gSSURGO_Clip.py:160 runs arcpy.Clip_analysis and the downstream
    acreage reads the CLIPPED geometry's area. Here the clip itself is
    portable: Sutherland–Hodgman against the AOI rectangle's four
    half-planes, pure Column array passes over the parsed WKT ring
    (functions/geometry.py:clip_area2x — no UDF, map-only, zero
    shuffles; at 100 TB this is embarrassingly parallel per polygon).

    Per customer: a synthetic subject polygon on the integer grid —
    axis-aligned rectangle, or a 45° right triangle (equal legs) when
    k%3=0, so every SH boundary intersection lands on integer
    coordinates and the doubled clipped area is an exact integer — and
    a per-customer AOI rectangle that lands anywhere from disjoint to
    fully covering. The oracle derives the clipped area INDEPENDENTLY
    from closed forms (rect∩rect overlap product; the triangle via the
    corner inclusion–exclusion identity area{x+y≥c in box} =
    [f(b+q−c) − f(a+q−c) − f(b+p−c) + f(a+p−c)]/2, f(u)=max(0,u)²) —
    it never runs a vertex clip, certifying the SH pipeline
    end-to-end. tests/test_round10.py adds the hypothesis property
    layer (clip ≤ min(poly, AOI); half-plane split partitions the
    area; agreement with an independent pure-Python SH)."""
    k = F.col("c_custkey")
    x0, y0, s = k % 100, k % 57, k % 13 + 1
    tri_wkt = F.concat(
        F.lit("POLYGON ("),
        _ring_text([(x0, y0), (x0 + s, y0), (x0, y0 + s)]),
        F.lit(")"),
    )
    ax0, ay0, ax1, ay1 = _aoi_window(k)
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"),
        F.when(k % 3 == 0, tri_wkt)
        .otherwise(_holes_subject(k, hole=False)[0]).alias("wkt"),
        ax0.alias("ax0"), ay0.alias("ay0"),
        ax1.alias("ax1"), ay1.alias("ay1"),
    )
    aoi = [F.col(c) for c in ("ax0", "ay0", "ax1", "ay1")]
    return base.select(
        "okey",
        shoelace_area2x("wkt").alias("poly_a2x"),
        (2 * (F.col("ax1") - F.col("ax0")) * (F.col("ay1") - F.col("ay0")))
        .cast("long").alias("aoi_a2x"),
        clip_area2x("wkt", [rect_halfplanes(*aoi)]).alias("clip_a2x"),
    )


def clip_select_with_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select-by-location with INTERIOR rings: a probe point inside a
    lake must test OUTSIDE (even-odd across all rings —
    functions/geometry.py:point_in_geom); clip_select_by_location
    covers only the exterior test. Even-grid rectangle + hole, odd-grid
    probes (never edge-incident); oracle truth derived independently
    from the rectangle bounds: inside ext AND NOT inside hole."""
    k = F.col("c_custkey")
    x0, y0 = (k % 100) * 2, (k % 57) * 2
    x1, y1 = x0 + (k % 13 + 2) * 2, y0 + (k % 7 + 2) * 2  # room for a hole
    # hole clamped INSIDE the exterior (touching an edge is fine —
    # parity of coincident-edge crossings stays correct for the
    # never-edge-incident odd-grid probes; poking out would not be)
    hole = _rect(x0 + 2, y0 + 2, F.least(x0 + 2 + (k % 3 + 1) * 2, x1), y0 + 4)
    wkt = F.concat(
        F.lit("POLYGON ("), _ring_text(_rect(x0, y0, x1, y1)), F.lit(", "),
        _ring_text(hole), F.lit(")"),
    )
    px = x0 + (k % 23) * 2 - 9  # odd: misses every even-grid edge
    py = y0 + (k % 19) * 2 - 7
    return _probes(spark, sf_dir, wkt, px, py)


def clip_polygon_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersection clip for polygons WITH interior rings (lakes —
    gSSURGO mapunit polygons routinely carry them; Clip_analysis
    handles them natively): every ring is clipped independently and
    the holes' clipped areas subtract from the exterior's
    (functions/geometry.py:clip_area2x). Synthesis: the
    rectangle subjects of clip_polygon_intersect, with an interior
    hole punched when the exterior is big enough (w, h >= 3) — a
    third of customers get hole-less polygons, exercising the
    single-ring path through the multi-ring parser. The oracle is
    pure closed form: overlap(ext, AOI) − overlap(hole, AOI).
    Map-only, zero shuffles."""
    k = F.col("c_custkey")
    wkt, poly_a2x = _holes_subject(k)
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"),
        poly_a2x.alias("poly_a2x"),
        clip_area2x(wkt, [rect_halfplanes(*_aoi_window(k))]).alias("clip_a2x"),
    )


def clip_multipolygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersection clip over the FULL WKT input surface of
    Clip_analysis — MULTIPOLYGON parts (multipart mapunits are routine
    in real gSSURGO) with interior rings, plus plain POLYGON rows
    through the same parse (functions/geometry.py:clip_area2x).
    Synthesis: two-part multipolygons (part 1 = the holes-query
    subject, part 2 a second rectangle 20 m east, reachable by the
    widened AOI for some customers) with every third customer a plain
    POLYGON. Oracle: pure closed-form overlap sums. Map-only."""
    k = F.col("c_custkey")
    wkt, _ = _holes_subject(k, east=True)
    aoi = rect_halfplanes(*_aoi_window(k, wide=True))
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"),
        clip_area2x(wkt, [aoi]).alias("clip_a2x"),
    )


def clip_polygon_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clip's GEOMETRY output — Clip_analysis returns clipped
    FEATURES, not areas (gSSURGO_Clip.py:160); the area queries cover
    the acreage half only. Per customer: rect subject ∩ rect AOI,
    clipped by the same Sutherland–Hodgman passes, then CANONICALIZED
    (functions/geometry.py:clip_wkt — consecutive-duplicate and
    collinear vertices SH emits on boundary-aligned edges dropped,
    ring rotated to the lexicographic-min vertex) and serialized back
    to WKT with integer coordinates ('POLYGON EMPTY' when the
    intersection is empty or degenerate). The oracle CONSTRUCTS the
    overlap rectangle's canonical WKT directly from the closed form —
    matching strings certify the clipped vertex set itself, not just
    its area. Orientation note: subjects are CCW and SH preserves
    orientation, so the canonical ring runs (a p, b p, b q, a q).
    Map-only, zero shuffles."""
    k = F.col("c_custkey")
    wkt, _ = _holes_subject(k, hole=False)
    return _clip_out(
        spark, sf_dir, clip_wkt(wkt, rect_halfplanes(*_aoi_window(k)))
    )


def clip_polygon_wkt_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped-geometry output WITH interior rings — the multi-ring
    half of Clip_analysis's feature output (clip_polygon_wkt covers
    exterior-only). Exterior and hole clip independently; the output
    polygon keeps a hole ring only when its clip survives, collapses
    to the exterior alone when the hole misses the AOI, and is EMPTY
    outright when the hole's clip fills the exterior's (AOI inside
    the lake — area equality is rect equality here since hole ⊆
    exterior). Both rings canonicalized (normalize_ring) so the
    oracle can CONSTRUCT the exact string from overlap closed forms.
    Map-only, zero shuffles."""
    k = F.col("c_custkey")
    wkt, _ = _holes_subject(k)
    return _clip_out(
        spark, sf_dir, clip_wkt(wkt, rect_halfplanes(*_aoi_window(k)))
    )


def clip_multipolygon_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped-geometry output over the MULTIPOLYGON input surface —
    completing the feature-output family (exterior-only, holes, now
    multipart): each part clips independently (part 1 = the holes
    polygon, part 2 = the east rectangle; plain-POLYGON rows carry no
    part 2), dead parts drop, and the result canonicalizes to
    'POLYGON EMPTY' / plain 'POLYGON' / 'MULTIPOLYGON' by surviving
    part count — the natural canonical form a feature sink would
    store. Rings normalized as in clip_polygon_wkt_holes; the oracle
    constructs every surviving part from overlap closed forms and
    applies the same collapse. Map-only, zero shuffles."""
    k = F.col("c_custkey")
    wkt, _ = _holes_subject(k, east=True)
    aoi = rect_halfplanes(*_aoi_window(k, wide=True))
    return _clip_out(spark, sf_dir, clip_wkt(wkt, aoi))


def clip_acreage_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual clip WORKFLOW, composed in one plan:
    gSSURGO_Clip.py clips to the AOI and the clipped features feed
    gSSURGO_AcreageReport (SHAPE_Area → acres per mapunit symbol).
    Here: holes-aware rect clip per polygon (map-only) → groupBy a
    synthetic musym → Σ doubled area → one exact acre conversion per
    GROUP (acres_e4 after the integer sum, not per polygon — the
    float op count is group-count, not row-count). One scan, one
    shuffle, partial aggregation map-side; the oracle sums the same
    closed-form overlaps and converts identically."""
    k = F.col("c_custkey")
    wkt, _ = _holes_subject(k)
    per_poly = _t(spark, sf_dir, "customer").select(
        (k % 7).cast("int").alias("musym"),
        clip_area2x(wkt, [rect_halfplanes(*_aoi_window(k))]).alias("a2x"),
    )
    return per_poly.groupBy("musym").agg(
        F.count(F.lit(1)).alias("n_polys"),
        F.sum(F.when(F.col("a2x") > 0, 1).otherwise(0))
        .cast("long").alias("n_clipped"),
        F.sum("a2x").alias("clip_a2x"),
        acres_e4(F.sum("a2x")).alias("acres_e4"),
    )


def clip_select_multipart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select-by-location over the FULL WKT surface — MULTIPOLYGON
    parts with interior holes plus plain POLYGON rows through one
    dispatch-free parse (functions/geometry.py:point_in_geom; the
    even-odd rule sums crossings across all rings of all parts). The
    containment half of the reference's clip tool for multipart
    mapunits (gSSURGO_Clip.py Select By Location; multipart polygons
    are routine in real gSSURGO). Even-grid geometry, odd-grid probes
    (never edge-incident) — exact integer crossing decisions; oracle
    truth from rectangle bounds: (in ext AND NOT in hole) OR in
    part 2. Map-only, zero shuffles."""
    k = F.col("c_custkey")
    x0, y0 = (k % 100) * 2, (k % 57) * 2
    x1, y1 = x0 + (k % 13 + 2) * 2, y0 + (k % 7 + 2) * 2
    hole = _rect(x0 + 2, y0 + 2, F.least(x0 + 2 + (k % 3 + 1) * 2, x1), y0 + 4)
    part1 = F.concat(
        _ring_text(_rect(x0, y0, x1, y1)), F.lit(", "), _ring_text(hole)
    )
    # part 2: rectangle 40 m east
    part2 = _ring_text(
        _rect(x0 + 40, y0, x0 + 40 + (k % 4 + 1) * 2, y0 + (k % 3 + 1) * 2)
    )
    wkt = F.when(
        k % 3 == 0, F.concat(F.lit("POLYGON ("), part1, F.lit(")"))
    ).otherwise(
        F.concat(
            F.lit("MULTIPOLYGON (("), part1, F.lit("), ("), part2,
            F.lit("))"),
        )
    )
    # probe roams far enough right to land in part 2 for some customers
    px = x0 + (k % 29) * 2 - 9  # odd: misses every even-grid edge
    py = y0 + (k % 19) * 2 - 7
    return _probes(spark, sf_dir, wkt, px, py)


def clip_convex_aoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersection clip against a NON-RECTANGULAR convex AOI — the
    diagonal-boundary half of arcpy.Clip_analysis's input surface
    (gSSURGO_Clip.py:160 clips against arbitrary AOI featureclasses;
    the rect queries cover only bounding boxes). AOI per customer: a
    pentagon — the AOI rectangle with its upper-right corner cut by
    the 45° half-plane x+y <= cc — expressed as four axis half-planes
    plus one directed edge (functions/geometry.py:rect_halfplanes /
    edge_halfplane / clip_area2x), holes subtracting per ring.
    Subjects are the holes-family rectangles, so every
    Sutherland–Hodgman intersection lands on the integer grid
    (axis-aligned subject edges × slope-±1 or axis AOI edges) and one
    final round makes the doubled area an exact BIGINT. The oracle
    never clips a vertex: rect-overlap product minus the corner
    inclusion–exclusion identity
    area2x{x+y>=c in [a,b]x[p,q]} = f(b+q−c) − f(a+q−c) − f(b+p−c)
    + f(a+p−c), f(u)=max(0,u)², applied to exterior and hole
    independently. Map-only, zero shuffles."""
    k = F.col("c_custkey")
    wkt, poly_a2x = _holes_subject(k)
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"),
        poly_a2x.alias("poly_a2x"),
        _pentagon(k, lambda aoi: clip_area2x(wkt, [aoi])).alias("clip_a2x"),
    )


def clip_convex_aoi_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped-GEOMETRY output for the convex pentagon AOI — the
    feature half of arcpy.Clip_analysis for non-rectangular AOIs
    (gSSURGO_Clip.py:160 returns clipped features; clip_convex_aoi
    covers only their area). Rect subjects clip against the AOI
    rectangle + 45° corner cut (functions/geometry.py:clip_wkt);
    the general edge makes clip_wkt SNAP coordinates back to the exact
    integer grid (axis/45° edges on integer subjects guarantee
    integral intersections; the snap removes the ~1 ulp the
    general-edge interpolation can carry) before it canonicalizes and
    serializes. The oracle CONSTRUCTS the clipped polygon's canonical
    vertex list from the closed-form case analysis of
    rect ∩ rect ∩ {x+y ≤ cc} — triangle / quad / pentagon / rectangle
    / empty — and never clips a vertex: matching strings certify the
    general-edge SH pipeline's exact vertex output. Map-only, zero
    shuffles."""
    k = F.col("c_custkey")
    wkt, _ = _holes_subject(k, hole=False)
    return _clip_out(spark, sf_dir, _pentagon(k, lambda aoi: clip_wkt(wkt, aoi)))


def clip_convex_aoi_wkt_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-ring clipped-geometry output under the convex pentagon
    AOI — the last cell of the feature-output matrix (rect×ext,
    rect×holes, rect×multipart, convex×ext, concave-rectilinear now
    all WKT-certified): exterior and hole each clip through the five
    half-plane passes, snap to the integer grid, and canonicalize;
    the polygon keeps the hole ring only when its clip survives,
    collapses to the exterior alone when it misses, and is EMPTY
    outright when the hole's clip fills the exterior's (area equality
    ⇔ region equality under hole ⊆ exterior — AOI-shape independent).
    Oracle: the pentagon-case canonical ring CONSTRUCTED per ring from
    the closed-form case analysis, assembled by the same three-way
    collapse. Map-only, zero shuffles."""
    k = F.col("c_custkey")
    wkt, _ = _holes_subject(k)
    return _clip_out(spark, sf_dir, _pentagon(k, lambda aoi: clip_wkt(wkt, aoi)))


#: concave AOI with a DIAGONAL boundary for clip_concave_diagonal_aoi:
#: an L-shape whose notch is cut at 45° (reflex vertex at (50,25);
#: hypotenuse on x+y=75) — the AOI shape neither the rectilinear
#: decomposition (diagonal edge) nor a single convex edge list
#: (reflex vertex) can take alone
_LDIAG_AOI = [(10, 5), (90, 5), (90, 25), (50, 25), (30, 45), (10, 45)]


def clip_concave_diagonal_aoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersection clip against a concave AOI with a DIAGONAL
    boundary — the last AOI shape class of arcpy.Clip_analysis
    (gSSURGO_Clip.py:160): concave (reflex vertex) AND non-rectilinear
    (45° hypotenuse), so neither prior decomposition applies alone.
    The AOI is EAR-CLIPPED into disjoint convex triangles driver-side
    (functions/geometry.py:triangulate_simple_polygon — AOI is
    broadcast-scale metadata) and the clipped area is Σ over triangles
    of the general-edge convex clip (clip_area2x with one
    convex_halfplanes piece per triangle): disjoint pieces ⇒ areas
    add; triangle-internal diagonals introduce only ulp-level double
    noise on piece areas whose SUM is the exact integer the final
    round recovers (boundary edges are axis/45°, so the union's true
    area is integer). The oracle never decomposes: it computes the
    clip on the union's closed form — bottom-rect overlap + (top-box
    overlap − x+y≥75 corner inclusion–exclusion cut). A build-time
    assertion pins Σ triangle areas == AOI shoelace area. Map-only,
    zero shuffles."""
    tris = triangulate_simple_polygon(_LDIAG_AOI)
    assert len(tris) == len(_LDIAG_AOI) - 2 and sum(
        _signed_area2x(t) for t in tris
    ) == _signed_area2x(_LDIAG_AOI), tris
    k = F.col("c_custkey")
    wkt, poly_a2x = _holes_subject(k)
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"),
        poly_a2x.alias("poly_a2x"),
        clip_area2x(wkt, [convex_halfplanes(t) for t in tris])
        .alias("clip_a2x"),
    )


#: staircase AOI for clip_concave_aoi — one CONSTANT concave
#: rectilinear polygon clipping the whole layer (the realistic shape:
#: one watershed/tile boundary against every mapunit polygon); its
#: disjoint-rectangle decomposition is computed ONCE at plan build
_STAIR_AOI = [
    (10, 5), (95, 5), (95, 20), (70, 20),
    (70, 35), (45, 35), (45, 50), (10, 50),
]


def clip_concave_aoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersection clip against a CONCAVE AOI — the remaining input
    shape of arcpy.Clip_analysis (gSSURGO_Clip.py:160) after the rect
    and convex queries. A constant 3-step staircase polygon (classic
    concave rectilinear boundary: tile mosaics, county steps) is
    decomposed ONCE, driver-side, into disjoint rectangles
    (functions/geometry.py:rectilinear_decompose — AOI is broadcast-
    scale metadata, the data never touches Python), and the clipped
    area is the SUM over pieces of the holes-aware rectangle clip
    (clip_area2x with one rect_halfplanes piece per rectangle):
    pieces are interior-disjoint so areas add exactly,
    Sutherland–Hodgman per piece stays all-integer. The oracle mirrors
    the three pieces as closed-form overlap products (exterior − hole
    per piece) and never decomposes or clips. Map-only, zero
    shuffles, plan size ∝ |pieces|, not data."""
    pieces = rectilinear_decompose(_STAIR_AOI)
    assert len(pieces) == 3, pieces  # staircase bands: documented shape
    k = F.col("c_custkey")
    wkt, poly_a2x = _holes_subject(k)
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"),
        poly_a2x.alias("poly_a2x"),
        clip_area2x(wkt, [rect_halfplanes(*p) for p in pieces])
        .alias("clip_a2x"),
    )


def clip_concave_aoi_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped-GEOMETRY output for the CONCAVE staircase AOI —
    completing the feature-output family (rect / holes / multipart /
    convex WKT already certified): per decomposition piece the
    axis-aligned SH clip runs as before (exact — no general edges, so
    no snap needed), each surviving piece reduces to its band
    rectangle, and the rectilinear DISSOLVE (geometry.py:
    bands_to_ring) merges the bands back into ONE boundary ring —
    what Clip_analysis returns for a connected clip
    (gSSURGO_Clip.py:160), not the decomposition artifacts. Output
    collapses to the canonical rectangle when only one band survives
    (or rights align), 'POLYGON EMPTY' when none does. The oracle
    constructs the staircase vertex chain from band overlap closed
    forms (first/last survivor CASEs + per-boundary step pieces) and
    never clips or dissolves. Map-only, zero shuffles."""
    pieces = rectilinear_decompose(_STAIR_AOI)
    # the FULL bands_to_ring precondition, not just left alignment:
    # y-ascending vertically-ADJACENT bands (band i's hi == band i+1's
    # lo) with strictly DECREASING rights, all sharing one left edge —
    # a future change to _STAIR_AOI or the decomposition order would
    # otherwise silently dissolve into a self-intersecting ring.
    assert len(pieces) == 3 and all(
        p[0] == pieces[0][0] for p in pieces
    ) and all(
        a[3] == b[1] and a[2] > b[2] for a, b in zip(pieces, pieces[1:])
    ), pieces
    k = F.col("c_custkey")
    x0, y0 = k % 100, k % 57
    subject = _ring_array(_rect(x0, y0, x0 + k % 13 + 1, y0 + k % 7 + 1))

    def band_of(piece) -> Column:
        def bbox(cr: Column) -> Column:
            xs = F.transform(cr, lambda p: p["x"])
            ys = F.transform(cr, lambda p: p["y"])
            return F.when(F.size(cr) >= 3, F.struct(
                F.array_min(xs).alias("lx"), F.array_min(ys).alias("lo"),
                F.array_max(xs).alias("rx"), F.array_max(ys).alias("hi"),
            ))

        return _let(clip_ring(subject, rect_halfplanes(*piece)), bbox)

    bands = F.filter(
        F.array(*[band_of(p) for p in pieces]),
        lambda b: b.isNotNull() & (b["rx"] > b["lx"]) & (b["hi"] > b["lo"]),
    )
    return _clip_out(spark, sf_dir, _let(
        bands_to_ring(bands),
        lambda r: F.struct(
            ring_to_wkt(normalize_ring(r)).alias("clip_wkt"),
            F.round(ring_area2x(r)).cast("long").alias("clip_a2x"),
        ),
    ))


def clip_concave_diagonal_aoi_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped-GEOMETRY output for the DIAGONAL-boundary concave AOI —
    the last AOI shape class still emitting areas only
    (gSSURGO_Clip.py:160 returns clipped features for ANY AOI;
    clip_concave_diagonal_aoi covers the area). The AOI (_LDIAG_AOI:
    reflex vertex at (50,25), 45° hypotenuse on x+y=75) decomposes
    into TWO CONVEX HORIZONTAL BANDS — the bottom rectangle
    [10,90]×[5,25] and the top trapezoid (10,25)(50,25)(30,45)(10,45)
    — instead of the area query's triangles: triangle pieces share
    DIAGONAL edges whose per-piece clip vertices interleave, while
    the band split puts the entire shared boundary on the single line
    y=25, so the dissolve is the deterministic band stitch
    (geometry.py:stack_band_rings, the convex-band generalization of
    bands_to_ring). Per subject rectangle: the lower clip runs four
    exact axis half-plane passes, the upper runs the general-edge
    convex passes + integer snap; whichever pieces survive (area > 0)
    merge — both → stitched union ring, one → that ring alone — then
    canonicalize and serialize. The oracle CONSTRUCTS the canonical
    ring from the closed-form case tree of
    rect ∩ ({y ≤ 25} ∪ {x+y ≤ 75}) within the AOI bbox — rectangle /
    apex-notch / diagonal-cut / pentagon / empty — and never clips or
    dissolves a vertex. Map-only, zero shuffles."""
    # convex horizontal-band decomposition of _LDIAG_AOI, split at the
    # reflex vertex's y: areas must tile the AOI exactly
    band_rect = (10, 5, 90, 25)  # x0, y0, x1, y1
    trap = [(10, 25), (50, 25), (30, 45), (10, 45)]
    assert _signed_area2x(_rect(*band_rect)) + _signed_area2x(
        trap
    ) == _signed_area2x(_LDIAG_AOI), (band_rect, trap)
    k = F.col("c_custkey")
    x0, y0 = k % 100, k % 57
    subject = _ring_array(_rect(x0, y0, x0 + k % 13 + 1, y0 + k % 7 + 1))
    lower = clip_ring(subject, rect_halfplanes(*band_rect))
    upper = snap_ring_ints(clip_ring(subject, convex_halfplanes(trap)))

    def merge(lo: Column, up: Column) -> Column:
        la = F.round(ring_area2x(lo)).cast("long")
        ua = F.round(ring_area2x(up)).cast("long")
        ring = (
            F.when((la > 0) & (ua > 0), stack_band_rings(lo, up, 25.0))
            .when(la > 0, lo)
            .when(ua > 0, up)
            .otherwise(F.array().cast(RING_T))
        )
        return F.struct(
            ring_to_wkt(normalize_ring(ring)).alias("clip_wkt"),
            (la + ua).alias("clip_a2x"),
        )

    return _clip_out(spark, sf_dir, _let(
        lower, lambda lo: _let(upper, lambda up: merge(lo, up))
    ))


def _u_subject(k: Column) -> tuple[list, Column, Column, Column]:
    """The concave (U-shaped) subject of the concave-subject WKT
    queries: the rectangle at (k%50, k%31) sized (k%12+5) × (k%7+4)
    with a notch (k%2+1 wide, 2 in from the left) cut down from the
    top edge to k%3+1 above the bottom. Returns (CCW vertex list —
    bottom, right side, top-right, down into the notch, across, up,
    top-left, left side — x0, y0, x1)."""
    x0, y0 = k % 50, k % 31
    w, h = k % 12 + 5, k % 7 + 4
    x1, y1 = x0 + w, y0 + h
    nx0, ny0 = x0 + 2, y0 + F.least(k % 3 + 1, h - 1)
    nx1 = nx0 + F.least(k % 2 + 1, w - 4)
    pts = [(x0, y0), (x1, y0), (x1, y1), (nx1, y1), (nx1, ny0),
           (nx0, ny0), (nx0, y1), (x0, y1)]
    return pts, x0, y0, x1


def _window_y_first(wx0, wy0, wx1, wy1) -> list:
    """The concave-subject window as half-planes, y bounds first — the
    pass order the split contract of ``split_bridged_ring_y`` was
    certified with."""
    hp = rect_halfplanes(wx0, wy0, wx1, wy1)
    return hp[2:] + hp[:2]


def clip_concave_subject_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped-GEOMETRY output for a CONCAVE SUBJECT — lifting
    normalize_ring's single-component precondition
    (geometry.py:normalize_ring PRECONDITION note): real MUPOLYGON
    parts are frequently concave, and arcpy.Clip_analysis
    (gSSURGO_Clip.py:160) emits MULTI-part features when the AOI
    window disconnects one. Subjects are U-shaped (notch cut downward
    from the top edge — the canonical concave part); the AOI window
    is a per-feature rectangle that lands below, across, or above the
    notch bottom. Sutherland–Hodgman against the window leaves the
    classic bridge pattern along the window-bottom line when the clip
    disconnects; geometry.py:split_bridged_ring_y splits the ring
    into components at that line, and rings_to_multiwkt normalizes
    each, drops zero-area slivers, sorts parts canonically, and
    serializes POLYGON / MULTIPOLYGON / EMPTY. The oracle constructs
    the one- or two-part canonical string from the closed-form case
    tree (empty / split arms / rectangle / notch-bite U) and never
    clips, splits, or dissolves. Map-only, zero shuffles."""
    k = F.col("c_custkey")
    pts, x0, y0, x1 = _u_subject(k)
    wy0 = y0 - 1 + k % 6
    bounds = F.struct(
        (x0 + k % 2).cast("double").alias("wx0"),
        (x1 - k % 2).cast("double").alias("wx1"),
        wy0.cast("double").alias("wy0"),
        (wy0 + 2 + k % 5).cast("double").alias("wy1"),
    )

    def run(b: Column) -> Column:
        # bind the snapped SH output ONCE — the WKT chain and the area
        # would otherwise each re-inline the whole 4-pass clip subtree
        # (the _let lesson, SCALING.md round 10: 2x tree, 2x CPU)
        return _let(
            snap_ring_ints(clip_ring(_ring_array(pts), _window_y_first(
                b["wx0"], b["wy0"], b["wx1"], b["wy1"]
            ))),
            lambda snapped: F.struct(
                rings_to_multiwkt(
                    split_bridged_ring_y(snapped, b["wy0"])
                ).alias("clip_wkt"),
                F.round(ring_area2x(snapped)).cast("long").alias("clip_a2x"),
            ),
        )

    return _clip_out(spark, sf_dir, _let(bounds, run))


def clip_concave_multipart_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped-geometry output for MULTIPART CONCAVE subjects — the
    composition real MUPOLYGON features actually are (multipart AND
    concave; SSURGO_Convert_to_Geodatabase.py appends multipart
    mapunit features routinely, and arcpy.Clip_analysis
    gSSURGO_Clip.py:160 returns however many parts survive): part 1
    is the U-shaped subject of clip_concave_subject_wkt, part 2 a
    detached rectangle east of it. Each part's ring clips through the
    window independently (parts never bridge to each other — bridges
    only form within one ring), each splits at the window-bottom line
    (split_bridged_ring_y), and ONE rings_to_multiwkt serializes the
    union: 0–3 parts per feature (the U may disconnect into two arms
    while the rectangle survives whole). The oracle constructs the
    part list from the closed-form case trees (U: empty/arms/rect/
    bite; rectangle: overlap box) and assembles the same canonical
    POLYGON / MULTIPOLYGON / EMPTY text with DuckDB list functions.
    Map-only, zero shuffles."""
    k = F.col("c_custkey")
    pts, x0, y0, x1 = _u_subject(k)
    p2x1 = x1 + 2 + k % 4 + 1
    # part 2 is taller than the notch bottom for some keys, so a
    # disconnected U can coexist with a surviving part 2 (3 parts)
    p2 = _rect(x1 + 2, y0, p2x1, y0 + k % 4 + 2)
    wy0 = y0 - 1 + k % 6
    # flatten across PROJECTION stages instead of nesting _lets: each
    # select materializes named columns the next stage references as
    # plain attributes — the analyzer resolves lambda variables per
    # stage, so the combined depth stays under its iteration cap
    # (the fully-nested form tripped "Max iterations (100) reached")
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"),
        (x0 + k % 2).cast("double").alias("wx0"),
        (p2x1 - F.when(k % 5 == 0, 1).otherwise(0)).cast("double").alias("wx1"),
        wy0.cast("double").alias("wy0"),
        (wy0 + 2 + k % 5).cast("double").alias("wy1"),
        _ring_array(pts).alias("ring_u"), _ring_array(p2).alias("ring_p2"),
    )
    window = _window_y_first(*map(F.col, ("wx0", "wy0", "wx1", "wy1")))
    clipped = base.select(
        "okey", "wy0",
        *[snap_ring_ints(clip_ring(F.col(r), window)).alias(s)
          for r, s in (("ring_u", "s1"), ("ring_p2", "s2"))],
    )
    return clipped.select(
        "okey",
        rings_to_multiwkt(
            F.concat(
                split_bridged_ring_y(F.col("s1"), F.col("wy0")),
                split_bridged_ring_y(F.col("s2"), F.col("wy0")),
            )
        ).alias("clip_wkt"),
        (
            F.round(ring_area2x(F.col("s1")))
            + F.round(ring_area2x(F.col("s2")))
        ).cast("long").alias("clip_a2x"),
    )


def featline_length_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line feature-class coverage — MULINE / FEATLINE
    (SSURGO_Convert_to_Geodatabase.py:1677-1818 appends all six FCs
    per survey; the line layers' report figure is the GIS-maintained
    SHAPE_Length, re-derived here from coordinates): per-survey
    polyline report over synthesized LINESTRING / MULTILINESTRING
    features (two-part features for two thirds of keys — multipart
    polylines are routine in FEATLINE), parsed and measured by ONE
    Column expression (geometry.py:linestring_stats — per-segment
    floor(10⁴·√(dx²+dy²)) quantization makes the length an exact
    order-independent BIGINT both engines reproduce). Output per
    areasymbol: feature/part/vertex counts and total length. The
    oracle computes segment lengths straight from the synthesis
    deltas — it never sees WKT. One scan, one partial-aggregated
    exchange."""
    from .functions.geometry import linestring_stats

    k = F.col("c_custkey")
    x0, y0 = k % 100, k % 57
    dx1 = k % 5 + 3
    dy2 = k % 6
    pw, ph = k % 4 + 1, k % 3
    plain = k % 3 == 0
    pt = lambda x, y: F.concat(  # noqa: E731
        x.cast("string"), F.lit(" "), y.cast("string")
    )
    sep = F.lit(", ")
    part1 = F.concat(
        pt(x0, y0), sep, pt(x0 + dx1, y0 + 4), sep,
        pt(x0 + dx1, y0 + 4 + dy2),
    )
    part2 = F.concat(pt(x0 + 50, y0), sep, pt(x0 + 50 + pw, y0 + ph))
    wkt = F.when(
        plain, F.concat(F.lit("LINESTRING ("), part1, F.lit(")"))
    ).otherwise(
        F.concat(
            F.lit("MULTILINESTRING (("), part1, F.lit("), ("), part2,
            F.lit("))"),
        )
    )
    feats = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("AS"), (k % 7).cast("string")).alias("areasymbol"),
        linestring_stats(wkt).alias("s"),
    )
    return feats.groupBy("areasymbol").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("s")["n_parts"]).alias("n_parts"),
        F.sum(F.col("s")["n_vertices"]).alias("n_vertices"),
        F.sum(F.col("s")["len_e4"]).alias("len_e4"),
    )


def featline_clip_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-FC CLIP — Clip_analysis over MULINE/FEATLINE
    (gSSURGO_Clip.py:160 clips every layer; the clipped line report
    reads SHAPE_Length of the intersection): the featline synthesis
    (LINESTRING / two-part MULTILINESTRING) clipped to a per-customer
    AOI rectangle by the Liang–Barsky parametric expression
    (geometry.py:linestring_clip_len_e4 — per-segment floor-quantized
    clipped lengths summing to an exact BIGINT). Output per feature:
    total and clipped length (clip ≤ total by construction — the
    property layer asserts it). Oracle: the same per-segment
    parametric algebra on the SYNTHESIS deltas — it never parses WKT.
    Map-only, zero shuffles."""
    from .functions.geometry import linestring_clip_len_e4, linestring_stats

    k = F.col("c_custkey")
    x0, y0 = k % 100, k % 57
    dx1 = k % 5 + 3
    dy2 = k % 6
    pw, ph = k % 4 + 1, k % 3
    plain = k % 3 == 0
    pt = lambda x, y: F.concat(  # noqa: E731
        x.cast("string"), F.lit(" "), y.cast("string")
    )
    sep = F.lit(", ")
    part1 = F.concat(
        pt(x0, y0), sep, pt(x0 + dx1, y0 + 4), sep,
        pt(x0 + dx1, y0 + 4 + dy2),
    )
    part2 = F.concat(pt(x0 + 50, y0), sep, pt(x0 + 50 + pw, y0 + ph))
    wkt = F.when(
        plain, F.concat(F.lit("LINESTRING ("), part1, F.lit(")"))
    ).otherwise(
        F.concat(
            F.lit("MULTILINESTRING (("), part1, F.lit("), ("), part2,
            F.lit("))"),
        )
    )
    ax0 = (x0 + k % 5 - 2).cast("double")
    ay0 = (y0 + k % 4 - 1).cast("double")
    ax1 = ax0 + (k % 11 + 1).cast("double")
    ay1 = ay0 + (k % 6 + 1).cast("double")
    feats = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"),
        wkt.alias("wkt"),
        ax0.alias("ax0"), ay0.alias("ay0"),
        ax1.alias("ax1"), ay1.alias("ay1"),
    )
    return feats.select(
        "okey",
        linestring_stats(F.col("wkt"))["len_e4"].alias("len_e4"),
        linestring_clip_len_e4(
            F.col("wkt"), F.col("ax0"), F.col("ay0"),
            F.col("ax1"), F.col("ay1"),
        ).alias("clip_len_e4"),
    )


def featpoint_select_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point feature-class coverage — MUPOINT / FEATPOINT
    (SSURGO_Convert_to_Geodatabase.py:1677-1818 appends the point FCs;
    gSSURGO_Clip.py's select-by-location applies to them like any
    layer): per-survey point report with AOI containment — POINT WKT
    parsed by Column regex, containment via the SAME generic
    ray-casting expression the polygon layers use (point_in_geom
    against the constant AOI rectangle — odd-grid points, even-grid
    AOI: never edge-incident, exact BIGINT decisions). Output per
    areasymbol: point count, points inside the AOI, and the Σcx of
    inside points (certifying the coordinate parse, not just the
    flag). Oracle: direct bound comparisons on the synthesis formulas
    — no WKT, no ray cast."""
    from .functions.geometry import point_in_geom

    k = F.col("c_custkey")
    px = (k % 100) * 2 + (k % 23) * 2 - 9
    py = (k % 57) * 2 + (k % 19) * 2 - 7
    wkt = F.concat(
        F.lit("POINT ("), px.cast("string"), F.lit(" "),
        py.cast("string"), F.lit(")"),
    )
    aoi = "POLYGON ((30 20, 130 20, 130 80, 30 80, 30 20))"
    pts = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("AS"), (k % 7).cast("string")).alias("areasymbol"),
        wkt.alias("wkt"),
    ).select(
        "areasymbol",
        F.regexp_extract(F.col("wkt"), r"POINT \((-?\d+) (-?\d+)\)", 1)
        .cast("long").alias("cx"),
        F.regexp_extract(F.col("wkt"), r"POINT \((-?\d+) (-?\d+)\)", 2)
        .cast("long").alias("cy"),
    ).select(
        "areasymbol", "cx", "cy",
        point_in_geom(F.lit(aoi), F.col("cx"), F.col("cy")).alias("inside"),
    )
    return pts.groupBy("areasymbol").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("inside").cast("long").alias("n_inside"),
        F.sum(F.when(F.col("inside") == 1, F.col("cx")).otherwise(0))
        .alias("sum_cx_inside"),
    )


def raster_snap_nlcd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NLCD snap-grid alignment (SnapToNLCD,
    SSURGO_ExportMuRaster.py:175-335): the fixed-national-grid extent
    arithmetic every grid-aligned raster export runs before writing —
    snap the lower-left corner DOWN onto the region lattice with a
    2-cell buffer (Python-2 int() = TRUNC toward zero, mirrored
    bit-for-bit), then round-half-up the column/row counts and push
    the upper-right corner back out. Per customer a synthetic Albers
    extent straddling the CONUS origin both sides (so the trunc
    branch for negative offsets is exercised); output the snapped
    extent, 30 m dims, and the row count at the reference's
    iRaster=10 resolution (numRows*30/iRaster). Map-only: zero
    shuffles; the oracle recomputes the snap with DIFFERENT algebra
    (double TRUNC/ROUND vs integral mod arithmetic).
    tests/test_round10.py adds the byte layer: GeoTIFF tiles written
    with snap_region decode to origins on the NLCD lattice."""
    from .functions.raster import snap_extent_nlcd_cols

    k = F.col("c_custkey")
    x1 = (F.lit(532695) + (k % 997) * 7 - 3000).cast("long")
    y1 = (F.lit(1550295) + (k % 883) * 5 - 2000).cast("long")
    x2 = x1 + ((k % 211 + 1) * 3).cast("long")
    y2 = y1 + ((k % 173 + 1) * 2).cast("long")
    snapped = snap_extent_nlcd_cols(x1, y1, x2, y2, region="CONUS")
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"),
        x1.alias("x1"), y1.alias("y1"), x2.alias("x2"), y2.alias("y2"),
        *[v.alias(n) for n, v in snapped.items()],
        (snapped["n_rows"] * 3).alias("n_rows_i10"),
    )


def _mu_polygon_wkt(k: Column) -> Column:
    """Per-mapunit polygon synthesis on the EVEN integer grid (cell
    centers land on odd coordinates — never edge-incident, so every
    CELL_CENTER containment decision is exact BIGINT arithmetic):
    exterior w×h cells at (2(k%100), 2(k%57)), an interior hole when
    the exterior is ≥3 cells each way, and a second MULTIPOLYGON part
    40 m east for two thirds of keys (k%3≠0 — the clip_multipolygon
    convention). Shared by the round-11 rasterization queries so the
    oracle closed forms derive from one synthesis."""
    x0, y0 = (k % 100) * 2, (k % 57) * 2
    w, h = k % 13 + 1, k % 7 + 1
    hw = F.least(w - 2, k % 3 + 1)
    hh = F.least(h - 2, k % 2 + 1)
    has_hole = (w >= 3) & (h >= 3)
    pw, ph = k % 4 + 1, k % 3 + 1
    plain = k % 3 == 0
    pt = lambda x, y: F.concat(  # noqa: E731
        x.cast("string"), F.lit(" "), y.cast("string")
    )
    sep = F.lit(", ")

    def ring(ax0, ay0, ax1, ay1):
        return F.concat(
            F.lit("("), pt(ax0, ay0), sep, pt(ax1, ay0), sep,
            pt(ax1, ay1), sep, pt(ax0, ay1), sep, pt(ax0, ay0),
            F.lit(")"),
        )

    part1 = F.concat(
        ring(x0, y0, x0 + 2 * w, y0 + 2 * h),
        F.when(
            has_hole,
            F.concat(
                F.lit(", "),
                ring(x0 + 2, y0 + 2, x0 + 2 + 2 * hw, y0 + 2 + 2 * hh),
            ),
        ).otherwise(F.lit("")),
    )
    part2 = ring(x0 + 40, y0, x0 + 40 + 2 * pw, y0 + 2 * ph)
    return F.when(
        plain, F.concat(F.lit("POLYGON ("), part1, F.lit(")"))
    ).otherwise(
        F.concat(
            F.lit("MULTIPOLYGON (("), part1, F.lit("), ("), part2,
            F.lit("))"),
        )
    )


def raster_polygon_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real polygon→cell rasterization — ``PolygonToRaster …
    CELL_CENTER`` (SSURGO_ExportMuRaster.py:1434) — replacing the
    synthetic cell inventory of rounds ≤10: cells derive from the
    GEOMETRY via bbox→tile→cell explode + point_in_geom containment
    (functions/raster.py:polygon_cell_inventory), exercising holes
    (lake cells drop) and MULTIPOLYGON parts through one pass.
    tile_cells=8 forces multi-tile polygons (w up to 13 cells), so
    the 100 TB tile-split guard runs in the certified plan. Output
    per polygon: cell count and the coordinate sums of the cell-center
    set (Σcx, Σcy certify the exact CELL SET, not just its size). The
    oracle derives every figure from arithmetic-series closed forms —
    it never rasterizes, parses WKT, or ray-casts. Plan: scan →
    generate (tile, cell) → filter → one partial-aggregated exchange
    on okey."""
    from .functions.raster import polygon_cell_inventory

    k = F.col("c_custkey")
    polys = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("okey"), _mu_polygon_wkt(k).alias("wkt")
    )
    cells = polygon_cell_inventory(polys, tile_cells=8)
    return cells.groupBy("okey").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("cx").alias("sum_cx"),
        F.sum("cy").alias("sum_cy"),
    )


def raster_rating_cells_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rating-raster sink over the REAL cell inventory — the composed
    MuRaster workflow (SSURGO_ExportMuRaster.py:1434 PolygonToRaster
    CELL_CENTER → gSSURGO_ExportRasters.py:720-1746 rating Lookup):
    dominant-component drainage class per mapunit joined onto the
    geometry-derived cells (broadcast — the rated-mapunit side is the
    CONUS ≈300k-row dimension next to the cell table), then the
    per-rating raster attribute summary with acreage = cell count ×
    cell_area × convAcres (2 m cells here: the synthesis grid unit).
    The raster acreage a user exports is now derivable from geometry —
    closing the round-10 'synthetic cells' gap."""
    from .functions.geometry import ACRES_PER_SQM
    from .functions.raster import polygon_cell_inventory

    co = synth_component(spark, sf_dir)
    w = Window.partitionBy("mukey").orderBy(
        F.col("comppct_r").desc(), F.col("cokey").asc()
    )
    rated = (
        co.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("mukey", F.col("drainagecl").alias("rating"))
    )
    k = F.col("c_custkey")
    polys = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("mukey"), _mu_polygon_wkt(k).alias("wkt")
    )
    cells = polygon_cell_inventory(polys, tile_cells=8)
    joined = cells.join(F.broadcast(rated), "mukey")
    return joined.groupBy("rating").agg(
        F.countDistinct("mukey").alias("n_mapunits"),
        F.count(F.lit(1)).alias("n_cells"),
        F.floor(
            F.count(F.lit(1)) * F.lit(4.0) * F.lit(ACRES_PER_SQM)
            * F.lit(10000.0)
        ).cast("long").alias("acres_e4"),
    )


def raster_rat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster attribute table — BuildRasterAttributeTable + the MUKEY
    attach + the missing-mapunit reconciliation in one pass
    (SSURGO_ExportMuRaster.py:1543 builds the RAT, :1548-1552 copies
    VALUE into a MUKEY field, :1561-1590 compares the polygon layer's
    mukey set against the raster's and reports mapunits that
    rasterized away — 'usually thin polygons along survey
    boundaries'). One row per mapunit in the POLYGON layer: its
    1-based CELLVALUE (the Lookup convention shared with
    raster_tile_export_geom — nodata is 0), its cell count in the
    deduplicated raster (overlaps resolve max-mukey, the
    deterministic last-polygon-wins), raster acreage, and whether it
    survived rasterization at all (in_raster=false IS the reference's
    missingList). Plan: cell inventory → one (col,row) dedup exchange
    → one mukey-keyed partial-aggregated exchange → broadcast-scale
    left join back to the mapunit dimension."""
    from .functions.geometry import ACRES_PER_SQM
    from .functions.raster import polygon_cell_inventory

    k = F.col("c_custkey")
    polys = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("mukey"), _mu_polygon_wkt(k).alias("wkt")
    )
    cells = polygon_cell_inventory(polys, tile_cells=8)
    ded = cells.groupBy("col", "row").agg(F.max("mukey").alias("mukey"))
    rat = ded.groupBy("mukey").agg(F.count(F.lit(1)).alias("n"))
    return (
        polys.select("mukey")
        .join(rat, "mukey", "left")
        .select(
            F.col("mukey").cast("long").alias("mukey"),
            (F.col("mukey") + 1).cast("long").alias("cellvalue"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_cells"),
            F.floor(
                F.coalesce(F.col("n"), F.lit(0))
                * F.lit(4.0) * F.lit(ACRES_PER_SQM) * F.lit(10000.0)
            ).cast("long").alias("acres_e4"),
            F.col("n").isNotNull().alias("in_raster"),
        )
    )


def raster_tile_export_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed raster export from REAL geometry, end-to-end: the
    polygon→cell inventory (CELL_CENTER) lands in per-tile GeoTIFFs
    encoded and written ON THE EXECUTORS (write_raster_tiles — pixels
    never visit the driver). tile_cells=16 matches the sink's tile
    size so inventory tiles map 1:1 onto files; overlapping polygons
    resolve deterministically (max mukey per cell — one keyed
    exchange, the reference's last-polygon-wins made reproducible).
    Output the manifest facts derivable from the cell table (per-tile
    pixel/nodata counts); byte exactness of the TIFFs is pinned by the
    round-trip decoder tests."""
    from .functions.raster import polygon_cell_inventory, write_raster_tiles

    k = F.col("c_custkey")
    polys = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("mukey"), _mu_polygon_wkt(k).alias("wkt")
    )
    cells = polygon_cell_inventory(polys, tile_cells=16)
    # cell codes are 1-based: nodata is 0, so a raw key of 0 would
    # vanish into the nodata fill — the precise reason the reference
    # assigns CELLVALUEs through a 1-based Lookup table
    # (SSURGO_ExportMuRaster.py:1288-1300)
    dedup = cells.groupBy("tile_x", "tile_y", "col", "row").agg(
        (F.max("mukey") + 1).alias("cellvalue")
    )
    tiled = dedup.select(
        (F.col("tile_y") * 1000 + F.col("tile_x")).alias("tile_id"),
        (F.col("row") - F.col("tile_y") * 16).alias("row"),
        (F.col("col") - F.col("tile_x") * 16).alias("col"),
        "cellvalue",
    )
    out = write_raster_tiles(tiled, scratch_dir("geotiles"))
    return out.select("tile_id", "n_pixels", "n_nodata")


def raster_reclassify_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reclassify fallback for continuous-rating rasters
    (gSSURGO_ExportRasters.py:1168: when a rating is continuous the
    export Reclassifies it into class-break bins before the raster
    write): equal-interval breaks (functions/legend.py:
    equal_interval_breaks — exact integer arithmetic) over the
    per-mapunit dominant component percent, turned into [lo, hi)
    intervals (last class closed) via a lead window over the 6-row
    break table, range-joined (broadcast) onto the rated mapunits,
    then composed with the REAL geometry-derived cell inventory for
    the per-class raster summary. Oracle machinery differs end to
    end: a CASE-WHEN break chain and arithmetic-series cell counts —
    no interval join, no rasterization."""
    from .functions.geometry import ACRES_PER_SQM
    from .functions.legend import equal_interval_breaks
    from .functions.raster import polygon_cell_inventory

    co = synth_component(spark, sf_dir)
    rated = co.groupBy("mukey").agg(F.max("comppct_r").alias("v"))
    breaks = equal_interval_breaks(rated, "v", 5)
    wl = Window.orderBy("class_idx")  # 6 rows: bounded by design
    iv = (
        breaks.withColumn("hi", F.lead("brk").over(wl))
        .where(F.col("hi").isNotNull())
        .select("class_idx", F.col("brk").alias("lo"), "hi")
    )
    classed = rated.join(
        F.broadcast(iv),
        (F.col("v") >= F.col("lo"))
        & (
            (F.col("v") < F.col("hi"))
            | ((F.col("class_idx") == 4) & (F.col("v") <= F.col("hi")))
        ),
    ).select("mukey", "class_idx", "lo", "hi")
    k = F.col("c_custkey")
    polys = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("mukey"), _mu_polygon_wkt(k).alias("wkt")
    )
    cells = polygon_cell_inventory(polys, tile_cells=8)
    joined = cells.join(F.broadcast(classed), "mukey")
    return joined.groupBy("class_idx", "lo", "hi").agg(
        F.countDistinct("mukey").alias("n_mapunits"),
        F.count(F.lit(1)).alias("n_cells"),
        F.floor(
            F.count(F.lit(1)) * F.lit(4.0) * F.lit(ACRES_PER_SQM)
            * F.lit(10000.0)
        ).cast("long").alias("acres_e4"),
    )


def merge_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey re-download upsert (SSURGO_BatchDownload.py:611 replaces
    a stale survey folder before re-import; SSURGO_MergeDatabases
    overwrite mode): new-version rows REPLACE same-key rows instead of
    appending. Version 2 re-ships every fifth order with a corrected
    total; the merged current view keeps exactly one row per key —
    newest version wins — via one argbest struct aggregate (max of
    (version, payload)), not a window: the shuffle carries partial
    maxima, combine happens map-side, and there is no sort."""
    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.lit(1).alias("version"),
        cents("o_totalprice").alias("total_c"),
    )
    revised = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 5 == 0)
        .select(
            F.col("o_orderkey").alias("okey"),
            F.lit(2).alias("version"),
            (cents("o_totalprice") + 100).alias("total_c"),
        )
    )
    merged = base.unionByName(revised)
    best = F.max(F.struct("version", "total_c")).alias("b")
    return (
        merged.groupBy("okey")
        .agg(best)
        .select(
            "okey",
            F.col("b.version").alias("version"),
            F.col("b.total_c").alias("total_c"),
        )
    )


# ------------------------------------------------- round 5 additions


def _pipe_text_export(df: DataFrame, table: str, cat, base_dir: str) -> None:
    """WSS-style pipe-text export of one table, written FROM EXECUTORS:
    the table's ``<iefile>.txt`` is a DIRECTORY of per-partition part
    files (``spark.read.csv`` treats it as one table), each produced by
    a mapInPandas stage that csv-formats (QUOTE_MINIMAL, doubled
    quotes) and cp1252-encodes its own partition — no fact table ever
    passes through the driver. Columns absent from ``df`` land as
    blanks (→ NULL on reload), per the full catalog layout.

    REQUIRES a filesystem shared by driver and executors (local mode,
    NFS, or a FUSE-mounted object store): tasks open ``base_dir``
    paths directly. On a plain multi-node cluster writing to
    node-local disk, the part files would scatter across machines —
    use Spark's own ``df.write.csv`` (which goes through the
    cluster's committer/filesystem abstraction) there instead; this
    writer exists to produce the cp1252 + CRLF byte-exact WSS layout
    Spark's UTF-8 csv writer cannot emit."""
    cols = [f.name for f in cat.schemas[table].fields]
    have = set(df.columns)

    # Render the ENTIRE quoted pipe-text line inside the JVM
    # (optimization r12, guide §4/§2.3): the old form shipped all 109
    # catalog columns — 96 of them constant NULL — through the Arrow
    # boundary and csv-formatted them in Python, and the boundary
    # transfer alone cost 5.2 s at sf0.1 vs 0.84 s for just the real
    # columns. QUOTE_MINIMAL is per-field and expressible as a Column:
    # a field is quoted iff it contains the delimiter, the quote char
    # or a CR/LF (exactly csv.writer's trigger set), with inner quotes
    # doubled; absent catalog columns render as the constant empty
    # field. Python then only joins lines and cp1252-encodes —
    # byte-identical output, pinned by
    # tests/test_round12opt.py::test_pipe_text_export_bytes_match_csv_writer.
    def _q(c: str) -> F.Column:
        s = F.col(c).cast("string")
        return F.when(
            s.rlike('[|"\r\n]'),
            F.concat(
                F.lit('"'), F.regexp_replace(s, '"', '""'), F.lit('"')
            ),
        ).otherwise(F.coalesce(s, F.lit("")))

    line = F.concat_ws(
        "|", *[(_q(c) if c in have else F.lit("")) for c in cols]
    ).alias("line")
    proj = df.select(line)
    out_dir = os.path.join(base_dir, f"{cat.iefile[table]}.txt")
    os.makedirs(out_dir, exist_ok=True)

    def _part(batches):
        import pandas as pd
        from pyspark import TaskContext

        chunks = []
        n = 0
        for pdf in batches:
            if len(pdf):
                chunks.append(
                    ("\r\n".join(pdf["line"].tolist()) + "\r\n").encode(
                        "cp1252"
                    )
                )
                n += len(pdf)
        pid = TaskContext.get().partitionId()
        with open(
            os.path.join(out_dir, f"part-{pid:05d}.txt"), "wb"
        ) as fh:  # partition-keyed name -> task retries are idempotent
            for c in chunks:
                fh.write(c)
        yield pd.DataFrame({"n": [n]})

    proj.mapInPandas(_part, "n long").collect()


def ingest_full_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-generated full-catalog ingest end-to-end (SURVEY §1.3;
    SSURGO_Convert_to_Geodatabase.py:1227-1412, GetTableInfo :656-708):
    synthesize a WSS-style tabular export — pipe-delimited, cp1252,
    blank→NULL, QUOTE_MINIMAL — from the parquet tables, including the
    export's OWN mstab/mstabcol/msrsdet metadata files; bootstrap the
    catalog from those files (schemas_from_metadata), then load every
    data table with its GENERATED StructType in FK order and emit a
    per-table reconciliation row:

    - load_rank: the table's position in the FK-safe topological order
      (catches ordering regressions);
    - n_cols: width of the metadata-generated schema (legend 14,
      mapunit 24, component 109 — full SSURGO layout, not the pruned
      projections);
    - n_rows / key_sum: distributed count + key checksum after the
      text round-trip;
    - n_null: blank→NULL coercion proof on a designated column;
    - n_special: cp1252 recode proof (U+2019 survives the 0x92 byte).

    Exercises tables absent from the hand-written SSURGO_SCHEMAS
    (cotaxmoistcl, legendtext) — the extended catalog is the load
    path, not a declaration."""
    import csv as _csv

    from .catalog import catalog_from_export, embedded_catalog, load_full_export

    emb = embedded_catalog()
    tmp = scratch_dir("full_catalog")

    def _write(table: str, rows: list[tuple]) -> None:
        cols = [f.name for f in emb.schemas[table].fields]
        path = os.path.join(tmp, f"{emb.iefile[table]}.txt")
        with open(path, "w", encoding="cp1252", newline="") as fh:
            w = _csv.writer(
                fh, delimiter="|", quotechar='"', doublequote=True,
                quoting=_csv.QUOTE_MINIMAL,
            )
            for r in rows:
                full = {k: v for k, v in r}
                w.writerow(
                    ["" if full.get(c) is None else str(full[c]) for c in cols]
                )

    # the export's own metadata files, from the embedded public model
    _write(
        "mdstattabs",
        [[("tabphyname", t), ("iefilename", f)] for t, f in emb.iefile.items()],
    )
    from . import ssurgo_metadata as _M

    _write(
        "mdstattabcols",
        [
            [("tabphyname", t), ("colsequence", s), ("colphyname", c),
             ("logicaldatatype", lt), ("fieldsize", sz)]
            for (t, s, c, lt, sz) in _M.MDSTATTABCOLS
        ],
    )
    _write(
        "mdstatrshipdet",
        [
            [("ltabphyname", l), ("rtabphyname", r), ("relationshipname", n),
             ("ltabcolphyname", lc), ("rtabcolphyname", rc)]
            for (l, r, n, lc, rc) in _M.MDSTATRSHIPDET
        ],
    )

    # Data tables synthesized from the parquet views (deterministic)
    # and exported FROM EXECUTORS — see _pipe_text_export.
    def _write_distributed(table: str, df) -> None:
        _pipe_text_export(df, table, emb, tmp)

    RQ = "’"  # cp1252 0x92
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    rk, nk, ck = F.col("r_regionkey"), F.col("n_nationkey"), F.col("c_custkey")
    _write_distributed(
        "legend",
        region.select(
            rk.alias("lkey"),
            F.concat(F.lit("AS"), rk).alias("areasymbol"),
            F.when(rk % 2 != 0, "Non-MLRA Soil Survey Area").alias(
                "areatypename"
            ),
        ),
    )
    _write_distributed(
        "legendtext",
        region.select(
            rk.alias("legtextkey"),
            rk.alias("lkey"),
            F.lit("misc").alias("textcat"),
            F.concat(
                F.col("r_name"), F.when(rk % 2 == 1, RQ).otherwise("")
            ).alias("text"),
        ),
    )
    _write_distributed(
        "mapunit",
        nation.select(
            nk.alias("mukey"),
            F.concat(F.lit("M"), nk).alias("musym"),
            F.concat(F.col("n_name"), F.lit(RQ)).alias("muname"),
            F.col("n_regionkey").alias("lkey"),
        ),
    )
    _write_distributed(
        "component",
        customer.select(
            ck.alias("cokey"),
            F.col("c_nationkey").alias("mukey"),
            F.col("c_mktsegment").alias("compname"),
            (ck % 97 + 3).alias("comppct_r"),
            F.when(ck % 4 != 0, "Yes").otherwise("No").alias("majcompflag"),
            F.when(ck % 5 != 1, "Series").alias("compkind"),
        ),
    )
    _write_distributed(
        "cotaxmoistcl",
        customer.select(
            ck.alias("cotaxmckey"),
            ck.alias("cokey"),
            F.element_at(
                F.array(
                    *[F.lit(x) for x in
                      ["Aquic", "Udic", "Ustic", "Xeric", "Aridic"]]
                ),
                (ck % 5 + 1).cast("int"),
            ).alias("taxmoistcl"),
        ),
    )

    loaded = ["legend", "legendtext", "mapunit", "component", "cotaxmoistcl"]
    cat = catalog_from_export(spark, tmp)
    dfs = load_full_export(spark, tmp, catalog=cat, tables=loaded)
    order = [t for t in cat.load_order() if t in dfs]
    spec = {  # table -> (key col, null-proof col, special-proof col)
        "legend": ("lkey", "areatypename", None),
        "legendtext": ("legtextkey", "textsubcat", "text"),
        "mapunit": ("mukey", "muname", "muname"),
        "component": ("cokey", "compkind", None),
        "cotaxmoistcl": ("cotaxmckey", "taxmoistcl", None),
    }
    out = None
    for rank, t in enumerate(order, start=1):
        key, nullc, spc = spec[t]
        d = dfs[t].agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(key).cast("long")).alias("key_sum"),
            F.sum(F.col(nullc).isNull().cast("int")).alias("n_null"),
            F.sum(
                (F.coalesce(F.col(spc), F.lit("")).contains(RQ)).cast("int")
                if spc
                else F.lit(0)
            ).alias("n_special"),
        ).select(
            F.lit(t).alias("table_name"),
            F.lit(rank).alias("load_rank"),
            F.lit(len(cat.schemas[t].fields)).alias("n_cols"),
            "n_rows",
            "key_sum",
            "n_null",
            "n_special",
        )
        out = d if out is None else out.unionByName(d)
    return out


def nightly_gssurgo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED nightly gSSURGO run — the production pipeline a
    real user schedules, end-to-end in one query (SURVEY §3; the
    reference runs these as separate toolbox invocations):

    1. catalog export+ingest: the component table is pipe-text
       exported FROM EXECUTORS (_pipe_text_export, full 109-column
       layout, cp1252/blank→NULL) and loaded back through the
       metadata-generated catalog schema — every downstream stage
       consumes the ROUND-TRIPPED table, so text-ingest fidelity is
       part of the certified result, not a separate check;
    2. planner batch (gSSURGO_CreateSoilMaps.py:349-379): hydric
       Dominant Condition + drainage Dominant Component rating tables
       from the ingested component;
    3. the full wide Valu1 table (CreateValuTable) on the same
       ingested component + the synthetic horizon stack (chorizon
       stays parquet: the catalog's Float(4) columns would downcast
       the synthetic doubles; horizon text fidelity is covered by
       ingest_full_catalog's reconciliation);
    4. gSSURGO_MergeRatingTables: ratings + Valu1 merged on the
       mapunit spine.

    Scale shape: the text round-trip is map-only both ways; the
    planner/Valu1 stages keep their individually-audited plans (the
    component source swap changes scans, not strategy); the final
    merges are mapunit-sized broadcast joins.

    The text export is cached per SOURCE CONTENT + BUILDER CODE
    (cachefs.cached_dir: fingerprint of the orders.parquet the
    synthetic component derives from, salted with the source text of
    the synthesis + export functions so code edits invalidate; built
    in staging + atomic rename under a uid-private base, removed once
    orders.parquet is deleted) — repeat runs
    (steady bench passes, the 100x SCALING row) measure compute, not
    multi-GB /tmp file churn, and concurrent runs race safely."""
    from .catalog import embedded_catalog, load_full_export
    from .plans.planner import create_soil_map, hydrate
    from .tools_merge import merge_rating_tables
    from .valu1.pipeline import build_valu1

    t = ssurgo_synth(spark, sf_dir)
    emb = embedded_catalog()
    tmp = cached_dir(
        "nightly",
        [os.path.join(sf_dir, "orders.parquet")],
        lambda d: _pipe_text_export(t["component"], "component", emb, d),
        code=(synth_component, _pipe_text_export),
    )
    rt = load_full_export(spark, tmp, catalog=emb, tables=["component"])[
        "component"
    ]
    comp = rt.select(
        F.col("mukey").cast("long").alias("mukey"),
        F.col("cokey").cast("long").alias("cokey"),
        F.col("comppct_r").cast("long").alias("comppct_r"),
        "compname", "majcompflag", "compkind", "hydricrating",
        "drainagecl", "localphase", "otherph", "taxorder", "taxsubgrp",
    )
    return _nightly_rate_and_widen(comp, t)


def _nightly_rate_and_widen(comp: DataFrame, t: dict) -> DataFrame:
    """The nightly core shared by the full run and the incremental
    per-survey refresh: hydric DCD + drainage DCP rating tables merged
    with the wide Valu1 on the mapunit spine. Per-mukey independent by
    construction (every aggregation keys on mukey/cokey), which is the
    property the incremental refresh relies on — certified by
    nightly_gssurgo_incremental's oracle hash equalling the full
    recompute."""
    from .plans.planner import create_soil_map, hydrate
    from .tools_merge import merge_rating_tables
    from .valu1.pipeline import build_valu1

    mapunit = comp.select("mukey").distinct()
    tables = {"mapunit": mapunit, "component": comp}
    relations = [
        {
            "ltabphyname": "mapunit",
            "rtabphyname": "component",
            "ltabcolphyname": "mukey",
            "rtabcolphyname": "mukey",
        }
    ]
    hydric_row = {
        "attributename": "Hydric Rating Synth",
        "attributetablename": "component",
        "attributecolumnname": "hydricrating",
        "algorithmname": "Dominant Condition",
        "complevelattribflag": 1,
        "tiebreakrule": 0,
        "tiebreakdomainname": "hydric_dom",
        "sqlwhereclause": "majcompflag = 'Yes'",
    }
    hydric_dom = [
        {"domainname": "hydric_dom", "choice": c, "choicesequence": i + 1}
        for i, c in enumerate(["Yes", "Unranked", "No"])
    ]
    drain_row = {
        "attributename": "Drainage Class Synth",
        "attributetablename": "component",
        "attributecolumnname": "drainagecl",
        "algorithmname": "Dominant Component",
        "complevelattribflag": 1,
        "tiebreakrule": 0,
        "tiebreakdomainname": "drain_dom",
        "sqlwhereclause": "majcompflag = 'Yes'",
    }
    drain_dom = [
        {"domainname": "drain_dom", "choice": c, "choicesequence": i + 1}
        for i, c in enumerate(
            ["Very poorly drained", "Poorly drained", "Well drained"]
        )
    ]
    ratings = merge_rating_tables(
        mapunit,
        {
            "hydric": create_soil_map(
                tables, relations, hydrate(hydric_row, hydric_dom, cutoff=10)
            ),
            "drain": create_soil_map(
                tables, relations, hydrate(drain_row, drain_dom, cutoff=10)
            ),
        },
    )
    wide = build_valu1(
        comp,
        t["chorizon"],
        corestrictions=t["corestrictions"],
        cointerp=t["cointerp"],
        chtexturegrp=t["chtexturegrp"],
        chtexture=t["chtexture"],
        chfrags=t["chfrags"],
        ranges=VALU1_RANGES,
        exact_scales=(10000, 1000, 1000),
    )
    return ratings.join(wide, "mukey")


def tile_survey_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """By-tile ETL partition planning (SSURGO_gSSURGO_byTile.py:267
    SelectLayerByLocation INTERSECT against tile polygons; :250-290
    extent selection): which surveys feed each per-tile build — the
    one §3.3 partitioning strategy the by-state twin
    (state_survey_partition) didn't cover.

    Tiles are a 5×5 grid over the survey plane synthesized from nation
    (tile dimension — broadcast, like the reference's tile featureclass
    vs the CONUS soils layer); survey footprints are the same
    even-grid rectangles clip_select_by_location uses (customer).
    Per tile:

    - n_intersect: surveys whose footprint INTERSECTs the tile
      (strict interval overlap — exact integer comparisons);
    - n_anchored: surveys whose interior probe point (odd coordinates,
      never tile-edge-incident) falls inside the tile's WKT ring via
      the GENERAL ray-cast (point_in_edges) — the dedup rule that
      assigns each survey to exactly ONE owning tile so per-tile
      builds don't double-ingest;
    - the anchored areasymbol span the batch driver iterates.

    Scale: the fact side streams map-only against 25 broadcast tiles
    (BroadcastNestedLoopJoin on the range predicate); tile counts are
    dimension-sized at any SF, surveys never shuffle."""
    k = F.col("c_custkey")
    x0, y0 = (k % 100) * 2, (k % 57) * 2
    x1 = x0 + (k % 13 + 1) * 2
    y1 = y0 + (k % 7 + 1) * 2
    surveys = _t(spark, sf_dir, "customer").select(
        F.concat(
            F.lit("AS"), F.lpad(k.cast("string"), 6, "0")
        ).alias("areasymbol"),
        x0.alias("x0"), y0.alias("y0"), x1.alias("x1"), y1.alias("y1"),
        (x0 + 1).alias("px"), (y0 + 1).alias("py"),
    )
    n = F.col("n_nationkey")
    pt = lambda x, y: F.concat(  # noqa: E731
        x.cast("string"), F.lit(" "), y.cast("string")
    )
    sep = F.lit(", ")
    tiles = _t(spark, sf_dir, "nation").where(n < 25).select(
        n.alias("tile_id"),
        ((n % 5) * 48).alias("tx0"),
        (F.floor(n / 5) * 28).alias("ty0"),
        ((n % 5) * 48 + 48).alias("tx1"),
        (F.floor(n / 5) * 28 + 28).alias("ty1"),
    )
    tiles = tiles.withColumn(
        "tile_wkt",
        F.concat(
            F.lit("POLYGON (("),
            pt(F.col("tx0"), F.col("ty0")), sep,
            pt(F.col("tx1"), F.col("ty0")), sep,
            pt(F.col("tx1"), F.col("ty1")), sep,
            pt(F.col("tx0"), F.col("ty1")), sep,
            pt(F.col("tx0"), F.col("ty0")),
            F.lit("))"),
        ),
    )
    # parse each tile's ring ONCE in the 25-row broadcast dimension
    # (rings_to_edges over the parsed WKT), and evaluate the
    # anchored test ONCE per joined row: the previous form inlined the
    # WKT parse + ray-cast into THREE aggregate expressions, i.e. 3
    # parses per (survey, tile) pair (optimization r12; 5.6 s -> 1.0 s
    # steady at sf0.1, hash unchanged).
    from .functions.geometry import parse_geom_rings, point_in_edges, rings_to_edges

    tiles = tiles.withColumn(
        "tile_edges", rings_to_edges(parse_geom_rings(F.col("tile_wkt")))
    ).drop("tile_wkt")
    j = surveys.join(
        F.broadcast(tiles),
        (F.col("x0") < F.col("tx1")) & (F.col("x1") > F.col("tx0"))
        & (F.col("y0") < F.col("ty1")) & (F.col("y1") > F.col("ty0")),
    ).withColumn(
        "__anch",
        point_in_edges(F.col("tile_edges"), F.col("px"), F.col("py")),
    )
    anchored = F.col("__anch")
    return j.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_intersect"),
        F.sum(anchored).alias("n_anchored"),
        F.min(F.when(anchored == 1, F.col("areasymbol"))).alias(
            "first_areasymbol"
        ),
        F.max(F.when(anchored == 1, F.col("areasymbol"))).alias(
            "last_areasymbol"
        ),
    )


def project_coordinates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRS reprojection core end-to-end
    (SSURGO_ProjectSoilShapefilesbyAreasymbol.py:89-147 — the
    reference's largest tool, which reprojects every survey shapefile
    through the GIS engine; the portable math is the Albers pair in
    functions/projection.py): CONUS-range lon/lat points synthesized
    from customer, projected forward to Albers meters and round-tripped
    back. Outputs quantized for cross-engine hashing — centimeter grid
    for the projected meters, 1e-6° for the recovered geographics
    (the closed-form round-trip error is ~1e-12°, so the recovered
    micro-degrees equal the inputs exactly — the oracle certifies both
    the forward constants and the inverse). Map-only: no shuffle, no
    Python."""
    from .functions.projection import albers_forward, albers_inverse

    k = F.col("c_custkey")
    lon = (F.lit(-125.0) + (k % 561).cast("double") / 10.0).alias("lon")
    lat = (F.lit(24.0) + (k % 251).cast("double") / 10.0).alias("lat")
    pts = _t(spark, sf_dir, "customer").select(
        k.alias("okey"), lon, lat
    )
    x, y = albers_forward(F.col("lon"), F.col("lat"))
    proj = pts.select(
        "okey", "lon", "lat", x.alias("x_m"), y.alias("y_m")
    )
    rlon, rlat = albers_inverse(F.col("x_m"), F.col("y_m"))
    return proj.select(
        "okey",
        F.round(F.col("x_m") * 100).cast("long").alias("x_cm"),
        F.round(F.col("y_m") * 100).cast("long").alias("y_cm"),
        F.round(rlon * 1000000).cast("long").alias("rt_lon_e6"),
        F.round(rlat * 1000000).cast("long").alias("rt_lat_e6"),
        (F.round(rlon * 1000000) == F.round(F.col("lon") * 1000000))
        .cast("int")
        .alias("roundtrip_ok"),
    )


def validate_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity scan driven by the metadata catalog's
    relationship classes (Create_SSURGO_RelationshipClasses.py:216-530
    builds these as geodatabase constraints; SSURGO_CheckgSSURGO's
    structure pass assumes them): for each catalog edge among the
    loaded tables, count child rows whose FK finds no parent — the
    orphan report a merge/partial-ingest pipeline runs before
    publishing. Orphans are injected deterministically (every 37th
    horizon's cokey is shifted out of range) so the scan has real
    positives. Each edge is one left-anti count; Catalyst picks
    broadcast or shuffle per side size."""
    from .catalog import embedded_catalog

    t = ssurgo_synth(spark, sf_dir)
    component = t["component"]
    chorizon = t["chorizon"].withColumn(
        "cokey",
        F.col("cokey")
        + F.when(F.col("chkey") % 37 == 0, F.lit(10_000_000_000)).otherwise(0),
    )
    chtexturegrp = t["chtexturegrp"].withColumn(
        "chkey",
        F.col("chkey")
        + F.when(F.col("chtgkey") % 53 == 0, F.lit(10_000_000_000)).otherwise(0),
    )
    tables = {
        "mapunit": component.select("mukey").distinct(),
        "component": component,
        "chorizon": chorizon,
        "chtexturegrp": chtexturegrp,
        "chtexture": t["chtexture"],
        "corestrictions": t["corestrictions"],
    }
    out = None
    for left, right, lc, rc in embedded_catalog().edges:
        if left not in tables or right not in tables:
            continue
        child, parent = tables[right], tables[left]
        parent_keys = parent.select(F.col(lc).alias("__pk")).distinct()
        orphans = child.join(
            parent_keys,
            child[rc] == parent_keys["__pk"],
            "left_anti",
        )
        d = orphans.agg(F.count(F.lit(1)).alias("n_orphans")).select(
            F.lit(left).alias("parent_table"),
            F.lit(right).alias("child_table"),
            F.lit(rc).alias("fk_col"),
            "n_orphans",
        )
        row_d = child.agg(F.count(F.lit(1)).alias("n_child")).select(
            F.lit(right).alias("child_table"), "n_child"
        )
        d = d.join(row_d, "child_table")
        out = d if out is None else out.unionByName(d)
    return out.select(
        "parent_table", "child_table", "fk_col", "n_child", "n_orphans"
    )


def raster_tile_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed raster export end-to-end (SSURGO_ExportMuRaster →
    TIFF; the GeoTIFF bytes are encoded and written per tile ON THE
    EXECUTORS by write_raster_tiles): mapunit cell values synthesized
    from customer onto 16×16 tiles, files land in a scratch dir, and the
    oracle checks the manifest facts derivable from the cell table
    (pixel/nodata counts per tile). The byte-exactness of the TIFF
    itself is pinned by the round-trip decoder tests."""
    from .functions.raster import write_raster_tiles

    k = F.col("c_custkey")
    cells = _t(spark, sf_dir, "customer").select(
        (k % 4).alias("tile_id"),
        (k % 16).alias("row"),
        (F.floor(k / 16) % 16).alias("col"),
        (k % 97 + 1).alias("cellvalue"),
    ).groupBy("tile_id", "row", "col").agg(
        F.max("cellvalue").alias("cellvalue")
    )
    out = write_raster_tiles(cells, scratch_dir("tiles"))
    return out.select("tile_id", "n_pixels", "n_nodata")


def shapefile_merge_acres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapefile ingest → merge → acreage, end-to-end
    (SSURGO_MergeSoilShapefilesbyAreasymbol.py merges the per-survey
    soilmu_a shapefiles; the acreage report then sums polygon areas):
    per-region .shp/.dbf pairs are synthesized from nation (one
    rectangle polygon per nation, attributes in the dbf), read back
    through the DISTRIBUTED pure-codec reader (one task per file),
    and reduced to per-areasymbol polygon counts + exact shoelace
    2×-area sums. The oracle derives every area independently from
    the synthesis formulas — certifying .shp geometry bytes, .dbf
    attributes, the WKT bridge and the shoelace parse in one pass."""
    from .functions.geometry import shoelace_area2x
    from .sources.shapefile import write_shapefile

    nations = _t(spark, sf_dir, "nation").collect()
    tmp = scratch_dir("shp")
    fields = [("AREASYMBOL", 20), ("MUSYM", 6), ("MUKEY", 30)]
    by_region: dict[int, list] = {}
    for n in nations:
        by_region.setdefault(n["n_regionkey"], []).append(n)
    paths = []
    for rk, ns in sorted(by_region.items()):
        rows, polys = [], []
        for n in sorted(ns, key=lambda r: r["n_nationkey"]):
            k = n["n_nationkey"]
            x0, y0 = (k % 10) * 3.0, (k % 7) * 2.0
            w, h = k % 5 + 1.0, k % 3 + 1.0
            rows.append([f"AS{rk}", f"M{k}", str(1000 + k)])
            polys.append([(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)])
        stem = os.path.join(tmp, f"soilmu_a_as{rk}")
        write_shapefile(stem, fields, rows, polys)
        paths.append(stem + ".shp")
    from .sources.shapefile import read_shapefiles

    df = read_shapefiles(spark, paths)
    return df.groupBy("areasymbol").agg(
        F.count(F.lit(1)).alias("n_polys"),
        F.sum(shoelace_area2x(F.col("wkt")).cast("long")).alias("area2x"),
    )


def lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact table profiling (DESCRIBE/SUMMARY with engine-exact order
    statistics): per-column non-null/null counts, min/max, doubled
    median and discrete p95 over lineitem — quantity, cents-quantized
    price, and supplier key in one histogram pass (the columns unpivot
    into a long table first, so column count doesn't multiply scans).
    The plausibility report a data contract checks before publishing
    a table (gSSURGO_ValidateData's numeric scans, generalized)."""
    from .functions.profile import table_profile

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("quantity"),
        cents("l_extendedprice").alias("price_c"),
        F.when(F.col("l_linenumber") != 1, F.col("l_suppkey")).alias(
            "suppkey_sparse"
        ),
    )
    return table_profile(li, ["quantity", "price_c", "suppkey_sparse"])


def bucketed_rating_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join WITHOUT shuffling either side — the bucketed
    (co-located) join layout a 100 TB deployment uses for the
    mapunit⨝component⨝horizon spine it joins every day: both tables
    are written ONCE as 8-bucket, key-sorted parquet tables
    (``bucketBy``/``sortBy`` — Spark's analog of the reference's
    AddIndex step, SSURGO_Convert_to_Geodatabase.py:2715-2779), after
    which every equi-join on the bucket key plans as a SortMergeJoin
    with ZERO Exchange on the fact sides (plan-asserted in tests) —
    only the final small groupBy aggregates exchange anything. The
    remaining Sort nodes are LOCAL per-bucket sorts (no shuffle):
    Spark keeps them because a bucket written by several tasks spans
    several files and only each file is internally sorted. At 100 TB
    this converts the nightly join's dominant cost — two full-table
    shuffles — into a co-located per-bucket merge.

    The bucketed tables live in the session warehouse and are created
    on first use per (session, sf_dir); the result is identical to the
    plain parquet join, which is exactly what the oracle checks."""
    import re
    import shutil
    from urllib.parse import urlparse

    tag = re.sub(r"[^0-9A-Za-z]", "_", os.path.basename(sf_dir.rstrip("/")))
    t_orders, t_lines = f"b_orders_{tag}", f"b_lineitem_{tag}"
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def _ensure(name: str, df_fn) -> None:
        if spark.catalog.tableExists(name):
            return
        # the table catalog is per-session (in-memory) but the
        # warehouse dir persists — clear a stale location from an
        # earlier session before the managed-table write
        shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
        key = df_fn.columns[0]
        df_fn.write.bucketBy(8, key).sortBy(key).mode("overwrite").format(
            "parquet"
        ).saveAsTable(name)

    _ensure(t_orders, _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"))
    _ensure(
        t_lines,
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", cents("l_extendedprice").alias("price_c")
        ),
    )
    o = spark.table(t_orders)
    li = spark.table(t_lines)
    # hint the merge strategy: at gate SF the orders side fits the
    # broadcast threshold and Catalyst would (rightly) broadcast it,
    # hiding the layout; at 100 TB neither side broadcasts and the
    # bucketed SMJ below IS the plan — the hint pins that plan at
    # every scale so the test and the deployment see the same shape
    return (
        o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("price_c").alias("total_c"),
        )
    )


def sda_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SDA REST count-reconciliation read as a FIRST-CLASS Spark
    source (Python DataSource API): customer-per-nation counts are
    served back through the SDA wire format ({"Table": [[cols],
    [vals]...]}) from per-batch fixture files standing in for the
    remote service (this container has no network), then read with
    ``spark.read.format("sda")`` — one input partition per
    4-areasymbol batch, the reference's batching rule
    (SSURGO_CheckgSSURGO.py:466-484) as the source's parallelism unit.

    What the gate certifies here is the SOURCE plumbing — symbol
    batching → partition planning → wire parse → ''→NULL coercion →
    string-typed rows cast downstream — since the fixture values are
    synthesized from the same tables the oracle reads. At 100 TB (a
    CONUS-wide reconciliation: ~3000 surveys, ~55 tables) the same
    read fans out as ~750 independent executor-side POSTs per table
    with Spark task retry, instead of the reference's serial driver
    loop."""
    import json as _json

    from .sources.sda import batch_areasymbols
    from .sources.sda_datasource import register

    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = _t(spark, sf_dir, "customer").select("c_nationkey")
    counts = {
        r.n_name: r.n
        for r in cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    syms = sorted(counts)
    d = scratch_dir("sda_fixture")
    for i, batch in enumerate(batch_areasymbols(syms)):
        doc = {
            "Table": [["areasymbol", "n"]]
            + [[s, str(counts[s])] for s in batch]
        }
        with open(f"{d}/batch-{i}.json", "w") as fh:
            _json.dump(doc, fh)
    register(spark)
    df = (
        spark.read.format("sda")
        .option("areasymbols", ",".join(syms))
        .option("table", "customer")
        .option("fixture_dir", d)
        .load()
    )
    return df.select("areasymbol", F.col("n").cast("long").alias("n"))


def wss_source_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WSS survey acquisition as a FIRST-CLASS Spark source: per-region
    survey zips (tabular/sacatlog.txt + a spatial stub, the real WSS
    folder layout) are staged as fixtures standing in for the public
    cache, then ``spark.read.format("wss")`` runs the whole
    acquire→unzip→version-check pipeline ON THE EXECUTORS — one input
    partition per survey area, exactly how a CONUS build would fan
    3000 downloads across a cluster instead of the reference's serial
    driver loop (SSURGO_BatchDownload.py:694-792).

    The gate certifies the acquisition semantics end-to-end: cache
    zip naming, extraction + folder-convention resolution, the
    sacatlog SAVEREST parse (tabular_date), and the per-survey file
    audit — the oracle recomputes every field from the region-key
    formulas without ever seeing a zip."""
    import io
    import zipfile as _zf

    from .sources.wss import wss_zip_name
    from .sources.wss_datasource import register

    regions = sorted(
        r.r_regionkey
        for r in _t(spark, sf_dir, "region").select("r_regionkey").collect()
    )
    fixture = scratch_dir("wss_fixture")
    out_dir = scratch_dir("wss_out")
    syms, dates = [], []
    for k in regions:
        sym = f"NE{100 + k}"
        date = 20200101 + k
        mm, dd = 1 + k, 10 + k
        rec = f'"{sym}"|"Survey {k}"|"2"|"{mm:02d}/{dd:02d}/2020 08:30:00"\n'
        buf = io.BytesIO()
        with _zf.ZipFile(buf, "w") as z:
            z.writestr(f"{sym}/tabular/sacatlog.txt", rec)
            z.writestr(f"{sym}/spatial/soilmu_a_{sym}.txt", "stub\n")
        with open(os.path.join(fixture, wss_zip_name(sym, date)), "wb") as fh:
            fh.write(buf.getvalue())
        syms.append(sym)
        dates.append(str(date))
    register(spark)
    return (
        spark.read.format("wss")
        .option("areasymbols", ",".join(syms))
        .option("surveydates", ",".join(dates))
        .option("output_dir", out_dir)
        .option("fixture_dir", fixture)
        .load()
    )


def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) data-layout clustering audit — the
    multi-dimensional file-skipping story at 100 TB: interleave the
    low 6 bits of (user bucket, day) into a Z-value, cut the Z range
    into 16 layout buckets (= files after ``repartitionByRange`` on
    the Z-value at write time), and report each bucket's min/max
    footer stats in BOTH dimensions — next to the same stats for a
    naive single-dimension (user-sorted) layout. Z buckets are tight
    in user AND day at once, so a 2-D box predicate prunes files;
    the linear layout's day span covers the whole range (its test
    pins exactly that). Pure ``* div %`` integer math (see
    functions/layout.py), engine-exact by construction.

    100 TB posture: the audit itself is one map-side-combined groupBy
    on 16+16 keys; the layout it models is a one-time range
    repartition at write, after which pruning is free forever."""
    from .functions.layout import morton_sql

    pts = read_events(spark, sf_dir).select(
        F.expr("user_id % 64").alias("u"),
        F.expr("((ts div 1000) div 86400000000) % 64").alias("d"),
    )

    def stats(df: DataFrame, bucket: F.Column, layout: str) -> DataFrame:
        return (
            df.groupBy(bucket.alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("u").alias("min_u"),
                F.max("u").alias("max_u"),
                F.min("d").alias("min_d"),
                F.max("d").alias("max_d"),
            )
            .select(F.lit(layout).alias("layout"), "*")
        )

    z = pts.withColumn(
        "zval", F.expr(morton_sql("u", "d", 6, " div "))
    )
    return stats(z, F.expr("zval div 256"), "zorder").unionByName(
        stats(pts, F.expr("u div 4"), "linear")
    )


def partitioned_sink_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned sink + PARTITION-PRUNED read-back — the
    other half of the data-layout story (bucketing covers co-located
    joins; this covers the day-partitioned event lake every pipeline
    writes): events land under ``day_num=<d>/`` directories once, and
    the day-window read touches ONLY those directories — the filter
    resolves against the file LISTING (PartitionFilters in the scan,
    plan-asserted in tests), so a 100 TB lake answers a one-week query
    with a one-week scan. Returned: per-(day, type) counts + exact
    cent sums for the first 7 days.

    The lake is written once per SOURCE CONTENT and builder code: it is
    a ``cachefs.cached_dir`` keyed on the events file's (path, mtime,
    size) fingerprint and this function's source text — a regenerated
    fixture or an edited builder gets a fresh lake instead of silently
    serving stale partitions — in the uid-private cache base, built in
    staging and renamed into place, so concurrent runs (bench + gate)
    never see a half-written lake."""

    def build(d: str) -> None:
        (
            read_events(spark, sf_dir)
            .withColumn(
                "day_num", F.expr("(ts div 1000) div 86400000000")
            )
            .write.mode("overwrite")
            .partitionBy("day_num")
            .parquet(d)
        )

    lake = spark.read.parquet(
        cached_dir(
            "daylake",
            [os.path.join(sf_dir, "events.parquet")],
            build,
            code=(partitioned_sink_prune, read_events),
        )
    )
    first_day = (
        read_events(spark, sf_dir)
        .agg(F.expr("min((ts div 1000) div 86400000000)"))
        .collect()[0][0]
    )
    return (
        lake.where(
            (F.col("day_num") >= F.lit(first_day))
            & (F.col("day_num") < F.lit(first_day + 7))
        )
        .groupBy("day_num", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_c"
            ),
        )
    )


# --- Round 9: areasymbol-partitioned gSSURGO lake + incremental nightly -----

#: surveys in the synthetic corpus — areasymbol = 'AS' || (mukey % 20),
#: the per-survey partition key SURVEY §3.3 mandates ("per-survey CSV
#: reads unioned then written once, partitioned by areasymbol";
#: reference partition strategies: SSURGO_gSSURGO_byState.py:10-15,
#: byTile.py:267)
_LAKE_SURVEY_MOD = 20


def _lake_asym(mukey) -> F.Column:
    return F.concat(F.lit("AS"), (F.col(mukey) % _LAKE_SURVEY_MOD).cast("string"))


def gssurgo_lake(spark: SparkSession, sf_dir: str) -> str:
    """Write the gSSURGO lake ONCE, partitioned by areasymbol (SURVEY
    §3.3's Spark shape), and return its directory. All seven synth
    tables land under ``<table>/areasymbol=<AS*>/`` — the lineitem
    children resolve their survey through the cokey→mukey map at WRITE
    time (one join, paid once), so every later per-survey read is a
    directory prune, not a scan: a 100 TB lake answers a single-survey
    rating query by listing one directory (PartitionFilters +
    PartitionCount=1, plan-asserted in tests) and the incremental
    nightly reads ONLY changed partitions.

    A ``cachefs.cached_dir`` like the event day-lake
    (``partitioned_sink_prune``), keyed on orders/lineitem, the
    synthesis and partition-rule code: regenerated inputs get a fresh
    lake, concurrent builders race safely, and the lake is removed
    once its sources are deleted."""

    def build(staging: str) -> None:
        t = ssurgo_synth(spark, sf_dir)
        comp = t["component"].withColumn("areasymbol", _lake_asym("mukey"))
        co_map = comp.select("cokey", "areasymbol")
        for name, df in t.items():
            if name == "component":
                out = comp
            elif "cokey" in df.columns:
                out = df.join(co_map, "cokey")
            else:
                # chfrags/chtexturegrp/chtexture carry only the horizon
                # key (chkey == chtgkey == cokey*10 + linenumber), so
                # the survey resolves arithmetically before the join
                hk = "chkey" if "chkey" in df.columns else "chtgkey"
                out = df.withColumn(
                    "cokey", F.floor(F.col(hk) / 10).cast("long")
                ).join(co_map, "cokey").drop("cokey")
            (
                out.write.mode("overwrite")
                .partitionBy("areasymbol")
                .parquet(os.path.join(staging, name))
            )

    return cached_dir(
        "gssurgo_lake",
        [os.path.join(sf_dir, f"{t}.parquet") for t in ("orders", "lineitem")],
        build,
        # salt with the partition rule too (_lake_asym + its modulus):
        # editing the survey mapping must invalidate the cached lake,
        # not silently serve the old layout
        code=(gssurgo_lake, ssurgo_synth, synth_component, _lake_asym),
        extra=str(_LAKE_SURVEY_MOD),
    )


def gssurgo_lake_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-survey rating from the PARTITIONED lake: read ONE
    areasymbol's component partition (directory prune — the plan shows
    PartitionFilters on areasymbol and PartitionCount=1, asserted in
    tests/test_round9.py) and run the full metadata-driven Dominant
    Condition planner on just that survey. This is the reference's
    per-survey soil-map run (gSSURGO_CreateSoilMap.py on one survey
    area) against the §3.3 lake layout: at 100 TB the scan cost is the
    survey's share, not the corpus's."""
    from .plans.planner import create_soil_map, hydrate

    lake = gssurgo_lake(spark, sf_dir)
    comp = spark.read.parquet(os.path.join(lake, "component")).where(
        F.col("areasymbol") == "AS7"
    )
    mapunit = comp.select("mukey").distinct()
    tables = {"mapunit": mapunit, "component": comp}
    relations = [
        {
            "ltabphyname": "mapunit",
            "rtabphyname": "component",
            "ltabcolphyname": "mukey",
            "rtabcolphyname": "mukey",
        }
    ]
    sdv_row = {
        "attributename": "Hydric Rating Synth",
        "attributetablename": "component",
        "attributecolumnname": "hydricrating",
        "algorithmname": "Dominant Condition",
        "complevelattribflag": 1,
        "tiebreakrule": 0,
        "tiebreakdomainname": "hydric_dom",
        "sqlwhereclause": "majcompflag = 'Yes'",
    }
    domdet = [
        {"domainname": "hydric_dom", "choice": "Yes", "choicesequence": 1},
        {"domainname": "hydric_dom", "choice": "Unranked",
         "choicesequence": 2},
        {"domainname": "hydric_dom", "choice": "No", "choicesequence": 3},
    ]
    req = hydrate(sdv_row, domdet, cutoff=10)
    return create_soil_map(tables, relations, req).select(
        F.lit("AS7").alias("areasymbol"), "mukey", "comppct_r", "rating"
    )


def nightly_gssurgo_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL nightly gSSURGO — the reference's operational
    reality (SSURGO_BatchDownload.py re-downloads only CHANGED survey
    areas, :694-792 ProcessSurvey): instead of recomputing the world,
    refresh only the changed areasymbols' partitions of the nightly
    result lake and prove the outcome identical to a full recompute.

    The query stages the whole loop so the oracle certifies it
    end-to-end:

    1. STALE lake — last night's output: the full nightly computed
       with the changed surveys' (AS3, AS11) component data PERTURBED
       (a different comppct modulus), written partitioned by
       areasymbol into a fresh ``cachefs.scratch_dir`` (removed when
       the process exits);
    2. REFRESH — recompute ratings + Valu1 for ONLY the changed
       surveys, reading ONLY their partitions of the §3.3 gSSURGO lake
       (directory prune: 2 of 20 partitions per table, plan-asserted
       in tests), and dynamic-partition-OVERWRITE just those two
       result partitions (partitionOverwriteMode=dynamic — untouched
       surveys' files are not rewritten);
    3. return the refreshed lake.

    The oracle is the FULL-recompute SQL: a hash match therefore
    proves stale-partition replacement happened AND the per-mukey
    independence the refresh relies on holds — cost scales with
    changed surveys (SCALING.md row), correctness with the full
    corpus."""
    changed = ("AS3", "AS11")
    t = ssurgo_synth(spark, sf_dir)
    asym = _lake_asym("mukey")
    stale_comp = t["component"].withColumn(
        "comppct_r",
        F.when(
            asym.isin(*changed), F.col("cokey") % 89 + 3
        ).otherwise(F.col("comppct_r")),
    )
    stale = _nightly_rate_and_widen(stale_comp, t)
    result_dir = os.path.join(scratch_dir("nightly_inc"), "nightly")
    (
        stale.withColumn("areasymbol", _lake_asym("mukey"))
        .write.partitionBy("areasymbol")
        .parquet(result_dir)
    )
    lake = gssurgo_lake(spark, sf_dir)
    lt = {
        name: spark.read.parquet(os.path.join(lake, name))
        .where(F.col("areasymbol").isin(*changed))
        .drop("areasymbol")
        for name in (
            "component", "chorizon", "chtexturegrp", "chtexture",
            "chfrags", "corestrictions", "cointerp",
        )
    }
    inc = _nightly_rate_and_widen(lt["component"], lt)
    prev = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            inc.withColumn("areasymbol", _lake_asym("mukey"))
            .write.mode("overwrite")
            .partitionBy("areasymbol")
            .parquet(result_dir)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return spark.read.parquet(result_dir)


# ---------------------------------------------------------------------------
# round 12: layer x layer spatial joins (PBSM grid bucketing)
# ---------------------------------------------------------------------------


def spatial_join_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SelectLayerByLocation as a TWO-LAYER join — the reference's
    ``arcpy.SelectLayerByLocation_management(targetLayer, "INTERSECT",
    extentLayer)`` (gSSURGO_Clip.py:144, SSURGO_gSSURGO_byTile.py:267)
    selects features of one layer against the features of ANOTHER
    layer, not a constant AOI; every other clip/select query in this
    registry tests constant AOIs, so this is the genuine join form.

    Polygon layer: one even-grid rectangle per customer (the
    clip_select_by_location parametrization). Point layer: odd-grid
    probe points from orders (never edge-incident). Plan (PBSM,
    functions/spatial.py): polygons replicate onto the grid cells
    their bbox touches (<= 3x2 cells at cell_size=16), points map to
    their single cell, one equi-join on the cell struct, then the
    exact refine runs the GENERAL even-odd ray cast over the parsed
    WKT ring (point_in_edges) — the same code path a concave multipart
    subject would take. A point lives in exactly one cell, so each
    (polygon, point) pair meets exactly once: no dedup shuffle. The
    oracle derives truth independently from the rectangle bounds.

    At 100 TB: both explodes are map-side and bounded; the only
    exchange is the (cx, cy) equi-join, AQE-splittable on hot cells;
    no CartesianProduct."""
    from .functions.geometry import parse_geom_rings, point_in_edges, rings_to_edges
    from .functions.spatial import bbox_cells, point_cell

    cs = 16
    polys = _even_grid_rects(_t(spark, sf_dir, "customer"), "c_custkey")
    # parse-once hoist (optimization r12): edges built per POLYGON,
    # before cell replication — the refine below runs per (poly, point)
    # pair and previously walked the ring-indexed parse per pair
    polys = polys.select(
        "okey", "x0", "y0", "x1", "y1",
        rings_to_edges(parse_geom_rings("wkt")).alias("edges"),
        F.explode(
            bbox_cells(
                F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"), cs
            )
        ).alias("cell"),
    )
    j = F.col("o_orderkey")
    pts = (
        _t(spark, sf_dir, "orders")
        .where(j % 4 == 0)
        .select(
            j.alias("pkey"),
            (2 * (j % 101) + 1).cast("long").alias("px"),
            (2 * (j % 59) + 1).cast("long").alias("py"),
        )
        .withColumn("cell", point_cell(F.col("px"), F.col("py"), cs))
    )
    # closed-bbox containment prefilter (codegen integer comparisons)
    # before the interpreted ray cast: a point the even-odd rule counts
    # inside necessarily lies within the polygon's closed bbox, so the
    # filter is exact; it drops the bulk of same-cell candidates before
    # the per-pair crossing fold (15.2 s -> see OPTIMIZATION_r12.md;
    # guide §2.3 cheap-prefilter-before-expensive-refine, r12).
    in_bbox = (
        (F.col("px") >= F.col("x0")) & (F.col("px") <= F.col("x1"))
        & (F.col("py") >= F.col("y0")) & (F.col("py") <= F.col("y1"))
    )
    # NOT kernelized (measured negative result, optimization r13): a
    # mapInArrow ray-cast kernel LOST here — steady 7.3 s -> 8.7 s at
    # sf0.1 — and was deleted. Diagnosis: 15.5 M same-cell
    # candidates fall to 2.53 M bbox hits, and on this layer EVERY
    # bbox hit is inside (rectangle features: bbox containment ==
    # containment), so the boundary ships 2.5 M rows x edge arrays to
    # filter NOTHING, while the Column fold on 4-edge rings costs ~µs
    # per row. The kernel only pays when the refine rejects real work
    # (overlay joins: 37 µs/pair SH clip) or batches cells per
    # polygon (rasterizer).
    return (
        polys.join(pts, "cell")
        .where(
            in_bbox
            & (point_in_edges(F.col("edges"), F.col("px"), F.col("py")) == 1)
        )
        .select("okey", "pkey", "px", "py")
    )


def spatial_join_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersect_analysis as a TWO-LAYER overlay join — the reference's
    ``arcpy.Intersect_analysis([outputFC, aoiLayer], outputClip)``
    (SSURGO_gSSURGO_byTile.py:296) intersects every feature of one
    class with every overlapping feature of another. Layer A: the
    customer even-grid rectangles; layer B: a second rectangle layer
    from part. Plan: both layers replicate onto their bbox grid cells
    (cell_size=32 → <= 2x2 cells/feature), one cell equi-join, then
    PBSM's reporting-cell rule (report_cell_filter) keeps each
    candidate pair in exactly ONE shared cell — duplicate elimination
    with zero extra shuffle (no distinct). The refine computes the
    EXACT intersection area by running the Sutherland–Hodgman clip of
    A's parsed WKT ring against B's bbox window
    (arrowgeom.overlay_clip_rect) — the general vertex-clip machinery,
    not a rect shortcut — and keeps pairs with positive area
    (edge-touching pairs drop). Oracle: closed-form rect∩rect overlap,
    never a vertex clip, certifying the bucketing + SH pipeline
    end-to-end."""
    from .functions.geometry import parse_geom_rings
    from .functions.spatial import bbox_cells, report_cell_filter

    cs = 32
    # parse each A-feature's ring ONCE, before cell replication — the
    # refine below runs per candidate PAIR, and inlining the WKT regex
    # parse there re-parsed A's ring per pair (the join's dominant
    # cost: 86 s -> ~8 s steady at sf0.1; optimization r12, the same
    # parse-once hoist the rasterizer uses)
    a = _even_grid_rects(_t(spark, sf_dir, "customer"), "c_custkey").select(
        F.col("okey").alias("akey"),
        F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
        parse_geom_rings(F.col("wkt"))[0].cast(RING_T).alias("aring"),
    )
    a = a.select(
        "*",
        F.explode(
            bbox_cells(
                F.col("ax0"), F.col("ay0"), F.col("ax1"), F.col("ay1"), cs
            )
        ).alias("cell"),
    )
    jb = F.col("p_partkey")
    bx0, by0 = (jb % 97) * 2, (jb % 53) * 2
    bx1 = bx0 + (jb % 11 + 1) * 2
    by1 = by0 + (jb % 5 + 1) * 2
    b = (
        _t(spark, sf_dir, "part")
        .where(jb % 7 == 0)
        .select(
            jb.alias("bkey"),
            bx0.cast("long").alias("bx0"), by0.cast("long").alias("by0"),
            bx1.cast("long").alias("bx1"), by1.cast("long").alias("by1"),
        )
    )
    b = b.select(
        "*",
        F.explode(
            bbox_cells(
                F.col("bx0"), F.col("by0"), F.col("bx1"), F.col("by1"), cs
            )
        ).alias("cell"),
    )
    # bbox-overlap prefilter (integer comparisons, whole-stage codegen)
    # before the Sutherland–Hodgman refine: shipping candidates whose
    # bboxes cannot overlap with positive measure across the Arrow
    # boundary to the SH kernel is pure waste. Strict
    # inequalities are exact — a positive clip area requires the OPEN
    # bboxes to intersect; edge-touching pairs have area 0 and were
    # dropped by the ov_a2x > 0 refine anyway (guide §2.3/§3.2
    # cheap-prefilter-before-expensive-refine; optimization r12).
    bbox_overlap = (
        (F.col("ax0") < F.col("bx1")) & (F.col("bx0") < F.col("ax1"))
        & (F.col("ay0") < F.col("by1")) & (F.col("by0") < F.col("ay1"))
    )
    cand = a.join(b, "cell").where(
        report_cell_filter(
            F.col("cell"),
            F.col("ax0"), F.col("ay0"),
            F.col("bx0"), F.col("by0"),
            cs,
        )
        & bbox_overlap
    )
    # optimization r13 (guide §4.2): the interpreted Sutherland–Hodgman
    # refine (~37 µs/pair through Catalyst higher-order passes) moves
    # into a vectorized mapInArrow kernel replaying the SAME double ops
    # in the same order (bit-identical areas — see
    # functions/arrowgeom.py and the parity tests); the JVM keeps the
    # join, the reporting-cell dedup and the codegen bbox prefilter.
    from .functions.arrowgeom import overlay_clip_rect

    return overlay_clip_rect(
        cand, "aring", "bx0", "by0", "bx1", "by1", ["akey", "bkey"]
    )


def spatial_join_within_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance (proximity) join — the third canonical spatial
    join: all (site, point) pairs with Euclidean distance <= R. The
    reference reaches this shape whenever a workflow relates features
    by proximity rather than containment (the same
    SelectLayerByLocation call family supports WITHIN_A_DISTANCE); it
    is also the geo form of the training-pipeline near-dup join. Plan:
    sites replicate onto the 3x3 cell neighborhood of their own cell
    (cell_size=8 >= R=5, so one ring suffices), points keep their
    single cell, one equi-join, exact integer dist² refine. The
    point's cell is unique → each qualifying pair meets exactly once,
    no dedup. Oracle: the naive inequality join DuckDB can afford at
    sf0.01 — the Spark plan is the one that survives 100 TB."""
    from .functions.spatial import neighborhood_cells, point_cell

    cs, r2 = 8, 25
    k = F.col("c_custkey")
    sites = _t(spark, sf_dir, "customer").select(
        k.alias("skey"),
        (k % 199).cast("long").alias("sx"),
        (k % 113).cast("long").alias("sy"),
    )
    sites = sites.select(
        "*",
        F.explode(
            neighborhood_cells(F.col("sx"), F.col("sy"), cs)
        ).alias("cell"),
    )
    j = F.col("o_orderkey")
    pts = (
        _t(spark, sf_dir, "orders")
        .where(j % 3 == 0)
        .select(
            j.alias("pkey"),
            (j % 211).cast("long").alias("px"),
            (j % 127).cast("long").alias("py"),
        )
        .withColumn("cell", point_cell(F.col("px"), F.col("py"), cs))
    )
    d2 = (F.col("sx") - F.col("px")) * (F.col("sx") - F.col("px")) + (
        F.col("sy") - F.col("py")
    ) * (F.col("sy") - F.col("py"))
    return (
        sites.join(pts, "cell")
        .where(d2 <= r2)
        .select("skey", "pkey", d2.cast("long").alias("dist2"))
    )


def spatial_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-feature join (the ``arcpy.Near_analysis`` shape with a
    search radius): for each point, the closest site within R=5 —
    ties broken by the smaller site key, exactly as Near's lowest-OID
    rule. Composition: the PBSM within-distance candidate join
    (bounded 3x3 cell replication, one keyed exchange) followed by a
    per-point argmin window (row_number over dist2, skey) — candidates
    per point are bounded by the radius-density product, so the window
    partitions stay small at any scale; no global sort, no cartesian.
    Oracle: naive join + window in SQL."""
    from pyspark.sql import Window

    from .functions.spatial import neighborhood_cells, point_cell

    cs, r2 = 8, 25
    k = F.col("c_custkey")
    sites = _t(spark, sf_dir, "customer").select(
        k.alias("skey"),
        (k % 199).cast("long").alias("sx"),
        (k % 113).cast("long").alias("sy"),
    )
    sites = sites.select(
        "*",
        F.explode(
            neighborhood_cells(F.col("sx"), F.col("sy"), cs)
        ).alias("cell"),
    )
    j = F.col("o_orderkey")
    pts = (
        _t(spark, sf_dir, "orders")
        .where(j % 3 == 0)
        .select(
            j.alias("pkey"),
            (j % 211).cast("long").alias("px"),
            (j % 127).cast("long").alias("py"),
        )
        .withColumn("cell", point_cell(F.col("px"), F.col("py"), cs))
    )
    d2 = (F.col("sx") - F.col("px")) * (F.col("sx") - F.col("px")) + (
        F.col("sy") - F.col("py")
    ) * (F.col("sy") - F.col("py"))
    cand = (
        sites.join(pts, "cell")
        .where(d2 <= r2)
        .select("pkey", "skey", d2.cast("long").alias("dist2"))
    )
    w = Window.partitionBy("pkey").orderBy("dist2", "skey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def spatial_lake_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-partitioned SPATIAL lake + AOI partition pruning — the
    spatial data-layout story (partitioned_sink_prune covers the time
    axis; this is the tile scheme the reference's per-tile builds
    imply, SSURGO_gSSURGO_byTile.py:267 selecting soils per tile
    layer). Each polygon lands in exactly ONE coarse-cell directory
    keyed by its bbox MIN corner (``pcx=<c>/pcy=<c>/`` — no storage
    duplication), and an AOI query reads only the cell directories of
    the AOI bbox PADDED left/down by the maximum feature extent (26 x
    14 here, << the 64-unit cell): any feature intersecting the AOI
    has its min corner inside the padded range, so pruning is lossless
    by construction and resolves against the file LISTING
    (PartitionFilters in the scan, plan-asserted in tests) — a 100 TB
    polygon lake answers a county-sized AOI with a county-sized scan.
    The refine runs the Sutherland–Hodgman clip for the exact overlap
    area. The lake is a ``cachefs.cached_dir`` like
    partitioned_sink_prune's: keyed on the customer file's fingerprint
    and the builder code (this function, ``_even_grid_rects``,
    ``cell_index``), built in staging and renamed into place in the
    uid-private cache base."""
    from .functions.spatial import cell_index

    pcell = 64

    def build(d: str) -> None:
        (
            _even_grid_rects(_t(spark, sf_dir, "customer"), "c_custkey")
            .withColumn("pcx", cell_index(F.col("x0"), pcell))
            .withColumn("pcy", cell_index(F.col("y0"), pcell))
            .write.mode("overwrite")
            .partitionBy("pcx", "pcy")
            .parquet(d)
        )

    # AOI window; max feature extent is (13+1)*2 x (7+1)*2 = 26 x 14
    ax0, ay0, ax1, ay1 = 60, 30, 140, 90
    max_w, max_h = 26, 14
    lake = spark.read.parquet(
        cached_dir(
            "spatlake",
            [os.path.join(sf_dir, "customer.parquet")],
            build,
            code=(spatial_lake_prune, _even_grid_rects, cell_index),
        )
    )
    pruned = lake.where(
        (F.col("pcx") >= (ax0 - max_w) // pcell)
        & (F.col("pcx") <= ax1 // pcell)
        & (F.col("pcy") >= (ay0 - max_h) // pcell)
        & (F.col("pcy") <= ay1 // pcell)
    )
    return (
        pruned.where(
            (F.col("x0") < ax1) & (F.col("x1") > ax0)
            & (F.col("y0") < ay1) & (F.col("y1") > ay0)
        )
        .select(
            "okey",
            clip_area2x(
                "wkt", [rect_halfplanes(ax0, ay0, ax1, ay1)]
            ).alias("ov_a2x"),
        )
    )


# ---------------------------------------------------------------------------
# round 12b: overlay geometry output + raster resample/pyramid/zonal
# ---------------------------------------------------------------------------


def spatial_join_overlap_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersect_analysis GEOMETRY output — the overlay join's missing
    half. ``arcpy.Intersect_analysis([outputFC, aoiLayer], outputClip)``
    (SSURGO_gSSURGO_byTile.py:296) writes a feature class whose rows
    ARE the pairwise intersection polygons; ``spatial_join_overlap``
    certifies the pair set and the areas, this query emits the clipped
    GEOMETRY per pair. Same PBSM plan (bbox-cell replication on both
    sides, one cell equi-join, reporting-cell dedup with no extra
    shuffle), but the refine serializes the Sutherland–Hodgman output:
    A's parsed ring clipped by B's bbox window, canonicalized
    (normalize_ring — SH's boundary-aligned duplicate/collinear
    vertices dropped, rotation to the lexicographic-min vertex) and
    written back to integer WKT. Pairs whose intersection is empty or
    degenerate (edge-touching) drop, exactly the positive-area rule of
    the area twin, and the clipped area rides along so one hash pins
    both the vertex text and the acreage figure.

    The oracle never clips: it CONSTRUCTS each intersection rectangle's
    canonical WKT closed-form from the two rects' bounds — matching
    strings certify the join, the dedup rule, and the SH+normalize
    vertex set end-to-end. 100 TB posture: identical to the area twin —
    both explodes bounded and map-side, ONE keyed exchange, zero
    cartesian; the WKT serialization is per-surviving-pair work inside
    the SH kernel."""
    from .functions.geometry import parse_geom_rings
    from .functions.spatial import bbox_cells, report_cell_filter

    cs = 32
    # parse-once hoist, same as the area twin (optimization r12): the
    # SH clip below runs per candidate pair and must consume the
    # pre-parsed ring, not re-parse the WKT per pair
    a = _even_grid_rects(_t(spark, sf_dir, "customer"), "c_custkey").select(
        F.col("okey").alias("akey"),
        F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
        parse_geom_rings(F.col("wkt"))[0].cast(RING_T).alias("aring"),
    )
    a = a.select(
        "*",
        F.explode(
            bbox_cells(
                F.col("ax0"), F.col("ay0"), F.col("ax1"), F.col("ay1"), cs
            )
        ).alias("cell"),
    )
    jb = F.col("p_partkey")
    bx0, by0 = (jb % 97) * 2, (jb % 53) * 2
    bx1 = bx0 + (jb % 11 + 1) * 2
    by1 = by0 + (jb % 5 + 1) * 2
    b = (
        _t(spark, sf_dir, "part")
        .where(jb % 7 == 0)
        .select(
            jb.alias("bkey"),
            bx0.cast("long").alias("bx0"), by0.cast("long").alias("by0"),
            bx1.cast("long").alias("bx1"), by1.cast("long").alias("by1"),
        )
    )
    b = b.select(
        "*",
        F.explode(
            bbox_cells(
                F.col("bx0"), F.col("by0"), F.col("bx1"), F.col("by1"), cs
            )
        ).alias("cell"),
    )
    # same bbox-overlap prefilter as the area twin (strict = exact for
    # the positive-area survival rule) before the SH kernel
    bbox_overlap = (
        (F.col("ax0") < F.col("bx1")) & (F.col("bx0") < F.col("ax1"))
        & (F.col("ay0") < F.col("by1")) & (F.col("by0") < F.col("ay1"))
    )
    cand = a.join(b, "cell").where(
        report_cell_filter(
            F.col("cell"),
            F.col("ax0"), F.col("ay0"),
            F.col("bx0"), F.col("by0"),
            cs,
        )
        & bbox_overlap
    )
    # optimization r13: same mapInArrow SH kernel as the area twin,
    # with the normalize_ring + ring_to_wkt serialization replayed
    # inside the kernel (same passes, same exact comparisons — see
    # functions/arrowgeom.py; parity tests pin string equality).
    from .functions.arrowgeom import overlay_clip_rect

    return overlay_clip_rect(
        cand, "aring", "bx0", "by0", "bx1", "by1",
        ["akey", "bkey"], emit_wkt=True,
    )


def _mu_raster_dedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated mu raster shared by the resample/pyramid/zonal
    queries: the real CELL_CENTER inventory of the synthesized mapunit
    polygons (holes + MULTIPOLYGON parts), overlaps resolved max-mukey
    (the tile-export last-polygon-wins convention), 1-based CELLVALUE.
    Returns (col, row, cellvalue) — one keyed dedup exchange on the
    cell coordinate."""
    from .functions.raster import polygon_cell_inventory

    k = F.col("c_custkey")
    polys = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("mukey"), _mu_polygon_wkt(k).alias("wkt")
    )
    cells = polygon_cell_inventory(polys, tile_cells=8)
    return cells.groupBy("col", "row").agg(
        (F.max("mukey") + 1).alias("cellvalue")
    )


def raster_block_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cellFactor MAJORITY resample — the reference's coarse-resolution
    export path: ``Aggregate(luRas, cellFactor, aggMethod, "EXPAND",
    "DATA")`` with aggMethod = MAJORITY for categorical rasters
    (gSSURGO_ExportRasters.py:1081-1091, :1285) and the
    ``BlockStatistics(tmpRas, NbrRectangle(cellFactor, cellFactor,
    "CELL"), "MAJORITY", "DATA")`` variant whose majority "will be
    NoData for ties" (:1192-1193 and the reference's own comment).
    Both semantics come out of ONE pass over per-block value counts:

    - ``agg_majority`` — most frequent CELLVALUE in each cellFactor x
      cellFactor block, ties to the LOWEST value (the deterministic
      re-expression; argbest struct-max, the component_agg discipline);
    - ``blockstat_majority`` — same, but the NODATA code 0 when the
      top count is shared (the BlockStatistics tie→NoData footnote;
      0 is nodata in the 1-based CELLVALUE convention). Tie detection
      compares the tie→lowest argbest against a tie→highest argbest:
      they differ iff a tie exists — no second exchange, no window.

    "DATA" ignore-nodata semantics fall out structurally: nodata cells
    simply have no row. Plan: dedup exchange (shared cell raster) →
    per-(block, value) partial-aggregated count → ONE block-keyed
    struct-max exchange (functions/raster.py:block_majority). All
    integer Column math; at CONUS scale every exchange is keyed and
    combiner-backed."""
    from .functions.raster import block_majority

    ded = _mu_raster_dedup_cells(spark, sf_dir)
    return block_majority(ded, factor=3)


def raster_pyramid_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster pyramids, NEAREST resampling — ``arcpy.
    BuildPyramids_management(outputRaster, "-1", "NONE", "NEAREST",
    ...)`` (SSURGO_ExportMuRaster.py:1534, env.pyramid = "PYRAMIDS -1
    NEAREST" :1511). A NEAREST pyramid level picks ONE representative
    source cell per 2^L x 2^L block; the deterministic re-expression
    anchors the representative at the block ORIGIN (col % 2^L == 0 and
    row % 2^L == 0 — the grid-aligned nearest sample, nodata when that
    position is nodata). Each level is therefore a pure FILTER of the
    level-0 cell table — the pyramid costs no shuffle beyond the
    shared dedup and the final per-(level, value) count; contrast
    raster_block_aggregate, where MAJORITY genuinely needs per-block
    aggregation. Output: the per-level raster attribute summary
    (level, cellvalue, n_cells) for levels 0-3 — what the reference's
    pyramid + RAT step persists per overview.

    100 TB posture: ONE pass — each cell emits the (bounded, ≤ 4)
    array of levels it represents via a map-side filtered explode, so
    the dedup'd raster is scanned once, never cached or unioned, and
    the only new exchange is the per-(level, value) count aggregate,
    partial-combined. A cell at the block origin of level L is also
    the origin for every level below it — the explode IS the pyramid
    recurrence."""
    ded = _mu_raster_dedup_cells(spark, sf_dir)
    lv_scale = F.array(
        *[
            F.struct(F.lit(i).alias("l"), F.lit(1 << i).alias("s"))
            for i in range(4)
        ]
    )
    lv = F.explode(
        F.filter(
            lv_scale,
            lambda p: (F.col("col") % p["s"] == 0)
            & (F.col("row") % p["s"] == 0),
        )
    )
    return (
        ded.select(lv.alias("_lv"), "cellvalue")
        .select(F.col("_lv.l").cast("long").alias("level"), "cellvalue")
        .groupBy("level", "cellvalue")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    )


def raster_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZonalStatisticsAsTable over the mu raster — the canonical
    companion analysis every gSSURGO user runs on the exported raster
    (zones x categorical value raster; the reference builds the raster
    and its RAT, the zonal table is the first thing consumed
    downstream). Zones: the part-derived rectangle layer (the overlay
    join's B side). For each zone, the categorical zonal figures:
    cell COUNT, VARIETY (distinct mapunits), MAJORITY (most frequent
    mukey, ties to the lowest — deterministic), MIN and MAX mukey.

    Plan (the zonal join at scale): zone rects replicate onto their
    bbox grid cells (bounded, map-side), raster cells map to their
    single cell via the CENTER coordinate (cx = 2·col + 1 — centers
    are odd, zone edges even, so containment is strict and exact),
    ONE cell equi-join, exact center-in-rect refine, then
    per-(zone, mukey) partial counts feed ONE zone-keyed argbest
    struct-max — count/variety/majority/min/max in a single exchange,
    no countDistinct rewrite, no window. A zone has bounded bbox
    replication and AQE splits hot cells; nothing scales worse than
    the pair count."""
    from .functions.spatial import bbox_cells, point_cell

    cs = 32
    ded = _mu_raster_dedup_cells(spark, sf_dir)
    cells = ded.select(
        (F.col("cellvalue") - 1).alias("mukey"),
        (F.col("col") * 2 + 1).cast("long").alias("cx"),
        (F.col("row") * 2 + 1).cast("long").alias("cy"),
    ).withColumn("cell", point_cell(F.col("cx"), F.col("cy"), cs))
    jb = F.col("p_partkey")
    bx0, by0 = (jb % 97) * 2, (jb % 53) * 2
    bx1 = bx0 + (jb % 11 + 1) * 2
    by1 = by0 + (jb % 5 + 1) * 2
    zones = (
        _t(spark, sf_dir, "part")
        .where(jb % 7 == 0)
        .select(
            jb.alias("zone"),
            bx0.cast("long").alias("zx0"), by0.cast("long").alias("zy0"),
            bx1.cast("long").alias("zx1"), by1.cast("long").alias("zy1"),
        )
    )
    zones = zones.select(
        "*",
        F.explode(
            bbox_cells(
                F.col("zx0"), F.col("zy0"), F.col("zx1"), F.col("zy1"), cs
            )
        ).alias("cell"),
    )
    per_mu = (
        zones.join(cells, "cell")
        .where(
            (F.col("cx") > F.col("zx0")) & (F.col("cx") < F.col("zx1"))
            & (F.col("cy") > F.col("zy0")) & (F.col("cy") < F.col("zy1"))
        )
        .groupBy("zone", "mukey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = F.max(F.struct(F.col("cnt"), (-F.col("mukey")).alias("nm")))
    return (
        per_mu.groupBy("zone")
        .agg(
            F.sum("cnt").alias("n_cells"),
            F.count(F.lit(1)).alias("variety"),
            best.alias("_b"),
            F.min("mukey").alias("min_mukey"),
            F.max("mukey").alias("max_mukey"),
        )
        .select(
            "zone",
            F.col("n_cells").cast("long").alias("n_cells"),
            F.col("variety").cast("long").alias("variety"),
            (-F.col("_b.nm")).cast("long").alias("majority_mukey"),
            F.col("min_mukey").cast("long").alias("min_mukey"),
            F.col("max_mukey").cast("long").alias("max_mukey"),
        )
    )


def raster_block_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cellFactor MEAN resample — the CONTINUOUS-rating branch of the
    reference's coarse-resolution export: ``aggMethod = "MEAN"`` when
    the rating is numeric (gSSURGO_ExportRasters.py:1081, fed to
    Aggregate/BlockStatistics exactly like the MAJORITY path). The
    continuous per-cell value is the dominant component's comppct for
    its mapunit (the Lookup convention: a VALUE raster joined from the
    rating table; mapunits absent from the component table get no
    value row — they are nodata, dropped by the join like the
    reference's Lookup nodata cells). Per non-empty block: data-cell
    count, exact integer value sum, and mean_e4 = floor(sum·10⁴ / n) —
    one float division of exact integers, rounded once (the
    cross-engine determinism contract).

    Plan: shared dedup exchange → broadcast join to the ~per-mapunit
    rating dimension (CONUS ≈300k rows next to a cell table) → ONE
    block-keyed partial-aggregated exchange."""
    ded = _mu_raster_dedup_cells(spark, sf_dir)
    co = synth_component(spark, sf_dir)
    w = Window.partitionBy("mukey").orderBy(
        F.col("comppct_r").desc(), F.col("cokey").asc()
    )
    rated = (
        co.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("mukey", F.col("comppct_r").cast("long").alias("val"))
    )
    factor = 3
    cells = ded.select(
        (F.col("cellvalue") - 1).alias("mukey"),
        (F.col("col") / factor).cast("long").alias("bcol"),
        (F.col("row") / factor).cast("long").alias("brow"),
    ).join(F.broadcast(rated), "mukey")
    return (
        cells.groupBy("bcol", "brow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_data"),
            F.sum("val").cast("long").alias("sum_val"),
        )
        .withColumn(
            "mean_e4",
            F.floor(
                F.col("sum_val") * F.lit(10000.0) / F.col("n_data")
            ).cast("long"),
        )
    )


def raster_mosaic_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MosaicToNewRaster with MAXIMUM overlap resolution — the
    reference's per-tile build merges the survey-tile rasters into one
    CONUS raster with ``arcpy.MosaicToNewRaster_management(rasterList,
    ..., 1, "MAXIMUM")`` (SSURGO_ExportMuRaster.py:1443): where tile
    rasters overlap at seams, the MAXIMUM pixel wins. Re-expression:
    each tile rasterizes ITS OWN polygon subset independently (tile =
    a deterministic mukey partition here, the by-survey split of the
    reference's tiled path; within a tile, overlaps resolve max-mukey
    exactly as the single-raster path does), the mosaic is the UNION
    of tile cell tables with one (col,row)-keyed MAX exchange, and the
    output reports the mosaic RAT per CELLVALUE plus how many of its
    cells were SEAM cells (cells covered by ≥2 tiles — the rows where
    the MAXIMUM rule actually adjudicated).

    Plan: the tile split adds no work (one pass, tile id is a column);
    union is a no-shuffle concatenation; the only exchanges are the
    per-tile dedup and the mosaic MAX — both keyed, partial-combined.
    At CONUS scale this is exactly the reference's mosaic except the
    tiles never materialize as files."""
    from .functions.raster import polygon_cell_inventory

    k = F.col("c_custkey")
    polys = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("mukey"), _mu_polygon_wkt(k).alias("wkt")
    )
    cells = polygon_cell_inventory(polys, tile_cells=8)
    # per-tile rasters: tile = mukey % 5; within a tile, last-polygon
    # (max mukey) wins — each tile raster is what its survey's export
    # would have written
    tile_rasters = (
        cells.withColumn("tile", (F.col("mukey") % 5).cast("long"))
        .groupBy("tile", "col", "row")
        .agg((F.max("mukey") + 1).alias("cellvalue"))
    )
    mosaic = tile_rasters.groupBy("col", "row").agg(
        F.max("cellvalue").alias("cellvalue"),
        F.count(F.lit(1)).alias("n_tiles"),
    )
    return (
        mosaic.groupBy("cellvalue")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum((F.col("n_tiles") > 1).cast("long"))
            .cast("long")
            .alias("n_seam_cells"),
        )
    )


def raster_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalculateStatistics — the raster post-processing step the
    reference retries twice (SSURGO_ExportMuRaster.py:1513
    ``CalculateStatistics_management(outputRaster, 1, 1, ...,
    "OVERWRITE")`` under ``env.rasterStatistics = 'STATISTICS 100
    100'`` :1512): per-band MIN / MAX / MEAN / STD over the raster,
    computed over every x-skip-th column and y-skip-th row. Two rows
    out: the full scan (skip 1,1 — the explicit arguments at :1513)
    and a sampled pass (skip 4,2 — the skip-factor semantics of the
    env setting, exercised at factors the synthesis grid actually
    thins). All moments are exact integer aggregates (sum, sum of
    squares); mean_e4 = floor(sum·10⁴/n) and var_e4 =
    floor((n·sumsq − sum²)·10⁴/n²) are single float divisions of
    exact integers, rounded once — the cross-engine contract. One
    map-side filter + one partial-aggregated exchange per row; at
    CONUS scale the sampled pass reads 1/8th of the cells.

    Precision bound: the n·sumsq identity stays inside int64 while
    n·max_val² < 2⁶³ — ~10¹² cells at CONUS CELLVALUE cardinality
    (~10⁵), comfortably past the 9-billion-cell 10 m CONUS raster;
    past that, compute the moments per TILE first and combine the
    (n, sum, sumsq) triples, which keeps every partial within
    range — the aggregation is already partial-combined, so the tile
    split is a repartition, not a new algorithm."""
    ded = _mu_raster_dedup_cells(spark, sf_dir)
    skips = F.array(
        F.struct(F.lit(1).alias("sx"), F.lit(1).alias("sy")),
        F.struct(F.lit(4).alias("sx"), F.lit(2).alias("sy")),
    )
    sampled = ded.select(
        "cellvalue",
        F.explode(
            F.filter(
                skips,
                lambda s: (F.col("col") % s["sx"] == 0)
                & (F.col("row") % s["sy"] == 0),
            )
        ).alias("_s"),
    )
    return (
        sampled.groupBy(
            F.col("_s.sx").cast("long").alias("x_skip"),
            F.col("_s.sy").cast("long").alias("y_skip"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.min("cellvalue").cast("long").alias("min_val"),
            F.max("cellvalue").cast("long").alias("max_val"),
            F.sum("cellvalue").cast("long").alias("sum_val"),
            F.sum(F.col("cellvalue") * F.col("cellvalue"))
            .cast("long")
            .alias("sumsq_val"),
        )
        .select(
            "*",
            F.floor(
                F.col("sum_val") * F.lit(10000.0) / F.col("n_cells")
            ).cast("long").alias("mean_e4"),
            F.floor(
                (
                    F.col("n_cells") * F.col("sumsq_val")
                    - F.col("sum_val") * F.col("sum_val")
                )
                * F.lit(10000.0)
                / (F.col("n_cells") * F.col("n_cells"))
            ).cast("long").alias("var_e4"),
        )
    )


def acreage_graph_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The acreage bar graph's DATA half — the reference renders a
    vertical bar graph of the per-rating acreage summary
    (gSSURGO_AcreageReport.py:328-363: ``graph.addSeriesBarVertical
    (outputTbl, "ACRES", OBJECTID, resultField)``, then
    ``MakeGraph_management`` + ``SaveGraph_management``). The EMF
    render is GIS-bound; everything the graph is MADE OF is portable:
    the domain-ordered series rows and the layout scalars the
    reference computes itself — ``graphWidth = (Σ len(str(val)) +
    valWidth) · 8.0`` (:346-349, valWidth=10 here), height 500, and
    the total-acres subtitle figure (:352).

    Series: dominant-condition drainage rating per mapunit (the
    rating-raster convention) × the mapunit's geometry-derived cell
    acreage. bar_index comes from a BROADCAST-joined domain dimension
    (the mdstat choicesequence pattern — how domain order actually
    reaches a rating table; no global window). The layout scalars ride
    on every row via a broadcast cross join of the 1-row totals —
    map-only after the two keyed aggregates. Acres stay in the
    acres_e4 integer convention (the reference's round(dAcres, 0)
    would zero out the synthesis grid's 4 m² cells)."""
    from .functions.geometry import ACRES_PER_SQM
    from .functions.raster import polygon_cell_inventory

    co = synth_component(spark, sf_dir)
    w = Window.partitionBy("mukey").orderBy(
        F.col("comppct_r").desc(), F.col("cokey").asc()
    )
    rated = (
        co.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("mukey", F.col("drainagecl").alias("rating"))
    )
    k = F.col("c_custkey")
    polys = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("mukey"), _mu_polygon_wkt(k).alias("wkt")
    )
    cells = polygon_cell_inventory(polys, tile_cells=8)
    domain = spark.createDataFrame(
        [
            ("Very poorly drained", 1),
            ("Poorly drained", 2),
            ("Well drained", 3),
        ],
        "rating string, bar_index int",
    )
    summary = (
        cells.join(F.broadcast(rated), "mukey")
        .groupBy("rating")
        .agg(F.count(F.lit(1)).alias("n_cells"))
        .join(F.broadcast(domain), "rating")
        .select(
            "rating",
            F.col("bar_index").cast("long").alias("bar_index"),
            F.floor(
                F.col("n_cells") * F.lit(4.0) * F.lit(ACRES_PER_SQM)
                * F.lit(10000.0)
            ).cast("long").alias("acres_e4"),
            F.length("rating").alias("label_len"),
        )
    )
    totals = summary.agg(
        F.sum("label_len").alias("sum_chars"),
        F.sum("acres_e4").alias("total_acres_e4"),
    ).select(
        ((F.col("sum_chars") + 10) * 8).cast("long").alias("graph_width"),
        F.lit(500).cast("long").alias("graph_height"),
        F.col("total_acres_e4").cast("long").alias("total_acres_e4"),
    )
    return summary.crossJoin(F.broadcast(totals)).select(
        "rating",
        "bar_index",
        "acres_e4",
        F.col("label_len").cast("long").alias("label_len"),
        "graph_width",
        "graph_height",
        "total_acres_e4",
    )


def legend_class_breaks_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classified legend's esriJSON layer definition — the LAST
    portable piece of the reference's soil-map layer sink.
    ClassBreaksJSON (gSSURGO_CreateSoilMap.py:2088-2340) builds the
    drawingInfo/renderer dict the layer file carries; everything in it
    is data (breaks, labels, colors, outline), so the repo emits the
    STRING itself (functions/legend.py:class_breaks_layer_json) and
    the oracle rebuilds the identical text closed-form in SQL — a hash
    match certifies every break value, label, and symbol byte. Only
    the .lyr/.mxd binary containers remain out of scope.

    Plan: min/max aggregate over the rating (2-row partial-combined
    exchange) → one map-side string construction. The JSON validity
    and break arithmetic are additionally pinned by unit tests
    (json.loads round-trip, constant-rating single-class branch)."""
    from .functions.legend import class_breaks_layer_json, fmt_e2

    rating = _t(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("rating_c")
    )
    agg = rating.agg(
        F.min("rating_c").alias("mn"), F.max("rating_c").alias("mx")
    )
    return agg.select(
        F.lit("SDV_pricing.rating_c").alias("field"),
        F.col("mn").cast("long").alias("min_e2"),
        F.col("mx").cast("long").alias("max_e2"),
        fmt_e2(F.col("mn")).alias("min_txt"),
        class_breaks_layer_json(
            F.lit("SDV_pricing.rating_c"), F.col("mn"), F.col("mx")
        ).alias("legend_json"),
    )


def legend_unique_values_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The categorical legend's esriJSON layer definition —
    UniqueValuesJSON (gSSURGO_CreateSoilMap.py:2341-2518) emitted as
    the actual STRING (functions/legend.py:unique_values_layer_json)
    over the dominant-condition categorical rating's value domain,
    including the reference's 'Not rated' (Interpretation branch) and
    '<Null>' gray items. The oracle rebuilds the byte-identical text
    in SQL from the same sorted domain.

    Plan: the rating domain is BOUNDED (a choice list), so distinct →
    sort_array(collect_list) is a broadcast-sized aggregate, then one
    map-side string construction — the same bounded-collect class as
    the catalog reads."""
    from .functions.legend import unique_values_layer_json

    vals = (
        sdv_dcp_categorical(spark, sf_dir)
        .where(F.col("rating").isNotNull())
        .select("rating")
        .distinct()
    )
    agg = vals.agg(F.sort_array(F.collect_list("rating")).alias("vs"))
    return agg.select(
        F.lit("SDV_drainage.rating").alias("field1"),
        F.size("vs").cast("long").alias("n_values"),
        unique_values_layer_json(
            F.lit("SDV_drainage.rating"), F.col("vs")
        ).alias("legend_json"),
    )


def legend_defined_breaks_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEFINED-breaks legend's esriJSON — DefinedBreaksJSON
    (gSSURGO_CreateSoilMap.py:2520-2652, the Hydric/pH template):
    class bounds are SDV METADATA (the 0-100 step-20 hydric-percent
    legend), only the renderer minValue is data-derived (min of the
    PP_SUM hydric rating — the rating this legend classifies). The
    oracle rebuilds the byte-identical string with the min computed
    in SQL. Plan: one 1-row min aggregate + map-side string concat."""
    from .functions.legend import defined_breaks_layer_json

    breaks = [(i * 20, (i + 1) * 20, f"{i * 20} - {(i + 1) * 20}")
              for i in range(5)]
    mn = sdv_pp_sum(spark, sf_dir).agg(
        F.min("rating").alias("mn")
    )
    return mn.select(
        F.lit("SDV_hydric.rating").alias("field"),
        F.col("mn").cast("long").alias("min_value"),
        defined_breaks_layer_json(
            F.lit("SDV_hydric.rating"), F.col("mn"), breaks
        ).alias("legend_json"),
    )


def soil_map_layer_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FLAGSHIP tool end-to-end in one certified row —
    gSSURGO_CreateSoilMap produces, per run: the aggregated rating
    table (the metadata-driven planner), the layer's acreage, and the
    symbolized layer definition. This query composes the three
    certified subsystems into the layer MANIFEST a soil-map run
    publishes: the Dominant-Condition hydric rating over the full
    planner lifecycle (plans/planner.py:create_soil_map — hydrate,
    whereclause parser, relationship walk, DCD with DCP override),
    the geometry-derived acreage of the rated mapunits (CELL_CENTER
    inventory × rated join), and the UniqueValuesJSON layer string
    over the layer's own rating domain.

    One row out: attribute name, mapunit counts, rated-cell count and
    acreage, and the legend JSON — a hash over this row certifies the
    planner, the rasterizer, and the legend serializer AGREE on one
    composed artifact, the way a user consumes them together.

    Plan: the rating table is mapunit-grained (broadcast next to the
    cell table), the domain collect is bounded (choice list), and the
    final assembly is a broadcast cross join of three 1-row
    aggregates — nothing wider than the cell inventory's own keyed
    exchanges at any scale."""
    from .functions.geometry import ACRES_PER_SQM
    from .functions.legend import unique_values_layer_json
    from .functions.raster import polygon_cell_inventory
    from .q_sdv import planner_sdv_rating

    rating = planner_sdv_rating(spark, sf_dir).select(
        "mukey", "rating"
    )
    k = F.col("c_custkey")
    polys = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("mukey"), _mu_polygon_wkt(k).alias("wkt")
    )
    cells = polygon_cell_inventory(polys, tile_cells=8)
    rated_cells = cells.join(F.broadcast(rating), "mukey")
    rstats = rating.agg(
        F.count(F.lit(1)).cast("long").alias("n_mapunits"),
        F.sum(F.col("rating").isNotNull().cast("long"))
        .cast("long")
        .alias("n_rated"),
    )
    cstats = rated_cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells")
    ).select(
        "n_cells",
        F.floor(
            F.col("n_cells") * F.lit(4.0) * F.lit(ACRES_PER_SQM)
            * F.lit(10000.0)
        ).cast("long").alias("acres_e4"),
    )
    legend = (
        rating.where(F.col("rating").isNotNull())
        .select("rating")
        .distinct()
        .agg(F.sort_array(F.collect_list("rating")).alias("vs"))
        .select(
            unique_values_layer_json(
                F.lit("SDV_hydric.rating"), F.col("vs")
            ).alias("legend_json")
        )
    )
    return (
        rstats.crossJoin(F.broadcast(cstats))
        .crossJoin(F.broadcast(legend))
        .select(
            F.lit("Hydric Rating Synth").alias("attributename"),
            "n_mapunits",
            "n_rated",
            "n_cells",
            "acres_e4",
            "legend_json",
        )
    )
