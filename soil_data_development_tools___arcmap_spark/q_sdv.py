"""SDV aggregation + metadata-driven planner queries (SURVEY §2.2-2.4)."""

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

from ._qcore import (
    _t,
    cents,
    li_component,
    li_horizon,
    ssurgo_synth,
    synth_component,
)


# l_returnflag ordinal domain (choicesequence order) for the SDV
# categorical operators; 'R' plays "most limiting".
RFLAG_DOMAIN = ["R", "A", "N"]
LIMITING_DOMAIN = ["R", "A"]  # 'N' absent ⇒ plays 'Not rated'


_CO_SPEC = dict(group_cols=["okey"], member_col="member", weight_col="comppct_r")


# ---------------------------------------------------------------- SDV
# component-level aggregation family (SURVEY §2.4)


def sdv_dcp_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = RatingSpec(rating_col="price_c", out_col="rating", **_CO_SPEC)
    return agg_dcp(li_component(spark, sf_dir), spec)


def sdv_dcp_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = RatingSpec(
        rating_col="rflag", out_col="rating", domain=RFLAG_DOMAIN, **_CO_SPEC
    )
    return agg_dcp(li_component(spark, sf_dir), spec)


def sdv_dcp_tiebreak_higher(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = RatingSpec(
        rating_col="rflag",
        out_col="rating",
        domain=RFLAG_DOMAIN,
        tiebreak_higher=True,
        **_CO_SPEC,
    )
    return agg_dcp(li_component(spark, sf_dir), spec)


def sdv_dcd(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = RatingSpec(
        rating_col="rflag", out_col="rating", domain=RFLAG_DOMAIN, **_CO_SPEC
    )
    return agg_dcd(li_component(spark, sf_dir), spec, dcp_override=True)


def _floor_e(col, scale: int):
    """floor(col·scale) as BIGINT — the deterministic cross-engine way
    to emit a ratio of exact integers (see module docstring)."""
    return F.floor(F.col(col) * scale).cast("long")


def sdv_wta(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = RatingSpec(rating_col="price_c", out_col="rating", **_CO_SPEC)
    out = agg_wta(li_component(spark, sf_dir), spec)
    return out.select("okey", "comppct_r", _floor_e("rating", 10000).alias("rating_e4"))


def sdv_maxmin_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = RatingSpec(rating_col="price_c", out_col="rating", **_CO_SPEC)
    return agg_maxmin(li_component(spark, sf_dir), spec, maximum=True)


def sdv_limiting_most(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = RatingSpec(
        rating_col="rflag", out_col="rating", domain=LIMITING_DOMAIN, **_CO_SPEC
    )
    return agg_limiting(li_component(spark, sf_dir), spec, most=True)


def sdv_pp_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = RatingSpec(rating_col="rflag", out_col="rating", **_CO_SPEC)
    parent = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("okey"))
    return agg_pp_sum(li_component(spark, sf_dir), spec, ["R"], parent=parent)


def sdv_aggregate1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate1 — mapunit-level passthrough with typed rounding."""
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("musym"),
        cents("o_totalprice").alias("rating"),
    )


# ------------------------------------------------------- horizon-level


def sdv_hz_wta_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateHz_WTA_SUM over depth range [10,40): exact-integer."""
    spec = RatingSpec(
        rating_col="disc_bp",
        group_cols=["ckey"],
        member_col="okey",
        weight_col="o_w",
        out_col="rating",
    )
    df = li_horizon(spark, sf_dir)
    comp = _member_sums(df, spec, "hzdept", "hzdepb", 10, 40).where(
        F.col("__txv").isNotNull()
    )
    return comp.groupBy("ckey").agg(
        F.sum("o_w").alias("comppct_r"),
        F.floor((F.sum(F.col("o_w") * F.col("__txv")) / F.sum("o_w")) * 10000)
        .cast("long")
        .alias("rating_e4"),
    )


def sdv_hz_wta_wta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateHz_WTA_WTA over [10,40) with member values quantized to
    integer micro-units so the cross-member sum stays exact-integer
    (cross-engine determinism; semantically a 1e-6 rounding)."""
    df = li_horizon(spark, sf_dir)
    spec = RatingSpec(
        rating_col="disc_bp",
        group_cols=["ckey"],
        member_col="okey",
        weight_col="o_w",
    )
    comp = _member_sums(df, spec, "hzdept", "hzdepb", 10, 40).where(F.col("__t") > 0)
    comp = comp.select(
        "ckey",
        "o_w",
        F.floor((F.lit(1000000) * F.col("__txv")) / F.col("__t")).cast("long").alias(
            "cvm"
        ),
    )
    return comp.groupBy("ckey").agg(
        F.sum("o_w").alias("comppct_r"),
        F.floor(F.sum(F.col("o_w") * F.col("cvm")) / F.sum("o_w")).cast("long").alias(
            "rating"
        ),
    )


def sdv_hz_dcp_wta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateHz_DCP_WTA: dominant order per customer by totalprice,
    then depth-weighted average of its horizons in [0,60)."""
    df = li_horizon(spark, sf_dir)
    spec = RatingSpec(
        rating_col="disc_bp",
        group_cols=["ckey"],
        member_col="okey",
        weight_col="o_w",
        out_col="rating",
    )
    out = agg_hz_dcp_wta(df, spec, "hzdept", "hzdepb", 0, 60)
    return out.select(
        "ckey",
        F.col("o_w").alias("comppct_r"),
        _floor_e("rating", 1000000).alias("rating_e6"),
    )


def sdv_hz_maxmin_wta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateHz_MaxMin_WTA: per-order max qty over horizons in
    [0,30), then order-weight-averaged per customer (exact ints →
    one division, rounded)."""
    df = li_horizon(spark, sf_dir)
    hz_t = clipped_thickness("hzdept", "hzdepb", 0, 30)
    comp = (
        df.groupBy("ckey", "okey", "o_w")
        .agg(F.max(F.when(hz_t > 0, F.col("qty"))).alias("hzv"))
        .where(F.col("hzv").isNotNull())
    )
    return comp.groupBy("ckey").agg(
        F.sum("o_w").alias("comppct_r"),
        F.floor((F.sum(F.col("o_w") * F.col("hzv")) / F.sum("o_w")) * 10000)
        .cast("long")
        .alias("rating_e4"),
    )


# --------------------------------------------------------- month-level


def sdv_mo_wta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateCo_Mo_WTA: min monthly value per component over the
    month window [3,9], then weighted average."""
    spec = RatingSpec(rating_col="price_c", out_col="rating", **_CO_SPEC)
    collapsed = month_collapse(
        li_component(spark, sf_dir), spec, how="min", beg_month=3, end_month=9
    )
    out = agg_wta(collapsed, spec)
    return out.select("okey", "comppct_r", _floor_e("rating", 10000).alias("rating_e4"))


def sdv_mo_maxmin_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateCo_Mo_MaxMin with a wrap-around month window (Nov..Feb)."""
    spec = RatingSpec(rating_col="price_c", out_col="rating", **_CO_SPEC)
    collapsed = month_collapse(
        li_component(spark, sf_dir), spec, how="max", beg_month=11, end_month=2
    )
    return agg_maxmin(collapsed, spec, maximum=True)


def sdv_dtwt_dcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateCo_DCP_DTWT: nulls (synthesized where qty=50) replaced
    by the 201 sentinel, max monthly value per component, then DCP."""
    df = li_component(spark, sf_dir).withColumn(
        "qty_n", F.when(F.col("comppct_r") == 50, None).otherwise(F.col("comppct_r"))
    )
    spec = RatingSpec(
        rating_col="qty_n", out_col="rating", null_replacement=201, **_CO_SPEC
    )
    collapsed = month_collapse(df, spec, how="max")
    return agg_dcp(collapsed, spec)


def sdv_interp_dcd_not_rated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interp-style DCD with the reference's domain assembly: the
    'Not rated' class inserted at the domain start, null ratings placed
    first under the 'Higher' tiebreaker (losing DESC ties), DCP
    override on top (gSSURGO_CreateSoilMap.py:9913-9967)."""
    df = li_component(spark, sf_dir).withColumn(
        "interp",
        F.when(F.col("pkey") % 13 == 0, F.lit(None).cast("string"))
        .when(F.col("pkey") % 7 == 0, "Not rated")
        .when(F.col("rflag") == "R", "Severe")
        .when(F.col("rflag") == "A", "Moderate")
        .otherwise("Slight"),
    )
    spec = RatingSpec(
        rating_col="interp",
        out_col="rating",
        domain=["Slight", "Moderate", "Severe"],
        not_rated="Not rated",
        tiebreak_higher=True,
        **_CO_SPEC,
    )
    return agg_dcd(df, spec, dcp_override=True)


def sdv_mo_dcp_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateCo_Mo_DCP_Domain: monthly data replicates the component
    weight (the 12x trap, gSSURGO_CreateSoilMap.py:10710-10716) — dedupe
    months FIRST, then dominant component over the ordinal domain."""
    spec = RatingSpec(
        rating_col="rflag", out_col="rating", domain=RFLAG_DOMAIN, **_CO_SPEC
    )
    df = li_component(spark, sf_dir).withColumn(
        "mrep", F.explode(F.sequence(F.lit(1), F.lit(3)))
    )
    collapsed = month_collapse(df, spec, how="distinct")
    return agg_dcp(collapsed, spec)


def sdv_mo_dcd_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateCo_Mo_DCD_Domain (gSSURGO_CreateSoilMap.py:6651-7054) —
    the composition the reference runs for annual flooding/ponding
    classes: monthly rows replicate the component weight (the 12x trap,
    :10710-10716) so the months are DISTINCT-collapsed first, then
    Dominant Condition over the ordinal domain with the >=50%
    DCP-override. Both halves were individually oracle-green in round
    2; this entry exercises them together."""
    spec = RatingSpec(
        rating_col="rflag", out_col="rating", domain=RFLAG_DOMAIN, **_CO_SPEC
    )
    df = li_component(spark, sf_dir).withColumn(
        "mrep", F.explode(F.sequence(F.lit(1), F.lit(3)))
    )
    collapsed = month_collapse(df, spec, how="distinct")
    return agg_dcd(collapsed, spec, dcp_override=True)


def sdv_mo_dcd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateCo_Mo_DCD: month-window filter [4,9], highest monthly
    class per component, then dominant condition over the domain."""
    spec = RatingSpec(
        rating_col="rflag", out_col="rating", domain=RFLAG_DOMAIN, **_CO_SPEC
    )
    collapsed = month_collapse(
        li_component(spark, sf_dir), spec, how="max", beg_month=4, end_month=9
    )
    return agg_dcd(collapsed, spec, dcp_override=True)


def sdv_dcd_domain_reversed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateCo_DCD_Domain with a suitability interp's REVERSED
    domain (ruledesign=2, gSSURGO_CreateSoilMap.py:9942-9944); no
    DCP-override to exercise the plain condition winner."""
    spec = RatingSpec(
        rating_col="rflag",
        out_col="rating",
        domain=RFLAG_DOMAIN,
        domain_reversed=True,
        **_CO_SPEC,
    )
    return agg_dcd(li_component(spark, sf_dir), spec, dcp_override=False)


def sdv_maxmin_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateCo_MaxMin (minimum) over an ordinal domain — the extreme
    is the LOWEST domain index, ties by weight then member."""
    spec = RatingSpec(
        rating_col="rflag", out_col="rating", domain=RFLAG_DOMAIN, **_CO_SPEC
    )
    return agg_maxmin(li_component(spark, sf_dir), spec, maximum=False)


def sdv_limiting_least(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateCo_Limiting (Least Limiting): max domain index, 'Not
    rated' still loses to any real class."""
    spec = RatingSpec(
        rating_col="rflag", out_col="rating", domain=LIMITING_DOMAIN, **_CO_SPEC
    )
    return agg_limiting(li_component(spark, sf_dir), spec, most=False)


def sdv_wta_zero_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateCo_WTA with bZero: null ratings count as 0 in the
    weighted average instead of being dropped (:8034-8039)."""
    df = li_component(spark, sf_dir).withColumn(
        "pn", F.when(F.col("rflag") == "R", None).otherwise(F.col("price_c"))
    )
    spec = RatingSpec(
        rating_col="pn", out_col="rating", zero_nulls=True, **_CO_SPEC
    )
    out = agg_wta(df, spec)
    return out.select("okey", "comppct_r", _floor_e("rating", 10000).alias("rating_e4"))


def _dtwt_input(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, RatingSpec]:
    """Depth-to-water-table shape: nulls synthesized where qty=50,
    replaced by the 201 'no water table' sentinel
    (nullratingreplacementvalue, gSSURGO_CreateSoilMap.py:9727-9741)."""
    df = li_component(spark, sf_dir).withColumn(
        "qty_n", F.when(F.col("comppct_r") == 50, None).otherwise(F.col("comppct_r"))
    )
    spec = RatingSpec(
        rating_col="qty_n", out_col="rating", null_replacement=201, **_CO_SPEC
    )
    return df, spec


def sdv_dtwt_dcd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateCo_DCD_DTWT: month-collapse (max), 201 sentinel for
    nulls, then dominant condition with the >=50 DCP-override."""
    df, spec = _dtwt_input(spark, sf_dir)
    collapsed = month_collapse(df, spec, how="max")
    return agg_dcd(collapsed, spec, dcp_override=True)


def sdv_wta_dtwt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateCo_WTA_DTWT: the 201 sentinel is EXCLUDED from both
    sides of the weighted average (:8076-8094) — components with no
    water table don't dilute the mean."""
    df, spec = _dtwt_input(spark, sf_dir)
    collapsed = month_collapse(df, spec, how="min")
    out = agg_wta(collapsed, spec, exclude_values=[201])
    return out.select("okey", "comppct_r", _floor_e("rating", 10000).alias("rating_e4"))


def _hz_member_max(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, RatingSpec]:
    """Per-member max over horizons in [0,30) — the first stage of the
    AggregateHz_MaxMin_* family (gSSURGO_CreateSoilMap.py:8895-9345)."""
    df = li_horizon(spark, sf_dir)
    hz_t = clipped_thickness("hzdept", "hzdepb", 0, 30)
    comp = (
        df.groupBy("ckey", "okey", "o_w")
        .agg(F.max(F.when(hz_t > 0, F.col("qty"))).alias("hzv"))
        .where(F.col("hzv").isNotNull())
    )
    spec = RatingSpec(
        rating_col="hzv",
        group_cols=["ckey"],
        member_col="okey",
        weight_col="o_w",
        out_col="rating",
    )
    return comp, spec


def sdv_hz_maxmin_dcd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateHz_MaxMin_DCD (K-factor style): horizon max per member,
    then dominant condition across members (:9052-9198)."""
    comp, spec = _hz_member_max(spark, sf_dir)
    out = agg_dcd(comp, spec, dcp_override=False)
    return out.select("ckey", F.col("o_w").alias("comppct_r"), "rating")


def sdv_hz_maxmin_dcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregateHz_MaxMin_DCP: horizon max per member, then dominant
    component (:9201-9345)."""
    comp, spec = _hz_member_max(spark, sf_dir)
    out = agg_dcp(comp, spec)
    return out.select("ckey", F.col("o_w").alias("comppct_r"), "rating")


def planner_sdv_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metadata-driven rating engine end-to-end: hydrate an
    sdvattribute row (tiebreak domain from mdstatdomdet, sqlwhereclause
    through the mini-parser, comppct cutoff), walk mdstatrshipdet for
    the join path, dispatch to Dominant Condition — the full
    CreateSoilMap lifecycle (SURVEY §3.1) on synthesized tables."""
    from .plans.planner import create_soil_map, hydrate

    co = synth_component(spark, sf_dir)
    mapunit = co.select("mukey").distinct()
    tables = {"mapunit": mapunit, "component": co}
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
        {"domainname": "hydric_dom", "choice": "Unranked", "choicesequence": 2},
        {"domainname": "hydric_dom", "choice": "No", "choicesequence": 3},
    ]
    req = hydrate(sdv_row, domdet, cutoff=10)
    return create_soil_map(tables, relations, req)


def planner_sdv_flood_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """floodBandaid end-to-end (gSSURGO_CreateSoilMap.py:166-204): the
    sdvattribute row arrives DELIBERATELY broken the way real SSURGO
    ships it — attributekey 12 with a NULL tiebreakdomainname —
    and repair_sdvattribute (invoked by hydrate) restores
    'flooding_frequency_class', so Dominant Condition ranks by the
    ordinal flood-frequency domain instead of degrading to string
    order. The oracle encodes the CORRECT domain ranking: it only
    matches if the repair fired."""
    from .plans.planner import create_soil_map, hydrate

    co = synth_component(spark, sf_dir)
    ok = F.col("cokey")
    component = co.withColumn(
        "flodfreqcl",
        F.when(ok % 6 == 0, "None")
        .when(ok % 6 == 1, "Very rare")
        .when(ok % 6 == 2, "Rare")
        .when(ok % 6 == 3, "Occasional")
        .when(ok % 6 == 4, "Frequent")
        .otherwise("Very frequent"),
    )
    tables = {
        "mapunit": component.select("mukey").distinct(),
        "component": component,
    }
    relations = [
        {
            "ltabphyname": "mapunit",
            "rtabphyname": "component",
            "ltabcolphyname": "mukey",
            "rtabcolphyname": "mukey",
        }
    ]
    sdv_row = {
        "attributename": "Flooding Frequency Class",
        "attributekey": 12,
        "attributetablename": "component",
        "attributecolumnname": "flodfreqcl",
        "algorithmname": "Dominant Condition",
        "complevelattribflag": 1,
        "tiebreakrule": 0,
        "tiebreakdomainname": None,  # broken, as shipped
        "sqlwhereclause": "majcompflag = 'Yes'",
    }
    domdet = [
        {
            "domainname": "flooding_frequency_class",
            "choice": c,
            "choicesequence": i + 1,
        }
        for i, c in enumerate(
            ["None", "Very rare", "Rare", "Occasional", "Frequent",
             "Very frequent"]
        )
    ]
    req = hydrate(sdv_row, domdet, cutoff=10)
    return create_soil_map(tables, relations, req)


def planner_sdv_hz_top_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CreateRatingTable3S surface path (gSSURGO_CreateSoilMap.py:
    4471-4530): 4-level chain mapunit ← component ← chorizon ←
    chtexturegrp restricted to the surface window [0, 1), rating
    taken from the FIRST texture-group row per horizon (:4510-4514,
    ordered by chtgkey, rvindicator pre-filtered via sqlwhereclause),
    then Dominant Component. The texture-group table is doubled (two
    candidate rows per horizon) so the first-child collapse is
    observable — where row A fails the RV filter the rating must come
    from row B."""
    from .plans.planner import create_soil_map, hydrate

    t = ssurgo_synth(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    lk, ln = F.col("l_orderkey"), F.col("l_linenumber")
    pk, sk = F.col("l_partkey"), F.col("l_suppkey")
    chkey = lk * 10 + ln
    a = li.select(
        chkey.alias("chkey"),
        (chkey * 10 + 1).alias("chtgkey"),
        F.when(sk % 6 == 0, "No").otherwise("Yes").alias("rvindicator"),
        F.when(pk % 19 == 0, "MUCK").otherwise("SL").alias("texture"),
    )
    b = li.select(
        chkey.alias("chkey"),
        (chkey * 10 + 2).alias("chtgkey"),
        F.lit("Yes").alias("rvindicator"),
        F.when(pk % 7 == 0, "CL").otherwise("FSL").alias("texture"),
    )
    tables = {
        "mapunit": t["component"].select("mukey").distinct(),
        "component": t["component"],
        "chorizon": t["chorizon"],
        "chtexturegrp": a.unionByName(b),
    }
    relations = [
        {
            "ltabphyname": "mapunit",
            "rtabphyname": "component",
            "ltabcolphyname": "mukey",
            "rtabcolphyname": "mukey",
        },
        {
            "ltabphyname": "component",
            "rtabphyname": "chorizon",
            "ltabcolphyname": "cokey",
            "rtabcolphyname": "cokey",
        },
        {
            "ltabphyname": "chorizon",
            "rtabphyname": "chtexturegrp",
            "ltabcolphyname": "chkey",
            "rtabcolphyname": "chkey",
        },
    ]
    sdv_row = {
        "attributename": "Surface Texture Synth",
        "attributetablename": "chtexturegrp",
        "attributecolumnname": "texture",
        "algorithmname": "Dominant Component",
        "horzlevelattribflag": 1,
        "tiebreakrule": 0,
        "sqlwhereclause": "rvindicator = 'Yes'",
    }
    req = hydrate(
        sdv_row,
        cutoff=10,
        top=0,
        bot=1,
        first_child_only=True,
        child_key="chtgkey",
    )
    return create_soil_map(tables, relations, req)


def planner_sdv_hz_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner horizon path: 3-level relationship walk (mapunit ←
    component ← chorizon), interval-overlap depth predicate, per-member
    horizon max then weighted average (AggregateHz_MaxMin_WTA
    dispatch)."""
    from .plans.planner import create_soil_map, hydrate

    t = ssurgo_synth(spark, sf_dir)
    tables = {
        "mapunit": t["component"].select("mukey").distinct(),
        "component": t["component"],
        "chorizon": t["chorizon"],
    }
    relations = [
        {
            "ltabphyname": "mapunit",
            "rtabphyname": "component",
            "ltabcolphyname": "mukey",
            "rtabcolphyname": "mukey",
        },
        {
            "ltabphyname": "component",
            "rtabphyname": "chorizon",
            "ltabcolphyname": "cokey",
            "rtabcolphyname": "cokey",
        },
    ]
    sdv_row = {
        "attributename": "AWC Max Synth",
        "attributetablename": "chorizon",
        "attributecolumnname": "awc_r",
        "algorithmname": "Minimum or Maximum",
        "horzlevelattribflag": 1,
        "tiebreakrule": 1,  # Higher wins -> maximum
    }
    req = hydrate(sdv_row, None, top=0, bot=100)
    return create_soil_map(tables, relations, req)


def planner_sdv_month_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner month path: month-window filter + collapse (min, per the
    'Lower' tiebreak) then Dominant Component over the ordinal domain
    (AggregateCo_Mo_DCP dispatch)."""
    from .plans.planner import create_soil_map, hydrate

    comp = li_component(spark, sf_dir).select(
        F.col("okey").alias("mukey"),
        F.col("member").alias("cokey"),
        "comppct_r",
        F.col("rflag").alias("flclass"),
        "monthseq",
        F.lit("Soil").alias("compname"),
    )
    tables = {"mapunit": comp.select("mukey").distinct(), "component": comp}
    relations = [
        {
            "ltabphyname": "mapunit",
            "rtabphyname": "component",
            "ltabcolphyname": "mukey",
            "rtabcolphyname": "mukey",
        }
    ]
    sdv_row = {
        "attributename": "Flooding Class Synth",
        "attributetablename": "component",
        "attributecolumnname": "flclass",
        "algorithmname": "Dominant Component",
        "complevelattribflag": 1,
        "cmonthlevelattribflag": 1,
        "tiebreakrule": 0,
        "tiebreakdomainname": "fl_dom",
    }
    domdet = [
        {"domainname": "fl_dom", "choice": c, "choicesequence": i + 1}
        for i, c in enumerate(RFLAG_DOMAIN)
    ]
    req = hydrate(sdv_row, domdet, beg_month=3, end_month=9)
    return create_soil_map(tables, relations, req)


def planner_sdv_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch soil-maps driver (gSSURGO_CreateSoilMaps.py:349-379): run
    CreateSoilMap for a LIST of attributes and assemble one wide
    rating table (gSSURGO_MergeRatingTables) — here two hydrated
    requests (hydric Dominant Condition + drainage Dominant Component)
    through the same planner, merged onto the mapunit spine with
    per-attribute column prefixes. Each rating table is mapunit-sized,
    so the merge joins broadcast."""
    from .plans.planner import create_soil_map, hydrate
    from .tools_merge import merge_rating_tables

    co = synth_component(spark, sf_dir)
    mapunit = co.select("mukey").distinct()
    tables = {"mapunit": mapunit, "component": co}
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
    r_hydric = create_soil_map(
        tables, relations, hydrate(hydric_row, hydric_dom, cutoff=10)
    )
    r_drain = create_soil_map(
        tables, relations, hydrate(drain_row, drain_dom, cutoff=10)
    )
    return merge_rating_tables(
        mapunit, {"hydric": r_hydric, "drain": r_drain}
    )


def planner_sdv_soilmoist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CreateSoilMoistureTable depth-4 chain (gSSURGO_CreateSoilMap.py:
    4632-4717): mapunit ⟕ component ⟕ comonth ⟕ cosoilmoist walked from
    the relationship catalog — the planner's deepest exercised path
    (the month family previously stopped at component level). The
    DTWT-style pipeline on top: Apr–Jun month window, per-component
    month collapse (min), null soimoistdept_r → 201 (the reference's
    dMissing row for a comonth with no cosoilmoist child, :4679-4684),
    then Weighted Average; floor-scaled output for cross-engine
    hashing."""
    from .plans.planner import create_soil_map, hydrate

    component = synth_component(spark, sf_dir)
    comonth = component.select(
        "cokey",
        F.explode(F.array(*[F.lit(m) for m in range(1, 13)])).alias("monthseq"),
    ).select(
        "cokey",
        "monthseq",
        (F.col("cokey") * 16 + F.col("monthseq")).alias("comonthkey"),
    )
    li = _t(spark, sf_dir, "lineitem")
    cosoilmoist = li.select(
        (F.col("l_orderkey") * 16 + (F.col("l_partkey") % 12 + 1)).alias(
            "comonthkey"
        ),
        F.when(
            F.col("l_suppkey") % 5 != 0,
            (F.col("l_suppkey") % 200).cast("double"),
        ).alias("soimoistdept_r"),
    )
    tables = {
        "mapunit": component.select("mukey").distinct(),
        "component": component,
        "comonth": comonth,
        "cosoilmoist": cosoilmoist,
    }
    relations = [
        {
            "ltabphyname": "mapunit",
            "rtabphyname": "component",
            "ltabcolphyname": "mukey",
            "rtabcolphyname": "mukey",
        },
        {
            "ltabphyname": "component",
            "rtabphyname": "comonth",
            "ltabcolphyname": "cokey",
            "rtabcolphyname": "cokey",
        },
        {
            "ltabphyname": "comonth",
            "rtabphyname": "cosoilmoist",
            "ltabcolphyname": "comonthkey",
            "rtabcolphyname": "comonthkey",
        },
    ]
    sdv_row = {
        "attributename": "Depth to Water Table Synth",
        "attributetablename": "cosoilmoist",
        "attributecolumnname": "soimoistdept_r",
        "algorithmname": "Weighted Average",
        "complevelattribflag": 1,
        "cmonthlevelattribflag": 1,
        "tiebreakrule": 0,
        "nullratingreplacementvalue": "201",
    }
    req = hydrate(sdv_row, None, cutoff=10, beg_month=4, end_month=6)
    out = create_soil_map(tables, relations, req)
    return out.select(
        "mukey",
        F.col("comppct_r").cast("long").alias("sum_pct"),
        _floor_e("rating", 10000).alias("rating_e4"),
    )


def planner_sdv_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner interp path (CreateRatingInterps): cointerp filtered to
    the rule (mrulename = attribute, ruledepth 0) through the
    relationship walk, fuzzy value (interphr) weight-averaged per map
    unit."""
    from .plans.planner import create_soil_map, hydrate

    t = ssurgo_synth(spark, sf_dir)
    tables = {
        "mapunit": t["component"].select("mukey").distinct(),
        "component": t["component"],
        "cointerp": t["cointerp"],
    }
    relations = [
        {
            "ltabphyname": "mapunit",
            "rtabphyname": "component",
            "ltabcolphyname": "mukey",
            "rtabcolphyname": "mukey",
        },
        {
            "ltabphyname": "component",
            "rtabphyname": "cointerp",
            "ltabcolphyname": "cokey",
            "rtabcolphyname": "cokey",
        },
    ]
    sdv_row = {
        "attributename": "NCCPI - National Commodity Crop Productivity Index",
        "attributetablename": "cointerp",
        "attributecolumnname": "interphr",
        "algorithmname": "Weighted Average",
        "complevelattribflag": 1,
        "tiebreakrule": 0,
        "attributetype": "Interpretation",
        "effectivelogicaldatatype": "float",
    }
    req = hydrate(sdv_row, None)
    out = create_soil_map(tables, relations, req)
    return out.select(
        "mukey", "comppct_r", _floor_e("rating", 10000).alias("rating_e4")
    )


def planner_sdv_mapunit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner mapunit-level path (CreateRatingTable1S shape): the
    attribute lives on a mapunit-keyed table (muaggatt analog), no
    aggregation — join walk + typed passthrough."""
    from .plans.planner import create_soil_map, hydrate

    mapunit = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("mukey"))
        .distinct()
    )
    muaggatt = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("mukey"),
        (F.col("c_custkey") % 200).cast("double").alias("aws025wta"),
    )
    tables = {"mapunit": mapunit, "muaggatt": muaggatt}
    relations = [
        {
            "ltabphyname": "mapunit",
            "rtabphyname": "muaggatt",
            "ltabcolphyname": "mukey",
            "rtabcolphyname": "mukey",
        }
    ]
    sdv_row = {
        "attributename": "AWS 0-25 WTA",
        "attributetablename": "muaggatt",
        "attributecolumnname": "aws025wta",
        "algorithmname": "No Aggregation Necessary",
        "mapunitlevelattribflag": 1,
        "resultcolumnname": "aws025",
    }
    req = hydrate(sdv_row, None)
    return create_soil_map(tables, relations, req)


def planner_sdv_no_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner 'No Aggregation Necessary' at component level: the
    denormalized rating rows pass through untouched (one row per
    mapunit-component, gSSURGO dAgg 'NONE' dispatch)."""
    from .plans.planner import create_soil_map, hydrate

    co = synth_component(spark, sf_dir)
    tables = {
        "mapunit": co.select("mukey").distinct(),
        "component": co,
    }
    relations = [
        {
            "ltabphyname": "mapunit",
            "rtabphyname": "component",
            "ltabcolphyname": "mukey",
            "rtabcolphyname": "mukey",
        }
    ]
    sdv_row = {
        "attributename": "Drainage Class Raw",
        "attributetablename": "component",
        "attributecolumnname": "drainagecl",
        "algorithmname": "No Aggregation Necessary",
        "complevelattribflag": 1,
    }
    req = hydrate(sdv_row, None)
    return create_soil_map(tables, relations, req)


def planner_sdv_rv_low_high(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RV low/high rating (gSSURGO_CreateSoilMap.py:3774-3783): the
    user rates the LOW or HIGH representative value instead of the
    default — the planner swaps the ``_r`` attribute column to its
    ``_l``/``_h`` sibling at hydrate time (guarded on the sibling
    actually existing in the table's catalog columns), and the rest of
    the pipeline is untouched. Exercised on the horizon MaxMin→WTA
    dispatch: per-component max of awc_l (resp. awc_h) over [0,100),
    weight-averaged per mapunit; both swaps run and join on mukey so
    one result proves Low AND High.

    awc_l/awc_h are exact-integer-valued doubles derived from awc_r
    (floor(awc_r/2) and 2·awc_r+1), so the weighted average is a sum of
    exact integers followed by one division — cross-engine
    deterministic."""
    from .plans.planner import create_soil_map, hydrate

    t = ssurgo_synth(spark, sf_dir)
    chorizon = t["chorizon"].withColumn(
        "awc_l", F.floor(F.col("awc_r") / 2).cast("double")
    ).withColumn("awc_h", F.col("awc_r") * 2 + 1)
    tables = {
        "mapunit": t["component"].select("mukey").distinct(),
        "component": t["component"],
        "chorizon": chorizon,
    }
    relations = [
        {
            "ltabphyname": "mapunit",
            "rtabphyname": "component",
            "ltabcolphyname": "mukey",
            "rtabcolphyname": "mukey",
        },
        {
            "ltabphyname": "component",
            "rtabphyname": "chorizon",
            "ltabcolphyname": "cokey",
            "rtabcolphyname": "cokey",
        },
    ]
    sdv_row = {
        "attributename": "AWC Range Synth",
        "attributetablename": "chorizon",
        "attributecolumnname": "awc_r",
        "algorithmname": "Minimum or Maximum",
        "horzlevelattribflag": 1,
        "tiebreakrule": 1,  # Higher wins -> maximum
    }
    cols = set(chorizon.columns)
    lo = create_soil_map(
        tables, relations,
        hydrate(sdv_row, None, top=0, bot=100, rv="Low", columns=cols),
    ).select("mukey", F.col("rating").alias("rating_low"))
    hi = create_soil_map(
        tables, relations,
        hydrate(sdv_row, None, top=0, bot=100, rv="High", columns=cols),
    ).select("mukey", F.col("rating").alias("rating_high"))
    return lo.join(hi, "mukey")


def sdv_attribute_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDV_AttributeReport outline (SDV_AttributeReport.py:1-251):
    sdvfolder → sdvfolderattribute → sdvattribute walked into one
    outline row per (folder, attribute), alphabetical choice index per
    folder, with the bNational filter live — attributes suffixed
    ' (AL)' are dropped because AL is a legend-derived state prefix,
    while ' (ZZ)' survives (ZZ is not a state in the legend)."""
    from .functions.sdv_report import attribute_report

    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    nk = F.col("n_nationkey")
    sdvfolder = region.select(
        F.col("r_name").alias("foldername"),
        F.col("r_regionkey").alias("folderkey"),
        (F.col("r_regionkey") + 1).alias("foldersequence"),
    )
    sdvfolderattribute = nation.select(
        F.col("n_regionkey").alias("folderkey"),
        nk.alias("attributekey"),
    )
    sdvattribute = nation.select(
        nk.alias("attributekey"),
        F.concat(
            F.col("n_name"),
            F.when(nk % 3 == 0, F.lit(" (AL)"))
            .when(nk % 3 == 1, F.lit(" (ZZ)"))
            .otherwise(F.lit("")),
        ).alias("attributename"),
        F.when(nk % 2 == 0, "Choice").otherwise("Float").alias(
            "attributelogicaldatatype"
        ),
        F.when(nk % 4 == 0, "Dominant Condition")
        .otherwise("Weighted Average")
        .alias("algorithmname"),
    )
    legend = nation.select(
        F.concat(
            F.when(nk % 2 == 0, F.lit("AL")).otherwise(F.lit("TX")),
            F.lpad(nk.cast("string"), 3, "0"),
        ).alias("areasymbol")
    )
    return attribute_report(
        sdvfolder, sdvfolderattribute, sdvattribute, legend, national=True
    )


def planner_sdv_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rating planner walking a relationship that exists ONLY in
    the metadata-generated catalog: cotaxmoistcl→component→mapunit
    (taxonomic moisture class is a real SDV attribute whose table the
    hand-written schema set never declared). The join path comes from
    the embedded MDSTATRSHIPDET rows — the same rows a real export's
    msrsdet.txt carries — so the planner is catalog-proven, not
    fixture-proven (gSSURGO_CreateSoilMap.py:9994-10107 walk)."""
    from .catalog import embedded_catalog
    from .plans.planner import create_soil_map, hydrate

    co = synth_component(spark, sf_dir)
    ok = F.col("cokey")
    cotaxmoistcl = co.select(
        ok.alias("cotaxmckey"),
        "cokey",
        F.when(
            ok % 11 != 0,
            F.element_at(
                F.array(*[F.lit(v) for v in
                          ["Aquic", "Udic", "Ustic", "Xeric", "Aridic"]]),
                (ok % 5 + 1).cast("int"),
            ),
        ).alias("taxmoistcl"),
    )
    tables = {
        "mapunit": co.select("mukey").distinct(),
        "component": co,
        "cotaxmoistcl": cotaxmoistcl,
    }
    relations = [
        {
            "ltabphyname": l,
            "rtabphyname": r,
            "ltabcolphyname": lc,
            "rtabcolphyname": rc,
        }
        for (l, r, lc, rc) in embedded_catalog().edges
    ]
    sdv_row = {
        "attributename": "Taxonomic Moisture Class",
        "attributetablename": "cotaxmoistcl",
        "attributecolumnname": "taxmoistcl",
        "algorithmname": "Dominant Condition",
        "complevelattribflag": 1,
        "tiebreakrule": 0,
        "tiebreakdomainname": "taxmoistcl_dom",
        "notratedphrase": "Not rated",
    }
    domdet = [
        {"domainname": "taxmoistcl_dom", "choice": v, "choicesequence": i}
        for i, v in enumerate(
            ["Aquic", "Udic", "Ustic", "Xeric", "Aridic"], start=1
        )
    ]
    req = hydrate(sdv_row, domdet, cutoff=10)
    return create_soil_map(tables, relations, req)
