"""Valu1 pipeline queries (SURVEY §2.5)."""

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
    VALU1_RANGES,
    _t,
    cents,
    li_horizon,
    read_events,
    ssurgo_synth,
    synth_component,
)



# ------------------------------------------------ Valu1-style pipeline


def valu1_aws_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalcAWS: one pass over ALL depth ranges — not the reference's 11
    sequential passes (gSSURGO_ValuTable.py:1481-1674).

    Scale shape (round 10): the ranges are CONDITIONAL AGGREGATE
    COLUMNS over the raw horizon rows, not an exploded row dimension —
    the horizon scan aggregates straight to one row per component
    (2R sum columns) BEFORE any join, so the big shuffle carries
    component-count rows once instead of R× the horizon rows, and the
    component-weight join lands on already-aggregated rows (broadcast
    at bench SF; co-partitioned equi-join at scale — still strictly
    smaller than joining raw horizons). Only the component level is
    exploded back to long form. All sums are exact integers (depths,
    qty, cents), so the reshape is hash-identical to the row-dimension
    form."""
    ranges = [(0, 20), (20, 50), (50, 100), (0, 100)]
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("ckey"),
        cents("o_totalprice").alias("o_w"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        ((F.col("l_linenumber") - 1) * 15).cast("long").alias("hzdept"),
        (
            (F.col("l_linenumber") - 1) * 15 + 5 + F.col("l_partkey") % 11
        ).cast("long").alias("hzdepb"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    aggs = []
    for t, b in ranges:
        hz_t = F.greatest(
            F.least(F.col("hzdepb"), F.lit(b))
            - F.greatest(F.col("hzdept"), F.lit(t)),
            F.lit(0),
        )
        aggs.append(F.sum(hz_t * F.col("qty")).alias(f"__txv_{t}_{b}"))
        aggs.append(F.sum(hz_t).alias(f"__t_{t}_{b}"))
    comp_wide = li.groupBy("okey").agg(*aggs).join(orders, "okey")
    comp = comp_wide.select(
        "ckey",
        "o_w",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(t).alias("top"),
                    F.lit(b).alias("bot"),
                    F.col(f"__txv_{t}_{b}").alias("txv"),
                    F.col(f"__t_{t}_{b}").alias("t"),
                )
                for t, b in ranges
            ])
        ).alias("r"),
    ).select(
        "ckey", "o_w", "r.top", "r.bot", "r.txv", "r.t"
    ).where(F.col("t") > 0)
    return comp.groupBy("ckey", "top", "bot").agg(
        F.sum("o_w").alias("comppct_r"),
        F.floor((F.sum(F.col("o_w") * F.col("txv")) / F.sum("o_w")) * 10000)
        .cast("long")
        .alias("aws_e4"),
    )


def _synth_qt_restr(
    spark: SparkSession, sf_dir: str, tex: bool = True, frags: bool = False
):
    """Per-branch pruned query table: join ONLY the child tables the
    calling metric reads (texture for the RZ-depth organic test,
    fragvol for SOC) — a shared wide qt makes every branch pay for
    joins it never reads (round-3 fix for the rz-aws cold regression)."""
    from .valu1.pipeline import build_query_table, get_co_restrictions

    t = ssurgo_synth(spark, sf_dir)
    qt = build_query_table(
        t["component"],
        t["chorizon"],
        t["chtexturegrp"] if tex else None,
        t["chtexture"] if tex else None,
        t["chfrags"] if frags else None,
    )
    return t, qt, get_co_restrictions(t["corestrictions"])


def valu1_sum_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetSumPct: per-mukey Σcomppct for the component classes."""
    from .valu1.pipeline import get_sum_pct

    return get_sum_pct(synth_component(spark, sf_dir))


def valu1_rz_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalcRZDepth: shallowest of dense layer / pH / EC / corestriction,
    default 150, over major-earthy components."""
    from .valu1.pipeline import calc_rz_depth

    _, qt, restr = _synth_qt_restr(spark, sf_dir)
    return calc_rz_depth(qt, restr)


def valu1_rz_aws_droughty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalcRZAWS + droughty flag (root-zone AWS 0-150, mukey level).

    Two pruned query tables: RZ-depth reads texture/lieutex (organic
    test) so it gets the tex-joined qt; the AWS sum reads only
    depths+awc so it runs on the bare component⟕horizon join — no
    texture or fragment join in its subtree (round-3 cold-path fix)."""
    from .valu1.pipeline import build_query_table, calc_rz_aws, calc_rz_depth

    t, qt_tex, restr = _synth_qt_restr(spark, sf_dir, tex=True)
    qt_hz = build_query_table(t["component"], t["chorizon"])
    return calc_rz_aws(qt_hz, calc_rz_depth(qt_tex, restr))


def valu1_soc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalcSOC over 4 depth ranges, restriction-capped, frag-corrected;
    exact-scale output (milli-units) for cross-engine hashing. SOC
    reads fragvol+om+db but never texture — pruned qt (no tex join)."""
    from .valu1.pipeline import calc_soc

    _, qt, restr = _synth_qt_restr(spark, sf_dir, tex=False, frags=True)
    return calc_soc(
        qt, restr, ranges=[(0, 20), (20, 50), (50, 100), (0, 100)], exact_scale=1000
    )


def valu1_nccpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalcNCCPI3: fuzzy-value weighted rollup, overall + crop submodels."""
    from .valu1.pipeline import calc_nccpi

    t = ssurgo_synth(spark, sf_dir)
    return calc_nccpi(t["component"], t["cointerp"], exact_scale=1000)


def valu1_nccpi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalcNCCPI2 via the mainrule dispatch: an older survey database
    carries only the Ver 2.0 nasisrulename, so resolve_nccpi_mainrule
    picks v2 and the combined Corn-and-Soybeans submodel layout. The
    synthetic v2 cointerp includes NULL interphr rows (cokey % 31) to
    exercise the unrated-component path — those components still count
    in the major-pct denominator, like the reference's cursor."""
    from .valu1.pipeline import (
        NCCPI_V2_RULE,
        calc_nccpi,
        calc_nccpi2,
        resolve_nccpi_mainrule,
    )

    co = synth_component(spark, sf_dir)
    ok = F.col("o_orderkey")
    v2_rules = [
        (0, "NCCPI - National Commodity Crop Productivity Index (Ver 2.0)"),
        (1, "NCCPI - NCCPI Corn and Soybeans Submodel (II)"),
        (1, "NCCPI - NCCPI Cotton Submodel (II)"),
        (1, "NCCPI - NCCPI Small Grains Submodel (II)"),
    ]
    cointerp_v2 = (
        _t(spark, sf_dir, "orders")
        .select(
            ok.alias("cokey"),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(d).alias("ruledepth"), F.lit(r).alias("rulename")
                    )
                    for d, r in v2_rules
                ])
            ).alias("r"),
        )
        .select(
            "cokey",
            F.col("r.ruledepth").alias("ruledepth"),
            F.col("r.rulename").alias("rulename"),
            F.lit(NCCPI_V2_RULE).alias("mrulename"),
            F.when(
                F.col("cokey") % 31 != 0,
                ((F.col("cokey") * (F.col("r.ruledepth") + 5) + 7) % 101)
                .cast("double"),
            ).alias("interphr"),
        )
    )
    main = resolve_nccpi_mainrule([NCCPI_V2_RULE])
    fn = calc_nccpi2 if main == NCCPI_V2_RULE else calc_nccpi
    return fn(co, cointerp_v2, exact_scale=1000)


def valu1_pwsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalcPWSL: potential wet soil landscape pct with the 999 sentinel."""
    from .valu1.pipeline import calc_pwsl

    return calc_pwsl(synth_component(spark, sf_dir))


def valu1_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full wide Valu1 table (CreateValuTable orchestration):
    sum-pct + AWS/TK pivots + SOC + root-zone AWS/droughty + NCCPI +
    PWSL assembled from one cached query table, exact-scale outputs."""
    from .valu1.pipeline import build_valu1

    t = ssurgo_synth(spark, sf_dir)
    return build_valu1(
        t["component"],
        t["chorizon"],
        corestrictions=t["corestrictions"],
        cointerp=t["cointerp"],
        chtexturegrp=t["chtexturegrp"],
        chtexture=t["chtexture"],
        chfrags=t["chfrags"],
        ranges=VALU1_RANGES,
        exact_scales=(10000, 1000, 1000),
    )


def valu1_first_restriction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetCoRestrictions analog: first qualifying event per user
    (shallowest restriction per cokey, gSSURGO_ValuTable.py:1106-1146)."""
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id"))
    return (
        ev.where(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", cents("value").alias("resdept"))
    )
