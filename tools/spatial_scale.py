"""Scale harness for the round-12 PBSM grid-bucketed spatial joins
(functions/spatial.py; registry queries spatial_join_points /
spatial_join_overlap / spatial_join_within_distance).

Replicating the registry queries' fixed mod-lattice layers would grow
DENSITY with the factor — output pairs (and the naive-join candidate
count) would scale quadratically, measuring a fixture artifact rather
than the operator (the same trap tools/streaming_scale.py documents
for fixed-modulus dedup). Real geodata grows by AREA at roughly
constant feature density, so this harness generates layers spread by a
multiplicative hash over a plane whose span grows as sqrt(N): pairs
per feature stay constant, total output grows linearly, and the
measured rate is the join's, not the fixture's.

Each join runs the exact registry composition — WKT generate + parse,
bbox-cell explode, cell equi-join, ray-cast / Sutherland-Hodgman /
dist**2 refine, PBSM reporting-cell dedup where applicable — forced by
a noop sink, steady best-of-2 after a warm-up pass.

Usage: python tools/spatial_scale.py [factor ...]   (default 1 10 100)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from soil_data_development_tools___arcmap_spark import get_spark  # noqa: E402
from soil_data_development_tools___arcmap_spark.functions.geometry import (  # noqa: E402
    clip_area2x,
    parse_geom_rings,
    point_in_edges,
    rect_halfplanes,
    rings_to_edges,
)
from soil_data_development_tools___arcmap_spark.functions.spatial import (  # noqa: E402
    bbox_cells,
    neighborhood_cells,
    point_cell,
    report_cell_filter,
)

N_POLY_BASE = 15_000   # sf0.1 customer count
N_PT_BASE = 37_500     # sf0.1 orders/4

def _spread(idcol, salt: int, span: int):
    # Murmur3 mix (F.hash, fixed seed — deterministic) rather than a
    # multiplicative congruence: (id*K) % span puts consecutive ids on
    # a fixed-stride lattice and every (x, y) pair on ONE diagonal
    # line, which zeroes containment pairs and super-clusters overlap.
    return F.pmod(
        F.hash(idcol.cast("long"), F.lit(salt)).cast("long"), F.lit(span)
    )


def _rect_layer(spark, n: int, span: int, salt: int) -> DataFrame:
    i = F.col("id")
    x0 = _spread(i, salt, span)
    y0 = _spread(i, salt + 7, span)
    x1 = x0 + (i % 13 + 1) * 2
    y1 = y0 + (i % 7 + 1) * 2
    pt = lambda x, y: F.concat(  # noqa: E731
        x.cast("string"), F.lit(" "), y.cast("string")
    )
    sep = F.lit(", ")
    wkt = F.concat(
        F.lit("POLYGON (("),
        pt(x0, y0), sep, pt(x1, y0), sep, pt(x1, y1), sep, pt(x0, y1),
        sep, pt(x0, y0), F.lit("))"),
    )
    return spark.range(n).repartition(64).select(
        i.alias("k"),
        x0.cast("long").alias("x0"), y0.cast("long").alias("y0"),
        x1.cast("long").alias("x1"), y1.cast("long").alias("y1"),
        wkt.alias("wkt"),
    )


def _point_layer(spark, n: int, span: int, salt: int) -> DataFrame:
    i = F.col("id")
    return spark.range(n).repartition(64).select(
        i.alias("pk"),
        _spread(i, salt, span).cast("long").alias("px"),
        _spread(i, salt + 3, span).cast("long").alias("py"),
    )


def containment(spark, n_poly: int, n_pt: int, span: int) -> DataFrame:
    cs = 16
    polys = _rect_layer(spark, n_poly, span, 11)
    polys = polys.select(
        "k", "wkt",
        F.explode(
            bbox_cells(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"), cs)
        ).alias("cell"),
    ).withColumn("edges", rings_to_edges(parse_geom_rings("wkt")))
    pts = _point_layer(spark, n_pt, span, 29).withColumn(
        "cell", point_cell(F.col("px"), F.col("py"), cs)
    )
    return (
        polys.join(pts, "cell")
        .where(point_in_edges(F.col("edges"), F.col("px"), F.col("py")) == 1)
        .select("k", "pk")
    )


def overlap(spark, n_a: int, n_b: int, span: int) -> DataFrame:
    cs = 32
    a = _rect_layer(spark, n_a, span, 11).select(
        F.col("k").alias("ak"),
        F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"), "wkt",
    )
    a = a.select(
        "*",
        F.explode(
            bbox_cells(F.col("ax0"), F.col("ay0"), F.col("ax1"), F.col("ay1"), cs)
        ).alias("cell"),
    )
    b = _rect_layer(spark, n_b, span, 43).select(
        F.col("k").alias("bk"),
        F.col("x0").alias("bx0"), F.col("y0").alias("by0"),
        F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
    )
    b = b.select(
        "*",
        F.explode(
            bbox_cells(F.col("bx0"), F.col("by0"), F.col("bx1"), F.col("by1"), cs)
        ).alias("cell"),
    )
    return (
        a.join(b, "cell")
        .where(
            report_cell_filter(
                F.col("cell"), F.col("ax0"), F.col("ay0"),
                F.col("bx0"), F.col("by0"), cs,
            )
        )
        .select(
            "ak", "bk",
            clip_area2x("wkt", [rect_halfplanes(
                F.col("bx0").cast("double"), F.col("by0").cast("double"),
                F.col("bx1").cast("double"), F.col("by1").cast("double"),
            )]).alias("ov"),
        )
        .where(F.col("ov") > 0)
    )


def within_distance(spark, n_s: int, n_p: int, span: int) -> DataFrame:
    cs, r2 = 8, 25
    s = spark.range(n_s).repartition(64).select(
        F.col("id").alias("sk"),
        _spread(F.col("id"), 5, span).cast("long").alias("sx"),
        _spread(F.col("id"), 17, span).cast("long").alias("sy"),
    )
    s = s.select(
        "*",
        F.explode(neighborhood_cells(F.col("sx"), F.col("sy"), cs)).alias("cell"),
    )
    p = _point_layer(spark, n_p, span, 61).withColumn(
        "cell", point_cell(F.col("px"), F.col("py"), cs)
    )
    d2 = (F.col("sx") - F.col("px")) * (F.col("sx") - F.col("px")) + (
        F.col("sy") - F.col("py")
    ) * (F.col("sy") - F.col("py"))
    return s.join(p, "cell").where(d2 <= r2).select("sk", "pk")


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 10, 100]
    spark = get_spark("spatial-scale")
    spark.sparkContext.setLogLevel("ERROR")
    for factor in factors:
        n_poly = N_POLY_BASE * factor
        n_pt = N_PT_BASE * factor
        # constant feature density: plane area grows with the data
        span = int(math.isqrt(n_poly)) * 20
        row = {"factor": factor, "n_poly": n_poly, "n_pt": n_pt, "span": span}
        for name, df in (
            ("containment", containment(spark, n_poly, n_pt, span)),
            ("overlap", overlap(spark, n_poly, n_poly // 2, span)),
            ("within_distance", within_distance(spark, n_poly, n_pt, span)),
        ):
            out_rows = df.count()
            n_in = n_poly + n_pt if name != "overlap" else n_poly + n_poly // 2
            df.write.mode("overwrite").format("noop").save()  # warm
            best = None
            for _ in range(2):
                spark._jvm.System.gc()
                t0 = time.time()
                df.write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            row[name] = {
                "sec": round(best, 3),
                "out_pairs": out_rows,
                "in_features_per_sec": int(n_in / best),
            }
        print(json.dumps(row))


if __name__ == "__main__":
    main()
