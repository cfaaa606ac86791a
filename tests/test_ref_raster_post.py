"""Independent-reference tests for the round-12b raster
post-processing family: pure-Python implementations of the MAJORITY
block resample (both tie rules), NEAREST pyramid levels, zonal
categorical statistics, and the rect∩rect intersection geometry —
built only from the published ArcGIS semantics the queries cite
(Aggregate tie→lowest; BlockStatistics tie→NoData; BuildPyramids
NEAREST block-origin; ZonalStatisticsAsTable count/variety/majority;
Intersect pairwise clip) and the repo's documented conventions. No
Spark Column code shared with functions/raster.py or the queries.
Guards the shared-formulation blind spot: the DuckDB oracle proves
Spark and DuckDB agree; these prove the agreed semantics are the
INTENDED ones, on randomized inputs."""

from __future__ import annotations

import random
from collections import Counter, defaultdict

import pyspark.sql.functions as F

from soil_data_development_tools___arcmap_spark.functions.raster import (
    block_majority,
)


def _random_cells(seed: int, n: int = 400, side: int = 40, vals: int = 7):
    """Random sparse cell raster: unique (col, row) cells, small value
    alphabet so blocks genuinely collide on counts and tie often."""
    rng = random.Random(seed)
    cells = {}
    while len(cells) < n:
        cells[(rng.randrange(side), rng.randrange(side))] = (
            rng.randrange(1, vals + 1)
        )
    return cells


def _ref_block_majority(cells: dict, factor: int):
    """Pure-Python Aggregate/BlockStatistics MAJORITY."""
    blocks = defaultdict(Counter)
    for (c, r), v in cells.items():
        blocks[(c // factor, r // factor)][v] += 1
    out = {}
    for b, cnt in blocks.items():
        top = max(cnt.values())
        winners = sorted(v for v, k in cnt.items() if k == top)
        out[b] = (
            sum(cnt.values()),
            winners[0],  # Aggregate: tie -> lowest value
            winners[0] if len(winners) == 1 else 0,  # BlockStats: nodata
        )
    return out


def test_block_majority_matches_pure_python_reference(spark):
    for seed in (7, 19, 23):
        cells = _random_cells(seed)
        df = spark.createDataFrame(
            [(c, r, v) for (c, r), v in cells.items()],
            "col long, row long, cellvalue long",
        )
        got = {
            (x.bcol, x.brow): (x.n_data, x.agg_majority, x.blockstat_majority)
            for x in block_majority(df, factor=3).collect()
        }
        assert got == _ref_block_majority(cells, 3), f"seed={seed}"


def test_pyramid_levels_match_pure_python_reference(spark):
    """The registry query's level rule (block-origin NEAREST sample)
    against an independent per-cell recomputation, on a random raster
    pushed through the SAME Spark expression the query uses."""
    cells = _random_cells(31, n=600, side=64)
    df = spark.createDataFrame(
        [(c, r, v) for (c, r), v in cells.items()],
        "col long, row long, cellvalue long",
    )
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
    got = {
        (x.level, x.cellvalue): x.n
        for x in df.select(lv.alias("_lv"), "cellvalue")
        .groupBy(F.col("_lv.l").alias("level"), "cellvalue")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    ref = Counter()
    for (c, r), v in cells.items():
        for level in range(4):
            s = 1 << level
            if c % s == 0 and r % s == 0:
                ref[(level, v)] += 1
    assert got == dict(ref)


def _ref_zonal(cells: dict, zones: list):
    """Pure-Python categorical zonal stats (count/variety/majority
    tie→lowest/min/max) with strict center-in-rect containment."""
    out = {}
    for zid, (x0, y0, x1, y1) in zones:
        cnt = Counter()
        for (c, r), v in cells.items():
            cx, cy = 2 * c + 1, 2 * r + 1
            if x0 < cx < x1 and y0 < cy < y1:
                cnt[v] += 1
        if not cnt:
            continue
        top = max(cnt.values())
        maj = min(v for v, k in cnt.items() if k == top)
        out[zid] = (
            sum(cnt.values()), len(cnt), maj, min(cnt), max(cnt),
        )
    return out


def test_zonal_stats_match_pure_python_reference(spark):
    """The zonal composition (PBSM join + argbest) rebuilt over a
    RANDOM raster and RANDOM zone rects, compared against the naive
    reference — exercises zones straddling cell boundaries and zones
    containing nothing."""
    from soil_data_development_tools___arcmap_spark.functions.spatial import (
        bbox_cells,
        point_cell,
    )

    rng = random.Random(101)
    cells = _random_cells(41, n=500, side=50, vals=9)
    zones = [
        (z, (x0, y0, x0 + rng.randrange(2, 30), y0 + rng.randrange(2, 30)))
        for z, (x0, y0) in enumerate(
            (rng.randrange(0, 90), rng.randrange(0, 90)) for _ in range(25)
        )
    ]
    cdf = spark.createDataFrame(
        [(v, 2 * c + 1, 2 * r + 1) for (c, r), v in cells.items()],
        "val long, cx long, cy long",
    ).withColumn("cell", point_cell(F.col("cx"), F.col("cy"), 32))
    zdf = spark.createDataFrame(
        [(z, *rect) for z, rect in zones],
        "zone long, zx0 long, zy0 long, zx1 long, zy1 long",
    )
    zdf = zdf.select(
        "*",
        F.explode(
            bbox_cells(
                F.col("zx0"), F.col("zy0"), F.col("zx1"), F.col("zy1"), 32
            )
        ).alias("cell"),
    )
    per_v = (
        zdf.join(cdf, "cell")
        .where(
            (F.col("cx") > F.col("zx0")) & (F.col("cx") < F.col("zx1"))
            & (F.col("cy") > F.col("zy0")) & (F.col("cy") < F.col("zy1"))
        )
        .groupBy("zone", "val")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = F.max(F.struct(F.col("cnt"), (-F.col("val")).alias("nm")))
    got = {
        r.zone: (r.n, r.variety, r.maj, r.mn, r.mx)
        for r in per_v.groupBy("zone")
        .agg(
            F.sum("cnt").alias("n"),
            F.count(F.lit(1)).alias("variety"),
            best.alias("_b"),
            F.min("val").alias("mn"),
            F.max("val").alias("mx"),
        )
        .select(
            "zone", "n", "variety", (-F.col("_b.nm")).alias("maj"),
            "mn", "mx",
        )
        .collect()
    }
    assert got == _ref_zonal(cells, zones)


def test_overlap_wkt_matches_pure_python_reference(spark):
    """Random rect layers through the PBSM overlay-WKT composition vs
    the naive pure-Python pairwise intersection — certifies the
    bucketing, the reporting-cell dedup, AND the emitted canonical
    geometry text on inputs the registry synthesis never produces
    (odd coordinates, heavy overlap)."""
    from soil_data_development_tools___arcmap_spark.functions.geometry import (
        clip_wkt,
        rect_halfplanes,
    )
    from soil_data_development_tools___arcmap_spark.functions.spatial import (
        bbox_cells,
        report_cell_filter,
    )

    rng = random.Random(77)
    span = 120

    def rects(n, key0):
        out = []
        for i in range(n):
            x0, y0 = rng.randrange(span), rng.randrange(span)
            out.append(
                (key0 + i, x0, y0,
                 x0 + rng.randrange(1, 25), y0 + rng.randrange(1, 25))
            )
        return out

    A, B = rects(60, 0), rects(60, 1000)
    ref = {}
    for ak, ax0, ay0, ax1, ay1 in A:
        for bk, bx0, by0, bx1, by1 in B:
            xa, xb = max(ax0, bx0), min(ax1, bx1)
            yp, yq = max(ay0, by0), min(ay1, by1)
            if xb > xa and yq > yp:
                ref[(ak, bk)] = (
                    f"POLYGON (({xa} {yp}, {xb} {yp}, {xb} {yq}, "
                    f"{xa} {yq}, {xa} {yp}))",
                    2 * (xb - xa) * (yq - yp),
                )
    cs = 32
    adf = spark.createDataFrame(
        [
            (k, x0, y0, x1, y1,
             f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, "
             f"{x0} {y0}))")
            for k, x0, y0, x1, y1 in A
        ],
        "akey long, ax0 long, ay0 long, ax1 long, ay1 long, wkt string",
    )
    adf = adf.select(
        "*",
        F.explode(
            bbox_cells(
                F.col("ax0"), F.col("ay0"), F.col("ax1"), F.col("ay1"), cs
            )
        ).alias("cell"),
    )
    bdf = spark.createDataFrame(
        [(k, x0, y0, x1, y1) for k, x0, y0, x1, y1 in B],
        "bkey long, bx0 long, by0 long, bx1 long, by1 long",
    )
    bdf = bdf.select(
        "*",
        F.explode(
            bbox_cells(
                F.col("bx0"), F.col("by0"), F.col("bx1"), F.col("by1"), cs
            )
        ).alias("cell"),
    )
    clipped = clip_wkt("wkt", rect_halfplanes(
        F.col("bx0").cast("double"), F.col("by0").cast("double"),
        F.col("bx1").cast("double"), F.col("by1").cast("double"),
    ))
    got = {
        (r.akey, r.bkey): (r.w, r.a)
        for r in adf.join(bdf, "cell")
        .where(
            report_cell_filter(
                F.col("cell"),
                F.col("ax0"), F.col("ay0"),
                F.col("bx0"), F.col("by0"),
                cs,
            )
        )
        .select("akey", "bkey", clipped["clip_wkt"].alias("w"),
                clipped["clip_a2x"].alias("a"))
        .where(F.col("a") > 0)
        .collect()
    }
    assert got == ref


def test_nb_classifier_matches_pure_python_reference(spark):
    """The in-engine NB train/classify against an independent
    pure-Python implementation built from the multinomial-NB
    definition (Laplace smoothing, log-odds in floored micro-units)
    over the same parquet — no Spark, no SQL shared."""
    import math
    from collections import Counter

    import pyarrow.parquet as pq

    tbl = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    docs = tbl.to_pylist()
    pos_sources = {"src0", "src1", "src2", "src3", "src4"}
    cp, cn = Counter(), Counter()
    for d in docs:
        c = cp if d["source"] in pos_sources else cn
        for t in d["text"].split(" "):
            if t:
                c[t] += 1
    vocab = set(cp) | set(cn)
    t_pos, t_neg, v = sum(cp.values()), sum(cn.values()), len(vocab)
    model = {
        t: math.floor(
            math.log(
                ((cp[t] + 1) * (t_neg + v)) / ((cn[t] + 1) * (t_pos + v))
            )
            * 1e6
        )
        for t in vocab
        if cp[t] + cn[t] >= 3
    }
    from soil_data_development_tools___arcmap_spark.q_docs import (
        docs_nb_classify,
        docs_nb_train,
    )

    got_model = {
        r.token: r.w_e6
        for r in docs_nb_train(spark, "/root/testdata/sf0.001").collect()
    }
    assert got_model == model
    ref_scores = {}
    for d in docs:
        hits = [model[t] for t in d["text"].split(" ") if t in model]
        if hits:
            ref_scores[d["doc_id"]] = (len(hits), sum(hits))
    got = {
        r.doc_id: (r.n_model_tok, r.score_e6)
        for r in docs_nb_classify(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == ref_scores
