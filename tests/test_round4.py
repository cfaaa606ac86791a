"""Round-4 operators: presentation cores (Bezier ramp, locale format,
rotation), the as-of join, and cluster-pruned ANN + recall."""

from __future__ import annotations

from conftest import SF_SMOKE

from soil_data_development_tools___arcmap_spark import queries as Q


def test_color_ramp_endpoints_and_size(spark):
    rows = {r["class_idx"]: r for r in Q.legend_color_ramp(spark, SF_SMOKE).collect()}
    # 5 distinct order priorities -> a 5-class ramp
    assert len(rows) == 5
    # the reference ramp runs Red -> ... -> Blue; endpoints survive the
    # skip-sampling exactly
    assert (rows[1]["r"], rows[1]["g"], rows[1]["b"]) == (255, 0, 0)
    assert (rows[5]["r"], rows[5]["g"], rows[5]["b"]) == (0, 0, 255)
    assert rows[1]["hex"] == "#ff0000" and rows[5]["hex"] == "#0000ff"


def test_number_format_grouping(spark):
    rows = Q.report_number_format(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # money strings carry thousands separators and exact cents
        assert "." in r["total_fmt"]
        whole, cents_part = r["total_fmt"].rsplit(".", 1)
        assert len(cents_part) == 2
        if len(whole.replace(",", "")) > 3:
            assert "," in whole


def test_offset_angle_rotation_preserves_radius(spark):
    from pyspark.sql import functions as F

    df = Q.map_offset_angle(spark, SF_SMOKE)
    # rebuild the synthesized points exactly as the query does
    k = F.col("okey")
    bx, by = (k % 50).cast("double"), (k % 30).cast("double")
    ax = bx + (1 + k % 13).cast("double")
    ay = by + (2 + k % 7).cast("double")
    chk = df.select(
        "okey",
        ((F.col("rx_e4") / 1e4 - bx) ** 2 + (F.col("ry_e4") / 1e4 - by) ** 2).alias(
            "r2_rot"
        ),
        ((ax - bx) ** 2 + (ay - by) ** 2).alias("r2_orig"),
        "angle_d10",
    ).collect()
    assert chk
    for r in chk:
        # rotation about B preserves |BA| (e4 quantization slack)
        assert abs(r["r2_rot"] - r["r2_orig"]) < 1e-2
        assert -1800 <= r["angle_d10"] <= 1800


def test_asof_attribution_semantics(spark):
    import pandas as pd  # noqa: F401

    us = 1_000_000
    rows = [
        # user 1: clicks at t=0 and t=30min, purchase at t=45min ->
        # matched to the LAST click (id 2), gap 15min
        (1, 0 * us * 1000, 1, "click", 0.0, None),
        (2, 1800 * us * 1000, 1, "click", 0.0, None),
        (3, 2700 * us * 1000, 1, "purchase", 5.0, None),
        # user 2: click 2h BEFORE purchase -> outside 1h window -> null
        (4, 0 * us * 1000, 2, "click", 0.0, None),
        (5, 7200 * us * 1000, 2, "purchase", 5.0, None),
        # user 3: purchase with no click at all -> null
        (6, 50 * us * 1000, 3, "purchase", 5.0, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    )
    # patch the module the query RESOLVES the reader from (q_events
    # since the round-9 family split, not the queries re-export shim)
    import soil_data_development_tools___arcmap_spark.q_events as Qm

    orig = Qm.read_events
    Qm.read_events = lambda _s, _d: ev
    try:
        got = {
            r["purchase_id"]: (r["click_id"], r["gap_us"])
            for r in Q.events_asof_attribution(spark, "ignored").collect()
        }
    finally:
        Qm.read_events = orig
    assert got == {
        3: (2, 900 * us),
        5: (None, None),
        6: (None, None),
    }


def test_cluster_knn_is_broadcast_and_recall_bounded(spark):
    df = Q.emb_knn_cluster(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the candidate side must never shuffle: the tiny query set is
    # broadcast and joined on the cluster key
    assert "BroadcastHashJoin" in plan
    rec = Q.emb_cluster_recall(spark, SF_SMOKE).collect()
    assert len(rec) == 8
    for r in rec:
        assert 0 <= r["hits"] <= r["k"] == 5


def test_semdedup_counts_consistent(spark):
    rows = Q.emb_semdedup(spark, SF_SMOKE).collect()
    assert len(rows) == 10  # one row per label cluster
    assert sum(r["n_vecs"] for r in rows) == 500
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_vecs"]
        assert r["n_kept"] >= 1


def test_raster_rating_cells_consistency(spark):
    # round 12: the synthetic (mukey % 7 + 1) cell inventory is
    # retired — the registry's rating-raster summary is the
    # geometry-derived one (real CELL_CENTER containment)
    rows = Q.raster_rating_cells_geom(spark, SF_SMOKE).collect()
    assert {r["rating"] for r in rows} == {
        "Poorly drained", "Very poorly drained", "Well drained"
    }
    for r in rows:
        assert r["n_mapunits"] <= r["n_cells"]
        assert r["acres_e4"] > 0


def test_report_pagination_page_shape(spark):
    rows = sorted(
        Q.report_pagination(spark, SF_SMOKE).collect(), key=lambda r: r["page"]
    )
    assert rows[0]["page"] == 1
    assert all(r["n_lines"] == 50 for r in rows[:-1])
    assert 1 <= rows[-1]["n_lines"] <= 50
    # pages tile the key range without overlap
    for a, b in zip(rows, rows[1:]):
        assert a["last_okey"] < b["first_okey"]


def test_bloom_decontaminate_equals_exact(spark):
    exact = {
        (r["doc_id"], r["n_hits"], r["contaminated"])
        for r in Q.docs_decontaminate(spark, SF_SMOKE).collect()
    }
    bloom = {
        (r["doc_id"], r["n_hits"], r["contaminated"])
        for r in Q.docs_decontaminate_bloom(spark, SF_SMOKE).collect()
    }
    assert exact == bloom and len(exact) > 0


def test_state_survey_partition_covers_all_surveys(spark):
    rows = Q.state_survey_partition(spark, SF_SMOKE).collect()
    assert len(rows) == 25  # every nation has at least one customer here
    assert sum(r["n_surveys"] for r in rows) == 150  # sf0.001 customers
    for r in rows:
        assert r["first_areasymbol"] <= r["last_areasymbol"]


def test_hard_negatives_exclude_own_label(spark):
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = Q.emb_hard_negatives(spark, SF_SMOKE).collect()
    assert len(rows) == 40
    for r in rows:
        assert labels[r["qid"]] != labels[r["cid"]]


def test_char_entropy_bounds(spark):
    import math

    rows = Q.docs_char_entropy(spark, SF_SMOKE).collect()
    assert len(rows) == 500
    for r in rows:
        # 0 <= H <= log2(alphabet); ASCII corpus -> < log2(128)
        assert 0 <= r["entropy_e6"] <= math.log2(128) * 1e6
        assert r["n_chars_counted"] > 0


def test_pii_scrub_finds_planted_pii(spark):
    rows = {r["did"]: r for r in Q.docs_pii_scrub(spark, SF_SMOKE).collect()}
    assert len(rows) == 500
    for did, r in rows.items():
        assert r["n_emails"] == (1 if did % 13 == 0 else 0)
        assert r["n_ips"] == (1 if did % 17 == 0 else 0)
    assert sum(r["n_emails"] for r in rows.values()) > 0
    assert sum(r["n_ips"] for r in rows.values()) > 0


def test_volume_anomaly_discriminates(spark):
    rows = Q.events_volume_anomaly(spark, SF_SMOKE).collect()
    n_anom = sum(r["is_anomaly"] for r in rows)
    # 2-sigma flags a few days, never none, never most
    assert 0 < n_anom < len(rows) // 4


def test_cogroup_profile_matches_jvm_asof(spark):
    """The Python cogroup path must agree with the JVM window form on
    the attribution count (same 1h at-or-before semantics)."""
    prof = {
        r["user_id"]: (r["n_clicks"], r["n_purchases"], r["n_attributed"])
        for r in Q.events_cogroup_profile(spark, SF_SMOKE).collect()
    }
    asof = Q.events_asof_attribution(spark, SF_SMOKE).collect()
    # n.b. asof matches the LAST click only; attributed = non-null click
    attr_by_user = {}
    ev = Q.read_events(spark, SF_SMOKE)
    from pyspark.sql import functions as F

    owner = {
        r["event_id"]: r["user_id"]
        for r in ev.where(F.col("event_type") == "purchase")
        .select("event_id", "user_id")
        .collect()
    }
    for r in asof:
        u = owner[r["purchase_id"]]
        attr_by_user[u] = attr_by_user.get(u, 0) + (r["click_id"] is not None)
    for u, (nc, np_, na) in prof.items():
        assert na == attr_by_user.get(u, 0)
        assert na <= np_
    assert sum(v[2] for v in prof.values()) > 0


def test_point_in_ring_triangle_and_rect(spark):
    """Diagonal-edge coverage the query's rectangles don't exercise:
    crafted triangle + points with hand-derived truth."""
    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.functions.geometry import (
        point_in_geom,
    )

    # right triangle (0,0)-(8,0)-(0,8); diagonal x+y=8
    cases = [
        ("POLYGON ((0 0, 8 0, 0 8, 0 0))", 1, 1, 1),   # well inside
        ("POLYGON ((0 0, 8 0, 0 8, 0 0))", 3, 3, 1),   # inside, near diagonal
        ("POLYGON ((0 0, 8 0, 0 8, 0 0))", 5, 5, 0),   # beyond diagonal
        ("POLYGON ((0 0, 8 0, 0 8, 0 0))", 9, 1, 0),   # right of the leg
        ("POLYGON ((0 0, 8 0, 0 8, 0 0))", -1, 1, 0),  # left, ray crosses 2 edges
        ("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))", 3, 5, 1),
        ("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))", 7, 5, 0),
        ("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))", 3, 7, 0),
    ]
    df = spark.createDataFrame(cases, "wkt string, px long, py long, want int")
    got = df.select(
        "want", point_in_geom(F.col("wkt"), F.col("px"), F.col("py")).alias("got")
    ).collect()
    for r in got:
        assert r["got"] == r["want"]


def test_clip_query_has_both_classes(spark):
    rows = Q.clip_select_by_location(spark, SF_SMOKE).collect()
    inside = sum(r["inside"] for r in rows)
    assert 0 < inside < len(rows)


def test_color_ramp_matches_reference_algorithm(spark):
    """Pin the Column-expression ramp to a direct Python transcription
    of the reference algorithm (BezierColorRamp.Process with 2-point
    segments) across many legend sizes."""
    import pytest

    from soil_data_development_tools___arcmap_spark.functions.colorramp import (
        RAMP_CONTROLS,
        bezier_legend_ramp,
    )

    def reference_ramp(n):
        master, last = [], None
        for p in range(len(RAMP_CONTROLS) - 1):
            s, f = RAMP_CONTROLS[p], RAMP_CONTROLS[p + 1]
            for j in range(n):
                t = float(j) / (n - 1)
                rgb = [int((1 - t) * s[c]) + int(t * f[c]) for c in range(3)]
                if rgb != last:
                    master.append(rgb)
                last = rgb
        skip = int(round((len(master) - n) / float(n - 1)))
        return master[:: skip + 1]

    for n in (2, 3, 4, 5, 7, 9, 12, 30):
        n_df = spark.createDataFrame([(n,)], "n int")
        got = [
            (r["r"], r["g"], r["b"])
            for r in bezier_legend_ramp(n_df).orderBy("class_idx").collect()
        ]
        want = [tuple(c) for c in reference_ramp(n)]
        assert got == want, f"n={n}: {got} != {want}"


def test_dau_wau_monotone_relationship(spark):
    rows = Q.events_dau_wau(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["wau"] >= r["dau"] > 0


def test_rare_bigram_score_bounds(spark):
    rows = Q.docs_rare_bigram_score(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_rare"] <= r["n_bigrams"]
        assert 0 <= r["rare_e6"] <= 1_000_000
    assert any(r["n_rare"] > 0 for r in rows)


def test_point_in_ring_randomized_rect_and_triangle(spark):
    """200 seeded random polygons (rects + right triangles) with truth
    computed independently from the defining inequalities; points on
    the odd grid so no edge incidence (diagonal incidence filtered)."""
    import random

    rng = random.Random(20260813)
    cases = []
    while len(cases) < 200:
        x0, y0 = rng.randrange(0, 50) * 2, rng.randrange(0, 50) * 2
        dx, dy = rng.randrange(1, 10) * 2, rng.randrange(1, 10) * 2
        px = x0 + rng.randrange(-6, 26) * 2 - 1
        py = y0 + rng.randrange(-6, 26) * 2 - 1
        if rng.random() < 0.5:
            wkt = (
                f"POLYGON (({x0} {y0}, {x0+dx} {y0}, {x0+dx} {y0+dy}, "
                f"{x0} {y0+dy}, {x0} {y0}))"
            )
            want = int(x0 < px < x0 + dx and y0 < py < y0 + dy)
        else:
            # right triangle (x0,y0)-(x0+dx,y0)-(x0,y0+dy); interior:
            # px>x0, py>y0, (px-x0)*dy + (py-y0)*dx < dx*dy
            lhs = (px - x0) * dy + (py - y0) * dx
            if lhs == dx * dy:
                continue  # on the diagonal — undefined by convention
            wkt = (
                f"POLYGON (({x0} {y0}, {x0+dx} {y0}, {x0} {y0+dy}, "
                f"{x0} {y0}))"
            )
            want = int(px > x0 and py > y0 and lhs < dx * dy)
        cases.append((wkt, px, py, want))

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.functions.geometry import (
        point_in_geom,
    )

    df = spark.createDataFrame(cases, "wkt string, px long, py long, want int")
    bad = df.select(
        "wkt", "px", "py", "want",
        point_in_geom(F.col("wkt"), F.col("px"), F.col("py")).alias("got"),
    ).where(F.col("got") != F.col("want")).collect()
    assert not bad, bad[:5]


def test_no_cartesian_product_in_any_plan(spark):
    """Scale hygiene sweep: build the physical plan of every registered
    batch query at sf0.001 and reject (a) CartesianProduct anywhere,
    (b) any GLOBAL window (WindowExec with an empty partition spec —
    a single-task sort of its whole input) outside the explicit
    bounded-input allowlist in tools/plan_audit.py. (Broadcast
    nested-loop joins against tiny broadcast sets are acceptable and
    appear under a different operator name.) Streaming
    run-to-completion entries are skipped — building them executes the
    stream; their plans are covered by their own tests."""
    import os
    import sys

    import __spark_entry__ as E

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools"),
    )
    from plan_audit import GLOBAL_WINDOW_ALLOWED, count_global_windows

    # run-to-completion stream entries are skipped like
    # tools/plan_audit.py does: building them EXECUTES the stream
    # (minutes for the growing gates) only to inspect a memory-sink
    # scan with no join/window content; their plans are covered by
    # their own replay tests
    skip_prefixes = (
        "events_stream_",
        "docs_stream_",
        "emb_stream_",
        "events_sessionize_stateful",
    )
    checked = 0
    offenders = []
    gw_offenders = []
    for name, fn in E.queries().items():
        if name.startswith(skip_prefixes):
            continue
        df = fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        checked += 1
        if "CartesianProduct" in plan:
            offenders.append(name)
        if name not in GLOBAL_WINDOW_ALLOWED and count_global_windows(df):
            gw_offenders.append(name)
    assert checked > 140
    assert not offenders, offenders
    assert not gw_offenders, gw_offenders


def test_udtf_chunker_equals_declarative(spark):
    decl = {
        (r["doc_id"], r["chunk_idx"]): (r["n_tok"], r["chunk_fp"])
        for r in Q.docs_chunk(spark, SF_SMOKE).collect()
    }
    udtf_rows = {
        (r["doc_id"], r["chunk_idx"]): (r["n_tok"], r["chunk_fp"])
        for r in Q.docs_chunk_udtf(spark, SF_SMOKE).collect()
    }
    assert decl == udtf_rows and len(decl) > 0


def test_upsert_latest_semantics(spark):
    rows = {r["okey"]: (r["version"], r["total_c"])
            for r in Q.merge_upsert_latest(spark, SF_SMOKE).collect()}
    assert len(rows) == 1500  # one row per order key, no dup appends
    v2 = [k for k, (v, _) in rows.items() if v == 2]
    assert v2 and all(k % 5 == 0 for k in v2)
    assert all(v == 1 for k, (v, _) in rows.items() if k % 5 != 0)


def test_late_data_audit_buckets(spark):
    rows = {r["late_days"]: r["n_events"]
            for r in Q.events_late_data_audit(spark, SF_SMOKE).collect()}
    assert sum(rows.values()) == 1000  # every sf0.001 event audited
    assert 0 in rows  # on-time bucket always present


def test_remove_dup_spans_consistency(spark):
    rows = Q.docs_remove_dup_spans(spark, SF_SMOKE).collect()
    assert len(rows) == 500
    removed = sum(r["n_removed"] for r in rows)
    assert removed > 0  # repeated 5-grams exist in the corpus
    for r in rows:
        assert 0 <= r["n_removed"] <= r["n_tokens"]
        assert len(r["cleaned_fp"]) == 32


def test_burst_users_flags(spark):
    rows = Q.events_burst_users(spark, SF_SMOKE).collect()
    assert len(rows) == 15  # sf0.001 has 15 distinct users
    for r in rows:
        assert r["peak_per_hour"] >= 1
        assert r["burst_flag"] == (1 if r["peak_per_hour"] >= 3 else 0)


def test_pipeline_funnel_monotone(spark):
    rows = {r["stage"]: r["n_docs"]
            for r in Q.docs_pipeline_funnel(spark, SF_SMOKE).collect()}
    order = ["0_input", "1_quality", "2_language", "3_exact_dedup", "4_near_dedup"]
    vals = [rows[s] for s in order]
    assert vals[0] == 500
    assert all(a >= b for a, b in zip(vals, vals[1:]))
    assert vals[-1] > 0
    # the funnel's tail equals the cleaned corpus row count
    assert vals[-1] == Q.docs_clean_corpus(spark, SF_SMOKE).count()
