"""SDA wire-format parsing, batching, merge tool."""

from __future__ import annotations

from pyspark.sql import functions as F

from soil_data_development_tools___arcmap_spark.sources.sda import (
    batch_areasymbols,
    count_query,
    parse_sda_table,
    sda_payload,
)
from soil_data_development_tools___arcmap_spark.tools_merge import (
    merge_rating_tables,
)


def test_sda_payload_and_batching():
    assert sda_payload("SELECT 1") == {
        "format": "JSON+COLUMNNAME",
        "query": "SELECT 1",
    }
    syms = [f"IA{i:03d}" for i in range(9)]
    batches = batch_areasymbols(syms)
    assert [len(b) for b in batches] == [4, 4, 1]
    q = count_query("mapunit", batches[0])
    assert "areasymbol IN ('IA000','IA001','IA002','IA003')" in q
    assert q.startswith("SELECT l.areasymbol, COUNT(*)")


def test_sda_parse_and_df():
    doc = {
        "Table": [
            ["mukey", "muname"],
            ["1", "Alpha"],
            ["2", ""],
        ]
    }
    cols, rows = parse_sda_table(doc)
    assert cols == ["mukey", "muname"] and len(rows) == 2
    assert parse_sda_table({}) == ([], [])


def test_merge_rating_tables(spark):
    base = spark.createDataFrame([(1,), (2,), (3,)], "mukey int")
    a = spark.createDataFrame([(1, "x")], "mukey int, rating string")
    b = spark.createDataFrame([(1, 10), (2, 20)], "mukey int, rating int")
    out = merge_rating_tables(base, {"a": a, "b": b})
    assert set(out.columns) == {"mukey", "a_rating", "b_rating"}
    got = {r["mukey"]: (r["a_rating"], r["b_rating"]) for r in out.collect()}
    assert got == {1: ("x", 10), 2: (None, 20), 3: (None, None)}


def test_salted_agg_equivalence(spark):
    from soil_data_development_tools___arcmap_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [(k % 3, v) for k, v in enumerate(range(100))], "k int, v int"
    )
    got = {
        r["k"]: (r["s"], r["n"], r["mn"], r["mx"])
        for r in salted_agg(
            df, ["k"], {"s": ("sum", "v"), "n": ("count", "v"),
                        "mn": ("min", "v"), "mx": ("max", "v")}, salt=8
        ).collect()
    }
    want = {
        r["k"]: (r["s"], r["n"], r["mn"], r["mx"])
        for r in df.groupBy("k").agg(
            F.sum("v").alias("s"), F.count("v").alias("n"),
            F.min("v").alias("mn"), F.max("v").alias("mx")
        ).collect()
    }
    assert got == want


def test_partitioned_sink_prunes(spark, tmp_path):
    from soil_data_development_tools___arcmap_spark.sources.sinks import (
        write_partitioned,
    )

    df = spark.createDataFrame(
        [("IA001", i, f"m{i}") for i in range(10)]
        + [("IA002", i, f"n{i}") for i in range(10)],
        "areasymbol string, mukey int, muname string",
    )
    out = str(tmp_path / "mu")
    write_partitioned(df, out, ["areasymbol"], sort_by=["mukey"])
    import os

    assert sorted(
        d for d in os.listdir(out) if d.startswith("areasymbol=")
    ) == ["areasymbol=IA001", "areasymbol=IA002"]
    back = spark.read.parquet(out)
    assert back.count() == 20
    pruned = back.where(F.col("areasymbol") == "IA001")
    assert pruned.count() == 10
    # partition filter must reach the scan (directory prune, not data)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "areasymbol" in plan.split(
        "PartitionFilters"
    )[1][:120]


def test_check_structure_driver_side(spark):
    """CheckgSSURGO core: missing table, wrong field order, healthy
    table — and no Spark job runs (pure schema introspection)."""
    from soil_data_development_tools___arcmap_spark.functions.structure import (
        catalog_survey_count,
        check_structure,
        count_cross_check,
    )

    good = spark.createDataFrame([], "a int, b string")
    swapped = spark.createDataFrame([], "b string, a int")
    expected = {"t1": ["a", "b"], "t2": ["a", "b"], "t3": ["a", "b"]}
    out = {r["table_name"]: r for r in
           check_structure({"t1": good, "t2": swapped}, expected)}
    assert out["t1"]["status"] == "ok"
    assert out["t2"]["status"] == "bad_schema" and out["t2"]["detail"] == "b,a"
    assert out["t3"]["status"] == "missing"
    # case-insensitive, like the reference's .upper() field walk
    upper = spark.createDataFrame([], "`A` int, `B` string")
    assert check_structure({"t1": upper}, {"t1": ["a", "b"]})[0]["status"] == "ok"

    sa = spark.createDataFrame([("NE109",)], "areasymbol string")
    r = catalog_survey_count(sa).collect()[0]
    assert r["status"] == "ok" and r["n"] == 1
    r = catalog_survey_count(sa.limit(0)).collect()[0]
    assert r["status"] == "empty" and r["n"] == 0

    left = spark.createDataFrame([(1,), (2,), (2,)], "mukey int")
    right = spark.createDataFrame([(1,), (2,), (3,)], "mukey int")
    r = count_cross_check(left, right).collect()[0]
    assert (r["n_left"], r["n_right"], r["status"], r["diff"]) == (
        2, 3, "mismatch", 1)


def test_shoelace_area_from_wkt(spark):
    """WKT exterior-ring shoelace: rectangle, triangle, non-convex
    polygon, and a ring listed clockwise (sign folded by abs)."""
    from soil_data_development_tools___arcmap_spark.functions.geometry import (
        acres_e4,
        shoelace_area2x,
    )

    rows = [
        ("POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))", 24),        # 4x3 rect
        ("POLYGON ((0 0, 4 0, 0 3, 0 0))", 12),             # right tri
        ("POLYGON ((0 0, 4 0, 4 4, 2 2, 0 4, 0 0))", 24),   # non-convex
        ("POLYGON ((0 0, 0 3, 4 3, 4 0, 0 0))", 24),        # clockwise
    ]
    df = spark.createDataFrame(rows, "wkt string, want long")
    got = df.select("want", shoelace_area2x("wkt").alias("a2x")).collect()
    for r in got:
        assert r["a2x"] == r["want"], r
    # acre conversion: 8093.71286 m2 (area2x of a 2-acre-ish square)
    one = spark.range(1).select(
        acres_e4(F.lit(2 * 4046).cast("long")).alias("a")
    ).collect()[0]["a"]
    assert one == 9997  # floor(4046 * 0.000247104393 * 1e4)


def test_merge_by_map(spark):
    """Survey list from map selection; existing surveys skipped."""
    from soil_data_development_tools___arcmap_spark.tools_merge import merge_by_map

    polys = spark.createDataFrame(
        [("A1",), ("A2",), ("A2",)], "areasymbol string"
    )
    src = spark.createDataFrame(
        [(1, "A1"), (2, "A2"), (3, "A3")], "k int, areasymbol string"
    )
    existing = spark.createDataFrame([("A1",)], "areasymbol string")
    got = {r["k"] for r in merge_by_map(polys, src, existing).collect()}
    assert got == {2}  # A1 exists already, A3 not selected


def test_report_template_dispatch(spark):
    """gSSURGO_TabularReport template dispatch by table shape + rating
    datatype (horizon/component/mapunit x string/float/int)."""
    from soil_data_development_tools___arcmap_spark.functions.sdv_report import (
        report_template,
    )

    hz = spark.createDataFrame(
        [], "areasymbol string, mukey long, musym string, muname string, "
        "compname string, comppct_r int, hzdept_r int, hzdepb_r int, "
        "rating double")
    assert report_template(hz)["template"] == "SDV_Report_Hz_Float.rlf"
    assert report_template(hz)["layout"].endswith("Landscape.mxd")

    co = spark.createDataFrame(
        [], "areasymbol string, mukey long, musym string, muname string, "
        "compname string, comppct_r int, rating string")
    assert report_template(co)["template"] == "SDV_Report_Co_String.rlf"

    mu = spark.createDataFrame(
        [], "areasymbol string, mukey long, musym string, muname string, "
        "rating long")
    assert report_template(mu)["template"] == "SDV_Report_Mu_Integer.rlf"
    assert report_template(mu)["field_map"][-1] == "RATING"

    muname = spark.createDataFrame(
        [], "areasymbol string, mukey long, musym string, muname string")
    got = report_template(muname)
    assert got["template"] == "SDV_Report_MuName.rlf"
    assert got["field_map"] is None


def test_cachefs_content_and_code_keyed(tmp_path, monkeypatch):
    """cached_dir builds once per (content, builder-code) key: same
    inputs reuse the build; touching the source file OR changing the
    builder code yields a new entry (stale caches cannot serve old-code
    output); the base dir is uid-private and the build is atomic
    (staging leftovers never surface as a cache). The temp dir is
    redirected to ``tmp_path`` so the entries die with the test."""
    import os
    import tempfile

    from soil_data_development_tools___arcmap_spark.cachefs import (
        cached_dir,
    )

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    src = tmp_path / "input.txt"
    src.write_text("v1")
    calls = []

    def build(d):
        calls.append(d)
        with open(os.path.join(d, "out.txt"), "w") as fh:
            fh.write("built")

    d1 = cached_dir("cachefs_test", [str(src)], build, code=(build,))
    d2 = cached_dir("cachefs_test", [str(src)], build, code=(build,))
    assert d1 == d2 and len(calls) == 1  # second call reused
    assert open(os.path.join(d1, "out.txt")).read() == "built"
    st = os.stat(os.path.dirname(d1))
    assert st.st_uid == os.getuid() and (st.st_mode & 0o077) == 0

    src.write_text("v2-longer")  # content change -> new key
    d3 = cached_dir("cachefs_test", [str(src)], build, code=(build,))
    assert d3 != d1
    assert len(calls) == 2

    def build2(d):  # different builder source -> different key
        with open(os.path.join(d, "out.txt"), "w") as fh:
            fh.write("other")

    d4 = cached_dir("cachefs_test", [str(src)], build2, code=(build2,))
    assert d4 != d3 and open(os.path.join(d4, "out.txt")).read() == "other"
