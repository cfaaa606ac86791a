"""Run-private disk state (cachefs): the cache entries cannot be
planted by anyone who can stat a source, the per-call outputs of the
tools queries leave nothing under the temp dir but the uid-private
base, scratch roots die with their process, and entries die with
their sources."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import tempfile

from conftest import SF_SMOKE

from soil_data_development_tools___arcmap_spark import cachefs
from soil_data_development_tools___arcmap_spark import queries as Q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the tools queries that write per-call output or a cached lake
NINE = (
    "raster_tile_export_geom",
    "ingest_full_catalog",
    "raster_tile_export",
    "shapefile_merge_acres",
    "sda_source_counts",
    "wss_source_ingest",
    "nightly_gssurgo_incremental",
    "partitioned_sink_prune",
    "spatial_lake_prune",
)


def _redirect(monkeypatch, d) -> str:
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return str(d)


def _old_tag(table: str) -> str:
    """The fingerprint the lakes were once stored under, directly in
    the temp dir: predictable by anyone who can stat the source."""
    src = os.path.join(os.path.abspath(SF_SMOKE), f"{table}.parquet")
    st = os.stat(src)
    return hashlib.md5(
        f"{src}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:10]


def test_lake_queries_ignore_planted_predictable_paths(
    spark, tmp_path, monkeypatch
):
    """Poisoned lakes planted at the old ``sddt_daylake_<tag>/events``
    and ``sddt_spatlake_<tag>/polys`` paths change neither query's
    result."""

    def rows(df):
        return sorted(map(tuple, df.collect()))

    _redirect(monkeypatch, tmp_path / "clean")
    want_day = rows(Q.partitioned_sink_prune(spark, SF_SMOKE))
    want_spat = rows(Q.spatial_lake_prune(spark, SF_SMOKE))

    tmp = _redirect(monkeypatch, tmp_path / "planted")
    first_day = min(r[0] for r in want_day)
    spark.createDataFrame(
        [(first_day, "view", 999.0)],
        "day_num long, event_type string, value double",
    ).write.partitionBy("day_num").parquet(
        os.path.join(tmp, f"sddt_daylake_{_old_tag('events')}", "events")
    )
    spark.createDataFrame(
        [(-1, 70, 40, 80, 50,
          "POLYGON ((70 40, 80 40, 80 50, 70 50, 70 40))", 1, 0)],
        "okey long, x0 long, y0 long, x1 long, y1 long, wkt string, "
        "pcx long, pcy long",
    ).write.partitionBy("pcx", "pcy").parquet(
        os.path.join(tmp, f"sddt_spatlake_{_old_tag('customer')}", "polys")
    )

    got_day = rows(Q.partitioned_sink_prune(spark, SF_SMOKE))
    got_spat = rows(Q.spatial_lake_prune(spark, SF_SMOKE))
    assert got_day == want_day and len(want_day) == 35
    assert got_spat == want_spat and len(want_spat) > 0
    assert all(r[0] != -1 for r in got_spat)


def test_scale10_replicas_keyed_by_full_path(spark, tmp_path, monkeypatch):
    """Two sf dirs with the same basename get two different 10x
    replicas, each built from its own tables."""
    sys.path.insert(0, REPO)
    import bench

    _redirect(monkeypatch, tmp_path / "tmp")
    dirs = []
    for i, name in enumerate(("a", "b")):
        sf = tmp_path / name / "sfx"
        sf.mkdir(parents=True)
        spark.range(5 + i).selectExpr(
            "id AS o_orderkey", "id % 3 AS o_custkey", "'x' AS o_comment"
        ).write.parquet(str(sf / "orders.parquet"))
        spark.range(7 + i).selectExpr(
            "id % 5 AS l_orderkey", "id AS l_partkey"
        ).write.parquet(str(sf / "lineitem.parquet"))
        os.symlink(
            os.path.join(SF_SMOKE, "nation.parquet"), sf / "nation.parquet"
        )
        dirs.append(bench._build_scale10(spark, str(sf)))
    assert dirs[0] != dirs[1]
    for i, d in enumerate(dirs):
        assert spark.read.parquet(f"{d}/orders.parquet").count() == 10 * (5 + i)
        assert spark.read.parquet(f"{d}/lineitem.parquet").count() == 10 * (7 + i)
        assert os.path.realpath(f"{d}/nation.parquet") == os.path.realpath(
            os.path.join(SF_SMOKE, "nation.parquet")
        )
    assert bench._build_scale10(spark, str(tmp_path / "a" / "sfx")) == dirs[0]


def test_tools_queries_leave_only_the_cache_base(
    spark, tmp_path, monkeypatch
):
    """Two passes of the nine queries add no entry directly under the
    temp dir except ``sddt_cache_<uid>``; inside it the lakes are
    built once and the per-call dirs sit in this process's one scratch
    root."""
    tmp = _redirect(monkeypatch, tmp_path / "tmp")
    cache = f"sddt_cache_{os.getuid()}"
    passes = []
    for _ in range(2):
        for name in NINE:
            assert getattr(Q, name)(spark, SF_SMOKE).count() > 0, name
        assert os.listdir(tmp) == [cache]
        passes.append(sorted(os.listdir(os.path.join(tmp, cache))))
    assert passes[0] == passes[1]
    roots = [e for e in passes[0] if e.startswith(".")]
    assert len(roots) == 1 and roots[0].startswith(f".scratch-{os.getpid()}-")
    assert sorted(e.rpartition("_")[0] for e in passes[0] if e not in roots) == [
        "daylake", "gssurgo_lake", "spatlake",
    ]
    # the same work per call: 8 per-call dirs per pass
    assert len(os.listdir(os.path.join(tmp, cache, roots[0]))) == 16


def test_scratch_root_removed_at_exit_and_dead_roots_reaped(tmp_path):
    """A process's scratch root is gone once it exits; roots and
    staging dirs of dead processes are removed by the next first use,
    a live process's root is not."""
    code = (
        "from soil_data_development_tools___arcmap_spark.cachefs import "
        "scratch_dir\n"
        "d = scratch_dir('x')\n"
        "open(d + '/f', 'w').write('1')\n"
        "print(d)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO)

    def child() -> str:
        return subprocess.run(
            [sys.executable, "-c", code], env=env, cwd=REPO,
            capture_output=True, text=True, check=True,
        ).stdout.strip()

    d = child()
    base = tmp_path / f"sddt_cache_{os.getuid()}"
    assert os.path.dirname(os.path.dirname(d)) == str(base)
    assert not os.path.exists(os.path.dirname(d))
    assert os.listdir(base) == []

    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    planted = [
        base / f".scratch-{dead.pid}-kill9" / "x_1",
        base / f".stage-{dead.pid}-kill9",
        base / f".scratch-{os.getpid()}-live",
    ]
    for p in planted:
        p.mkdir(parents=True)
    child()
    assert os.listdir(base) == [planted[2].name]


def test_cached_dir_evicts_entries_whose_sources_are_gone(
    tmp_path, monkeypatch
):
    """Building a new entry removes every entry with a deleted source
    (and any entry without a source record); entries of live sources,
    also ones rewritten in place, stay. ``evict`` drops one name."""
    tmp = _redirect(monkeypatch, tmp_path / "tmp")
    a, b = tmp_path / "a.txt", tmp_path / "b.txt"
    a.write_text("a")
    b.write_text("b")

    def build(d):
        with open(os.path.join(d, "out.txt"), "w") as fh:
            fh.write("built")

    da = cachefs.cached_dir("t", [str(a)], build)
    db = cachefs.cached_dir("t", [str(b)], build)
    legacy = os.path.join(os.path.dirname(da), "stream_0123456789ab")
    os.mkdir(legacy)
    b.write_text("b, rewritten")  # in place: the old entry is kept
    db2 = cachefs.cached_dir("t", [str(b)], build)
    assert db2 != db and os.path.isdir(db) and not os.path.exists(legacy)
    assert os.path.isdir(da)

    a.unlink()
    keep = cachefs.cached_dir("u", [str(b)], build)
    assert not os.path.exists(da)
    assert os.path.isdir(db) and os.path.isdir(db2) and os.path.isdir(keep)
    assert open(os.path.join(keep, "out.txt")).read() == "built"

    cachefs.evict("t")
    base = os.path.join(tmp, f"sddt_cache_{os.getuid()}")
    assert os.listdir(base) == [os.path.basename(keep)]
