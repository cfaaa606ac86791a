"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

NOISE-AWARE HARNESS (round 7). Three rounds running, the per-round
bench deltas were dominated by box/JVM drift, not plan changes —
BENCH_r06 inflated +25% uniformly across all 22 queries including
untouched TPC-H ones, and SCALING.md's "Bench-delta adjudication"
showed the same checked-out tree no longer reproduces its own earlier
numbers on a later box state, with multi-JVM spreads over ±10% for
sub-second queries. A single-JVM measurement therefore cannot support
a regression rule. This harness runs the whole headline suite
``$SPARK_GRAFT_BENCH_REPEATS`` (default 3) times, EACH REPEAT IN A
FRESH JVM (a subprocess re-invoking this file in worker mode), and
reports the per-query MEDIAN across repeats plus the [min, max]
spread, for both cold and steady:

- "value"/"queries": per-query median of the COLD runs (first
  execution in each fresh JVM — carries that plan's codegen JIT, the
  number a first-time user pays);
- "queries_spread": per-query [min, max] of the cold runs;
- "value_steady"/"queries_steady": per-query median of the steady
  runs (best-of-2 re-executions after a forced GC — a plan-quality
  measure, JIT and GC-placement excluded);
- "queries_steady_spread": per-query [min, max] of the steady runs;
- "repeats": number of fresh-JVM repeats that contributed.

Regression rule (also recorded in BASELINE.md): a query has regressed
only if its new MEDIAN falls outside the recorded [min, max] spread
of the baseline AND exceeds 1.10x the baseline median — a shift a
same-box spread cannot explain. Medians inside the recorded spread
are environment noise by construction.

Each query is forced end-to-end with the noop sink (full execution,
no driver collect bottleneck), after a per-JVM warm-up of the shared
executor machinery (hash agg, SMJ, window, Arrow worker pool) so cold
numbers measure each PLAN's cost, not the session-startup lottery
(see the worker docstring).

SCALE10 protocol (round 12 — the round-11 verdict's evidence gap):
the 10x-replica block previously ran ONCE in the parent session, so
its numbers carried no spread and could not be adjudicated against
box drift (BENCH_r11's nightly 92.1 s vs BENCH_SELF_r11's 35.1 s on
the same tree). Now the parent builds the replica once (content-keyed
cache), then EVERY fresh-JVM worker measures the scale10 queries
steady-state (prime + forced GC + timed), and the parent reports the
per-query MEDIAN + [min, max] spread — the same regression rule as
the headline suite. ``nightly_gssurgo`` additionally reports an
explicit ``nightly_gssurgo_cachecold`` row: the composed nightly's
pipe-text export is content-keyed-cached on local disk
(q_tools.nightly_gssurgo via cachefs.cached_dir), so a cache-cold
environment repays the multi-GB export — the precise cause of the
92-vs-35 s driver/self discrepancy. The worker primes (JIT + cache
build), PURGES the nightly export cache, times the rebuild run
(cachecold: export cost included, JIT excluded), then times a warm
run (the steady row).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "sdv_dcp_numeric",
    "sdv_dcd",
    "sdv_wta",
    "sdv_limiting_most",
    "sdv_hz_wta_wta",
    "sdv_mo_wta",
    "planner_sdv_rating",
    "valu1_aws_ranges",
    "valu1_soc",
    "valu1_rz_aws_droughty",
    "validate_depth_gaps",
    "events_sessionize",
    "docs_minhash_lsh",
    "docs_quality",
    "docs_frame_sample",
    "emb_knn_bruteforce",
    "emb_knn_ivf",
    "docs_clean_corpus",
    "events_sliding_window",
]


# 10×-replica regression guard (SCALING.md method, now in the per-round
# bench so scale regressions surface in the BENCH diff): steady-state
# timings of representative queries on 10× fact data. Group cardinality
# scales with the data (orderkey/custkey shifted per replica); the
# dimension tables are shared via symlink.
SCALE10 = [
    "q1_pricing_summary",
    "sdv_dcd",
    "planner_sdv_rating",
    "valu1_aws_ranges",
    # the composed nightly run (ingest -> planner batch -> Valu1 ->
    # merge): the end-to-end number a production user pays, tracked at
    # 10x so cross-stage scale regressions surface in the round diff
    "nightly_gssurgo",
]


def _build_scale10(spark, sf_dir: str) -> str:
    """A directory whose orders/lineitem are the sf_dir tables
    replicated 10× with shifted order/customer keys; every other table
    is symlinked unchanged. A ``cachefs.cached_dir`` keyed on the two
    source tables and this builder's code, so it is built once."""
    from soil_data_development_tools___arcmap_spark.cachefs import cached_dir

    sf_dir = os.path.abspath(sf_dir)

    def build(out: str) -> None:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        maxo = orders.selectExpr("max(o_orderkey)").collect()[0][0] + 1
        maxc = orders.selectExpr("max(o_custkey)").collect()[0][0] + 1
        reps = spark.range(10).selectExpr("id AS rep")
        # repartition before writing: the crossJoin inherits the
        # source's 1-2 input splits, which would leave the replica as
        # one giant file — a layout no real 10× table has and a
        # scan-parallelism bottleneck that distorts the measurements
        (
            orders.crossJoin(reps)
            .selectExpr(
                "o_orderkey + rep * {} AS o_orderkey".format(maxo),
                "o_custkey + rep * {} AS o_custkey".format(maxc),
                *[c for c in orders.columns if c not in ("o_orderkey", "o_custkey")],
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{out}/orders.parquet")
        )
        (
            li.crossJoin(reps)
            .selectExpr(
                "l_orderkey + rep * {} AS l_orderkey".format(maxo),
                *[c for c in li.columns if c != "l_orderkey"],
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{out}/lineitem.parquet")
        )
        for f in os.listdir(sf_dir):
            dst = os.path.join(out, f)
            if f.endswith(".parquet") and not os.path.exists(dst):
                os.symlink(os.path.join(sf_dir, f), dst)

    return cached_dir(
        "scale10",
        [f"{sf_dir}/orders.parquet", f"{sf_dir}/lineitem.parquet"],
        build,
        code=(_build_scale10,),
    )


def _scale10_block(spark, qs, s10_dir: str) -> dict[str, float]:
    """Steady-state scale10 timings in THIS JVM: prime + forced GC +
    one timed run per query; nightly additionally yields an explicit
    cache-cold row (see module docstring)."""
    from soil_data_development_tools___arcmap_spark.cachefs import evict

    out: dict[str, float] = {}
    for name in SCALE10:
        fn = qs.get(name)
        if fn is None:
            continue
        # prime: plan codegen/JIT + (for nightly) the export cache
        fn(spark, s10_dir).write.mode("overwrite").format("noop").save()
        if name == "nightly_gssurgo":
            # cache-cold: JIT warm, export cache purged — the number a
            # fresh environment (the driver's round box) pays
            evict("nightly")
            spark._jvm.System.gc()
            t0 = time.time()
            fn(spark, s10_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            out["nightly_gssurgo_cachecold"] = round(time.time() - t0, 3)
        spark._jvm.System.gc()
        t0 = time.time()
        fn(spark, s10_dir).write.mode("overwrite").format("noop").save()
        out[name] = round(time.time() - t0, 3)
    return out


def _worker(sf_dir: str) -> None:
    """One fresh-JVM repeat of the headline suite. Prints one JSON
    line {"queries": {name: cold_sec}, "queries_steady": {...}}.

    Warm-up rationale: a trivial action (session start-up), a
    Pandas-UDF round trip (fork the Python/Arrow worker pool), and one
    pass through the heavy executor machinery — hash aggregate,
    sort-merge join, window — on synthetic rows so the C2/codegen
    infrastructure classes are JIT-compiled before q1. Each query
    still pays its own plan's codegen; this removes only the
    shared-runtime compile lottery that made single-JVM cold totals
    swing 2x run-to-run (BENCH_r03 vs a quiet rerun of the same code).
    Steady = best of 2 re-runs, a JVM GC forced before each: round-2's
    steady>cold anomaly (valu1_soc 9.5 s steady vs 4.7 s cold) was a
    major-GC landing inside one steady window late in the sequence,
    not a second-run plan pathology."""
    import __spark_entry__ as E
    from soil_data_development_tools___arcmap_spark import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()
    warm = spark.range(100000).selectExpr(
        "id", "id % 97 AS k", "id % 50000 AS j", "id % 7 AS v"
    )
    warm.groupBy("k").sum("v").write.mode("overwrite").format("noop").save()
    # SMJ warm-up: join on a HIGH-cardinality key (~2 rows/key, ~200k
    # output rows) with the merge hint so the sort-merge machinery
    # really compiles (the small side would otherwise broadcast under
    # the 10 MB threshold and warm the wrong join).
    j = warm.alias("a").hint("merge").join(warm.alias("b"), "j")
    j.write.mode("overwrite").format("noop").save()
    warm.selectExpr(
        "sum(v) OVER (PARTITION BY k ORDER BY id) AS rs"
    ).write.mode("overwrite").format("noop").save()

    timings: dict[str, float] = {}
    steady: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        timings[name] = round(time.time() - t0, 3)
        best = None
        for _ in range(2):
            spark._jvm.System.gc()
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        steady[name] = round(best, 3)

    payload = {"queries": timings, "queries_steady": steady}
    s10_dir = os.environ.get("SPARK_GRAFT_SCALE10_DIR")
    if s10_dir:
        payload["queries_scale10"] = _scale10_block(spark, qs, s10_dir)
    print(json.dumps(payload))


def _median_spread(
    per_run: list[dict[str, float]],
) -> tuple[dict[str, float], dict[str, list[float]]]:
    med: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in per_run[0]:
        vals = sorted(r[name] for r in per_run if name in r)
        med[name] = round(statistics.median(vals), 3)
        spread[name] = [vals[0], vals[-1]]
    return med, spread


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    if os.environ.get("SPARK_GRAFT_BENCH_WORKER"):
        _worker(sf_dir)
        return

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    # build the 10x replica ONCE before the workers (content-keyed
    # cache — a no-op when already built), then hand every fresh-JVM
    # worker the dir so scale10 timings get the same median+spread
    # treatment as the headline suite
    s10_dir = None
    s10_build = None
    if os.environ.get("SPARK_GRAFT_SCALE10", "1") != "0":
        from soil_data_development_tools___arcmap_spark import get_spark

        spark = get_spark("bench-scale10-build")
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.time()
        s10_dir = _build_scale10(spark, sf_dir)
        s10_build = round(time.time() - t0, 3)
        spark.stop()

    runs: list[dict] = []
    env = dict(os.environ, SPARK_GRAFT_BENCH_WORKER="1")
    if s10_dir:
        env["SPARK_GRAFT_SCALE10_DIR"] = s10_dir
    for i in range(repeats):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            stdout=subprocess.PIPE,
            text=True,
            check=False,
        )
        line = next(
            (
                ln
                for ln in reversed(p.stdout.strip().splitlines())
                if ln.startswith("{")
            ),
            None,
        )
        if p.returncode != 0 or line is None:
            print(
                f"bench worker {i} failed (rc={p.returncode})",
                file=sys.stderr,
            )
            continue
        runs.append(json.loads(line))
    if not runs:
        raise SystemExit("all bench workers failed")

    cold_med, cold_spread = _median_spread([r["queries"] for r in runs])
    steady_med, steady_spread = _median_spread(
        [r["queries_steady"] for r in runs]
    )

    scale10: dict[str, float] = {}
    scale10_spread: dict[str, list[float]] = {}
    s10_runs = [r["queries_scale10"] for r in runs if "queries_scale10" in r]
    if s10_runs:
        scale10, scale10_spread = _median_spread(s10_runs)

    print(json.dumps({
        "metric": "headline_queries_total",
        "value": round(sum(cold_med.values()), 3),
        "unit": "sec",
        "queries": cold_med,
        "queries_spread": cold_spread,
        "value_steady": round(sum(steady_med.values()), 3),
        "queries_steady": steady_med,
        "queries_steady_spread": steady_spread,
        "repeats": len(runs),
        "scale10": scale10,
        "scale10_spread": scale10_spread,
        "scale10_build_sec": s10_build,
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
