"""Closed-loop benchmark of the query registry: rating and toolbox workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload rating --seed 1 --seconds 12 --trace 0

One client issues one request at a time. A request is one registry
callable ``fn(spark, data_dir)`` forced with the noop sink; a pass is
every request of the workload once, in an order drawn from ``--seed``.
The run is one fresh JVM on the fixed ``local[N]`` of
``perfbench/workloads.json``, which also lists each workload's requests
and why it was chosen.

Phases of a run:

1. set-up: start the session, then ``WARMUP_PASSES`` passes. The first
   is the first execution of every request (JIT and codegen); it
   collects each request's output for the check instead of using the
   noop sink. ``setup_s`` is process start to the first timed pass.
2. timed passes, for ``--seconds`` and at least ``MIN_PASSES`` of them.
   Python and JVM garbage collection run between passes, outside the
   timing. The steady metrics are medians over these passes: of the
   pass wall (``steady_pass_s``), of the process tree's CPU seconds
   without the JIT compiler threads (``pass_cpu_s``), of the tree's peak
   summed RSS (``peak_rss_mb``), and over their requests, of the request
   wall (``latency_p50_s``).
3. the output check, outside every metric: each collected output is
   fingerprinted and compared with its DuckDB twin's fingerprint
   (``perfbench/expected.json``, made by ``perfbench/twins.py``).

With ``--trace 1`` there are twice as many timed passes, untraced and
traced in the order U T T U.
Traced passes set each request's span id as the Spark job group and
record Spark's event log; the per-layer metrics come from them, and
``trace.overhead_frac`` compares the two kinds of pass. The span tree is
written to ``.perfbench_out/``.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
print each metric by name with its unit.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import procfs, trace  # noqa: E402

PACKAGE = "soil_data_development_tools___arcmap_spark"

# Small enough for two runs side by side on a 16 GB host, large enough
# that no request spills.
DRIVER_MEMORY = "3g"
# Set-up passes. The first is every request's first execution; the JIT
# keeps speeding the rest up for a few more. In a fresh JVM the rating
# passes after the first took 4.7, 3.8, 3.4, 3.0, 3.0 s and the toolbox
# ones 7.6, 6.4, 5.8, 5.5, 5.1 s; with three warm-up passes the toolbox's
# timed-pass CPU still fell by up to 40% within a run.
WARMUP_PASSES = 4
# Timed passes run while ``--seconds`` lasts, and at least this many, so
# that no figure is a single sample. Rating fits three passes in 10 s;
# toolbox passes take 5-6 s after about 50 s of set-up, and a floor of
# three would lengthen every toolbox run by a tenth.
MIN_PASSES = 2
# The JVM's JIT compiler threads (names cut to 15 characters). They
# compile in the background on their own schedule: even after the
# warm-up they took 2-5 of a toolbox pass's 10-14 CPU seconds, varying
# pass to pass by more than the rest of the tree. ``pass_cpu_s`` leaves
# them out; ``jvm.jit_s`` reports them.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

def load_config() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


class RssPeak(threading.Thread):
    """Samples the process tree's summed RSS until stopped, keeping the
    peak since the last ``reset``.

    It lists ``/proc`` for the tree's new processes (the Python workers)
    only every ``rescan`` seconds and otherwise reads the stat files of
    the tree it last found. Its own CPU time is kept in ``cpu_s``, so
    that the pass CPU figures can leave it out."""

    def __init__(self, interval: float = 0.2, rescan: float = 2.0) -> None:
        super().__init__(daemon=True)
        self.interval, self.rescan = interval, rescan
        self.peak, self.cpu_s = 0, 0.0
        self._stop_evt, self._lock = threading.Event(), threading.Lock()

    def run(self) -> None:
        pids, listed = set(), float("-inf")
        while not self._stop_evt.is_set():
            if time.monotonic() - listed >= self.rescan:
                pids, listed = procfs.live_tree(), time.monotonic()
            rss = procfs.usage(pids)[1]
            with self._lock:
                self.peak = max(self.peak, rss)
            self.cpu_s = time.thread_time()
            self._stop_evt.wait(self.interval)

    def reset(self) -> int:
        """The peak so far; the next peak counts from now."""
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


class Runner:
    def __init__(self, spark, queries: dict, data_dir: str,
                 sampler: RssPeak) -> None:
        self.spark, self.queries, self.data_dir = spark, queries, data_dir
        self.sampler = sampler
        self.errors: list[str] = []

    def tree_cpu(self) -> tuple[float, float]:
        """``(cpu_s, jit_s)``: the JIT compiler threads' CPU seconds, and
        the rest of the process tree's less the RSS sampler's own."""
        pids = procfs.live_tree()
        jit = procfs.threads_cpu_s(pids, JIT_THREADS)
        return procfs.usage(pids)[0] - self.sampler.cpu_s - jit, jit

    def settle(self) -> None:
        """Collect Python and JVM garbage and let the ContextCleaner
        free the blocks it releases, outside every timing."""
        gc.collect()
        self.spark._jvm.System.gc()
        time.sleep(0.3)

    def request(self, name: str, spans=None, parent=None, idx=0,
                outputs=None) -> float | None:
        """Run one request; return its wall seconds (None if it raised).

        With ``outputs`` the request is forced by collecting it into
        ``outputs[name]`` instead of by the noop sink."""
        sc = self.spark.sparkContext
        span_id = f"{parent}.r{idx}" if spans is not None else None
        if span_id:
            sc.setJobGroup(span_id, name)
        t0 = time.time()
        try:
            df = self.queries[name](self.spark, self.data_dir)
            t1 = time.time()
            if outputs is None:
                df.write.mode("overwrite").format("noop").save()
            else:
                outputs[name] = df.toPandas()
        except Exception as exc:  # noqa: BLE001 - counted as a failure
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return None
        t2 = time.time()
        if span_id:
            spans.add(name, "request", t0, t2, parent, span_id)
            spans.add("construct", "construct", t0, t1, span_id,
                      f"{span_id}.construct")
            spans.add("execute", "execute", t1, t2, span_id,
                      f"{span_id}.execute")
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return t2 - t0

    def run_pass(self, order, spans=None, parent=None, outputs=None) -> dict:
        self.settle()
        host0, (cpu0, jit0) = procfs.read_host_cpu(), self.tree_cpu()
        self.sampler.reset()
        t0 = time.time()
        lat = [self.request(n, spans, parent, i, outputs)
               for i, n in enumerate(order)]
        t1 = time.time()
        rss = self.sampler.reset()
        host1, (cpu1, jit1) = procfs.read_host_cpu(), self.tree_cpu()
        return {"wall": t1 - t0, "cpu": cpu1 - cpu0, "jit": jit1 - jit0,
                "rss": rss,
                "start": t0, "end": t1, "lat": dict(zip(order, lat)),
                **procfs.host_fracs(host0, host1)}


def check(names, outputs: dict, expected: dict) -> list[str]:
    """Requests whose output differs from its DuckDB twin's. (A request
    that raised has no output; the exception already counts as failed.)"""
    from tools.oracle_check import canon

    bad = []
    for name in names:
        if name not in outputs:
            continue
        got = canon(outputs[name])
        want = expected[name]
        if [got[0], got[1], got[2]] != [want["rows"], want["cols"],
                                         want["hash"]]:
            bad.append(f"{name}: output {got} != twin {want}")
    return bad


def prepare_env(scratch: str) -> None:
    """Private local dirs, and the repo on the Python workers' path."""
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    # The System.gc() between passes would shrink the heap to the live
    # set, and regrowing it set off G1 concurrent cycles in some passes
    # and not others (0.6-1.5 extra CPU-s in a 3.5 CPU-s rating pass).
    # MaxHeapFreeRatio=100 keeps the heap the size the program grew it
    # to; in three JVMs with it no timed pass had a concurrent cycle.
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={scratch} -XX:-UsePerfData"
        + " -XX:MaxHeapFreeRatio=100"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_MEM"] = DRIVER_MEMORY


def stop_jvm(spark) -> None:
    """Stop Spark, then the gateway JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.time() - procfs.process_age_s()
    cfg = load_config()
    if args.workload not in cfg["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workload = cfg["workloads"][args.workload]
    data_dir = os.path.join(ROOT, cfg["input"]["dir"])
    try:
        importlib.import_module(PACKAGE)
        importlib.import_module("tools.oracle_check")  # the gate's canon()
        with open(os.path.join(HERE, "expected.json")) as fh:
            expected = json.load(fh)
        missing = [t for t in cfg["input"]["tables"] if not os.path.exists(
            os.path.join(data_dir, f"{t}.parquet"))]
        if missing:
            raise FileNotFoundError(f"input tables missing: {missing}")
    except (ImportError, OSError, ValueError) as exc:
        print(f"cannot run the benchmark here: {exc}", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(scratch, exist_ok=True)
    prepare_env(scratch)
    spark = None
    try:
        from soil_data_development_tools___arcmap_spark import get_spark

        import __spark_entry__ as E

        rss = RssPeak()
        rss.start()
        spark = get_spark(f"perfbench-{args.workload}", master=cfg["master"],
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        runner = Runner(spark, E.queries(), data_dir, rss)
        result = measure(args, workload, runner, t_start, expected, scratch)
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    for key, val in result["metrics"].items():
        print(f"metric {args.workload} {key} = {val['value']:.6g} {val['unit']}")
    for line in result.pop("notes"):
        print(line)
    print(json.dumps(result))
    return 0


def measure(args, workload, runner, t_start, expected, scratch) -> dict:
    names = workload["requests"]
    rng = random.Random(args.seed)
    spans = trace.Spans()
    t_session = time.time()
    outputs: dict = {}
    for i in range(WARMUP_PASSES):
        runner.run_pass(rng.sample(names, len(names)),
                        outputs=outputs if i == 0 else None)
    t_setup = time.time()

    listener = None
    if args.trace:
        log_dir = os.path.join(scratch, "eventlog")
        os.makedirs(log_dir)
        listener = trace.attach_event_log(runner.spark, log_dir)
    passes: list[dict] = []
    t_window = time.time()
    min_passes = MIN_PASSES * (1 + args.trace)
    while time.time() - t_window < args.seconds or len(passes) < min_passes:
        # untraced, traced, traced, untraced, ...: a linear trend across
        # the passes weighs on both kinds alike
        traced = bool(args.trace) and len(passes) % 4 in (1, 2)
        pid = f"pass{len(passes)}"
        if traced:
            trace.listen(runner.spark, listener)
        p = runner.run_pass(rng.sample(names, len(names)),
                            spans if traced else None, pid)
        if traced:
            trace.unlisten(runner.spark, listener)
        p.update(traced=traced, id=pid)
        passes.append(p)
    runner.sampler.stop()
    bad = check(names, outputs, expected)
    notes = [f"error {e}" for e in runner.errors + bad]
    notes.append(f"setup {args.workload}: session {t_session - t_start:.3f} s, "
                 f"warm-up {t_setup - t_session:.3f} s")
    attempted = len(names) * WARMUP_PASSES + sum(
        len(p["lat"]) for p in passes)
    failed = len(runner.errors) + len(bad)
    notes.append(f"error_rate {args.workload} = {failed / attempted:.6g} "
                 f"(failed {failed} of {attempted} requests)")

    timed = [p for p in passes if not p["traced"]]
    lat = [v for p in timed for v in p["lat"].values() if v is not None]
    p50 = statistics.median(lat)
    try:
        tail_v, rank, n = trace.tail(lat)
        notes.append(f"latency_tail_s {args.workload} = {tail_v:.6g} s "
                     f"(rank {rank} of {n} samples, p{100 * rank / n:.1f})")
    except ValueError:
        notes.append(f"latency_tail_s {args.workload}: none, {len(lat)} "
                     "samples leave no percentile with 10 beyond it")
    for p in passes:
        notes.append(
            f"pass {p['id']}{' traced' if p['traced'] else ''}: "
            f"wall {p['wall']:.3f} s cpu {p['cpu']:.2f} s "
            f"jit {p['jit']:.2f} s rss {p['rss'] / 1e6:.0f} MB "
            f"busy {p['busy_frac']:.3f} steal {p['steal_frac']:.4f}")
    metrics = {
        "setup_s": t_setup - t_start,
        "steady_pass_s": statistics.median(p["wall"] for p in timed),
        "pass_cpu_s": statistics.median(p["cpu"] for p in timed),
        "latency_p50_s": p50,
        "peak_rss_mb": statistics.median(p["rss"] for p in timed) / 1e6,
    }
    units = metric_units("end_to_end")
    if args.trace:
        metrics, path = layer_metrics(passes, spans, listener, scratch,
                                      t_start, t_session, t_setup, args)
        notes.append(f"spans {args.workload}: {os.path.relpath(path, ROOT)}")
        units = metric_units("per_layer")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
        "notes": notes,
    }


def request_layers(name: str, layers: dict[str, float]) -> dict[str, float]:
    """One request's layer metrics. The ``spatial.*`` figures are kept
    for the spatial join requests only: other requests join too (the
    LSH band join, the rating lookups) but have no PBSM grid."""
    return {k: v for k, v in layers.items()
            if not k.startswith("spatial.") or name.startswith("spatial_")}


def layer_metrics(passes, spans, listener, scratch, t_start, t_session,
                  t_setup, args) -> tuple[dict, str]:
    listener.stop()
    layers, spark_spans = trace.group_layers(
        trace.read_events(os.path.join(scratch, "eventlog")))
    run_id = spans.add("run", "run", t_start, passes[-1]["end"],
                       span_id="run")
    setup_id = spans.add("setup", "setup", t_start, t_setup, run_id)
    spans.add("session", "session", t_start, t_session, setup_id)
    spans.add("warmup", "warmup", t_session, t_setup, setup_id)
    for p in passes:
        if p["traced"]:
            spans.add("pass", "pass", p["start"], p["end"], run_id, p["id"])
    # a job belongs to the phase of its request that submitted it
    construct_end = {s["parent"]: s["end"] for s in spans.spans
                     if s["kind"] == "construct"}
    stages_by_group: dict[str, list[tuple[float, float]]] = {}
    for s in spark_spans:
        parent = s["parent"]
        if s["kind"] == "job":
            phase = ("construct" if s["start"] < construct_end.get(parent, 0)
                     else "execute")
            parent = f"{parent}.{phase}"
        else:
            stages_by_group.setdefault(s["group"], []).append(
                (s["start"], s["end"]))
        spans.add(s["id"], s["kind"], s["start"], s["end"], parent, s["id"])

    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    requests = [s for s in spans.spans if s["kind"] == "request"]
    phase = {s["id"]: s for s in spans.spans
             if s["kind"] in ("construct", "execute")}

    per_pass: list[dict[str, float]] = []
    covered = wall = 0.0
    for p in traced:
        vals: dict[str, float] = {"jvm.jit_s": p["jit"],
                                  "host.busy_frac": p["busy_frac"],
                                  "host.steal_frac": p["steal_frac"]}
        for req in (r for r in requests if r["parent"] == p["id"]):
            c, x = phase[f"{req['id']}.construct"], phase[f"{req['id']}.execute"]
            for key, s in (("construct_s", c), ("execute_s", x)):
                d = s["end"] - s["start"]
                vals[f"query.{key}"] = vals.get(f"query.{key}", 0.0) + d
                vals[f"query.{req['name']}.{key}"] = d
            for k, v in request_layers(req["name"],
                                       layers.get(req["id"], {})).items():
                vals[k] = vals.get(k, 0.0) + v
            covered += (c["end"] - c["start"]) + trace.covered(
                stages_by_group.get(req["id"], []), x["start"], x["end"])
            wall += req["end"] - req["start"]
        per_pass.append(vals)

    keys = set(metric_units("per_layer"))
    out = {k: statistics.median(v.get(k, 0.0) for v in per_pass)
           for k in keys}
    out["session.start_s"] = t_session - t_start
    out["setup.warmup_s"] = t_setup - t_session
    stage_wall = out.get("spark.stage_wall_s", 0.0)
    out["spark.slots_busy"] = (out.get("spark.task_s", 0.0) / stage_wall
                               if stage_wall else 0.0)
    join_rows = out.get("spatial.join_rows", 0.0)
    out["spatial.survivor_frac"] = (out.get("spatial.out_rows", 0.0)
                                    / join_rows if join_rows else 0.0)
    out["trace.overhead_frac"] = (
        statistics.median(p["wall"] for p in traced)
        / statistics.median(p["wall"] for p in untraced) - 1)
    out["trace.cover_frac"] = covered / wall if wall else 0.0

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    spans.write(path)
    return out, path


if __name__ == "__main__":
    sys.exit(main())
