"""Self-tests of the benchmark: its arithmetic, its /proc parsing, its
event-log join, and a short run of every workload.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The run smokes take a few minutes; ``-k 'not smoke'`` skips them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import procfs, run, trace  # noqa: E402


# ------------------------------------------------------------- tail rank

def test_tail_leaves_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    value, rank, n = trace.tail(values)
    assert (value, rank, n) == (90, 90, 100)
    assert sum(v > value for v in values) == 10


def test_tail_of_eleven_is_the_smallest():
    value, rank, n = trace.tail([5.0, 3.0] + [9.0] * 9)
    assert (value, rank, n) == (3.0, 1, 11)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        trace.tail([1.0] * 10)


def test_tail_ignores_input_order():
    values = [0.3, 0.1, 0.9, 0.5, 0.7, 0.2, 0.8, 0.4, 0.6, 1.0, 1.1, 1.2]
    assert trace.tail(values) == trace.tail(sorted(values)) == (0.2, 2, 12)


# ------------------------------------------------------------ /proc parsing

STAT = """cpu  100 5 50 800 20 1 4 20 0 0
cpu0 50 2 25 400 10 0 2 10 0 0
intr 12345
"""


def test_parse_cpu_line_reads_the_aggregate_line():
    cpu = procfs.parse_cpu_line(STAT)
    assert cpu["user"] == 100 and cpu["idle"] == 800 and cpu["steal"] == 20


def test_host_fracs_counts_steal_in_the_total():
    before = procfs.parse_cpu_line(STAT)
    after = dict(before, user=before["user"] + 60, idle=before["idle"] + 20,
                 iowait=before["iowait"] + 10, steal=before["steal"] + 10)
    fr = procfs.host_fracs(before, after)
    assert fr["busy_frac"] == pytest.approx(70 / 100)
    assert fr["steal_frac"] == pytest.approx(10 / 100)


def test_host_fracs_of_no_elapsed_time_is_zero():
    cpu = procfs.parse_cpu_line(STAT)
    assert procfs.host_fracs(cpu, cpu) == {"busy_frac": 0.0, "steal_frac": 0.0}


def _pid_stat(pid, comm, ppid, utime, stime, cutime, cstime, rss):
    fields = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime]
    fields += [0] * 6 + [rss] + [0] * 20  # vsize is field 23, rss 24
    return f"{pid} ({comm}) " + " ".join(str(f) for f in fields)


def test_parse_pid_stat_survives_spaces_and_parens_in_the_name():
    text = _pid_stat(42, "java) (x y", 7, 100, 50, 30, 20, 10)
    pid, ppid, cpu, rss = procfs.parse_pid_stat(text)
    assert (pid, ppid) == (42, 7)
    assert cpu == pytest.approx(200 / procfs.CLK_TCK)
    assert rss == 10 * procfs.PAGE_SIZE


def test_parse_pid_stat_reads_this_process():
    with open("/proc/self/stat") as fh:
        pid, ppid, cpu, rss = procfs.parse_pid_stat(fh.read())
    assert pid > 0 and ppid >= 0 and cpu >= 0 and rss > 0


def test_tree_pids_follows_every_generation_only():
    parents = {1: 0, 10: 1, 11: 10, 12: 11, 20: 1, 30: 99}
    assert procfs.tree_pids(parents, 10) == {10, 11, 12}
    assert procfs.tree_pids(parents, 1) == {1, 10, 11, 12, 20}


def test_tree_usage_includes_a_child_and_its_cpu():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time\nt=time.time()\nwhile time.time()-t<0.5: pass\n"
         "time.sleep(30)"])
    try:
        time.sleep(1.0)
        cpu_all, rss_all = procfs.tree_usage()
        cpu_child, rss_child = procfs.tree_usage(child.pid)
        assert cpu_child >= 0.3
        assert rss_all > rss_child > 0
        assert cpu_all >= cpu_child
    finally:
        child.kill()
        child.wait()


def test_threads_cpu_s_counts_named_threads_only():
    import threading

    def spin():
        t = time.thread_time()
        while time.thread_time() - t < 0.3:
            pass

    worker = threading.Thread(target=spin, name="perfbench-spin")
    worker.start()
    worker.join()  # its time stays in the process, not in a live task
    assert procfs.threads_cpu_s([os.getpid()], "no-such-thread") == 0.0
    main_name = open(f"/proc/{os.getpid()}/comm").read().strip()
    assert procfs.threads_cpu_s([os.getpid()], main_name) > 0.0


def test_rss_peak_keeps_its_own_cpu_time():
    sampler = run.RssPeak(interval=0.01)
    sampler.start()
    time.sleep(0.5)
    assert sampler.reset() > 0
    sampler.stop()
    assert 0.0 < sampler.cpu_s < 0.5


def test_process_age_is_small_and_positive():
    assert 0 <= procfs.process_age_s() < 24 * 3600


# -------------------------------------------------------- span arithmetic

def _span(sid, start, end, parent=None):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    parent = _span("p", 0.0, 10.0)
    kids = [_span("a", 1.0, 4.0, "p"), _span("b", 3.0, 5.0, "p"),
            _span("c", 7.0, 8.0, "p")]
    assert trace.self_time(parent, kids) == pytest.approx(10 - 4 - 1)


def test_self_time_clips_children_to_the_parent():
    parent = _span("p", 2.0, 6.0)
    kids = [_span("a", 0.0, 3.0, "p"), _span("b", 5.5, 9.0, "p")]
    assert trace.self_time(parent, kids) == pytest.approx(4 - 1 - 0.5)


def test_self_time_without_children_is_the_duration():
    assert trace.self_time(_span("p", 1.0, 3.5), []) == pytest.approx(2.5)


def test_spans_written_with_self_times(tmp_path):
    spans = trace.Spans()
    spans.add("run", "run", 0.0, 10.0, span_id="run")
    spans.add("pass", "pass", 1.0, 9.0, "run", "p0")
    spans.add("req", "request", 2.0, 5.0, "p0", "p0.r0")
    path = tmp_path / "spans.json"
    spans.write(str(path))
    got = {s["id"]: s["self_s"] for s in json.loads(path.read_text())}
    assert got == pytest.approx({"run": 2.0, "p0": 5.0, "p0.r0": 3.0})


# ------------------------------------------------------- event-log join

def _events():
    props = {"spark.jobGroup.id": "p1.r0"}
    acc = [
        {"ID": 1, "Name": "internal.metrics.executorRunTime", "Value": 3000},
        {"ID": 2, "Name": "internal.metrics.executorCpuTime", "Value": 2e9},
        {"ID": 3, "Name": "internal.metrics.shuffle.write.bytesWritten",
         "Value": 2_000_000},
        {"ID": 50, "Name": "number of output rows", "Value": "400",
         "Metadata": "sql"},
        {"ID": 60, "Name": "time to run Python workers", "Value": "1500000000",
         "Metadata": "sql"},
    ]
    plan = {"nodeName": "BroadcastHashJoin",
            "metrics": [{"name": "number of output rows",
                         "accumulatorId": 50, "metricType": "sum"}],
            "children": [{"nodeName": "MapInArrow", "children": [],
                          "metrics": [{"name": "time to run Python workers",
                                       "accumulatorId": 60,
                                       "metricType": "nsTiming"}]}]}
    return [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 7, "Stage IDs": [3],
         "Submission Time": 1000, "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Properties": props,
         "Stage Info": {"Stage ID": 3}},
        {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
            "Block ID": "rdd_5_0", "Memory Size": 1_500_000, "Disk Size": 0}},
        {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
            "Block ID": "broadcast_1", "Memory Size": 9_000_000,
            "Disk Size": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Number of Tasks": 4, "Submission Time": 1100,
            "Completion Time": 2600, "Accumulables": acc}},
        {"Event": "SparkListenerJobEnd", "Job ID": 7,
         "Completion Time": 2700},
        {"Event": "SparkListenerJobStart", "Job ID": 8, "Stage IDs": [],
         "Submission Time": 3000, "Properties": {}},
    ]


def test_group_layers_joins_stage_and_sql_metrics_to_the_group():
    layers, spans = trace.group_layers(_events())
    assert list(layers) == ["p1.r0"]
    g = layers["p1.r0"]
    assert g["spark.jobs"] == 1 and g["spark.stages"] == 1
    assert g["spark.tasks"] == 4
    assert g["spark.stage_wall_s"] == pytest.approx(1.5)
    assert g["spark.task_s"] == pytest.approx(3.0)
    assert g["spark.task_cpu_s"] == pytest.approx(2.0)
    assert g["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert g["spatial.join_rows"] == 400
    assert g["arrowgeom.python_s"] == pytest.approx(1.5)
    assert g["dedup.checkpoint_mb"] == pytest.approx(1.5)
    job, stage = spans
    assert (job["id"], job["parent"], job["start"], job["end"]) == (
        "job-7", "p1.r0", 1.0, 2.7)
    assert (stage["parent"], stage["start"], stage["end"]) == (
        "job-7", 1.1, 2.6)


def _two_group_events():
    """A spatial request (p1.r0) and an LSH request (p1.r1), each with a
    join and a noop write; only the spatial one's join feeds a refine."""
    def sql_start(exec_id, plan):
        return {"Event": "org.apache.spark.sql.execution.ui."
                         "SparkListenerSQLExecutionStart",
                "executionId": exec_id, "sparkPlanInfo": plan}

    def node(name, acc=None, children=()):
        metrics = ([{"name": "number of output rows", "accumulatorId": acc,
                     "metricType": "sum"}] if acc is not None else [])
        return {"nodeName": name, "metrics": metrics,
                "children": list(children)}

    def stage(sid, group, accs):
        props = {"spark.jobGroup.id": group}
        return [
            {"Event": "SparkListenerJobStart", "Job ID": sid,
             "Stage IDs": [sid], "Submission Time": 1000 * sid,
             "Properties": props},
            {"Event": "SparkListenerStageSubmitted", "Properties": props,
             "Stage Info": {"Stage ID": sid}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {
                "Stage ID": sid, "Number of Tasks": 1,
                "Submission Time": 1000 * sid,
                "Completion Time": 1000 * sid + 500,
                "Accumulables": [{"ID": a, "Name": "number of output rows",
                                  "Value": str(v), "Metadata": "sql"}
                                 for a, v in accs.items()]}},
            {"Event": "SparkListenerJobEnd", "Job ID": sid,
             "Completion Time": 1000 * sid + 600},
        ]

    # the planned write first joins 900 pairs; the adaptive re-plan
    # puts a refine over the join, which keeps 300 of them
    spatial_plan = node("OverwriteByExpression", children=[
        node("Project", children=[node("SortMergeJoin", 10, [
            node("Generate", 11), node("Filter", 12)])])])
    spatial_final = node("OverwriteByExpression", children=[
        node("AdaptiveSparkPlan", children=[node("Filter", 13, [
            node("SortMergeJoin", 10, [node("Generate", 11),
                                       node("Filter", 12)])])])])
    lsh_plan = node("OverwriteByExpression", children=[
        node("BroadcastHashJoin", 20, [node("Generate", 21)])])
    return [
        sql_start(0, spatial_plan),
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 0, "sparkPlanInfo": spatial_final},
        *stage(1, "p1.r0", {11: 120, 12: 400, 10: 900, 13: 300}),
        sql_start(1, lsh_plan),
        *stage(2, "p1.r1", {21: 50, 20: 70}),
    ]


def test_group_layers_keeps_each_groups_joins_apart():
    layers, _ = trace.group_layers(_two_group_events())
    spatial, lsh = layers["p1.r0"], layers["p1.r1"]
    assert spatial["spatial.cell_rows"] == 120
    assert spatial["spatial.join_rows"] == 900
    assert spatial["spatial.out_rows"] == 300  # the final plan's refine
    assert lsh["spatial.join_rows"] == 70
    assert lsh["spatial.out_rows"] == 70  # written straight from the join


def test_request_layers_keeps_spatial_figures_for_spatial_requests():
    layers, _ = trace.group_layers(_two_group_events())
    spatial = run.request_layers("spatial_join_points", layers["p1.r0"])
    lsh = run.request_layers("docs_minhash_lsh", layers["p1.r1"])
    assert spatial["spatial.join_rows"] == 900
    assert not any(k.startswith("spatial.") for k in lsh)
    assert lsh["spark.stages"] == 1


def test_sink_rows_are_the_shallowest_counted_nodes():
    plan = {"nodeName": "OverwriteByExpression", "metrics": [], "children": [
        {"nodeName": "Union", "metrics": [], "children": [
            {"nodeName": "Filter", "children": [], "metrics": [
                {"name": "number of output rows", "accumulatorId": 1}]},
            {"nodeName": "Project", "metrics": [], "children": [
                {"nodeName": "Filter", "children": [], "metrics": [
                    {"name": "number of output rows",
                     "accumulatorId": 2}]}]}]}]}
    assert trace.sink_rows_accs(plan) == [1]
    assert trace.sink_rows_accs({"nodeName": "X", "metrics": []}) == []


# ------------------------------------------------------------ run smokes

def _bench_units() -> tuple[dict, dict, list[str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    return e2e, layer, [w["name"] for w in bench["workloads"]]


@pytest.mark.parametrize("workload", _bench_units()[2])
@pytest.mark.parametrize("traced", [0, 1])
def test_smoke_every_metric_prints_with_its_unit(workload, traced):
    e2e, layer, _ = _bench_units()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(traced)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    want = layer if traced else e2e
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name, unit in want.items():
        assert any(line.startswith(f"metric {workload} {name} = ")
                   and line.endswith(f" {unit}") for line in lines), name
    assert any(line.startswith(f"error_rate {workload} = 0 ")
               for line in lines)


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark it exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rating",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
