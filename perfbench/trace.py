"""Spans and Spark-side layer metrics for the traced run.

The benchmark records its own spans around each call into the program
(run -> setup -> pass -> request -> construct | execute) and sets each
request span's id as the Spark job group. Spark's event log, attached
only while a traced pass runs, supplies the rest of the tree
(request -> job -> stage) and the stage and SQL metrics, joined to the
requests by job group.
"""

from __future__ import annotations

import json
import os


class Spans:
    """Spans kept in memory and written once at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, kind: str, start: float, end: float,
            parent: str | None = None, span_id: str | None = None) -> str:
        span_id = span_id or f"{kind}-{len(self.spans)}"
        self.spans.append({"id": span_id, "parent": parent, "kind": kind,
                           "name": name, "start": start, "end": end})
        return span_id

    def with_self_times(self) -> list[dict]:
        children: dict[str, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        return [dict(s, self_s=self_time(s, children.get(s["id"], [])))
                for s in self.spans]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.with_self_times(), fh)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def tail(values: list[float], beyond: int = 10) -> tuple[float, int, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, rank, n)``: the ``rank``-th smallest of ``n``
    samples (1-based), so ``n - rank >= beyond``. Needs ``n > beyond``."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples leave none with {beyond} beyond it")
    rank = n - beyond
    return sorted(values)[rank - 1], rank, n


# ---------------------------------------------------------------- event log

def attach_event_log(spark, log_dir: str):
    """Start an event-log listener writing to ``log_dir``; it receives
    events only between ``listen`` and ``unlisten``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    conf = (jsc.conf().clone()
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.logBlockUpdates.enabled", "true"))
    jvm = sc._jvm
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        "perfbench", jvm.scala.Option.apply(None),
        jvm.java.net.URI("file://" + os.path.abspath(log_dir)), conf,
        jsc.hadoopConfiguration())
    listener.start()
    return listener


def listen(spark, listener) -> None:
    spark.sparkContext._jsc.sc().addSparkListener(listener)


def unlisten(spark, listener) -> None:
    """Drain the listener bus, then detach, so no event of the pass is lost."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jsc.removeSparkListener(listener)


def read_events(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if name.startswith(".") or not os.path.isfile(path):
            continue
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


ARROW_METRICS = {
    "time to start Python workers": "arrowgeom.boot_s",
    "time to initialize Python workers": "arrowgeom.init_s",
    "time to run Python workers": "arrowgeom.python_s",
    "data sent to Python workers": "arrowgeom.sent_mb",
    "data returned from Python workers": "arrowgeom.recv_mb",
}

# Spark SQL metric types -> divisor to seconds or MB
METRIC_SCALE = {"nsTiming": 1e9, "timing": 1e3, "size": 1e6}

STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("spark.task_s", 1e3),
    "internal.metrics.executorCpuTime": ("spark.task_cpu_s", 1e9),
    "internal.metrics.jvmGCTime": ("spark.gc_s", 1e3),
    "internal.metrics.shuffle.write.bytesWritten": ("spark.shuffle_write_mb", 1e6),
    "internal.metrics.shuffle.read.remoteBytesRead": ("spark.shuffle_read_mb", 1e6),
    "internal.metrics.shuffle.read.localBytesRead": ("spark.shuffle_read_mb", 1e6),
    "internal.metrics.diskBytesSpilled": ("spark.spill_mb", 1e6),
}


def _plan_nodes(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _plan_nodes(child)


def sink_rows_accs(plan: dict) -> list[int]:
    """Accumulator ids of the rows a write command's plan writes.

    The write node itself counts nothing, so these are the ``number of
    output rows`` metrics of the shallowest nodes below it that have
    one (several only where a union feeds the write)."""
    level = [plan]
    while level:
        accs = [m["accumulatorId"] for node in level
                for m in node.get("metrics", [])
                if m["name"] == "number of output rows"]
        if accs:
            return accs
        level = [c for node in level for c in node.get("children", [])]
    return []


# root nodes of the noop sink's plan (DataFrameWriter.save, V2 writes)
WRITE_NODES = ("OverwriteByExpression", "AppendData")


def group_layers(events: list[dict]) -> tuple[dict, list[dict]]:
    """Per job group: Spark counters and sums, plus job and stage spans.

    Returns ``(layers, spans)`` where ``layers[group]`` maps layer metric
    names to values and each span is ``{kind, id, parent, group, start,
    end}`` in epoch seconds; a job's parent is its group (the request
    span), a stage's parent is the job that submitted it.

    ``spatial.cell_rows`` is the output of the group's Generate nodes
    (the PBSM grid's explode of features onto cells),
    ``spatial.join_rows`` the output of its join nodes (pairs that meet
    the join condition, into which Catalyst folds the filters written
    after an inner join) and ``spatial.out_rows`` the rows its write
    commands wrote, from the final (adaptive) plan of each write. Every
    group gets them; the caller keeps them for the spatial join requests
    only."""
    layers: dict[str, dict[str, float]] = {}
    spans: list[dict] = []
    stage_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_span: dict[int, dict] = {}
    acc_meta: dict[int, tuple[str, str, str]] = {}  # id -> node, metric, type
    acc_last: dict[int, tuple[str, float]] = {}  # id -> group, last value
    final_plan: dict[int, dict] = {}  # SQL execution id -> latest plan
    current = None

    def bump(group, key, value):
        g = layers.setdefault(group, {})
        g[key] = g.get(key, 0.0) + value

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            current = group
            bump(group, "spark.jobs", 1)
            span = {"kind": "job", "id": f"job-{e['Job ID']}", "group": group,
                    "parent": group, "start": e["Submission Time"] / 1e3,
                    "end": e["Submission Time"] / 1e3}
            job_span[e["Job ID"]] = span
            spans.append(span)
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_span:
                job_span[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                stage_group[e["Stage Info"]["Stage ID"]] = group
                current = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            start = info["Submission Time"] / 1e3
            end = info["Completion Time"] / 1e3
            bump(group, "spark.stages", 1)
            bump(group, "spark.tasks", info["Number of Tasks"])
            bump(group, "spark.stage_wall_s", end - start)
            spans.append({"kind": "stage", "id": f"stage-{info['Stage ID']}",
                          "group": group, "start": start, "end": end,
                          "parent": f"job-{stage_job.get(info['Stage ID'])}"})
            for acc in info.get("Accumulables", []):
                name, value = acc.get("Name"), acc.get("Value")
                if name in STAGE_METRICS:
                    key, scale = STAGE_METRICS[name]
                    bump(group, key, float(value) / scale)
                elif acc.get("Metadata") == "sql":
                    acc_last[acc["ID"]] = (group, float(value))
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            final_plan[e["executionId"]] = e["sparkPlanInfo"]
            for node in _plan_nodes(e["sparkPlanInfo"]):
                for m in node.get("metrics", []):
                    acc_meta[m["accumulatorId"]] = (
                        node["nodeName"], m["name"], m["metricType"])
        elif kind == "SparkListenerBlockUpdated" and current is not None:
            info = e["Block Updated Info"]
            if info["Block ID"].startswith("rdd_"):
                size = info["Memory Size"] + info["Disk Size"]
                if size > 0:
                    bump(current, "dedup.checkpoint_mb", size / 1e6)

    for acc_id, (group, value) in acc_last.items():
        node, metric, mtype = acc_meta.get(acc_id, ("", "", ""))
        if "MapInArrow" in node and metric in ARROW_METRICS:
            bump(group, ARROW_METRICS[metric],
                 value / METRIC_SCALE.get(mtype, 1.0))
        elif "Join" in node and metric == "number of output rows":
            bump(group, "spatial.join_rows", value)
        elif node == "Generate" and metric == "number of output rows":
            bump(group, "spatial.cell_rows", value)
    for plan in final_plan.values():
        if plan["nodeName"].startswith(WRITE_NODES):
            for acc_id in sink_rows_accs(plan):
                if acc_id in acc_last:
                    group, value = acc_last[acc_id]
                    bump(group, "spatial.out_rows", value)
    return layers, spans
