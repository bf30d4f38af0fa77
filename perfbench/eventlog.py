"""Per-layer counters from Spark's own event log.

Run the session with `spark.eventLog.enabled=true` and
`spark.eventLog.compress=false`; Spark 4 then writes plain JSON lines,
either as one file per application or as rolling
`eventlog_v2_<app>/events_<n>_<app>` files.  Parse the log after
`spark.stop()`, which flushes it.

Attribution: a job belongs to the layer named by its job group
(`spark.jobGroup.id`, set by `spans.Tracer`).  Jobs submitted without
a group (e.g. from helper threads, which do not inherit the group)
fall back to the innermost span open at their submission time.  Tasks
belong to the job that first listed their stage; SQL executions to the
layer of their first job.
"""

from __future__ import annotations

import json
import os
import statistics

# Python-boundary plan nodes and the SQL metrics read from them
PY_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
PY_METRICS = {
    "time to run Python workers": ("py_time_s", 1e-3),
    "data sent to Python workers": ("py_sent_mb", 2.0 ** -20),
    "data returned from Python workers": ("py_recv_mb", 2.0 ** -20),
    "number of output rows": ("py_rows", 1),
}
JOINS = ("ShuffledHashJoin", "SortMergeJoin", "BroadcastHashJoin",
         "BroadcastNestedLoopJoin", "CartesianProduct")
_SQL = "org.apache.spark.sql.execution.ui."
_MB = 2.0 ** -20


def read_events(log_dir: str) -> list[dict]:
    files = []
    for d, _, names in os.walk(log_dir):
        files += [os.path.join(d, n) for n in names
                  if not n.startswith((".", "appstatus"))]
    # rolling files are numbered events_<n>_<app>; keep their order
    files.sort(key=lambda p: (os.path.dirname(p), _roll_index(p)))
    events = []
    for path in files:
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _roll_index(path: str) -> int:
    parts = os.path.basename(path).split("_")
    return int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def _span_at(spans: list[dict], t_ms: int) -> str | None:
    """Name of the innermost span open at t_ms (epoch milliseconds)."""
    best = None
    for s in spans:
        if s["start"] * 1000 <= t_ms <= s["end"] * 1000 and (
                best is None or s["start"] >= best["start"]):
            best = s
    return best["name"] if best else None


def jobs(events: list[dict]) -> list[dict]:
    """Every job with its group, submission and completion time
    (epoch milliseconds), in submission order."""
    out, by_id = [], {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {"id": e["Job ID"], "group": props.get("spark.jobGroup.id"),
                   "submit_ms": e["Submission Time"], "end_ms": None}
            out.append(job)
            by_id[job["id"]] = job
        elif e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in by_id:
            by_id[e["Job ID"]]["end_ms"] = e["Completion Time"]
    return out


def new_layer() -> dict:
    return {"jobs": 0, "cpu_s": 0.0, "shuffle_write_mb": 0.0,
            "fetch_wait_s": 0.0, "spill_mb": 0.0, "failed_tasks": 0,
            "bytes_written_mb": 0.0, "task_s": [],
            "py_time_s": 0.0, "py_sent_mb": 0.0, "py_recv_mb": 0.0,
            "py_rows": 0.0, "rows_by_node": {}}


def collect(events: list[dict], spans: list[dict]) -> dict:
    """-> {"layers": {name: counters}, "executions": {id: {...}}}.

    Layer counters: jobs, executor cpu_s, shuffle_write_mb,
    fetch_wait_s, spill_mb (disk), failed_tasks, bytes_written_mb,
    task_s (successful task durations), the py_* SQL metrics of
    PY_NODES and rows_by_node (py_rows split by node type).
    Executions carry their layer, AQE-final plan text and the join
    operators in that final plan."""
    span_names = {s["name"] for s in spans}
    stage_layer, layers, execs, py_acc = {}, {}, {}, {}

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            layer = group if group in span_names else _span_at(
                spans, e["Submission Time"]) or "other"
            layers.setdefault(layer, new_layer())["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_layer.setdefault(sid, layer)
            eid = props.get("spark.sql.execution.id")
            if eid is not None and int(eid) in execs:
                execs[int(eid)].setdefault("layer", layer)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = execs.setdefault(e["executionId"], {})
            ex["plan"] = e["physicalPlanDescription"]
            ex["joins"] = {}
            for node in _walk(e["sparkPlanInfo"]):
                name = node["nodeName"]
                if name in JOINS:
                    ex["joins"][name] = ex["joins"].get(name, 0) + 1
                if name in PY_NODES:
                    for m in node["metrics"]:
                        if m["name"] in PY_METRICS:
                            py_acc[m["accumulatorId"]] = (
                                *PY_METRICS[m["name"]], name)
        elif kind == "SparkListenerTaskEnd":
            lay = layers.setdefault(stage_layer.get(e["Stage ID"], "other"),
                                    new_layer())
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            if e["Task End Reason"]["Reason"] != "Success":
                lay["failed_tasks"] += 1
            else:
                lay["task_s"].append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000)
            lay["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            lay["spill_mb"] += m.get("Disk Bytes Spilled", 0) * _MB
            lay["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0) * _MB
            lay["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}
                                    ).get("Fetch Wait Time", 0) / 1000
            lay["bytes_written_mb"] += (m.get("Output Metrics") or {}
                                        ).get("Bytes Written", 0) * _MB
            for acc in info.get("Accumulables", []):
                if acc["ID"] in py_acc and "Update" in acc:
                    key, scale, node = py_acc[acc["ID"]]
                    lay[key] += float(acc["Update"]) * scale
                    if key == "py_rows":
                        by_node = lay["rows_by_node"]
                        by_node[node] = (by_node.get(node, 0)
                                         + int(acc["Update"]))
    return {"layers": layers, "executions": execs}


def task_skew(task_s: list[float]) -> float:
    """max / median successful task duration (0 without tasks)."""
    if not task_s:
        return 0.0
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else 0.0


def final_plans(executions: dict) -> str:
    """AQE-final physical plan trees, one block per execution, labelled
    by layer and join operators, in execution order.  The per-node
    details and the top-level initial plan are left out."""
    blocks = []
    for eid in sorted(executions):
        ex = executions[eid]
        joins = ", ".join(f"{k}={v}" for k, v in sorted(ex["joins"].items()))
        tree = ex["plan"].split("\n\n", 1)[0]
        tree = tree.split("\n+- == Initial Plan ==", 1)[0]
        blocks.append(f"=== execution {eid} | layer {ex.get('layer', '?')}"
                      f" | joins: {joins or 'none'} ===\n{tree}\n")
    return "\n".join(blocks)
