"""Attribute Spark's event log to the traced query executions.

Each traced execution runs its construction under job group
``<group>/construct`` and its ``noop`` write under ``<group>/exec``
(``harness.Run.execute``). Micro-batch jobs run under their stream's
runId instead; a stream belongs to the execution whose construction
window holds its ``QueryStartedEvent``. Tasks map to an execution
through their stage's first job.

From that mapping ``attribute`` fills, per execution and phase, the
scheduler counters (jobs, stages, tasks, CPU and run ms, bytes read,
shuffled and spilled, task intervals), the Python-worker SQL metrics
and the micro-batch progress. ``span_tree`` then lays the execution out
as spans and ``self_times`` reduces them to each layer's self time.
"""

from __future__ import annotations

import json
from datetime import datetime
from pathlib import Path

STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)
PYTHON_METRICS = {
    "data sent to Python workers": "sent",
    "data returned from Python workers": "received",
    "time to run Python workers": "run_ms",
}
PHASE_COUNTERS = ("jobs", "tasks", "task_cpu_ms", "task_run_ms", "input_bytes",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "py_sent", "py_received", "py_rows", "py_run_ms")
STREAM_COUNTERS = ("batches", "input_rows", "trigger_ms", "add_batch_ms",
                   "planning_ms", "wal_ms", "state_commit_ms", "state_rows")


def read(path: Path) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def find_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    return logs[0]


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _python_accumulators(node: dict, out: dict[int, str]) -> None:
    """Accumulator id -> Python metric kind, for every plan node that
    talks to Python workers. Such a node's own output-row metric is the
    first ``number of output rows`` created after its Python metrics."""
    metrics = node.get("metrics", [])
    names = {m["name"]: m["accumulatorId"] for m in metrics}
    if "data sent to Python workers" in names:
        py_ids = [names[k] for k in PYTHON_METRICS if k in names]
        for k, kind in PYTHON_METRICS.items():
            if k in names:
                out[names[k]] = kind
        rows = sorted(m["accumulatorId"] for m in metrics
                      if m["name"] == "number of output rows"
                      and m["accumulatorId"] > max(py_ids))
        if rows:
            out[rows[0]] = "rows"
    for child in node.get("children", []):
        _python_accumulators(child, out)


def _new_phase() -> dict:
    d = dict.fromkeys(PHASE_COUNTERS, 0)
    d.update(stages=set(), task_spans=[], job_spans=[])
    return d


def attribute(events: list[dict], records: list[dict]) -> None:
    """Fill ``construct``/``exec`` counters and ``streams`` on each
    record, in place."""
    by_group = {}
    for rec in records:
        rec["construct"], rec["exec"], rec["streams"] = _new_phase(), _new_phase(), {}
        by_group[rec["group"]] = rec
    runs: dict[str, dict] = {}       # runId -> record
    jobs: dict[int, tuple] = {}      # job id -> (record, phase, submit ms)
    stages: dict[int, tuple] = {}    # stage id -> (record, phase)
    py_acc: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if kind == STARTED:
            t = _epoch(e["timestamp"])
            for rec in records:
                if rec["t0"] <= t <= rec["t_construct"]:
                    runs[e["runId"]] = rec
                    rec["streams"][e["runId"]] = dict.fromkeys(STREAM_COUNTERS, 0) | {
                        "start": t, "end": t, "batch_spans": []}
                    break
        elif kind in SQL_PLAN_EVENTS:
            _python_accumulators(e["sparkPlanInfo"], py_acc)
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            owner = None
            if group in runs:
                owner = (runs[group], "construct")
            elif "/" in group:
                base, phase = group.rsplit("/", 1)
                if base in by_group and phase in ("construct", "exec"):
                    owner = (by_group[base], phase)
            if owner:
                jobs[e["Job ID"]] = owner + (e["Submission Time"],)
                owner[0][owner[1]]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stages.setdefault(sid, owner)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            rec, phase, t0 = jobs[e["Job ID"]]
            rec[phase]["job_spans"].append((t0 / 1e3, e["Completion Time"] / 1e3))
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            rec, phase = stages[e["Stage ID"]]
            _add_task(rec[phase], e, py_acc)
        elif kind == PROGRESS:
            p = e["progress"]
            if p["runId"] in runs:
                _add_batch(runs[p["runId"]]["streams"][p["runId"]], p)


def _add_task(c: dict, e: dict, py_acc: dict[int, str]) -> None:
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    c["stages"].add(e["Stage ID"])
    c["tasks"] += 1
    c["task_spans"].append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
    c["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    c["task_run_ms"] += m.get("Executor Run Time", 0)
    c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        kind = py_acc.get(acc.get("ID"))
        if kind:  # SQL metric updates are logged as decimal strings
            c["py_" + kind] += float(acc.get("Update") or 0)


def _add_batch(s: dict, p: dict) -> None:
    d = p.get("durationMs", {})
    trigger = d.get("triggerExecution", 0)
    start = _epoch(p["timestamp"])
    s["batches"] += 1
    s["input_rows"] += sum(src.get("numInputRows", 0) for src in p.get("sources", []))
    s["trigger_ms"] += trigger
    s["add_batch_ms"] += d.get("addBatch", 0)
    s["planning_ms"] += d.get("queryPlanning", 0)
    s["wal_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
    ops = p.get("stateOperators", [])
    s["state_commit_ms"] += sum(op.get("commitTimeMs", 0) for op in ops)
    # rows held in state after the stream's latest batch
    s["state_rows"] = sum(op.get("numRowsTotal", 0) for op in ops)
    s["batch_spans"].append((start, start + trigger / 1e3))
    s["end"] = max(s["end"], start + trigger / 1e3)


# -- spans and self time -----------------------------------------------

def covered(span: tuple, children: list[tuple]) -> float:
    """Length of ``span`` covered by the union of ``children``."""
    lo, hi = span
    parts = sorted((max(a, lo), min(b, hi)) for a, b in children if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in parts:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_tree(rec: dict) -> list[dict]:
    """The execution as spans: a query span; its ``construct``, ``plan``
    and ``exec`` children; under ``construct`` each lineage cut and
    stream run, with one span per micro-batch under its run; Spark jobs
    under the innermost span they started in (a batch, a cut, else
    their phase)."""
    root = rec["group"]

    def span(sid, parent, name, a, b):
        return {"id": sid, "parent": parent, "name": name, "start": a, "end": b}

    construct, exec_ = root + "/construct", root + "/exec"
    spans = [
        span(root, None, "query", rec["t0"], rec["t1"]),
        span(construct, root, "construct", rec["t0"], rec["t_construct"]),
        span(root + "/plan", root, "plan", rec["t_construct"], rec["t_plan"]),
        span(exec_, root, "exec", rec["t_plan"], rec["t1"]),
    ]
    inner = []  # spans a construct job can start in, innermost first
    for run_id, s in rec["streams"].items():
        sid = f"{root}/stream:{run_id}"
        spans.append(span(sid, construct, "stream", s["start"], s["end"]))
        inner += [span(f"{sid}/batch{i}", sid, "batch", a, b)
                  for i, (a, b) in enumerate(s["batch_spans"])]
    inner += [span(f"{root}/cut{i}", construct, "cut", a, b)
              for i, (a, b) in enumerate(rec["cuts"])]
    spans += inner
    for i, (a, b) in enumerate(rec["construct"]["job_spans"]):
        parent = next((s["id"] for s in inner if s["start"] <= a <= s["end"]), construct)
        spans.append(span(f"{construct}/job{i}", parent, "job", a, b))
    spans += [span(f"{exec_}/job{i}", exec_, "job", a, b)
              for i, (a, b) in enumerate(rec["exec"]["job_spans"])]
    return spans


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per span name: each span's duration minus
    the part of it that its children cover."""
    kids: dict[str, list[tuple]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = max(s["end"] - s["start"], 0.0) - covered((s["start"], s["end"]), kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
