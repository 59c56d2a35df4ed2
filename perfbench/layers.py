"""Per-layer metrics of one traced run.

Layer names follow the package modules (``session``, ``queries``,
Catalyst, the Spark scheduler under ``exec``, the Python-worker boundary
of ``functions``/``sources.pydatasource``, ``streaming`` and
``sources``). Additive values are per pass: the mean over a query's
timed executions, summed over the workload's queries. ``peak_heap_mb``
is the largest peak of any execution, ``core_util`` a ratio over the
pass, and the ``sources`` numbers are medians over the set-up
repetitions (the table warm-up runs once).
"""

from __future__ import annotations

import statistics

from eventlog import STREAM_COUNTERS, covered, self_times, span_tree

UNITS = {
    "session.start_s": "s",
    "session.truncate_lineage.calls": "count",
    "session.truncate_lineage.s": "s",
    "session.truncate_lineage.bytes": "bytes",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.construct_task_cpu_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_ms": "ms",
    "exec.task_run_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.peak_heap_mb": "MiB",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.idle_ms": "ms",
    "exec.core_util": "ratio",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.rows_returned": "count",
    "python.run_ms": "ms",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.wal_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.outside_trigger_ms": "ms",
    "sources.warm_s": "s",
    "sources.artifact_build_s": "s",
    "sources.artifact_bytes": "bytes",
    "sources.write_amp": "ratio",
    "self.construct_s": "s",
    "self.cut_s": "s",
    "self.plan_s": "s",
    "self.exec_s": "s",
    "self.job_s": "s",
    "self.stream_s": "s",
    "self.batch_s": "s",
    "trace.wall_s": "s",
}


def execution_metrics(rec: dict) -> dict[str, float]:
    """Additive per-layer values of one traced execution."""
    c, x = rec["construct"], rec["exec"]
    streams = list(rec["streams"].values())
    exec_s = rec["t1"] - rec["t_plan"]
    construct_s = rec["t_construct"] - rec["t0"]
    m = {
        "session.truncate_lineage.calls": len(rec["cuts"]),
        "session.truncate_lineage.s": sum(b - a for a, b in rec["cuts"]),
        "session.truncate_lineage.bytes": rec["held_bytes"],
        "queries.construct_s": construct_s,
        "queries.construct_jobs": c["jobs"],
        "queries.construct_task_cpu_ms": c["task_cpu_ms"],
        "catalyst.analysis_ms": rec["catalyst"].get("analysis", 0),
        "catalyst.optimization_ms": rec["catalyst"].get("optimization", 0),
        "catalyst.planning_ms": rec["catalyst"].get("planning", 0),
        "exec.s": exec_s,
        "exec.jobs": x["jobs"],
        "exec.stages": len(x["stages"]),
        "exec.tasks": x["tasks"],
        "exec.task_cpu_ms": x["task_cpu_ms"],
        "exec.task_run_ms": x["task_run_ms"],
        "exec.gc_ms": rec["gc_ms"],
        "exec.input_bytes": x["input_bytes"],
        "exec.shuffle_write_bytes": x["shuffle_write_bytes"],
        "exec.shuffle_read_bytes": x["shuffle_read_bytes"],
        "exec.spill_bytes": x["spill_bytes"],
        "exec.idle_ms": 1e3 * (exec_s - covered((rec["t_plan"], rec["t1"]), x["task_spans"])),
        "python.bytes_sent": c["py_sent"] + x["py_sent"],
        "python.bytes_received": c["py_received"] + x["py_received"],
        "python.rows_returned": c["py_rows"] + x["py_rows"],
        "python.run_ms": c["py_run_ms"] + x["py_run_ms"],
    }
    for k in STREAM_COUNTERS:
        m[f"stream.{k}"] = sum(s[k] for s in streams)
    m["stream.outside_trigger_ms"] = (
        1e3 * construct_s - m["stream.trigger_ms"] if streams else 0.0)
    for name, v in self_times(span_tree(rec)).items():
        if f"self.{name}_s" in UNITS:
            m[f"self.{name}_s"] = v
    return m


def per_layer(records: list[dict], setups: list[dict], session_start_s: float,
              warm_s: float, n_cores: int) -> tuple[dict, dict]:
    """Per-layer metrics of the run, and the per-query means behind
    them."""
    timed = [r for r in records if r["phase"] == "timed" and r.get("ok")]
    by_query: dict[str, list[dict]] = {}
    walls: dict[str, list[float]] = {}
    for rec in timed:
        by_query.setdefault(rec["q"], []).append(execution_metrics(rec))
        walls.setdefault(rec["q"], []).append(rec["t1"] - rec["t0"])
    per_query = {
        q: {k: statistics.fmean(m.get(k, 0.0) for m in ms) for k in ms[0]}
        for q, ms in by_query.items()
    }
    values = {k: 0.0 for k in UNITS}
    for means in per_query.values():
        for k, v in means.items():
            values[k] += v
    values["exec.peak_heap_mb"] = max(
        (r["peak_heap_bytes"] for r in timed), default=0) / 2**20
    values["exec.core_util"] = (
        values["exec.task_run_ms"] / (1e3 * values["exec.s"] * n_cores)
        if values["exec.s"] else 0.0)
    values["session.start_s"] = session_start_s
    med = {k: statistics.median(s[k] for s in setups)
           for k in ("build_s", "artifact_bytes", "input_bytes")}
    values["sources.warm_s"] = warm_s
    values["sources.artifact_build_s"] = med["build_s"]
    values["sources.artifact_bytes"] = med["artifact_bytes"]
    values["sources.write_amp"] = med["artifact_bytes"] / med["input_bytes"]
    values["trace.wall_s"] = sum(statistics.median(v) for v in walls.values())
    metrics = {k: {"value": values[k], "unit": u} for k, u in UNITS.items()}
    return metrics, per_query
