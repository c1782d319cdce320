"""Per-layer attribution for traced passes.

Every step of a traced pass runs under the job group
``pb:<pass>:<step>:<build|run>``.  Job, stage and task counts come from
``statusTracker``; task run/CPU/GC time, shuffle, spill and stage spans
come from the Spark event log (written to a local ``file://`` directory),
and the Arrow hop from the ``PythonSQLMetrics`` of the Python exec nodes
that the event log's SQL plan events declare.
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict

# PythonSQLMetrics display names -> per-layer metric (and its unit scale)
PY_METRICS = {
    "data sent to Python workers": "python.data_sent_mb",
    "data returned from Python workers": "python.data_received_mb",
    "number of output rows": "python.rows_received",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
}
PY_MARKER = "data sent to Python workers"
SCALE = {"size": 2.0**-20, "timing": 1e-3, "nsTiming": 1e-9}


def group(pass_idx: int, step: str, phase: str) -> str:
    return f"pb:{pass_idx}:{step}:{phase}"


def parse_group(g: str | None):
    """-> (pass, step) of a traced job group, else None."""
    if not g or not g.startswith("pb:"):
        return None
    _, p, step, _ = g.split(":")
    return int(p), step


class Tagger:
    def __init__(self, sc):
        self.sc = sc

    def set(self, pass_idx: int, step: str, phase: str) -> None:
        self.sc.setJobGroup(group(pass_idx, step, phase), "perfbench")

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def status_counts(sc, pass_idx: int, steps) -> dict:
    """Jobs, stages and tasks of one traced pass from statusTracker, plus
    the jobs each step's operator call launched before its action."""
    st = sc.statusTracker()
    jobs, stages, out = set(), {}, {}
    for name in steps:
        for phase in ("build", "run"):
            ids = st.getJobIdsForGroup(group(pass_idx, name, phase))
            if phase == "build":
                out[f"step.{name}.build_jobs"] = len(ids)
            jobs.update(ids)
            for j in ids:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    si = st.getStageInfo(s)
                    if si is not None and si.numCompletedTasks:
                        stages[s] = si.numCompletedTasks
    out.update({"spark.jobs": len(jobs), "spark.stages": len(stages),
                "spark.tasks": sum(stages.values())})
    return out


def _plan_nodes(info):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def read_event_log(event_dir: str) -> list[dict]:
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}: {names}")
    with open(os.path.join(event_dir, names[0])) as f:
        return [json.loads(line) for line in f if line.strip()]


def attribute(events: list[dict]) -> dict:
    """-> {(pass, step): Counter of task/shuffle/python totals}, the stage
    spans per pass, and the (pass, step)s whose plans hold a Python node."""
    stage_key, exec_key = {}, {}
    py_acc = {}          # accumulator id -> (metric, scale)
    py_execs = set()
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            key = parse_group(props.get("spark.jobGroup.id"))
            if key is None:
                continue
            for s in e["Stage IDs"]:
                stage_key[s] = key
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                exec_key[int(xid)] = key
        elif ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            for node in _plan_nodes(e["sparkPlanInfo"]):
                ms = node.get("metrics") or []
                if not any(m["name"] == PY_MARKER for m in ms):
                    continue
                py_execs.add(int(e["executionId"]))
                for m in ms:
                    if m["name"] in PY_METRICS:
                        py_acc[m["accumulatorId"]] = (
                            PY_METRICS[m["name"]],
                            SCALE.get(m.get("metricType"), 1.0))
    totals = defaultdict(Counter)
    spans = defaultdict(list)
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerTaskEnd":
            key = stage_key.get(e["Stage ID"])
            if key is None:
                continue
            c = totals[key]
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            c["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            c["spark.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0)) / 2**20
            c["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                hit = py_acc.get(a.get("ID"))
                if hit is not None and a.get("Update") is not None:
                    c[hit[0]] += float(a["Update"]) * hit[1]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            key = stage_key.get(si["Stage ID"])
            if key is not None and si.get("Submission Time") and si.get("Completion Time"):
                spans[key[0]].append((si["Submission Time"] / 1e3,
                                      si["Completion Time"] / 1e3))
    py_steps = {exec_key[x] for x in py_execs if x in exec_key}
    return {"totals": totals, "spans": spans, "py_steps": py_steps}


def uncovered(t0: float, t1: float, spans) -> float:
    """Seconds of [t0, t1] during which no stage of the pass was running."""
    covered, end = 0.0, t0
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, t1)
        if b > a:
            covered += b - a
            end = b
    return (t1 - t0) - covered
