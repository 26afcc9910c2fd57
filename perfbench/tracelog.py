"""Traced-run parser: Spark event log -> spans and per-layer metrics.

The measured process tags every Spark job with the job group
``op<n>.<phase>`` of the operation that caused it (see
``child.Recorder``). This module joins the event log to those
operations and returns:

* spans — one per operation (client-side start/end), one per timed
  phase (``build``, ``plan``, ``exec`` or ``run``) with the operation
  as parent, and one per Spark job with its job group as parent. The
  job group is the span id, so every job, stage and task is charged
  to exactly one operation;
* per-layer metrics — task-level counters summed per operation and
  averaged over operations (``trace.*``);
* a reconciliation of the client-side timings with the event log, a
  source independent of them. The client splits each operation's
  wall into contiguous phases (``build`` + ``plan`` + ``exec``, or
  ``run``), so their sum is the wall by construction; what can go
  wrong is the split. Two checks catch it: every job the event log
  charges to ``op<n>.<phase>`` must lie inside that phase's client
  interval, to within ``RECONCILE_TOLERANCE_MS``, and the number of
  jobs the event log charges to an operation must equal the count the
  status tracker gave the client right after it. An operation failing
  either check is a failed operation of the traced run.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# event-log times are whole milliseconds and are stamped on the
# scheduler thread, the client's on the calling thread
RECONCILE_TOLERANCE_MS = 50.0

# Python-exec SQL metrics (PythonSQLMetrics) as named in task accumulables
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_PY_BOOT = ("time to start Python workers", "time to initialize Python workers")

_COUNTERS = (
    "sched_delay_ms", "executor_cpu_ms", "executor_run_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "result_bytes", "python_time_ms", "python_boot_ms",
    "python_bytes_sent", "python_bytes_recv",
)


def _events(event_dir: str):
    """Every event of every log file under ``event_dir`` (Spark writes
    rolling logs as ``eventlog_v2_<app>/events_<n>_<app>``)."""
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(event_dir)
                   for n in names if n.startswith("events_") or
                   n.startswith("local-"))
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _task_counters(ev: dict) -> dict:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    duration = _num(info.get("Finish Time")) - _num(info.get("Launch Time"))
    run = _num(m.get("Executor Run Time"))
    c = {
        # the UI's definition: task time not spent deserializing,
        # running, serializing the result or fetching it
        "sched_delay_ms": max(0.0, duration - run
                              - _num(m.get("Executor Deserialize Time"))
                              - _num(m.get("Result Serialization Time"))
                              - (_num(info.get("Finish Time"))
                                 - _num(info.get("Getting Result Time"))
                                 if _num(info.get("Getting Result Time")) else 0.0)),
        "executor_cpu_ms": _num(m.get("Executor CPU Time")) / 1e6,
        "executor_run_ms": run,
        "gc_ms": _num(m.get("JVM GC Time")),
        "shuffle_write_bytes": _num(sw.get("Shuffle Bytes Written")),
        "shuffle_read_bytes": _num(sr.get("Remote Bytes Read"))
        + _num(sr.get("Local Bytes Read")),
        "spill_bytes": _num(m.get("Memory Bytes Spilled"))
        + _num(m.get("Disk Bytes Spilled")),
        "input_bytes": _num(m.get("Input Metrics", {}).get("Bytes Read")),
        "result_bytes": _num(m.get("Result Size")),
        "python_time_ms": 0.0, "python_boot_ms": 0.0,
        "python_bytes_sent": 0.0, "python_bytes_recv": 0.0,
    }
    for acc in info.get("Accumulables", []):
        name, upd = acc.get("Name"), _num(acc.get("Update"))
        if name == _PY_SENT:
            c["python_bytes_sent"] += upd
        elif name == _PY_RECV:
            c["python_bytes_recv"] += upd
        elif name == _PY_RUN:  # "timing" SQL metrics are in ms
            c["python_time_ms"] += upd
        elif name in _PY_BOOT:
            c["python_boot_ms"] += upd
    return c


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def parse(event_dir: str, ops: list[dict]) -> tuple[list, dict, dict]:
    """Spans, per-layer metrics and the reconciliation for ``ops``
    (the operation records of the traced run)."""
    by_id = {o["id"]: o for o in ops}
    stage_op: dict[int, str] = {}
    job_span: dict[int, dict] = {}
    counters = {i: dict.fromkeys(_COUNTERS, 0.0) for i in by_id}
    for ev in _events(event_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            op_id = group.split(".")[0]
            if op_id not in by_id:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_op.setdefault(sid, op_id)
            job_span[ev["Job ID"]] = {
                "id": f"job{ev['Job ID']}", "parent": group,
                "name": (ev.get("Properties") or {}).get(
                    "spark.job.description", by_id[op_id]["name"]),
                "start": ev["Submission Time"] / 1e3, "end": None,
                "op": op_id,
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            op_id = stage_op.get(ev.get("Stage ID"))
            if op_id is None:
                continue
            for k, v in _task_counters(ev).items():
                counters[op_id][k] += v

    spans = []
    for o in ops:
        spans.append({"id": o["id"], "parent": None, "name": o["name"],
                      "start": o["start"], "end": o["end"]})
        t = o["start"]
        for phase in ("build", "plan", "exec"):
            if f"{phase}_ms" in o:
                spans.append({"id": f"{o['id']}.{phase}", "parent": o["id"],
                              "name": phase, "start": t,
                              "end": t + o[f"{phase}_ms"] / 1e3})
                t += o[f"{phase}_ms"] / 1e3
        if "build_ms" not in o:
            spans.append({"id": f"{o['id']}.run", "parent": o["id"],
                          "name": "run", "start": o["start"], "end": o["end"]})
    spans += [{k: v for k, v in j.items() if k != "op"}
              for j in job_span.values() if j["end"] is not None]

    # reconciliation
    jobs_of = defaultdict(list)
    for j in job_span.values():
        if j["end"] is not None:
            jobs_of[j["op"]].append(j)
    phase_at = {sp["id"]: (sp["start"], sp["end"]) for sp in spans
                if sp["parent"] is not None and not sp["id"].startswith("job")}
    bad, worst, job_frac = [], 0.0, []
    for o in ops:
        # the exec job group is set before the forced executedPlan
        if "build_ms" in o:
            phase_at[f"{o['id']}.exec"] = (phase_at[f"{o['id']}.plan"][0],
                                           phase_at[f"{o['id']}.exec"][1])
        excess_ms = 0.0
        for j in jobs_of.get(o["id"], []):
            lo, hi = phase_at.get(j["parent"], (o["start"], o["start"]))
            excess_ms = max(excess_ms, (lo - j["start"]) * 1e3,
                            (j["end"] - hi) * 1e3)
        worst = max(worst, excess_ms / o["wall_ms"] if o["wall_ms"] else 0.0)
        logged = len(jobs_of.get(o["id"], []))
        if excess_ms > RECONCILE_TOLERANCE_MS:
            bad.append(f"{o['id']} {o['name']}: a job lies {excess_ms:.0f} ms "
                       "outside its phase")
        elif logged != o["jobs"]:
            bad.append(f"{o['id']} {o['name']}: {logged} jobs in the event "
                       f"log, {o['jobs']} in the status tracker")
        iv = [(j["start"], j["end"]) for j in jobs_of.get(o["id"], [])]
        job_frac.append(_union_s(iv) * 1e3 / o["wall_ms"] if o["wall_ms"] else 0.0)
    recon = {
        "tolerance_ms": RECONCILE_TOLERANCE_MS,
        "ops_checked": len(ops),
        "ops_failed": len(bad),
        "failures": bad[:20],
        "max_excess_frac": worst,
        "mean_job_time_frac": sum(job_frac) / len(job_frac) if job_frac else 0.0,
    }
    n = max(len(ops), 1)
    layers = {f"trace.{k}": sum(c[k] for c in counters.values()) / n
              for k in _COUNTERS}
    layers["trace.job_time_frac"] = recon["mean_job_time_frac"]
    layers["trace.reconcile_err"] = recon["max_excess_frac"]
    return spans, layers, recon
