"""One measured run of one workload, in its own process.

``run.py`` starts this file with the session environment already set
(worker path, driver memory, local dirs, optional event log), so the
JVM this process launches is configured before it starts. The run:

1. sets the session up once, cold (``get_spark``, ``load_all_plans``,
   ``catalog.load`` of every table, the workload's fixtures), and
   keeps the time of each step;
2. runs the workload's closed loop for ``--seconds``, timing every
   operation from outside the engine: each operation runs under its
   own job group, and the job, stage and task counts of that group
   are read back from the status tracker;
3. checks every output (untimed) and writes a JSON result file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

# job group for work between operations (checks, bookkeeping)
UNTIMED = "untimed"


def _log(msg: str) -> None:
    """Progress line for the run's child.log."""
    print(msg, file=sys.stderr, flush=True)


class RssSampler(threading.Thread):
    """Peak resident memory of the Python processes of this run: this
    driver process and the Python workers its JVM forks, sampled from
    /proc. The JVM is left out: its resident size follows the
    collector's heap sizing (it varied by ±15% between identical runs)
    and its heap is capped by the driver memory setting; storage
    memory inside it is reported as ``cache.storage_bytes``."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def tree_rss_kb(root: int) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
            pid = int(name)
            comm, rest = stat.split("(", 1)[1].rsplit(")", 1)
            parent[pid] = int(rest.split()[1])
            if comm.startswith("python"):
                rss[pid] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
        total = 0
        for pid, kb in rss.items():
            p = pid
            while p and p != root:
                p = parent.get(p, 0)
            if p == root:
                total += kb
        return total

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_rss_kb(me))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


class Recorder:
    """Operation log shared by every client thread of one run.

    Each operation is a span (``op<n>``) with child spans for the
    phases the caller timed; its Spark jobs carry ``op<n>.<phase>``
    as job group, so the event-log parser can attribute every job,
    stage and task to its operation."""

    def __init__(self, spark):
        self.spark = spark
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self._lock = threading.Lock()
        self._seq = 0
        self.storage_peak = 0

    def _next_id(self) -> str:
        with self._lock:
            self._seq += 1
            return f"op{self._seq}"

    def _counts(self, groups: list[str]) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = failed = 0
        per_group = {}
        for g in groups:
            ids = st.getJobIdsForGroup(g)
            per_group[g] = len(ids)
            for jid in ids:
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    s = st.getStageInfo(sid)
                    if s is None:
                        continue
                    stages += 1
                    tasks += s.numTasks
                    failed += s.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "failed_tasks": failed, "per_group": per_group}

    def _storage_bytes(self) -> int:
        sc = self.spark.sparkContext
        total = 0
        for info in sc._jsc.sc().getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        return total

    def record(self, op: dict) -> None:
        with self._lock:
            self.ops.append(op)

    def fail(self, name: str, why: str) -> None:
        with self._lock:
            self.failures.append(f"{name}: {why}")

    def query(self, name: str, kind: str, build, client: int = 0):
        """Time one DataFrame-producing operation in three phases:
        ``build`` (the plan call, eager driver jobs included), ``plan``
        (a forced ``executedPlan``) and ``exec`` (``collect`` with the
        result transfer). Returns (op record, columns, rows)."""
        sc = self.spark.sparkContext
        op_id = self._next_id()
        start = time.time()
        sc.setJobGroup(f"{op_id}.build", name)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        sc.setJobGroup(f"{op_id}.exec", name)
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        t3 = time.perf_counter()
        sc.setJobGroup(UNTIMED, "")
        counts = self._counts([f"{op_id}.build", f"{op_id}.exec"])
        self.storage_peak = max(self.storage_peak, self._storage_bytes())
        op = {
            "id": op_id, "name": name, "kind": kind, "client": client,
            "start": start, "end": start + (t3 - t0),
            "wall_ms": (t3 - t0) * 1e3,
            "build_ms": (t1 - t0) * 1e3,
            "plan_ms": (t2 - t1) * 1e3,
            "exec_ms": (t3 - t2) * 1e3,
            "build_jobs": counts["per_group"][f"{op_id}.build"],
            "rows": len(rows),
            **{k: counts[k] for k in ("jobs", "stages", "tasks", "failed_tasks")},
        }
        self.record(op)
        return op, [c.lower() for c in df.columns], rows

    def action(self, name: str, kind: str, fn, client: int = 0):
        """Time one operation that performs its own actions (a commit,
        a refresh, a compaction). Returns (op record, fn's result)."""
        sc = self.spark.sparkContext
        op_id = self._next_id()
        start = time.time()
        sc.setJobGroup(f"{op_id}.run", name)
        t0 = time.perf_counter()
        result = fn()
        t1 = time.perf_counter()
        sc.setJobGroup(UNTIMED, "")
        counts = self._counts([f"{op_id}.run"])
        op = {
            "id": op_id, "name": name, "kind": kind, "client": client,
            "start": start, "end": start + (t1 - t0),
            "wall_ms": (t1 - t0) * 1e3,
            **{k: counts[k] for k in ("jobs", "stages", "tasks", "failed_tasks")},
        }
        self.record(op)
        return op, result


def setup_session(sf_dir: str, workload):
    """Set the session up once, cold: this process has not launched a
    JVM or imported the plan modules yet, which is the set-up a user
    pays. Returns (spark, fixtures, set-up seconds, per-layer
    timings)."""
    from metadata_wrangler_spark import catalog, plans
    from metadata_wrangler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    plans.load_all_plans()
    t2 = time.perf_counter()
    catalog.load_all(spark, sf_dir)
    t3 = time.perf_counter()
    fixtures = workload.setup(spark, sf_dir)
    t4 = time.perf_counter()
    _log(f"setup: get_spark {t1 - t0:.2f} plans {t2 - t1:.2f} "
         f"catalog {t3 - t2:.2f} fixtures {t4 - t3:.2f}")
    layers = {
        "session.get_spark_s": t1 - t0,
        "plans.load_all_plans_ms": (t2 - t1) * 1e3,
        "catalog.load_ms": (t3 - t2) * 1e3,
    }
    return spark, fixtures, t4 - t0, layers


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--clients", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import workloads

    workload = workloads.WORKLOADS[args.workload](args)
    t_phase = time.perf_counter()
    spark, fixtures, setup_s, layers = setup_session(args.sf_dir, workload)
    _log(f"phase setup {time.perf_counter() - t_phase:.1f}s")
    rec = Recorder(spark)
    t_phase = time.perf_counter()
    workload.warm(spark, fixtures, rec)
    _log(f"phase warm {time.perf_counter() - t_phase:.1f}s")
    rec.ops.clear()
    rec.storage_peak = 0
    sampler = RssSampler()
    sampler.start()
    t0 = time.perf_counter()
    try:
        workload.measure(spark, fixtures, rec, args.seconds)
    finally:
        sampler.stop()
    wall = time.perf_counter() - t0
    t_phase = time.perf_counter()
    result = workload.check_and_summarize(spark, fixtures, rec, wall)
    _log(f"phase check {time.perf_counter() - t_phase:.1f}s")
    result["setup_s"] = setup_s
    result["peak_rss_mb"] = sampler.peak_kb / 1024.0
    result["layers"].update(layers)
    result["layers"]["cache.storage_bytes"] = float(rec.storage_peak)
    result["ops"] = rec.ops
    result["failures"] = rec.failures
    workload.teardown(spark, fixtures)
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
