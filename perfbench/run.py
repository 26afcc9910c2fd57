"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is a
detail report (workload-specific metric names, sample counts, table
sizes, driver heap and session settings).

Everything the benchmark reads or writes stays under ``perfbench/``:
the engine's test tables in ``data/``, the generated sf1 mirror and
oracle caches in ``.data/`` (built on first use, reused while their
content hashes match), session scratch, event logs and traces in
``.work/``. The measured run happens in a child process started with
a hermetic session environment:

* the checkout root on the Python workers' path (``PYTHONPATH``), so
  ``mapInPandas`` workers can import the engine;
* ``SPARK_GRAFT_DRIVER_MEM`` (``--driver-memory``) sized to the host,
  since the session default of 16g exceeds a 15 GiB machine;
* ``SPARK_LOCAL_DIRS``, the warehouse, Derby and temp dirs in ``.work/``;
* ``SPARK_GRAFT_CPUS`` = the host's core count, and as many client
  threads on the serving workload;
* with ``--trace 1``, the Spark event log turned on with launch-time
  ``--conf`` flags (the engine's session code is unchanged).

A traced run first repeats the run untraced, so the tracing overhead
is the ratio of the two walls.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 160


def _metrics(spec: list[dict], values: dict) -> dict:
    """``{name: {value, unit}}`` for every metric of a BENCHMARK.json
    list. A layer the workload never exercises reads 0."""
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                        "unit": m["unit"]} for m in spec}


def _child_env(work: str, driver_mem: str, cpus: int, event_dir: str | None):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # no JVM writes its perf-data file under /tmp
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if event_dir:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + event_dir
        confs["spark.eventLog.compress"] = "false"
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"'{a}'" if " " in a else a for a in args) + " pyspark-shell"
    for d in ("spark-local", "tmp", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the child's process group (the child, its JVM and the
    Python workers) and wait until every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        for _ in range(50):
            proc.poll()  # reap the child, or it stays in the group
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
    proc.wait()


def _run_child(args, sf_dir: str, work: str, cpus: int, clients: int,
               event_dir: str | None, deadline: float) -> dict:
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.unlink(out)
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--sf-dir", sf_dir,
           "--work", work, "--clients", str(clients), "--out", out]
    log = open(os.path.join(work, "child.log"), "w")
    proc = subprocess.Popen(
        cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
        env=_child_env(work, args.driver_memory, cpus, event_dir),
        start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        _stop_group(proc)
        log.close()
        for d in ("spark-local", "tmp", "warehouse", "derby"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "child.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"measured run failed (exit {proc.returncode}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-memory", default="4g")
    ap.add_argument("--sf", help="override the workload's scale (smoke tests)")
    args = ap.parse_args()

    for needed in ("metadata_wrangler_spark", os.path.join("tools", "check_oracle.py"),
                   "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from the "
                  "root of a full checkout", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import inputs
    import tracelog
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; expected one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]
    sf = args.sf or cls.sf
    sf_dir = inputs.ensure_mirror(sf, ROOT)
    cls.prepare(sf_dir)

    cpus = len(os.sched_getaffinity(0))
    clients = cpus
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # data preparation (first run of a checkout only) is not charged
    # to the measured runs; a traced run fits two of them in the limit
    t_ready = time.monotonic()
    budget = CHILD_TIMEOUT_S / (2 if args.trace else 1)
    res = _run_child(args, sf_dir, work, cpus, clients, None, t_ready + budget)
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": sf,
        "seconds": args.seconds, "cpus": cpus, "clients": clients,
        "driver_memory": args.driver_memory,
        "tables": inputs.describe(sf_dir),
        **res["detail"],
        "end_to_end": _metrics(spec["end_to_end"], res),
    }
    runs = [res]
    if args.trace:
        event_dir = os.path.join(work, "eventlog")
        os.makedirs(event_dir)
        traced_work = work + "-traced"
        shutil.rmtree(traced_work, ignore_errors=True)
        os.makedirs(traced_work)
        traced = _run_child(args, sf_dir, traced_work, cpus, clients,
                            event_dir, t_ready + CHILD_TIMEOUT_S)
        runs.append(traced)
        spans, layer_trace, recon = tracelog.parse(event_dir, traced["ops"])
        # an operation whose timings the event log contradicts failed
        traced["failed"] += recon["ops_failed"]
        traced["failures"] += [f"reconcile: {f}" for f in recon["failures"]]
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"spans": spans, "reconcile": recon}, f)
        layers = {**traced["layers"], **layer_trace,
                  "op_error_frac": traced["failed"] / traced["attempted"],
                  "trace.overhead_frac":
                      res["ops_per_s"] / traced["ops_per_s"] - 1.0}
        detail["trace_file"] = os.path.relpath(
            os.path.join(work, "trace.json"), ROOT)
        detail["reconcile"] = recon
        metrics = _metrics(spec["per_layer"], layers)
    else:
        metrics = _metrics(spec["end_to_end"], res)
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    failures = [f for r in runs for f in r["failures"]]
    detail["failures"] = failures[:20]
    detail["op_error_frac"] = failed / attempted
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0 and not failures,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
