"""Benchmark of the dachshund_spark link-graph engine.

Run from the repository root::

    python3 perfbench/run.py --workload dense_uniform --seed 1 --seconds 15 --trace 0

Each run starts ``perfbench/workload.py`` in a fresh process, with the
environment pinned here rather than in the program: ``local[nproc]``,
a fixed driver memory, Spark scratch and warehouse under
``.perfbench/work`` (emptied before and after the run), and the
repository on ``PYTHONPATH`` for the pandas-UDF workers.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
``--trace 1`` runs the workload twice, untraced and then with Spark's
event log switched on through ``PYSPARK_SUBMIT_ARGS``, folds the log
onto the benchmark's job groups and prints the per-layer metrics,
including the tracing overhead (traced minus untraced ``run_s``).
Spans and the fold are written to ``.perfbench/out/``.  The last line of
standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

import eventlog
import procfs

WORKLOADS = ("dense_uniform", "crawl_ingest")
DRIVER_MEMORY = "3g"
RUN_DEADLINE_S = 170  # every run, traced or not, ends within this
PR_SET_CHILD_SUBREAPER = 36


def pinned_env(root: str, work: str, traced: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # compiler threads that come and go would take their CPU time out of
    # the per-thread JIT total that cpu_s subtracts: keep them all alive.
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads "
                 "-XX:-UsePerfData")
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--driver-java-options", java_opts]
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # the JVM spark-submit runs first
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
    })
    return env


def stop_descendants(grace_s: float = 10.0) -> None:
    """Terminate every process left under this one and wait for each.

    This process is a child subreaper, so the JVM and the Python workers
    of a finished or killed workload process are re-parented here."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in procfs.descendants(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                return  # no children left
            if not procfs.descendants(me):
                return
            time.sleep(0.1)


def run_child(args, root: str, work: str, traced: bool, deadline: float) -> dict:
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(root, "perfbench", "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--work", os.path.join(work, "w"),
           "--out", out] + (["--extras"] if traced else [])
    proc = subprocess.Popen(cmd, cwd=root, env=pinned_env(root, work, traced),
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError(f"workload process passed the {RUN_DEADLINE_S} s deadline")
    finally:
        stop_descendants()
    if code != 0:
        raise RuntimeError(f"workload process exited with code {code}")
    with open(out) as fh:
        return json.load(fh)


def fold_layers(res: dict, events_dir: str) -> tuple[dict, dict]:
    """spark.* per-layer metrics of one timed pass from the event log:
    for each call, the median over its timed samples; summed over the
    calls of a pass (peak execution memory: the largest)."""
    logs = os.listdir(events_dir)
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    groups = eventlog.fold(os.path.join(events_dir, logs[0]))
    timed = [s for s in res["spans"] if s["parent"] is None and s["group"].startswith("timed/")]
    keys = ["jobs", "stages", "tasks", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes"] + list(eventlog.STAGE_SQL_SUMS)
    per_call: dict[str, dict[str, list]] = {}
    for s in timed:
        g = groups.get(s["group"], eventlog.empty_group())
        row = {k: g[k] for k in keys}
        row["driver_gap_s"] = s["seconds"] - eventlog.covered_s(g["stage_spans"], s["start"], s["end"])
        for k, v in row.items():
            per_call.setdefault(s["name"], {}).setdefault(k, []).append(v)
    layers = {}
    for k in keys + ["driver_gap_s"]:
        meds = [statistics.median(c[k]) for c in per_call.values()]
        layers[f"spark.{k}"] = max(meds) if k == "peak_exec_mem_bytes" else sum(meds)
    return layers, groups


def main() -> int:
    ap = argparse.ArgumentParser(description="dachshund_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dachshund_spark", "__init__.py")):
        print("perfbench: run from the repository root (dachshund_spark/ not found)",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    deadline = time.monotonic() + RUN_DEADLINE_S
    # a terminated run still stops its processes and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    work = os.path.join(root, ".perfbench", "work")
    out_dir = os.path.join(root, ".perfbench", "out",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}")
    for d in (work, out_dir):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out_dir)
    load_start, steal0, t0 = os.getloadavg(), procfs.steal_s(), time.monotonic()
    try:
        runs = [run_child(args, root, os.path.join(work, "untraced"), False, deadline)]
        if args.trace:
            traced_work = os.path.join(work, "traced")
            runs.append(run_child(args, root, traced_work, True, deadline))
            fold, groups = fold_layers(runs[1], os.path.join(traced_work, "events"))
            with open(os.path.join(out_dir, "eventlog_fold.json"), "w") as fh:
                json.dump(groups, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()
    steal = (procfs.steal_s() - steal0) / (time.monotonic() - t0)
    res = runs[-1]
    with open(os.path.join(out_dir, "spans.json"), "w") as fh:
        json.dump([r["spans"] for r in runs], fh)

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    values = dict(res["e2e"])
    values["error_rate"] = failed / attempted
    if args.trace:
        values.update(res["layers"])
        values.update(fold)
        values["trace.overhead_s"] = res["e2e"]["run_s"] - runs[0]["e2e"]["run_s"]
    env = dict(res["env"], loadavg_start=load_start[0], loadavg_end=load_end[0],
               steal_cpus=round(steal, 3))
    print("perfbench env:", json.dumps(env))
    print("perfbench inputs:", json.dumps(res["inputs"]))
    print("perfbench setup:", json.dumps(res["setup_parts"]))
    print(f"perfbench timed: {res['passes']} passes, {res['timed_calls']} calls in "
          f"{res['timed_loop_s']:.1f} s; jobs per pass (status tracker): "
          f"{res['jobs_per_pass']:g}; JIT compiler CPU per pass: {res['jit_cpu_per_pass_s']:.2f} s")
    print("perfbench values:", json.dumps(values))
    for p in (p for r in runs for p in r["problems"]):
        print("perfbench problem:", p[:500])

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
               for m in spec[kind]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
