"""The repository's benchmark: one command, one workload per run.

Usage (from the repository root):
    python3 perfbench/run.py --workload query_mix|topic_stream --seed N
        --seconds S --trace 0|1

It prepares the launch environment from the machine (cores, memory,
``PYTHONPATH``), starts the workload (workload.py) in a new session,
samples the memory of the workload's process tree, enforces a deadline,
stops every process the run started and waits for it, and removes the
run's scratch directory and anything the run left under the engine's fixed
``/tmp`` scratch root. The second-to-last line of output is the full report (every
metric, the checks, the environment); the last line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
#: The run is killed, and fails, after this many seconds.
DEADLINE_S = 170.0
#: Scratch root the engine hard-codes for checkpoints and staging.
ENGINE_TMP = "/tmp/lagom_kinesis_spark"


def launch_env(repo: str, run_dir: str, trace: bool) -> dict[str, str]:
    """The workload's environment: sized from the machine it runs on, with
    every scratch location inside the run directory."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = _mem_total_mb() // 4
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        # Compiler threads that live as long as the JVM: the CPU metrics
        # leave out the JIT threads by their per-thread times.
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={os.path.join(run_dir, 'eventlog')}",
            "--conf", "spark.eventLog.compress=false",
        ]
        os.makedirs(os.path.join(run_dir, "eventlog"))
    env = dict(os.environ)
    # Engine toggles the benchmark leaves at their defaults.
    for k in ("SPARK_GRAFT_GC_NUDGE", "SPARK_GRAFT_STREAM_UNLOAD"):
        env.pop(k, None)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        # Shuffle and spill files on disk inside the run directory, not on
        # /dev/shm, whatever the size of /dev/shm.
        "SPARK_GRAFT_SHM": "0",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # Spark's Python workers import the kinesis_sim DataSource from the
        # repository.
        "PYTHONPATH": os.pathsep.join(
            [repo, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    })
    return env


def cpu_times() -> list[int]:
    """The machine's cumulative CPU times (``/proc/stat``): user, nice,
    system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def run_workload(a, repo: str, run_dir: str) -> tuple[dict | None, float, dict]:
    """Run workload.py; return its result (None if it failed), the peak
    resident size of its process tree and the recorded launch environment."""
    env = launch_env(repo, run_dir, bool(a.trace))
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--run-dir", run_dir, "--repo", repo, "--out", out]
    t0 = time.time()
    # The workload's own output goes to stderr: stdout carries the result.
    child = subprocess.Popen(cmd, env=env, cwd=repo, stdout=sys.stderr,
                             start_new_session=True)
    peak = 0.0
    seen: set[int] = {child.pid}
    try:
        while child.poll() is None:
            tree = procs.snapshot(child.pid)
            seen |= set(tree)
            peak = max(peak, procs.rss_mb(tree))
            if time.time() - t0 > DEADLINE_S:
                print(f"workload passed its {DEADLINE_S:.0f} s deadline", file=sys.stderr)
                break
            time.sleep(0.2)
    finally:
        procs.stop(seen, child.pid)
        child.wait()
    recorded = {k: env[k] for k in (
        "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_GRAFT_SHM",
        "PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    if child.returncode != 0 or not os.path.exists(out):
        return None, peak, recorded
    with open(out) as f:
        return json.load(f), peak, recorded


def _engine_tmp_entries() -> set[str]:
    found: set[str] = set()
    if os.path.isdir(ENGINE_TMP):
        for d in os.listdir(ENGINE_TMP):
            sub = os.path.join(ENGINE_TMP, d)
            found.add(sub)
            if os.path.isdir(sub):
                found.update(os.path.join(sub, e) for e in os.listdir(sub))
    return found


def _remove_new(before: set[str]) -> None:
    """Remove what the run added under the engine's fixed /tmp root."""
    for p in sorted(_engine_tmp_entries() - before, key=len):
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.lexists(p):
            os.remove(p)
    if os.path.isdir(ENGINE_TMP) and not os.listdir(ENGINE_TMP) and not before:
        os.rmdir(ENGINE_TMP)


def _remove_dead_runs(runs: str) -> None:
    """Remove run directories whose benchmark process no longer exists."""
    if not os.path.isdir(runs):
        return
    for d in os.listdir(runs):
        pid = int(d.rsplit("-", 1)[1])
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # Run the cleanup below on SIGTERM too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    repo = os.getcwd()
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(repo, "lagom_kinesis_spark")):
        print("no engine to benchmark: lagom_kinesis_spark/ is missing", file=sys.stderr)
        return 2

    runs = os.path.join(repo, ".perfbench_run")
    _remove_dead_runs(runs)
    run_dir = os.path.join(runs, f"{a.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    before = _engine_tmp_entries()
    cpu0 = cpu_times()
    try:
        res, peak, env = run_workload(a, repo, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        _remove_new(before)
        if not os.listdir(runs):
            os.rmdir(runs)
    if res is None:
        print("workload failed; no result", file=sys.stderr)
        return 1

    used = [b - a for a, b in zip(cpu0, cpu_times())]
    e2e = {k: {"value": v, "unit": u} for k, (v, u) in res["end_to_end"].items()}
    e2e.update({
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "peak_rss_mb": {"value": peak, "unit": "MB"},
        "error_rate": {"value": res["failed"] / max(res["attempted"], 1), "unit": "ratio"},
    })
    layers = res["layers"]
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in e2e]
    if missing:
        print(f"workload {a.workload} measured no {missing}", file=sys.stderr)
        return 1
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "env": env, "end_to_end": e2e, "layers": layers,
        "checks": res["checks"], "detail": res["detail"],
        "self_time_s": res.get("self_time_s"),
        # Share of the machine's CPU time the hypervisor gave to other
        # guests during the run: a validity figure for wall-clock metrics.
        "cpu_steal_share": used[7] / max(sum(used[:8]), 1),
    }
    if a.trace:
        spans_out = os.path.join(repo, ".perfbench_out")
        os.makedirs(spans_out, exist_ok=True)
        with open(os.path.join(spans_out, f"spans-{a.workload}.json"), "w") as f:
            json.dump(res["spans"], f)
        # A layer the workload does not use reports zero (a count).
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]["value"]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps(report))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
