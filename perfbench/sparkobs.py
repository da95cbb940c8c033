"""Read the Spark layer under the engine through public Spark surfaces: the
QueryExecution phase tracker, py4j round trips, a StreamingQueryListener,
the event log and the JVM's heap. Only traced runs use the listener, the
py4j counter and the event log."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

import measure


def noop_write(df) -> None:
    """Compute every output column and write nothing (bench.py's force)."""
    df.write.mode("overwrite").format("noop").save()


def force(df, tracer: measure.Tracer, write=noop_write) -> dict:
    """Run ``write(df)`` inside a ``force`` span. Traced runs first build
    the frame's executed plan in a ``spark.plan`` span so its tracker holds
    all three Catalyst phases, and return them in ms."""
    with tracer.span("force"):
        if not tracer.enabled:
            write(df)
            return {}
        qe = df._jdf.queryExecution()
        with tracer.span("spark.plan"):
            qe.executedPlan()
        with tracer.span("spark.write"):
            write(df)
    return phases(qe)


def phases(qe) -> dict[str, float]:
    """``analysis``/``optimization``/``planning`` durations (ms) of a
    QueryExecution's tracker."""
    out: dict[str, float] = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after full collections: what the run
    left reachable (cached plans, state stores, sessions, views). Collects
    until two readings agree: what one collection frees lets the
    ContextCleaner release more for the next, and that takes up to three
    rounds when the run ended with work still queued."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(10):
        jvm.System.gc()
        time.sleep(0.5)  # let the ContextCleaner drop what the GC freed
        used = bean.getHeapMemoryUsage().getUsed() / (1 << 20)
        if last is not None and abs(used - last) < 0.1:
            break
        last = used
    return used


class Py4jCounter:
    """Counts Python->JVM round trips by wrapping the gateway client's
    ``send_command``. Installed only in traced runs."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self._lock = threading.Lock()
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def counting(*a, **kw):
            with self._lock:
                self.calls += 1
            return inner(*a, **kw)

        client.send_command = counting


class ProgressRecorder(StreamingQueryListener):
    """Keeps every StreamingQueryProgress (as parsed JSON) with the wall
    time it arrived."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        p["_seen"] = time.time()
        self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def stream_layers(progress: list[dict], lo: float, hi: float) -> dict[str, float]:
    """Mean per-trigger durations and state figures of the progress events
    that arrived in [lo, hi] and read input."""
    ps = [p for p in progress if lo <= p["_seen"] <= hi and p.get("numInputRows", 0)]
    keys = {
        "spark.stream.latest_offset_ms": "latestOffset",
        "spark.stream.add_batch_ms": "addBatch",
        "spark.stream.query_planning_ms": "queryPlanning",
        "spark.stream.wal_commit_ms": "walCommit",
        "spark.stream.commit_offsets_ms": "commitOffsets",
        "spark.stream.trigger_ms": "triggerExecution",
    }
    out = {k: measure.mean([p["durationMs"].get(d, 0) for p in ps]) for k, d in keys.items()}
    ops = [p.get("stateOperators") or [] for p in ps]
    out["spark.stream.state_commit_ms"] = measure.mean(
        [sum(o.get("commitTimeMs", 0) for o in op) for op in ops]
    )
    out["spark.stream.state_rows"] = measure.mean(
        [sum(o.get("numRowsTotal", 0) for o in op) for op in ops]
    )
    out["spark.stream.triggers"] = float(len(ps))
    return out



def read_eventlog(log_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """Jobs (id, submission time in s, stage ids) and the finished tasks of
    each stage, from the event log(s) in ``log_dir``."""
    jobs: list[dict] = []
    tasks: dict[int, list[dict]] = {}
    # Spark 4 writes each application's log as a directory of event files.
    for path in glob.glob(f"{log_dir}/**/*", recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({
                        "id": ev["Job ID"],
                        "t": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    })
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    return jobs, tasks


def job_layers(jobs: list[dict], tasks: dict[int, list[dict]],
               windows: list[tuple[float, float]], per: int) -> dict[str, float]:
    """Jobs, stages, tasks and executor totals of the jobs submitted inside
    any of ``windows``, divided by ``per`` (queries or batches run)."""
    picked = [j for j in jobs if any(lo <= j["t"] <= hi for lo, hi in windows)]
    stages = sorted({s for j in picked for s in j["stages"] if s in tasks})
    ts = [t for s in stages for t in tasks[s]]
    skews = []
    for s in stages:
        ms = [t["ms"] for t in tasks[s]]
        if len(ms) > 1 and statistics.median(ms) > 0:
            skews.append(max(ms) / statistics.median(ms))
    n = max(per, 1)
    return {
        "spark.jobs": len(picked) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": len(ts) / n,
        "spark.executor_run_ms": sum(t["run_ms"] for t in ts) / n,
        "spark.executor_cpu_ms": sum(t["cpu_ms"] for t in ts) / n,
        "spark.jvm_gc_ms": sum(t["gc_ms"] for t in ts) / n,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in ts) / n,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in ts) / n,
        "spark.spill_bytes": sum(t["spill"] for t in ts) / n,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }


def count_jobs(jobs: list[dict], windows: list[tuple[float, float]]) -> int:
    return sum(1 for j in jobs if any(lo <= j["t"] <= hi for lo, hi in windows))
