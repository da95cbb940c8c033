"""One workload run inside the launch environment run.py prepares.

Usage (run.py starts it): python3 perfbench/workload.py --workload NAME
    --seed N --seconds S --trace 0|1 --run-dir DIR --repo DIR --out FILE

Writes the run's raw result as JSON to ``--out``; run.py turns it into the
benchmark's output. Exits non-zero, without writing ``--out``, when the
workload cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import measure
import procs

#: Scale factor of the generated tables for the batch workload. The
#: per-query fixed cost dominates at every scale up to sf0.1 on 4 cores;
#: the smallest fixture scale keeps the warm-up passes, which compile and
#: run every query, inside the run's time budget.
SF = 0.001


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("query_mix", "topic_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--repo", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    tracer = measure.Tracer(enabled=bool(a.trace))

    sf_dir = os.path.join(a.run_dir, "data")
    if a.workload == "query_mix":
        import datagen

        datagen.write(sf_dir, SF, a.seed)

    # Set-up starts before pyspark is imported: the import is part of it.
    setup = SetupClock()
    with tracer.span("get_spark", "setup"):
        from lagom_kinesis_spark.session import get_spark

        spark = get_spark("perfbench")
    get_spark_s = time.time() - setup.t0
    import batch
    import sparkobs
    import stream

    recorder = None
    if tracer.enabled:
        recorder = sparkobs.ProgressRecorder()
        spark.streams.addListener(recorder)
    try:
        if a.workload == "query_mix":
            res = batch.run(spark, a.repo, sf_dir, a.seed, a.seconds, tracer, setup.done)
        else:
            res = stream.run(spark, a.run_dir, a.seed, a.seconds, tracer, setup.done)
        res["end_to_end"]["retained_heap_mb"] = (sparkobs.retained_heap_mb(spark), "MB")
    finally:
        spark.stop()

    res["setup_s"] = setup.cpu_s
    res["end_to_end"]["setup_wall_s"] = (setup.wall_s, "s")
    res["layers"]["session.get_spark_s"] = get_spark_s
    if tracer.enabled:
        res["layers"].update(sparkobs.stream_layers(recorder.progress, *res["window"]))
        res["layers"].update(_traced_layers(res, os.path.join(a.run_dir, "eventlog")))
        res["self_time_s"] = measure.self_time_by_name(tracer.spans)
        res["spans"] = tracer.to_json()
    for k in ("call_windows", "force_windows"):
        res.pop(k, None)
    with open(a.out, "w") as f:
        json.dump(res, f)


class SetupClock:
    """Set-up, from its start to the workload's first result (``done``; later
    calls change nothing): the CPU seconds of the run's process tree, JIT
    compiler threads left out, and the wall seconds."""

    def __init__(self) -> None:
        self.t0 = time.time()
        self._ticks0 = procs.cpu_ticks(os.getpid())
        self.cpu_s = self.wall_s = None

    def done(self) -> None:
        if self.wall_s is None:
            self.wall_s = time.time() - self.t0
            self.cpu_s = procs.cpu_seconds(self._ticks0, procs.cpu_ticks(os.getpid()))


def _traced_layers(res: dict, log_dir: str) -> dict:
    import sparkobs

    jobs, tasks = sparkobs.read_eventlog(log_dir)
    calls = res.get("call_windows", [])
    if calls:  # batch: each query's Query.fn call and its force
        windows = calls + res["force_windows"]
    else:  # stream: everything inside the timed window
        windows = [tuple(res["window"])]
    out = sparkobs.job_layers(jobs, tasks, windows, res["units"])
    out["registry.call_jobs"] = sparkobs.count_jobs(jobs, calls) / max(res["units"], 1)
    return out


if __name__ == "__main__":
    main()
