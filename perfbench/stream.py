"""``topic_stream``: an open-loop producer and one at-least-once consumer
group on the engine's Topic/Subscriber layer over a ``kinesis_sim`` stream.

A separate generator process (producer.py) appends records with
``put_records`` at a fixed rate. One ``Topic(source_format="kinesis_sim")``
consumer group runs ``Subscriber.at_least_once`` with a zero-second
processing-time trigger; its flow parses each record and appends it to a
parquet sink, and Spark commits the batch's offsets after the flow
returns. The producer first puts one priming tick; the timed window, and
the producer's schedule, start once the consumer has delivered it, so the
window does not open on a backlog.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq

import measure
import procs
import sparkobs
from producer import RATE

PAYLOAD = "id long, key int, kseq long, t double"


def start_producer(stream_dir: str, seed: int, out: str) -> subprocess.Popen:
    here = os.path.dirname(os.path.abspath(__file__))
    return subprocess.Popen(
        [sys.executable, os.path.join(here, "producer.py"),
         "--stream", stream_dir, "--seed", str(seed), "--out", out],
        stdin=subprocess.PIPE,
    )


def send(proc: subprocess.Popen, line: str) -> None:
    proc.stdin.write(line.encode() + b"\n")
    proc.stdin.flush()


def stop_producer(proc: subprocess.Popen, out: str) -> dict:
    send(proc, "stop")
    proc.stdin.close()
    if proc.wait(timeout=60) != 0:
        raise RuntimeError(f"producer exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def check_sink(rows, generated: int, tips: dict[str, int]) -> dict:
    """Delivery checks over the sink's rows (a pandas frame): every
    generated id arrives, every payload parses, each shard's sequence
    numbers are contiguous from 0 to its tip, and each key's records
    arrive in the order the producer created them. Duplicates are
    redeliveries, which at-least-once allows; they are counted, not
    failed."""
    corrupt = int(rows[["id", "key", "kseq", "t"]].isna().any(axis=1).sum())
    ok = rows.dropna(subset=["id", "key", "kseq", "t"])
    first = ok.sort_values(["epoch", "shard_id", "sequence_number"]).drop_duplicates("id")
    lost = generated - int(first["id"].between(0, generated - 1).sum())
    gaps = 0
    for shard, tip in tips.items():
        seqs = set(first.loc[first["shard_id"] == shard, "sequence_number"])
        gaps += len(set(range(tip)) ^ seqs)
    misordered = 0
    for key, grp in first.groupby("key"):
        if grp["shard_id"].nunique() != 1 or (
            grp["partition_key"] != f"k{int(key):02d}"
        ).any():
            misordered += len(grp)
            continue
        # Arrival order: by batch, then by position in the shard.
        kseq = grp.sort_values(["epoch", "sequence_number"])["kseq"].tolist()
        misordered += sum(1 for a, b in zip(kseq, kseq[1:]) if b <= a)
    return {
        "generated": generated,
        "lost": lost,
        "corrupt": corrupt,
        "shard_gaps": gaps,
        "misordered": misordered,
        "redeliveries": len(ok) - len(first),
        # A lost record also leaves a gap in its shard; count each once.
        "failed": lost + corrupt + misordered + max(0, gaps - lost),
    }


def run(spark, run_dir: str, seed: int, seconds: float, tracer: measure.Tracer,
        setup_done) -> dict:
    from pyspark.sql import functions as F

    from lagom_kinesis_spark.sources.kinesis_sim import SCHEMA, KinesisSimDataSource
    from lagom_kinesis_spark.streaming.topics import Topic

    stream_dir = os.path.join(run_dir, "stream")
    sink = os.path.join(run_dir, "sink")
    ticks_out = os.path.join(run_dir, "ticks.json")
    spark.dataSource.register(KinesisSimDataSource)

    began: dict[int, float] = {}  # epoch -> flow call time
    delivered: dict[int, float] = {}  # epoch -> flow return time
    forced: dict[int, tuple[float, float, dict]] = {}  # epoch -> force span
    first_batch = threading.Event()

    def append(df) -> None:
        df.write.mode("append").parquet(sink)

    def flow(df, epoch_id: int) -> None:
        began[epoch_id] = time.time()
        with tracer.span("flow", f"batch:{epoch_id}"):
            parsed = df.select(
                F.from_json("data", PAYLOAD).alias("r"),
                "partition_key", "sequence_number", "shard_id",
            ).select("r.*", "partition_key", "sequence_number", "shard_id",
                     F.lit(epoch_id).alias("epoch"))
            t0 = time.time()
            phases = sparkobs.force(parsed, tracer, append)
            forced[epoch_id] = (t0, time.time(), phases)
        delivered[epoch_id] = time.time()
        first_batch.set()

    topic = Topic(
        name="bench", schema=SCHEMA, spark=spark, source_path=stream_dir,
        source_format="kinesis_sim",
        checkpoint_base=os.path.join(run_dir, "checkpoints"),
    )
    sub = topic.subscribe("bench-group")
    sub.processing_time = "0 seconds"
    errors: list[Exception] = []

    def consume() -> None:
        try:
            sub.at_least_once(flow)
        except Exception as e:  # raised again below, on the main thread
            errors.append(e)
            first_batch.set()

    producer = start_producer(stream_dir, seed, ticks_out)
    consumer = threading.Thread(target=consume, name="subscriber")
    try:
        consumer.start()
        if not first_batch.wait(timeout=120) or errors:
            raise RuntimeError(f"no first batch: {errors}")
        setup_done()
        send(producer, "go")
        win_lo = time.time()
        ticks0 = procs.cpu_ticks(os.getpid())
        time.sleep(seconds)
        cpu_s = procs.cpu_seconds(ticks0, procs.cpu_ticks(os.getpid()))
        win_hi = time.time()
        prod = stop_producer(producer, ticks_out)
        _await_offsets(spark, prod["tips"], errors)
    finally:
        if producer.poll() is None:
            producer.kill()
            producer.wait()
        for q in spark.streams.active:
            q.stop()
        consumer.join(timeout=60)
    if errors:
        raise RuntimeError(f"subscriber failed: {errors[0]!r}")

    rows = pq.read_table(sink).to_pandas()
    verdict = check_sink(rows, prod["generated"], prod["tips"])

    rows = rows.dropna(subset=["t"])
    rows = rows[rows["epoch"].isin(list(delivered))]
    rows = rows.assign(done=rows["epoch"].map(delivered))
    in_win = rows[(rows["t"] >= win_lo) & (rows["t"] <= win_hi)]
    lat_ms = (in_win["done"] - in_win["t"]) * 1000.0
    deliver = measure.summary(lat_ms.tolist())
    # Records of one batch share one commit, so the tail counts one sample
    # per batch: the latency of its oldest record.
    deliver_tail = measure.summary(lat_ms.groupby(in_win["epoch"]).max().tolist())
    window = [t for t in prod["ticks"] if win_lo <= t["due"] <= win_hi]
    publish = measure.summary([(t["end"] - t["due"]) * 1000.0 for t in window])
    late = [(t["start"] - t["due"]) * 1000.0 for t in window]
    batches = [e for e, t in delivered.items() if win_lo <= t <= win_hi]
    per_batch = rows[rows["epoch"].isin(batches)].groupby("epoch").size()
    win_forces = [forced[e] for e in batches]

    for t in prod["ticks"]:
        tracer.add("put_records", t["start"], t["end"], f"tick:{t['first_id']}")

    out = {
        "window": (win_lo, win_hi),
        "attempted": verdict["generated"],
        "failed": verdict["failed"],
        "checks": verdict,
        "end_to_end": {
            "deliver_p50_ms": (deliver["p50"], "ms"),
            "deliver_tail_ms": (deliver_tail["tail"], "ms"),
            "delivered_per_s": (_rate(delivered, per_batch, batches), "rec/s"),
            "publish_p50_ms": (publish["p50"], "ms"),
            "publish_tail_ms": (publish["tail"], "ms"),
            # per 1000 records delivered in the window
            "cpu_cost_ms": (1e6 * cpu_s / max(int(per_batch.sum()), 1), "ms"),
        },
        "detail": {"deliver": deliver, "deliver_batch_max": deliver_tail, "publish": publish,
                   "offered_per_s": RATE, "window_s": win_hi - win_lo},
        "layers": {
            "topics.batches": float(len(batches)),
            "topics.records_per_batch": float(per_batch.median()) if len(per_batch) else 0.0,
            "topics.offset_lag_records": _median_lag(prod["ticks"], rows, win_lo, win_hi),
            "topics.redeliveries": float(verdict["redeliveries"]),
            "generator.late_ms": max(late) if late else 0.0,
            "topics.flow_ms": measure.mean([(delivered[e] - began[e]) * 1000.0 for e in batches]),
            "spark.force_ms": measure.mean([(b - a) * 1000.0 for a, b, _ in win_forces]),
        },
        "units": len(batches),
    }
    if tracer.enabled:
        for ph in ("analysis", "optimization", "planning"):
            out["layers"][f"spark.{ph}_ms"] = measure.mean([p.get(ph, 0.0) for _, _, p in win_forces])
    return out


def _rate(delivered: dict[int, float], per_batch, batches: list[int]) -> float:
    """Records per second between the first and the last delivery in the
    window: the records of every later batch over the time they took."""
    if len(batches) < 2:
        return 0.0
    first, last = min(batches), max(batches)
    n = sum(int(per_batch.get(e, 0)) for e in batches if e != first)
    return n / (delivered[last] - delivered[first])



def _await_offsets(spark, tips: dict[str, int], errors: list, timeout: float = 60.0) -> None:
    """Wait until the consumer's last progress reached the producer's final
    per-shard tips, i.e. every record is delivered and committed."""
    deadline = time.time() + timeout
    while time.time() < deadline and not errors:
        for q in spark.streams.active:
            p = q.lastProgress
            if p is None:
                continue
            p = json.loads(p.json) if hasattr(p, "json") else p
            end = p["sources"][0].get("endOffset")
            end = json.loads(end) if isinstance(end, str) else end
            if end and all(int(end.get(s, 0)) >= n for s, n in tips.items()):
                return
        time.sleep(0.1)
    raise RuntimeError("consumer did not reach the producer's tips")


def _median_lag(ticks: list[dict], rows, lo: float, hi: float, step: float = 0.5) -> float:
    """Median over sample times in [lo, hi] of records put minus records
    whose batch had been delivered (offsets commit right after)."""
    put = sorted((t["end"], t["n"]) for t in ticks)
    done = rows.groupby("done").size().sort_index()
    lags = []
    t = lo
    while t <= hi:
        n_put = sum(n for end, n in put if end <= t)
        n_done = int(done[done.index <= t].sum())
        lags.append(n_put - n_done)
        t += step
    return float(measure.percentile(lags, 50)) if lags else 0.0
