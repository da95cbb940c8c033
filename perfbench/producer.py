"""Open-loop record generator for the ``topic_stream`` workload.

Runs as its own single-threaded process, separate from the Spark driver:
every ``TICK_MS`` it creates ``RATE * TICK_MS / 1000`` records over ``KEYS``
partition keys and appends them with the engine's ``kinesis_sim.put_records``
to a ``SHARDS``-shard stream. The schedule never waits for the
consumer; a tick that starts late is recorded as late, and its publish
latency is measured from when it was due.

Protocol: puts one priming tick at once, for the consumer's first batch;
starts the schedule at the first line on stdin; stops at the second line
(or EOF); then writes its tick log as JSON to ``--out`` and exits.

Usage: python3 perfbench/producer.py --stream DIR --seed N --out ticks.json
"""

from __future__ import annotations

import argparse
import json
import random
import select
import sys
import time

RATE = 2000  # records/s offered
TICK_MS = 100
KEYS = 64
SHARDS = 4


def make_tick(rng: random.Random, first_id: int, n: int, n_keys: int,
              key_seq: list[int], created: float) -> list[tuple[str, str]]:
    """``n`` records with ids from ``first_id``; each carries its id, its
    partition key, that key's running sequence number and its creation
    time, and is keyed by one of ``n_keys`` partition keys."""
    out = []
    for i in range(n):
        k = rng.randrange(n_keys)
        payload = {"id": first_id + i, "key": k, "kseq": key_seq[k], "t": created}
        key_seq[k] += 1
        out.append((json.dumps(payload), f"k{k:02d}"))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stream", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    from lagom_kinesis_spark.sources.kinesis_sim import put_records

    rng = random.Random(a.seed)
    tick_s = TICK_MS / 1000.0
    per_tick = int(RATE * tick_s)
    key_seq = [0] * KEYS
    ticks: list[dict] = []
    tips: dict[str, int] = {}

    def tick(due: float) -> None:
        nonlocal tips
        start = time.time()
        first = len(ticks) * per_tick
        recs = make_tick(rng, first, per_tick, KEYS, key_seq, start)
        tips = put_records(a.stream, recs, n_shards=SHARDS)
        ticks.append({"due": due, "start": start, "end": time.time(),
                      "first_id": first, "n": per_tick})

    tick(time.time())
    if sys.stdin.readline():
        t0 = time.time()
        i = 0
        while True:
            due = t0 + i * tick_s
            ready, _, _ = select.select([sys.stdin], [], [], max(0.0, due - time.time()))
            if ready:
                break
            tick(due)
            i += 1
    with open(a.out, "w") as f:
        json.dump({"ticks": ticks, "tips": tips, "generated": len(ticks) * per_tick}, f)


if __name__ == "__main__":
    main()
