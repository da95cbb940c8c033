"""Self-tests for the benchmark's own logic; no Spark session needed.

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import batch  # noqa: E402
import datagen  # noqa: E402
import measure  # noqa: E402
import procs  # noqa: E402
import producer  # noqa: E402
import stream  # noqa: E402


@pytest.mark.parametrize(
    "n, rank",
    [(5, 50.0), (19, 50.0), (20, 50.0), (36, 70.0), (39, 70.0), (40, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_rank_leaves_ten_samples_beyond(n, rank):
    assert measure.tail_rank(n) == rank
    if n >= 20:
        assert n * (100 - rank) / 100 >= measure.TAIL_BEYOND - 1e-9


def test_summary_records_rank_and_sample_counts():
    s = measure.summary([float(i) for i in range(101)])
    assert (s["p50"], s["tail"], s["tail_pct"]) == (50.0, 90.0, 90.0)
    assert s["samples"] == 101


def test_percentile_interpolates():
    assert measure.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert measure.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_self_time_subtracts_the_union_of_children():
    S = measure.Span
    spans = [
        S("query", 0.0, 10.0, 0, None, "q"),
        S("call", 1.0, 4.0, 1, 0, "q"),
        S("force", 3.0, 6.0, 2, 0, "q"),  # overlaps call: union is 1..6
        S("write", 4.0, 5.0, 3, 2, "q"),
        S("late", 9.0, 12.0, 4, 0, "q"),  # clipped to the parent's end
    ]
    st = measure.self_times(spans)
    assert st == pytest.approx({0: 10 - 5 - 1, 1: 3.0, 2: 2.0, 3: 1.0, 4: 3.0})
    assert measure.self_time_by_name(spans)["query"] == pytest.approx(4.0)


def test_tracer_nests_per_thread_and_records_nothing_when_off():
    t = measure.Tracer(enabled=True)

    def work(tag):
        with t.span("outer", tag):
            with t.span("inner"):
                pass

    threads = [threading.Thread(target=work, args=(f"r{i}",)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=10)
        assert not th.is_alive()
    by_id = {s.id: s for s in t.spans}
    inners = [s for s in t.spans if s.name == "inner"]
    assert len(inners) == 4
    for s in inners:
        assert by_id[s.parent].name == "outer"
        assert s.request == by_id[s.parent].request
        assert by_id[s.parent].start <= s.start <= s.end <= by_id[s.parent].end
    off = measure.Tracer()
    with off.span("x"):
        pass
    assert off.spans == []


def _sink(n_keys=4, per_key=5, shards=2):
    """A clean delivery as the consumer's sink holds it."""
    rows, seq, tips = [], {}, {}
    i = 0
    for k in range(n_keys):
        for j in range(per_key):
            shard = f"shard-{k % shards:05d}"
            s = seq.get(shard, 0)
            seq[shard] = s + 1
            rows.append({"id": i, "key": k, "kseq": j, "t": 1.0,
                         "partition_key": f"k{k:02d}", "sequence_number": s,
                         "shard_id": shard, "epoch": i // 7})
            i += 1
    return pd.DataFrame(rows), i, seq


def test_stream_checks_pass_a_clean_delivery():
    rows, n, tips = _sink()
    v = stream.check_sink(rows, n, tips)
    assert v["failed"] == 0 and v["redeliveries"] == 0


def test_stream_checks_catch_a_lost_record():
    rows, n, tips = _sink()
    v = stream.check_sink(rows.drop(index=6), n, tips)
    assert v["lost"] == 1 and v["failed"] == 1


def test_stream_checks_catch_a_corrupt_payload_and_misorder():
    rows, n, tips = _sink()
    bad = rows.copy()
    bad.loc[3, "kseq"] = None  # payload that did not parse
    v = stream.check_sink(bad, n, tips)
    assert v["corrupt"] == 1 and v["failed"] >= 1
    swapped = rows.copy()
    swapped.loc[[1, 2], "kseq"] = swapped.loc[[2, 1], "kseq"].values
    assert stream.check_sink(swapped, n, tips)["misordered"] == 1


def test_stream_checks_catch_a_later_record_delivered_first():
    rows, n, tips = _sink()
    # Key 1 is ids 5..9, in epochs 0, 0, 1, 1, 1. Its record with kseq 3
    # (id 8) arrives in epoch 0, ahead of kseq 2 (id 7, epoch 1).
    early = rows.copy()
    early.loc[8, "epoch"] = 0
    v = stream.check_sink(early, n, tips)
    assert v["misordered"] == 1 and v["failed"] == 1


def test_stream_checks_count_redeliveries_without_failing():
    rows, n, tips = _sink()
    again = pd.concat([rows, rows.iloc[[4]].assign(epoch=99)], ignore_index=True)
    v = stream.check_sink(again, n, tips)
    assert v["redeliveries"] == 1 and v["failed"] == 0


def test_oracle_check_catches_a_wrong_hash():
    gate = batch._gate_sim(os.path.dirname(HERE))
    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert batch.oracle_mismatch(gate, good, good.iloc[::-1].copy()) is None
    wrong = good.assign(v=[0.5, 1.5000001])
    assert batch.oracle_mismatch(gate, good, wrong) == "value hash differs"
    assert "rows" in batch.oracle_mismatch(gate, good, good.iloc[:1])


def test_datagen_is_a_function_of_the_seed():
    a, b = datagen.tables(0.001, 5), datagen.tables(0.001, 5)
    c = datagen.tables(0.001, 6)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["lineitem"].equals(c["lineitem"])
    assert str(a["events"]["ts"].dtype) == "datetime64[us]"
    assert a["embeddings"]["embedding"][0].dtype.name == "float32"
    assert len(a["lineitem"]) == 6000 and len(a["documents"]) == 500


def test_producer_ticks_carry_ids_keys_and_per_key_order():
    import json
    import random

    key_seq = [0] * 3
    recs = producer.make_tick(random.Random(1), 10, 50, 3, key_seq, 123.0)
    payloads = [json.loads(d) for d, _ in recs]
    assert [p["id"] for p in payloads] == list(range(10, 60))
    for k in range(3):
        mine = [p["kseq"] for p in payloads if p["key"] == k]
        assert mine == list(range(len(mine)))
    assert all(pk == f"k{p['key']:02d}" for p, (_, pk) in zip(payloads, recs))
    assert sum(key_seq) == 50


def test_cpu_seconds_leaves_out_jit_threads_and_counts_new_ones_from_zero():
    before = (1000, {(1, 5): 10})
    after = (1300, {(1, 5): 60, (1, 6): 20})
    assert procs.cpu_seconds(before, after) == pytest.approx(
        (300 - 50 - 20) / os.sysconf("SC_CLK_TCK")
    )


def _burn(seconds: float) -> None:
    end = time.process_time() + seconds
    while time.process_time() < end:
        pass


def test_cpu_ticks_keep_threads_that_ended():
    t0 = procs.cpu_ticks(os.getpid())
    th = threading.Thread(target=_burn, args=(0.3,))
    th.start()
    th.join(timeout=30)
    assert not th.is_alive()
    assert procs.cpu_seconds(t0, procs.cpu_ticks(os.getpid())) > 0.2


def test_cpu_ticks_keep_children_that_were_reaped():
    t0 = procs.cpu_ticks(os.getpid())
    child = subprocess.run(
        [sys.executable, "-c", "import time\nend = time.process_time() + 0.3\n"
         "while time.process_time() < end: pass"], timeout=60)
    assert child.returncode == 0
    assert procs.cpu_seconds(t0, procs.cpu_ticks(os.getpid())) > 0.2


def test_process_tree_follows_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        deadline = time.time() + 10
        while child.pid not in procs.snapshot(os.getpid()) and time.time() < deadline:
            time.sleep(0.05)
        assert child.pid in procs.snapshot(os.getpid())
    finally:
        procs.stop({child.pid}, child.pid)
        child.wait(timeout=10)
    assert child.returncode is not None
