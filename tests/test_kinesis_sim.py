"""kinesis_sim Python DataSource: shard routing, ordering, TRIM_HORIZON
replay, checkpoint resume (R17), LATEST start position, Topic integration.
"""

from __future__ import annotations

import json
import shutil
import uuid

import pytest

from lagom_kinesis_spark.sources import KinesisSimDataSource, put_records, shard_for


@pytest.fixture()
def stream_dir(tmp_path):
    return str(tmp_path / "stream")


def _registered(spark):
    try:
        spark.dataSource.register(KinesisSimDataSource)
    except Exception:
        pass  # already registered in this session
    return spark


def test_same_partition_key_same_shard_and_ordered(stream_dir):
    tips = put_records(
        stream_dir, [(f"m{i}", f"user{i % 3}") for i in range(30)], n_shards=4
    )
    assert sum(tips.values()) == 30
    for pk in ("user0", "user1", "user2"):
        assert shard_for(pk, 4) == shard_for(pk, 4)


def test_batch_read_full_replay_per_shard_ordered(spark, stream_dir):
    _registered(spark)
    put_records(stream_dir, [(f"m{i}", f"u{i % 5}") for i in range(50)], n_shards=4)
    rows = (
        spark.read.format("kinesis_sim")
        .option("path", stream_dir)
        .load()
        .collect()
    )
    assert len(rows) == 50
    by_shard: dict[str, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r["sequence_number"])
    for seqs in by_shard.values():
        assert seqs == sorted(seqs) == list(range(len(seqs)))
    # same pk always landed on one shard
    pk_shards: dict[str, set] = {}
    for r in rows:
        pk_shards.setdefault(r["partition_key"], set()).add(r["shard_id"])
    assert all(len(s) == 1 for s in pk_shards.values())


def test_stream_checkpoint_resume_only_new_records(spark, stream_dir, tmp_path):
    _registered(spark)
    ck = str(tmp_path / "ck")
    put_records(stream_dir, [(f"m{i}", f"u{i}") for i in range(20)], n_shards=2)

    def run(sink):
        q = (
            spark.readStream.format("kinesis_sim")
            .option("path", stream_dir)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    first: list[int] = []
    run(lambda b, e: first.append(b.count()))
    assert sum(first) == 20
    put_records(stream_dir, [("late1", "u3"), ("late2", "u4")], n_shards=2)
    second: list[list] = []
    run(lambda b, e: second.append([r["data"] for r in b.collect()]))
    assert sorted(x for batch in second for x in batch) == ["late1", "late2"]


def test_latest_start_position_skips_backlog(spark, stream_dir, tmp_path):
    _registered(spark)
    ck = str(tmp_path / "ck_latest")
    put_records(stream_dir, [(f"backlog{i}", f"u{i}") for i in range(10)], n_shards=2)

    def run(sink):
        q = (
            spark.readStream.format("kinesis_sim")
            .option("path", stream_dir)
            .option("startingposition", "LATEST")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    first: list[int] = []
    run(lambda b, e: first.append(b.count()))
    assert sum(first) == 0  # LATEST: the backlog is skipped
    put_records(stream_dir, [("fresh", "uZ")], n_shards=2)
    second: list[int] = []
    run(lambda b, e: second.append(b.count()))
    assert sum(second) == 1  # offsets checkpointed from the LATEST start


def test_topic_layer_consumes_kinesis_sim(spark, stream_dir):
    """The reference-faithful Topic/Subscriber runs unchanged over the
    simulator transport — the same consumer code for file or kinesis
    formats (ScaladslKinesisTopic.scala:16-28 pluggability)."""
    from lagom_kinesis_spark.sources.kinesis_sim import SCHEMA
    from lagom_kinesis_spark.streaming.topics import Topic

    _registered(spark)
    tips = put_records(stream_dir, [(json.dumps({"i": i}), f"u{i}") for i in range(8)])
    assert len(tips) == 4 and all(tips.values())  # every shard holds records
    topic = Topic(
        name=f"ksim-{uuid.uuid4().hex[:6]}",
        schema=SCHEMA,
        spark=spark,
        source_path=stream_dir,
        source_format="kinesis_sim",
    )
    seen: list[int] = []
    parts: list[int] = []

    def flow(df, eid):
        parts.append(df.rdd.getNumPartitions())
        seen.append(df.count())

    topic.subscribe("g1").at_least_once(flow)
    assert sum(seen) == 8
    # Streaming reads run on the driver: each micro-batch over the 4-shard
    # stream arrives as one prefetched block, not one read task per shard.
    assert parts and all(n == 1 for n in parts), parts
    shutil.rmtree(topic.checkpoint_base + "/" + topic.name, ignore_errors=True)


def _write_df(spark, rows, stream_dir, mode="append", n_shards=4, partitions=None):
    df = spark.createDataFrame(rows, "data string, partition_key string")
    if partitions:
        df = df.repartition(partitions)
    (
        df.write.format("kinesis_sim")
        .option("path", stream_dir)
        .option("n_shards", str(n_shards))
        .mode(mode)
        .save()
    )


def test_distributed_writer_append_and_overwrite(spark, stream_dir):
    """df.write.format('kinesis_sim'): append accumulates, overwrite
    resets the shard ring; routing matches shard_for on read-back."""
    _registered(spark)
    rows = [(f"m{i}", f"u{i % 5}") for i in range(40)]
    _write_df(spark, rows, stream_dir)
    back = spark.read.format("kinesis_sim").option("path", stream_dir).load()
    assert back.count() == 40
    _write_df(spark, rows, stream_dir)  # second append doubles
    assert (
        spark.read.format("kinesis_sim").option("path", stream_dir).load().count()
        == 80
    )
    _write_df(spark, rows[:10], stream_dir, mode="overwrite")
    left = spark.read.format("kinesis_sim").option("path", stream_dir).load()
    assert left.count() == 10
    for r in left.collect():
        assert r["shard_id"] == f"shard-{shard_for(r['partition_key'], 4):05d}"


def test_ranged_overwrite_keeps_full_shard_ring(spark, stream_dir):
    """Overwrite on a RANGED stream (shards.json present) rmtree's every
    shard dir; the writer must re-materialize the descriptor's dirs, or
    OPEN shards that happened to receive no records in the overwriting
    batch vanish from the ring (_shards_of/offsets would disagree with
    shards.json until some later record recreated the dir)."""
    from lagom_kinesis_spark.sources.kinesis_sim import (
        _load_meta,
        _shards_of,
        create_stream,
        split_shard,
    )

    _registered(spark)
    create_stream(stream_dir, n_shards=4)
    split_shard(stream_dir, "shard-00001")  # + a CLOSED parent in the ring
    # A single record hits exactly one hash range — every other OPEN shard
    # (and the CLOSED parent) receives nothing in the overwriting batch.
    _write_df(spark, [("only", "k0")], stream_dir, mode="overwrite")
    assert _shards_of(stream_dir) == sorted(
        s["id"] for s in _load_meta(stream_dir)
    )
    back = spark.read.format("kinesis_sim").option("path", stream_dir).load()
    assert back.count() == 1


def test_distributed_writer_single_producer_preserves_key_order(spark, stream_dir):
    """One writer task (the reference's mapAsync(1) serialized publish,
    Producer.scala:249): a key's records keep their publish order as
    per-shard sequence numbers."""
    _registered(spark)
    rows = [(f"m{i}", "samekey") for i in range(20)]
    _write_df(spark, rows, stream_dir, partitions=1)
    got = (
        spark.read.format("kinesis_sim")
        .option("path", stream_dir)
        .load()
        .orderBy("sequence_number")
        .collect()
    )
    assert [r["data"] for r in got] == [f"m{i}" for i in range(20)]
    assert len({r["shard_id"] for r in got}) == 1  # same key → one shard


def test_split_shard_routing_and_order(spark, stream_dir):
    """SplitShard contract: parent closes but stays readable, children own
    the range halves, post-split records route by containment, and a hot
    key's records stay ordered parent-before-child."""
    from lagom_kinesis_spark.sources.kinesis_sim import (
        _load_meta,
        create_stream,
        hash32,
        put_records_ranged,
        shard_lineage,
        split_shard,
    )

    _registered(spark)
    create_stream(stream_dir, n_shards=1)
    put_records_ranged(stream_dir, [(f"pre{i}", f"k{i % 7}") for i in range(21)])
    left, right = split_shard(stream_dir, "shard-00000")
    put_records_ranged(stream_dir, [(f"post{i}", f"k{i % 7}") for i in range(21)])

    meta = {s["id"]: s for s in _load_meta(stream_dir)}
    assert meta["shard-00000"]["status"] == "CLOSED"
    assert meta[left]["lo"] == 0 and meta[right]["hi"] == 1 << 32
    assert meta[left]["hi"] == meta[right]["lo"] == 1 << 31
    assert shard_lineage(stream_dir)[left] == ["shard-00000"]

    rows = (
        spark.read.format("kinesis_sim").option("path", stream_dir).load().collect()
    )
    assert len(rows) == 42  # parent remains readable after close
    for r in rows:
        if r["data"].startswith("pre"):
            assert r["shard_id"] == "shard-00000"
        else:
            h = hash32(r["partition_key"])
            s = meta[r["shard_id"]]
            assert s["lo"] <= h < s["hi"]  # range containment post-split
    # per-key order: drain parent before children (KCL lease rule) —
    # within that discipline every key's records appear in publish order.
    for key in {f"k{i}" for i in range(7)}:
        ordered = [
            r["data"]
            for shard in ("shard-00000", left, right)
            for r in sorted(
                (x for x in rows if x["partition_key"] == key and x["shard_id"] == shard),
                key=lambda x: x["sequence_number"],
            )
        ]
        pres = [d for d in ordered if d.startswith("pre")]
        posts = [d for d in ordered if d.startswith("post")]
        assert ordered == pres + posts  # no child record before a parent one


def test_stream_reader_discovers_children_after_split(spark, stream_dir, tmp_path):
    """A checkpointed streaming consumer picks up NEW child shards created
    by a mid-stream reshard: run 1 drains the parent, run 2 reads only
    the post-split records from the children (offsets for unseen shards
    start at TRIM_HORIZON)."""
    from lagom_kinesis_spark.sources.kinesis_sim import (
        create_stream,
        put_records_ranged,
        split_shard,
    )

    _registered(spark)
    ck = str(tmp_path / "ck_reshard")
    create_stream(stream_dir, n_shards=1)
    put_records_ranged(stream_dir, [(f"pre{i}", f"k{i}") for i in range(10)])

    def run():
        got: list = []
        q = (
            spark.readStream.format("kinesis_sim")
            .option("path", stream_dir)
            .load()
            .writeStream.foreachBatch(lambda b, e: got.extend(b.collect()))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return got

    first = run()
    assert len(first) == 10 and all(r["shard_id"] == "shard-00000" for r in first)

    split_shard(stream_dir, "shard-00000")
    put_records_ranged(stream_dir, [(f"post{i}", f"k{i}") for i in range(10)])
    second = run()
    assert len(second) == 10  # only the new records — no parent replay
    assert all(r["data"].startswith("post") for r in second)
    assert {r["shard_id"] for r in second} <= {"shard-00001", "shard-00002"}


def test_merge_shards_combines_ranges(spark, stream_dir):
    """MergeShards: both parents close, the child owns the union range and
    receives all subsequent traffic; parents stay readable."""
    from lagom_kinesis_spark.sources.kinesis_sim import (
        _load_meta,
        create_stream,
        merge_shards,
        put_records_ranged,
    )

    _registered(spark)
    create_stream(stream_dir, n_shards=2)
    put_records_ranged(stream_dir, [(f"pre{i}", f"k{i}") for i in range(12)])
    child = merge_shards(stream_dir, "shard-00000", "shard-00001")
    put_records_ranged(stream_dir, [(f"post{i}", f"k{i}") for i in range(12)])
    meta = {s["id"]: s for s in _load_meta(stream_dir)}
    assert meta[child]["lo"] == 0 and meta[child]["hi"] == 1 << 32
    assert meta[child]["parents"] == ["shard-00000", "shard-00001"]
    rows = (
        spark.read.format("kinesis_sim").option("path", stream_dir).load().collect()
    )
    assert len(rows) == 24
    assert all(
        r["shard_id"] == child for r in rows if r["data"].startswith("post")
    )


def test_writer_abort_sweeps_staging(spark, stream_dir):
    """An aborted distributed write publishes nothing: staged parts are
    swept, the stream is unchanged."""
    import os

    from pyspark.sql import Row

    from lagom_kinesis_spark.sources.kinesis_sim import _Writer

    w = _Writer({"path": stream_dir, "n_shards": "2"}, overwrite=False)
    msg = w.write(iter([Row(data="x", partition_key="a")]))
    assert os.path.isdir(os.path.join(stream_dir, "_staging"))
    w.abort([msg])
    assert not os.path.isdir(os.path.join(stream_dir, "_staging"))
    _registered(spark)
    assert (
        spark.read.format("kinesis_sim").option("path", stream_dir).load().count()
        == 0
    )


def test_explicit_hash_key_overrides_routing(spark, stream_dir):
    """Kinesis ExplicitHashKey semantics (KinesisOutboundRecord.scala:5-9):
    a record routes by hash(explicit_hash_key or partition_key) while still
    CARRYING its partition key — the producer's tool for spreading a hot
    key across shards. Covers put_records, the distributed writer, and
    put_records_ranged."""
    from pyspark.sql import Row

    from lagom_kinesis_spark.sources.kinesis_sim import (
        create_stream,
        hash32,
        put_records,
        put_records_ranged,
        shard_for,
    )

    _registered(spark)
    n = 4
    # One hot partition key, spread over 8 distinct explicit hash keys.
    recs = [(f"m{i}", "hotkey", f"spread{i % 8}") for i in range(40)]
    put_records(stream_dir, recs, n_shards=n)
    rows = (
        spark.read.format("kinesis_sim").option("path", stream_dir).load().collect()
    )
    assert len(rows) == 40 and all(r["partition_key"] == "hotkey" for r in rows)
    # Placement follows the explicit key's ring position, not the pk's.
    shards_hit = {r["shard_id"] for r in rows}
    expected = {f"shard-{shard_for('hotkey', n, f'spread{i}'):05d}" for i in range(8)}
    assert shards_hit == expected and len(shards_hit) > 1

    # Distributed writer honors an explicit_hash_key column the same way.
    wdir = stream_dir + "_w"
    df = spark.createDataFrame(
        [Row(data=f"m{i}", partition_key="hotkey", explicit_hash_key=f"spread{i % 8}") for i in range(40)]
    )
    df.write.format("kinesis_sim").option("path", wdir).option(
        "n_shards", str(n)
    ).mode("append").save()
    wrows = spark.read.format("kinesis_sim").option("path", wdir).load().collect()
    assert {r["shard_id"] for r in wrows} == expected

    # Ranged (post-reshard) routing: containment of hash32(ehk), not pk.
    rdir = stream_dir + "_r"
    create_stream(rdir, n_shards=2)
    put_records_ranged(rdir, [("a", "hotkey", "spread0"), ("b", "hotkey", "spread3")])
    from lagom_kinesis_spark.sources.kinesis_sim import _load_meta

    meta = {s["id"]: s for s in _load_meta(rdir)}
    rrows = spark.read.format("kinesis_sim").option("path", rdir).load().collect()
    for r in rrows:
        ehk = "spread0" if r["data"] == "a" else "spread3"
        s = meta[r["shard_id"]]
        assert s["lo"] <= hash32(ehk) < s["hi"]


def test_stream_reader_drains_parent_before_child(spark, stream_dir, tmp_path):
    """drain_parents_first=true enforces the KCL lease rule reader-side: no
    child-shard record enters a micro-batch before every parent-shard record
    has been committed — so per-key order survives a reshard consume."""
    from lagom_kinesis_spark.sources.kinesis_sim import (
        create_stream,
        put_records_ranged,
        split_shard,
    )

    _registered(spark)
    create_stream(stream_dir, n_shards=1)
    put_records_ranged(stream_dir, [(f"pre{i}", f"k{i % 5}") for i in range(15)])
    left, right = split_shard(stream_dir, "shard-00000")
    put_records_ranged(stream_dir, [(f"post{i}", f"k{i % 5}") for i in range(15)])

    batches: list[tuple[int, list]] = []
    q = (
        spark.readStream.format("kinesis_sim")
        .option("path", stream_dir)
        .option("drain_parents_first", "true")
        .load()
        .writeStream.foreachBatch(
            lambda b, e: batches.append((e, b.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "ck_drain"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = [(bid, r) for bid, rs in batches for r in rs]
    assert len(rows) == 30  # nothing lost
    parent_batches = [b for b, r in rows if r["shard_id"] == "shard-00000"]
    child_batches = [b for b, r in rows if r["shard_id"] in (left, right)]
    assert parent_batches and child_batches
    # Every parent record was scheduled strictly before any child record.
    assert max(parent_batches) < min(child_batches)
    # Per-key publish order is therefore preserved across the split.
    for key in {f"k{i}" for i in range(5)}:
        ordered = [
            r["data"]
            for _, r in sorted(
                ((b, r) for b, r in rows if r["partition_key"] == key),
                key=lambda t: (t[0], t[1]["sequence_number"]),
            )
        ]
        pres = [d for d in ordered if d.startswith("pre")]
        posts = [d for d in ordered if d.startswith("post")]
        assert ordered == pres + posts


def _engine_reader(opts):
    """The reader as the engine drives it: Spark wraps a simple stream
    reader in its prefetch-and-cache adapter on the driver."""
    from pyspark.sql.datasource_internal import _SimpleStreamReaderWrapper

    from lagom_kinesis_spark.sources.kinesis_sim import _StreamReader

    return _SimpleStreamReaderWrapper(_StreamReader(opts))


def test_drain_gate_never_regresses_after_restart(stream_dir):
    """A restarted reader holds no state from the prior run; latestOffset
    must still never return an offset below what the prior run committed
    (a regressed end offset in Spark's offset log means re-delivery).
    Drives the adapter in the order the engine calls it (Spark 4.1):
    fresh start = latestOffset (which reads from initialOffset) →
    initialOffset → partitions → commit; restart = partitions(start, end)
    re-plan of the last offset-log batch, or a commit of it, THEN
    latestOffset."""
    from pyspark.sql.datasource_internal import SimpleInputPartition

    from lagom_kinesis_spark.sources.kinesis_sim import (
        create_stream,
        put_records_ranged,
        split_shard,
    )

    opts = {"path": stream_dir, "drain_parents_first": "true"}
    create_stream(stream_dir, n_shards=1)
    put_records_ranged(stream_dir, [(f"pre{i}", f"k{i % 3}") for i in range(9)])
    left, right = split_shard(stream_dir, "shard-00000")
    put_records_ranged(stream_dir, [(f"post{i}", f"k{i % 3}") for i in range(9)])

    # Run 1 (fresh): batch 1 reads the parent, holds children; batch 2
    # releases the children once the parent is drained.
    r1 = _engine_reader(opts)
    end1 = r1.latestOffset()
    assert end1["shard-00000"] == 9 and end1[left] == 0 and end1[right] == 0
    start = r1.initialOffset()
    r1.partitions(start, end1)
    batch1 = list(r1.getCache(start, end1))
    assert [r[2] for r in batch1] == list(range(9))
    assert {r[3] for r in batch1} == {"shard-00000"}
    r1.commit(end1)
    end2 = r1.latestOffset()
    assert end2[left] + end2[right] == 9
    r1.partitions(end1, end2)
    r1.commit(end2)

    # Restart: the engine re-plans the last offset-log batch via
    # partitions(start, end) before any latestOffset. The prefetch cache
    # is empty, so the batch is replayed through readBetweenOffsets, and
    # the next read starts at end2 — never below it.
    r2 = _engine_reader(opts)
    (part,) = r2.partitions(end1, end2)
    assert r2.getCache(end1, end2) is None
    replay = list(r2.read(SimpleInputPartition(part.start, part.end)))
    assert sorted(r[0] for r in replay) == sorted(f"post{i}" for i in range(9))
    end3 = r2.latestOffset()
    for shard, committed in end2.items():
        assert end3[shard] >= committed, (shard, end3, end2)

    # A restart that commits the re-run batch before planning anew starts
    # its next read from the committed end the same way.
    r3 = _engine_reader(opts)
    r3.commit(end2)
    end4 = r3.latestOffset()
    for shard, committed in end2.items():
        assert end4[shard] >= committed, (shard, end4, end2)


def test_drain_gate_latest_start_does_not_regress(stream_dir):
    """LATEST + drain_parents_first: the whole backlog is skipped, so the
    gate must not hold a child below the tip-valued initial offset — the
    parents start at their tips and count as drained."""
    from lagom_kinesis_spark.sources.kinesis_sim import (
        create_stream,
        put_records_ranged,
        split_shard,
    )

    create_stream(stream_dir, n_shards=1)
    put_records_ranged(stream_dir, [(f"pre{i}", f"k{i % 3}") for i in range(6)])
    left, right = split_shard(stream_dir, "shard-00000")
    put_records_ranged(stream_dir, [(f"post{i}", f"k{i % 3}") for i in range(6)])

    r = _engine_reader(
        {"path": stream_dir, "drain_parents_first": "true", "startingposition": "LATEST"}
    )
    end = r.latestOffset()  # engine calls this first on a fresh query
    start = r.initialOffset()
    assert start["shard-00000"] == 6 and start[left] + start[right] == 6
    for shard, lo in start.items():
        assert end[shard] >= lo, (shard, end, start)
    # Records put after the start reach the children in the next batch.
    put_records_ranged(stream_dir, [(f"new{i}", f"k{i % 3}") for i in range(6)])
    nxt = r.latestOffset()
    r.partitions(end, nxt)
    assert sorted(x[0] for x in r.getCache(end, nxt)) == [f"new{i}" for i in range(6)]


def test_stream_read_stops_at_a_partial_tail(stream_dir):
    """A put still being appended leaves its last line without the
    newline; the driver-side read stops before that line instead of
    failing to parse it, and the next read picks the record up."""
    import os

    from lagom_kinesis_spark.sources.kinesis_sim import _StreamReader

    put_records(stream_dir, [("a", "k"), ("b", "k")], n_shards=1)
    path = os.path.join(stream_dir, "shard-00000", "records.jsonl")
    with open(path, "a") as f:
        f.write('{"data": "c", "parti')
    r = _StreamReader({"path": stream_dir})
    rows, end = r.read({"shard-00000": 0})
    assert [x[0] for x in rows] == ["a", "b"] and end == {"shard-00000": 2}
    with open(path, "a") as f:
        f.write('tion_key": "k"}\n')
    rows, end = r.read(end)
    assert [x[0] for x in rows] == ["c"] and end == {"shard-00000": 3}


def test_stream_restart_with_drain_gate_no_duplicates(spark, stream_dir, tmp_path):
    """End-to-end checkpoint restart under drain_parents_first: stop the
    query after the resharded stream is fully consumed, publish more
    records, restart from the same checkpoint — every record is delivered
    exactly once (no re-delivery from a regressed end offset)."""
    from lagom_kinesis_spark.sources.kinesis_sim import (
        create_stream,
        put_records_ranged,
        split_shard,
    )

    _registered(spark)
    create_stream(stream_dir, n_shards=1)
    put_records_ranged(stream_dir, [(f"pre{i}", f"k{i % 3}") for i in range(9)])
    left, right = split_shard(stream_dir, "shard-00000")
    put_records_ranged(stream_dir, [(f"post{i}", f"k{i % 3}") for i in range(9)])

    seen: list = []

    def run_once():
        q = (
            spark.readStream.format("kinesis_sim")
            .option("path", stream_dir)
            .option("drain_parents_first", "true")
            .load()
            .writeStream.foreachBatch(lambda b, e: seen.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ck_restart"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    assert len(seen) == 18
    put_records_ranged(stream_dir, [(f"late{i}", f"k{i % 3}") for i in range(6)])
    run_once()
    datas = [r["data"] for r in seen]
    assert len(datas) == 24 and len(set(datas)) == 24  # exactly once each


def test_distributed_writer_routes_by_ranges_after_reshard(spark, stream_dir):
    """df.write on a RANGED stream (shards.json present) must route like
    put_records_ranged: records land only in OPEN shards whose hash range
    contains hash32(pk) — never in the CLOSED parent (which a
    drain-parents-first consumer has already drained) and never in mod-N
    shard indices outside the descriptor."""
    import os

    from lagom_kinesis_spark.sources.kinesis_sim import (
        _load_meta,
        create_stream,
        hash32,
        split_shard,
    )

    _registered(spark)
    create_stream(stream_dir, 1)
    split_shard(stream_dir, "shard-00000")  # parent CLOSED, two children
    rows = [(f"m{i}", f"key{i}") for i in range(30)]
    (
        spark.createDataFrame(rows, "data string, partition_key string")
        .write.format("kinesis_sim")
        .option("path", stream_dir)
        .mode("append")
        .save()
    )
    parent_log = os.path.join(stream_dir, "shard-00000", "records.jsonl")
    assert not os.path.exists(parent_log) or not open(parent_log).read().strip()
    meta = {s["id"]: s for s in _load_meta(stream_dir)}
    back = (
        spark.read.format("kinesis_sim").option("path", stream_dir).load().collect()
    )
    assert len(back) == 30
    for r in back:
        s = meta[r["shard_id"]]
        h = hash32(r["partition_key"])
        assert s["status"] == "OPEN" and s["lo"] <= h < s["hi"]


def test_distributed_writer_commit_order_is_partition_deterministic(
    spark, stream_dir
):
    """Staged parts commit in (input partition, shard) order — the uuid-only
    staging path made same-shard parts from different tasks land in random
    uuid order. With keys co-located per partition (the TaggedProducer
    contract), a key's records must appear in its shard log in input order."""
    _registered(spark)
    # 2 partitions, keys pinned per partition via repartition on the key.
    rows = [(f"m{i:03d}", f"k{i % 2}") for i in range(20)]
    df = spark.createDataFrame(rows, "data string, partition_key string")
    (
        df.repartition(2, "partition_key")
        .sortWithinPartitions("partition_key", "data")
        .write.format("kinesis_sim")
        .option("path", stream_dir)
        .option("n_shards", "2")
        .mode("append")
        .save()
    )
    back = (
        spark.read.format("kinesis_sim").option("path", stream_dir).load()
    )
    for pk in ("k0", "k1"):
        got = [
            r["data"]
            for r in back.filter(back.partition_key == pk)
            .orderBy("sequence_number")
            .collect()
        ]
        assert got == sorted(got), (pk, got)


def test_reshard_ring_invariants_under_random_split_merge(tmp_path):
    """Property: under ANY sequence of valid splits and adjacent merges,
    the OPEN shards' hash ranges always partition [0, 2^32) exactly
    (no gap, no overlap — a gap would make _route raise for a live key;
    an overlap would double-deliver), children's ranges cover their
    parents' exactly, and every descriptor shard has a materialized
    dir. Pure-metadata property (no Spark session), so a deep random
    walk is cheap."""
    import random

    from lagom_kinesis_spark.sources.kinesis_sim import (
        _RANGE_SPACE,
        _load_meta,
        _shards_of,
        create_stream,
        merge_shards,
        split_shard,
    )

    rng = random.Random(6)  # deterministic walk
    d = str(tmp_path / "ring")
    create_stream(d, n_shards=3)
    for step in range(40):
        shards = _load_meta(d)
        open_sorted = sorted(
            (s for s in shards if s["status"] == "OPEN"), key=lambda s: s["lo"]
        )
        # Invariant 1: OPEN ranges partition the full hash space.
        assert open_sorted[0]["lo"] == 0
        assert open_sorted[-1]["hi"] == _RANGE_SPACE
        for a, b in zip(open_sorted, open_sorted[1:]):
            assert a["hi"] == b["lo"], (step, a, b)
        # Invariant 2: each CLOSED parent's range equals the union of the
        # ranges of the shards naming it as parent.
        kids: dict[str, list[dict]] = {}
        for s in shards:
            for p in s["parents"]:
                kids.setdefault(p, []).append(s)
        for s in shards:
            if s["status"] == "CLOSED":
                ks = sorted(kids[s["id"]], key=lambda k: k["lo"])
                covered = [(k["lo"], k["hi"]) for k in ks if s["id"] in k["parents"]]
                assert covered[0][0] <= s["lo"] and covered[-1][1] >= s["hi"]
        # Invariant 3: every descriptor shard has a dir on disk.
        assert set(_shards_of(d)) == {s["id"] for s in shards}
        # Random valid action.
        if len(open_sorted) > 1 and rng.random() < 0.45:
            i = rng.randrange(len(open_sorted) - 1)
            merge_shards(d, open_sorted[i]["id"], open_sorted[i + 1]["id"])
        else:
            victim = rng.choice(open_sorted)
            if victim["hi"] - victim["lo"] >= 2:  # splittable
                split_shard(d, victim["id"])


def test_unknown_starting_position_rejected(spark, stream_dir, tmp_path):
    """A typo'd startingposition must fail fast, not silently become
    TRIM_HORIZON and full-replay the stream."""
    _registered(spark)
    put_records(stream_dir, [("m", "k")], n_shards=1)
    q = None
    with pytest.raises(Exception, match="startingposition"):
        q = (
            spark.readStream.format("kinesis_sim")
            .option("path", stream_dir)
            .option("startingposition", "AT_TIMESTAMP")
            .load()
            .writeStream.foreachBatch(lambda b, e: None)
            .option("checkpointLocation", str(tmp_path / "ckbad"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if q is not None:
        q.stop()


def test_put_records_rejects_shard_count_mismatch(tmp_path):
    """A put whose n_shards disagrees with the existing ring would re-route
    partition keys mid-stream, splitting one key's records across shards —
    the module's core per-key ordering contract. Rejected loudly."""
    d = str(tmp_path / "plain")
    put_records(d, [("a", "k1"), ("b", "k2")], n_shards=4)
    with pytest.raises(ValueError, match="re-route"):
        put_records(d, [("c", "k1")], n_shards=8)
    # the matching count still appends fine
    tips = put_records(d, [("c", "k1")], n_shards=4)
    assert sum(tips.values()) == 3


def test_put_records_routes_by_range_on_resharded_stream(tmp_path):
    """On a ranged stream (shards.json present) put_records must route by
    hash RANGE over the OPEN shards like _Writer — the caller's n_shards
    default would mod-route records into the CLOSED parent a
    drain-parents-first consumer has already finished."""
    from lagom_kinesis_spark.sources.kinesis_sim import (
        _load_meta,
        create_stream,
        split_shard,
    )

    d = str(tmp_path / "ranged")
    create_stream(d, 1)
    split_shard(d, "shard-00000")
    tips = put_records(d, [(f"m{i}", f"key-{i}") for i in range(20)])
    closed = [s["id"] for s in _load_meta(d) if s["status"] != "OPEN"]
    assert closed == ["shard-00000"]
    assert tips["shard-00000"] == 0  # nothing lands in the closed parent
    assert sum(tips.values()) == 20


def test_null_partition_key_fails_fast(tmp_path):
    """Real Kinesis rejects a missing partition key at the API boundary;
    the simulator fails at the routing choke point with a clear error, not
    an AttributeError deep inside an executor worker."""
    with pytest.raises(ValueError, match="non-null"):
        shard_for(None, 4)
    with pytest.raises(ValueError, match="non-null"):
        put_records(str(tmp_path / "s"), [("data", None)])
