"""Delivery-semantics fault injection (SURVEY.md §2C contracts 1, 3, 5).

- at-least-once: a flow that fails on first delivery ⇒ batch redelivered,
  nothing lost (dupes allowed) — commit strictly after processing.
- at-most-once: processing failure ⇒ records lost, never reprocessed —
  commit strictly before processing.
- consumer groups: same topic, different group ⇒ independent progress.
- committable: uncommitted batch is redelivered; committed is not.
- producer: journal → serialized records with partition keys; offset
  checkpoint ⇒ re-run publishes nothing new (replay-from-offset, 2C.5).
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from lagom_kinesis_spark.streaming.topics import (
    BackoffConfig,
    TaggedProducer,
    Topic,
    run_with_backoff,
)
from tests.conftest import SF_DIR

EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


@pytest.fixture()
def topic(spark, tmp_path):
    from lagom_kinesis_spark.catalog import stream_dir

    return Topic(
        name="events",
        schema=EVENTS_SCHEMA,
        spark=spark,
        source_path=stream_dir(SF_DIR, "events"),
        checkpoint_base=str(tmp_path / "ckpt"),
    )


def _n_events() -> int:
    import duckdb

    return duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchone()[0]


def _fail_once_then_deliver(topic, out, summarize) -> list:
    """Run an at-least-once subscriber whose flow fails on its first call,
    restart it once; returns what each delivered batch summarized to."""
    attempts = {"n": 0}

    def flaky_flow(df, epoch_id):
        attempts["n"] += 1
        rows = summarize(df)
        if attempts["n"] == 1:
            raise RuntimeError("injected failure before commit")
        with open(out, "a") as f:
            f.write(json.dumps({"epoch": epoch_id, "rows": rows}) + "\n")

    sub = topic.subscribe("alo-group")
    runs = {"n": 0}

    def start():
        runs["n"] += 1
        sub.at_least_once(flaky_flow)

    failures = run_with_backoff(
        start,
        should_continue=lambda: runs["n"] < 2 and not out.exists(),
        backoff=BackoffConfig(min_s=0.01, max_s=0.05),
        sleep=lambda s: None,
    )
    assert len(failures) == 1  # first run failed before commit
    return [json.loads(line)["rows"] for line in open(out).read().splitlines()]


def test_at_least_once_redelivery_no_loss(spark, topic, tmp_path):
    """Failure mid-batch ⇒ whole batch redelivered on restart (2C.1).

    Over kinesis_sim the restarted query replays the uncommitted batch with
    an empty prefetch cache, so the replay re-reads it in a Python task
    (readBetweenOffsets) rather than from the driver-side prefetch."""
    counts = _fail_once_then_deliver(
        topic, tmp_path / "out.jsonl", lambda df: df.count()
    )
    assert sum(counts) == _n_events()  # redelivered in full — no loss

    from lagom_kinesis_spark.sources import KinesisSimDataSource, put_records
    from lagom_kinesis_spark.sources.kinesis_sim import SCHEMA

    spark.dataSource.register(KinesisSimDataSource)
    path = str(tmp_path / "ksim")
    tips = put_records(path, [(json.dumps({"i": i}), f"u{i}") for i in range(40)])
    assert len(tips) == 4 and all(tips.values())  # every shard holds records
    ktopic = Topic(
        name="ksim",
        schema=SCHEMA,
        spark=spark,
        source_path=path,
        source_format="kinesis_sim",
        checkpoint_base=str(tmp_path / "ksim_ckpt"),
    )
    batches = _fail_once_then_deliver(
        ktopic,
        tmp_path / "ksim_out.jsonl",
        lambda df: [
            [r.shard_id, r.sequence_number]
            for r in df.select("shard_id", "sequence_number").collect()
        ],
    )
    by_shard: dict[str, list[int]] = {}
    for shard, seq in (rec for batch in batches for rec in batch):
        by_shard.setdefault(shard, []).append(seq)
    # Every record redelivered once, each shard contiguous and in order.
    assert by_shard == {shard: list(range(tip)) for shard, tip in tips.items()}


def test_at_most_once_loss_no_redelivery(topic, tmp_path):
    """Processing failure after eager commit ⇒ loss, never dupes (2C.1)."""
    staging = str(tmp_path / "staging")
    processed_rows = []

    def failing_flow(df, epoch_id):
        raise RuntimeError("injected processing failure after commit")

    sub = topic.subscribe("amo-group")
    errors = sub.at_most_once(failing_flow, staging_dir=staging)
    assert errors, "processing errors are swallowed, not committed-around"

    # The offsets are committed (staged); a restarted consumer sees nothing new.
    def recording_flow(df, epoch_id):
        processed_rows.append(df.count())

    errors2 = sub.at_most_once(recording_flow, staging_dir=str(tmp_path / "s2"))
    assert errors2 == []
    assert sum(processed_rows) == 0  # records lost for this group — by design

    # Re-running over the SAME staging dir must not re-attempt the failed
    # epoch either — one processing attempt per staged record, ever.
    errors3 = sub.at_most_once(recording_flow, staging_dir=staging)
    assert errors3 == []
    assert sum(processed_rows) == 0


def test_consumer_groups_independent(topic):
    """Same topic, two groups ⇒ disjoint checkpoints and progress (2C.3)."""
    seen = {"g1": 0, "g2": 0}
    sub1, sub2 = topic.subscribe("group-one"), topic.subscribe("group-two")
    assert sub1.checkpoint_dir != sub2.checkpoint_dir

    sub1.at_least_once(lambda df, e: seen.__setitem__("g1", seen["g1"] + df.count()))
    # group-one is fully caught up; a second run sees nothing new
    sub1.at_least_once(lambda df, e: seen.__setitem__("g1", seen["g1"] + df.count()))
    # group-two still replays from the start (its own TRIM_HORIZON)
    sub2.at_least_once(lambda df, e: seen.__setitem__("g2", seen["g2"] + df.count()))

    n = _n_events()
    assert seen["g1"] == n
    assert seen["g2"] == n


def test_group_id_validation(topic):
    with pytest.raises(ValueError):
        topic.subscribe("bad group id")
    with pytest.raises(ValueError):
        topic.subscribe("")
    # '.'/'..'/backslash would escape or collapse the per-group checkpoint
    # namespace (the group id is a path segment).
    for gid in (".", "..", "a\\b"):
        with pytest.raises(ValueError):
            topic.subscribe(gid)


def test_committable_redelivers_uncommitted(topic):
    """Manual commit: no commit() ⇒ batch fails and is redelivered (R8)."""
    sub = topic.subscribe("manual-group")
    deliveries = []

    def no_commit(df, epoch, handle):
        deliveries.append(df.count())
        # deliberately no handle.commit()

    with pytest.raises(Exception):
        sub.committable(no_commit)

    def commits(df, epoch, handle):
        deliveries.append(df.count())
        handle.commit()

    sub.committable(commits)
    n = _n_events()
    assert deliveries[0] == n and deliveries[-1] == n  # redelivered in full


def test_producer_publish_and_replay_from_offset(spark, tmp_path):
    """Journal → serialize → partition-key publish; checkpointed offsets ⇒
    a second run publishes nothing (2C.2/2C.5 analogue)."""
    journal = str(tmp_path / "journal")
    sink = str(tmp_path / "sink")
    spark.range(100).select(
        F.col("id").alias("entity_id"),
        (F.col("id") % 7).alias("shard_key"),
        F.lit("created").alias("event"),
    ).write.parquet(journal)

    prod = TaggedProducer(
        spark=spark,
        journal_path=journal,
        journal_schema="entity_id long, shard_key long, event string",
        topic_name="entities",
        sink_path=sink,
        checkpoint_base=str(tmp_path / "pckpt"),
        partition_key=lambda df: F.col("shard_key").cast("string"),
    )
    prod.run()
    out = spark.read.parquet(sink)
    assert out.count() == 100
    assert set(out.columns) == {"value", "partition_key", "explicit_hash_key"}
    # no explicit hash key strategy ⇒ Option.empty ⇒ null column
    assert out.filter(F.col("explicit_hash_key").isNotNull()).count() == 0
    # payloads deserialize back to the journal rows
    decoded = out.select(
        F.from_json(F.col("value").cast("string"), "entity_id long, shard_key long, event string").alias("j")
    ).select("j.*")
    assert decoded.agg(F.countDistinct("entity_id")).collect()[0][0] == 100

    prod.run()  # replay from stored offset — nothing new
    assert spark.read.parquet(sink).count() == 100


def test_producer_default_partition_key_is_pure(spark, tmp_path):
    """Default partition key = pure hash of the message (2C.4)."""
    journal = str(tmp_path / "j2")
    spark.range(10).select(F.col("id").alias("x")).write.parquet(journal)
    common = dict(
        spark=spark,
        journal_path=journal,
        journal_schema="x long",
        topic_name="t",
    )
    p1 = TaggedProducer(
        **common, sink_path=str(tmp_path / "s1"), checkpoint_base=str(tmp_path / "c1")
    )
    p2 = TaggedProducer(
        **common, sink_path=str(tmp_path / "s2"), checkpoint_base=str(tmp_path / "c2")
    )
    p1.run()
    p2.run()
    k1 = {
        (r["pk"], bytes(r["value"]))
        for r in spark.read.parquet(str(tmp_path / "s1"))
        .select(F.col("partition_key").alias("pk"), "value")
        .collect()
    }
    k2 = {
        (r["pk"], bytes(r["value"]))
        for r in spark.read.parquet(str(tmp_path / "s2"))
        .select(F.col("partition_key").alias("pk"), "value")
        .collect()
    }
    assert k1 == k2  # same messages ⇒ same keys, across independent runs


def test_backoff_parameters():
    """Backoff follows reference.conf:19-25: 3s → 30s cap, jitter ≤ 0.2."""
    sleeps = []
    calls = {"n": 0}

    def always_fails():
        calls["n"] += 1
        raise RuntimeError("boom")

    run_with_backoff(
        always_fails,
        should_continue=lambda: calls["n"] < 6,
        backoff=BackoffConfig(),  # real defaults, fake sleep
        sleep=sleeps.append,
    )
    assert len(sleeps) == 6
    assert 3.0 <= sleeps[0] <= 3.0 * 1.2
    assert sleeps[-1] <= 30.0
    for a, b in zip(sleeps, sleeps[1:]):
        assert b >= a * 0.99  # monotone growth up to the cap


def test_at_most_once_staging_retry_is_idempotent(topic, tmp_path):
    """Crash in the stage-retry window: the staging write lands but the
    streaming checkpoint does not commit, so the SAME epoch_id is replayed.
    The per-epoch overwrite must rewrite (not append) the staged records —
    otherwise the single processing attempt would deliver every record
    twice, violating commit-before-process 'never dupes'. Also pins the
    staging GC: attempted epochs leave only the single _DONE watermark
    file behind, and the watermark is bound to the SUBSCRIBER'S checkpoint
    so a different subscriber reusing the dir cannot be gated (or worse,
    have its fresh batches GC'd) by a stale predecessor marker."""
    import json
    import os

    staging = str(tmp_path / "staging_retry")
    spark = topic.spark
    n = _n_events()

    processed_a = []
    sub = topic.subscribe("amo-retry-a")
    sub.at_most_once(
        lambda df, e: processed_a.append(df.count()), staging_dir=staging
    )
    assert sum(processed_a) == n
    # GC: data gone; ONE watermark file (not a marker per epoch) stays,
    # recording this subscriber's checkpoint + highest attempted epoch.
    marker = json.load(open(f"{staging}/_DONE"))
    assert marker == {
        "checkpoint": sub._checkpoint_identity(),
        "watermark": 0,
    }
    # ...and the identity is the streaming query id, not the path, so a
    # checkpoint wipe (epoch ids restart at 0) cannot be gated by it.
    assert marker["checkpoint"] != sub.checkpoint_dir
    assert not any(x.startswith("__epoch=") for x in os.listdir(staging))

    # Watermark also gates a re-run over the same staging dir: no reprocess.
    skipped = []
    assert sub.at_most_once(
        lambda df, e: skipped.append(df.count()), staging_dir=staging
    ) == []
    assert skipped == []

    # Simulated crash in the retry window: stale rows sit in the epoch dir
    # (the landed-but-uncommitted write) and the epoch is replayed by a
    # FRESH group (epoch ids restart at 0) into the SAME staging dir. Two
    # contracts at once: the stale _DONE belongs to group a's checkpoint,
    # so it must NOT gate group b (before the checkpoint binding, group
    # b's freshly staged epoch 0 was skipped AND garbage-collected as
    # 'already done' — silent data destruction); and the per-epoch
    # overwrite must REPLACE the stale rows — an append would make the one
    # processing attempt see n + 5 records (dupes).
    stale = spark.read.schema(topic.schema).parquet(topic.source_path).limit(5)
    stale.write.mode("overwrite").parquet(f"{staging}/__epoch=0")
    processed_b = []
    sub2 = topic.subscribe("amo-retry-b")
    errors = sub2.at_most_once(
        lambda df, e: processed_b.append(df.count()), staging_dir=staging
    )
    assert errors == []
    assert sum(processed_b) == n  # rewritten, not doubled — and not skipped


def test_producer_explicit_hash_key_roundtrip(spark, tmp_path):
    """User-supplied explicit hash key (KinesisOutboundRecord.scala:5-9)
    rides the outbound record alongside the partition key."""
    journal = str(tmp_path / "jehk")
    sink = str(tmp_path / "sehk")
    spark.range(20).select(F.col("id").alias("x")).write.parquet(journal)
    prod = TaggedProducer(
        spark=spark,
        journal_path=journal,
        journal_schema="x long",
        topic_name="tehk",
        sink_path=sink,
        checkpoint_base=str(tmp_path / "cehk"),
        partition_key=lambda df: F.col("x").cast("string"),
        explicit_hash_key=lambda df: (F.col("x") * 1000).cast("string"),
    )
    prod.run()
    out = spark.read.parquet(sink)
    got = {
        (r["partition_key"], r["explicit_hash_key"])
        for r in out.select("partition_key", "explicit_hash_key").collect()
    }
    assert got == {(str(i), str(i * 1000)) for i in range(20)}


def test_kinesis_source_config_wiring(spark):
    """Production path type-checked end to end: KinesisSourceConfig options
    feed Topic(source_format='kinesis'); without the connector jar the
    stream fails with the connector-missing error, not a config error."""
    from lagom_kinesis_spark.streaming.config import KinesisSourceConfig

    cfg = KinesisSourceConfig(stream_name="events", region="us-east-1")
    t = Topic(
        name="events-kinesis",
        schema="",  # connector supplies the record schema
        spark=spark,
        source_format="kinesis",
        source_options=cfg.source_options(),
    )
    with pytest.raises(Exception) as ei:
        t.stream()
    msg = str(ei.value)
    assert "kinesis" in msg.lower()  # clean 'data source not found', not a crash


def test_register_topic_producers_sweep(spark, tmp_path):
    """Multi-topic registration sweep (ScaladslRegisterTopicProducers
    analogue): N declarative specs wired and run in one loop, each with its
    own checkpoint namespace and sink."""
    from lagom_kinesis_spark.streaming.topics import (
        TopicProducerSpec,
        register_topic_producers,
        run_topic_producers,
    )

    specs = []
    for name, rows in (("orders-topic", 30), ("users-topic", 40)):
        journal = str(tmp_path / f"j_{name}")
        spark.range(rows).select(F.col("id").alias("x")).write.parquet(journal)
        specs.append(
            TopicProducerSpec(
                topic_name=name,
                journal_path=journal,
                journal_schema="x long",
                sink_path=str(tmp_path / f"s_{name}"),
            )
        )
    producers = register_topic_producers(
        spark, specs, checkpoint_base=str(tmp_path / "sweep_ckpt")
    )
    assert set(producers) == {"orders-topic", "users-topic"}
    run_topic_producers(producers)
    assert spark.read.parquet(str(tmp_path / "s_orders-topic")).count() == 30
    assert spark.read.parquet(str(tmp_path / "s_users-topic")).count() == 40
    with pytest.raises(ValueError):
        register_topic_producers(spark, specs + [specs[0]])


def test_producer_exactly_once_epoch_idempotence(spark, tmp_path):
    """exactly_once=True: re-publishing an epoch overwrites its own epoch
    directory — simulated crash-between-write-and-commit cannot duplicate."""
    journal = str(tmp_path / "j3")
    sink = str(tmp_path / "s3")
    spark.range(50).select(F.col("id").alias("x")).write.parquet(journal)
    common = dict(
        spark=spark,
        journal_path=journal,
        journal_schema="x long",
        topic_name="t3",
        sink_path=sink,
        exactly_once=True,
    )
    p = TaggedProducer(**common, checkpoint_base=str(tmp_path / "c3"))
    p.run()
    n1 = spark.read.parquet(sink + "/__epoch=0").count()
    # Crash simulation: wipe the checkpoint (offsets lost) and re-run —
    # the same epoch is republished; the overwrite keeps the sink exact.
    p2 = TaggedProducer(**common, checkpoint_base=str(tmp_path / "c3b"))
    p2.run()
    n2 = spark.read.parquet(sink + "/__epoch=0").count()
    assert n1 == n2 == 50


def test_producer_per_key_order_across_journal_files(spark, tmp_path):
    """Per-key publish order (R14) must follow the journal APPEND order even
    when the key's records span multiple journal files / input partitions:
    sorting the shuffled batch by partition_key ALONE left same-key rows in
    arbitrary shuffle-fetch order, and monotonically_increasing_id followed
    the scan's size-descending file bin-packing — the (_metadata file
    mtime, path, row_index) sort recovers the journal's own order."""
    journal = str(tmp_path / "jorder")
    sink = str(tmp_path / "sorder")
    for lo, hi in ((0, 5), (5, 10)):
        (
            spark.createDataFrame(
                [(i, "K") for i in range(lo, hi)], "i long, k string"
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(journal)
        )
    files = sorted(glob.glob(f"{journal}/part-*.parquet"))
    assert len(files) == 2
    seqs = [
        [r["i"] for r in spark.read.parquet(f).collect()] for f in files
    ]
    prod = TaggedProducer(
        spark=spark,
        journal_path=journal,
        journal_schema="i long, k string",
        topic_name="torder",
        sink_path=sink,
        checkpoint_base=str(tmp_path / "corder"),
        partition_key=lambda df: F.col("k"),
    )
    prod.run()
    out = (
        spark.read.parquet(sink)
        .withColumn("mid", F.monotonically_increasing_id())
        .orderBy("mid")
        .collect()
    )
    got = [json.loads(bytes(r["value"]).decode())["i"] for r in out]
    # The guarantee: the key's records publish in journal append order —
    # file-1's rows, in order, then file-2's. (Appends landing in the same
    # mtime millisecond would fall back to the deterministic path
    # tie-break; these two appends are full write jobs, far apart.)
    first_append = min(zip((os.path.getmtime(f) for f in files), seqs))[1]
    second_append = seqs[1] if first_append is seqs[0] else seqs[0]
    assert got == first_append + second_append, (got, seqs)


def test_checkpoint_identity_tracks_metadata(spark, tmp_path):
    """The at-most-once watermark binds to the checkpoint's random query
    id, not its path: wiping the checkpoint (epoch ids restart at 0)
    regenerates the id, so a stale watermark can never gate — or GC —
    the reset subscriber's freshly staged epochs."""
    t = Topic(
        name="tid",
        schema="x long",
        spark=spark,
        checkpoint_base=str(tmp_path / "cb"),
    )
    sub = t.subscribe("g")
    # No checkpoint yet → path fallback (still a valid identity).
    assert sub._checkpoint_identity() == sub.checkpoint_dir
    os.makedirs(sub.checkpoint_dir, exist_ok=True)
    with open(f"{sub.checkpoint_dir}/metadata", "w") as f:
        json.dump({"id": "query-uuid-1"}, f)
    assert sub._checkpoint_identity() == "query-uuid-1"
    # Checkpoint wipe + recreate = new id = watermark no longer matches.
    with open(f"{sub.checkpoint_dir}/metadata", "w") as f:
        json.dump({"id": "query-uuid-2"}, f)
    assert sub._checkpoint_identity() == "query-uuid-2"


def test_producer_rejects_reserved_seq_columns(spark, tmp_path):
    """The journal-order recovery columns (__mt/__fp/__ri) ride next to
    the journal columns through the shuffle — a schema that uses one of
    those names must fail fast, not ambiguate the sort or silently drop
    the user's column from the payload."""
    prod = TaggedProducer(
        spark=spark,
        journal_path=str(tmp_path / "jres"),
        journal_schema="__mt string, i long",
        topic_name="tres",
        sink_path=str(tmp_path / "sres"),
        checkpoint_base=str(tmp_path / "cres"),
    )
    with pytest.raises(ValueError, match="reserved column"):
        prod.run()


def test_at_most_once_commits_attempt_before_processing(topic, tmp_path):
    """Phase 2's commit point must precede the flow: the watermark is on
    disk BEFORE the first record is delivered, so even a hard crash
    (SIGKILL — no finally runs) mid-flow cannot lead to a second
    delivery on restart."""
    staging = str(tmp_path / "s_pre")
    seen = {}

    def flow(df, epoch):
        with open(f"{staging}/_DONE") as f:
            seen[epoch] = json.load(f)["watermark"]

    sub = topic.subscribe("amo-pre")
    assert sub.at_most_once(flow, staging_dir=staging) == []
    assert seen and all(wm >= e for e, wm in seen.items())


def test_at_most_once_purges_foreign_epochs(topic, tmp_path):
    """Staged epoch dirs from a DEAD incarnation (different checkpoint
    identity) must be purged before staging, not delivered — and their
    high epoch ids must not poison the new watermark (which would make
    later fresh low-numbered epochs skip AND garbage-collect)."""
    staging = str(tmp_path / "s_foreign")
    os.makedirs(staging)
    spark = topic.spark
    stale = spark.read.schema(topic.schema).parquet(topic.source_path).limit(3)
    stale.write.mode("overwrite").parquet(f"{staging}/__epoch=9")

    processed = []
    sub = topic.subscribe("amo-foreign")
    assert sub.at_most_once(
        lambda df, e: processed.append((e, df.count())), staging_dir=staging
    ) == []
    # Only the fresh epoch(s) were delivered — never the dead run's data.
    assert processed and all(e < 9 for e, _ in processed)
    assert sum(n for _, n in processed) == _n_events()
    # Watermark records OUR highest epoch, not the foreign 9.
    assert json.load(open(f"{staging}/_DONE"))["watermark"] == max(
        e for e, _ in processed
    )


def test_committable_commit_then_fail_is_not_redelivered(topic):
    """Once handle.commit() ran, a later in-flow failure must NOT bring
    the batch back — the manual commit saved the offset (reference
    semantics); post-commit work is best-effort."""
    deliveries = []

    def commit_then_boom(df, epoch, handle):
        deliveries.append(df.count())
        handle.commit()
        raise RuntimeError("post-commit failure")

    sub = topic.subscribe("manual-postfail")
    sub.committable(commit_then_boom)  # must not raise
    n = _n_events()
    assert deliveries == [n]
    # Re-run: offsets advanced past the committed batch — nothing new.
    sub.committable(lambda df, e, h: (deliveries.append(df.count()), h.commit()))
    assert deliveries == [n]


def test_topic_name_is_path_validated(spark):
    for bad in ("x/../y", "a/b", ".."):
        with pytest.raises(ValueError):
            Topic(name=bad, schema="x long", spark=spark)


def test_at_most_once_rejects_processing_time(topic, tmp_path):
    """Phase 1 under a processingTime trigger never terminates, so phase 2
    (the delivery) is unreachable — records would stage unboundedly and
    never flow. The combination is rejected loudly."""
    sub = topic.subscribe("amo-pt")
    sub.processing_time = "1 seconds"
    with pytest.raises(ValueError, match="bounded replay"):
        sub.at_most_once(lambda df, e: None, staging_dir=str(tmp_path / "s"))


def test_at_most_once_purges_unmarked_foreign_epochs(topic, tmp_path):
    """A dead incarnation that crashed in PHASE 1 leaves staged epochs and
    no _DONE marker — only the _OWNER file written before its first epoch.
    A different subscriber over the same staging dir must purge them
    (identity mismatch), not deliver the dead run's records or let epoch
    99 poison its watermark so its own epochs get skipped and GC'd."""
    import json
    import os

    staging = str(tmp_path / "shared")
    spark = topic.spark
    n = _n_events()

    # make subscriber b's checkpoint non-fresh first (the marker-only
    # foreign check never fired in this state before _OWNER existed)
    sub_b = topic.subscribe("amo-owner-b")
    warm = []
    sub_b.at_most_once(
        lambda df, e: warm.append(df.count()), staging_dir=str(tmp_path / "w")
    )
    assert sum(warm) == n

    # dead incarnation's phase-1-only leftovers: _OWNER + epoch 99, no _DONE
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "_OWNER"), "w") as f:
        json.dump({"checkpoint": "dead-run-identity"}, f)
    stale = spark.read.schema(topic.schema).parquet(topic.source_path).limit(7)
    stale.write.mode("overwrite").parquet(f"{staging}/__epoch=99")

    delivered = []
    # b has fully caught up above, so nothing of its OWN is staged — any
    # delivery here would be the dead run's records
    assert sub_b.at_most_once(
        lambda df, e: delivered.append((e, df.count())), staging_dir=staging
    ) == []
    assert delivered == []
    assert not os.path.exists(f"{staging}/__epoch=99")
    # and the dead owner file is gone, replaced on b's next staged epoch
    assert not os.path.exists(os.path.join(staging, "_OWNER"))
