"""R19 config-validation parity tests (SURVEY.md §2A R19)."""

from __future__ import annotations

import pytest

from lagom_kinesis_spark.streaming.config import ConfigError, KinesisSourceConfig


def test_valid_region_only():
    c = KinesisSourceConfig(stream_name="events", region="us-east-1")
    opts = c.source_options()
    assert opts["streamName"] == "events"
    assert opts["startingPosition"] == "TRIM_HORIZON"
    assert opts["maxRecordsPerFetch"] == "10"
    assert "endpointUrl" not in opts


def test_valid_local_endpoints():
    c = KinesisSourceConfig(
        stream_name="events",
        kinesis_endpoint="http://localhost:4567",
        dynamo_endpoint="http://localhost:4568",
    )
    assert c.source_options()["endpointUrl"] == "http://localhost:4567"


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(stream_name=""),  # missing stream
        dict(stream_name="s"),  # neither endpoint nor region
        dict(stream_name="s", kinesis_endpoint="http://x"),  # endpoint xor dynamo
        dict(  # endpoint xor region
            stream_name="s",
            region="us-east-1",
            kinesis_endpoint="http://x",
            dynamo_endpoint="http://y",
        ),
        dict(stream_name="s", region="r", access_key="a"),  # key xor secret
        dict(stream_name="s", region="r", starting_position="MIDDLE"),
        dict(stream_name="s", region="r", max_records_per_fetch=0),
    ],
)
def test_invalid_configs_rejected(kwargs):
    with pytest.raises(ConfigError):
        KinesisSourceConfig(**kwargs)


def test_credential_chain_fallback():
    """Both credentials absent ⇒ default provider chain (no keys in opts)."""
    c = KinesisSourceConfig(stream_name="s", region="us-east-1")
    assert "awsAccessKeyId" not in c.source_options()


# --- driver sweep-order derivation (registry.driver_order) ------------------


def test_driver_order_tiers(monkeypatch):
    """The sweep-order contract: failed-latest rows first (automatic
    re-row), never-sampled next (module round-robin), already-green last —
    with the sampled/failed sets DERIVED from CORRECTNESS artifacts, not
    hand-frozen (the staleness bug that cost rounds 3-5 attention)."""
    from lagom_kinesis_spark import registry as R

    class Q:  # minimal Query stand-in
        def __init__(self, name, module):
            self.name, self.module = name, module

    reg = {
        "green_a": Q("green_a", "m1"),
        "fresh_b": Q("fresh_b", "m1"),
        "failed_c": Q("failed_c", "m2"),
        "fresh_d": Q("fresh_d", "m2"),
        "green_e": Q("green_e", "m2"),
    }
    monkeypatch.setattr(R, "_DRIVER_SAMPLED", frozenset({"green_a", "green_e", "failed_c"}))
    monkeypatch.setattr(R, "_DRIVER_FAILED", frozenset({"failed_c"}))
    order = R.driver_order(reg)
    assert order[0] == "failed_c"  # re-row tier leads
    assert set(order[1:3]) == {"fresh_b", "fresh_d"}  # fresh tier next
    assert set(order[3:]) == {"green_a", "green_e"}  # green tier last


def test_driver_history_reads_artifacts(tmp_path):
    """_driver_history mechanism, on SYNTHETIC artifacts: green = hash_match
    or rows-only-with-rows; anything else in the LATEST record is a failure.
    (Asserting the live repo artifacts contain no failures was wrong — a
    failed driver row is expected input that earns re-row priority, so any
    round artifact with a red row broke the suite for the whole next round.)"""
    import json

    from lagom_kinesis_spark import registry as R

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "q_green": {"hash_match": True, "spark_rows": 3},
                "q_flaky": {"hash_match": False, "spark_rows": 3},
                "q_rowsonly": {"err": "no_oracle", "spark_rows": 7},
            }
        )
    )
    # later round: q_flaky re-rowed green; q_red newly failed (hash mismatch)
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(
            {
                "q_flaky": {"hash_match": True, "spark_rows": 3},
                "q_red": {"hash_match": False, "spark_rows": 9},
                "q_err": {"err": "Boom: exploded", "spark_rows": None},
            }
        )
    )
    sampled, failed, last_round = R._driver_history(tmp_path)
    assert sampled == frozenset({"q_green", "q_flaky", "q_rowsonly", "q_red", "q_err"})
    # latest record wins: q_flaky recovered; q_red and q_err are failures
    assert failed == frozenset({"q_red", "q_err"})
    # last_round tracks the newest artifact recording each name — the
    # _NEEDS_REROW expiry signal.
    assert last_round == {
        "q_green": 1,
        "q_rowsonly": 1,
        "q_flaky": 2,
        "q_red": 2,
        "q_err": 2,
    }
    # corrupt artifacts degrade to never-sampled, not a crash
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")
    sampled2, failed2, _ = R._driver_history(tmp_path)
    assert sampled2 == sampled and failed2 == failed


def test_driver_history_live_artifacts_are_registered():
    """Live-repo invariant that must always hold: every name the driver ever
    sampled is a registered query (no orphan evidence), and any latest-round
    failures occupy the FRONT re-row slots of driver_order."""
    from lagom_kinesis_spark import registry as R
    from lagom_kinesis_spark.registry import all_queries, driver_order

    sampled, failed, last_round = R._driver_history()
    reg = all_queries()
    assert sampled <= set(reg)
    order = driver_order(reg)
    rerow_front = set(order[: len(failed | set(R._ACTIVE_REROW))])
    assert failed <= rerow_front
    # Every force-listed re-row name must be registered, and expired
    # entries (driver row from that name's min round or later) must NOT
    # occupy front slots.
    assert set(R._NEEDS_REROW) <= set(reg)
    for n in set(R._NEEDS_REROW) - set(R._ACTIVE_REROW):
        assert last_round.get(n, -1) >= R._NEEDS_REROW[n]


# --- bench output contract (r13: truncation-proof two-line record) ----------


def test_bench_essential_line_fits_tail_capture():
    """r13 (VERDICT r12 ask #3): the FIRST bench output line must stay
    parseable under the driver's ~2000-char tail capture — BENCH_r11's
    per-query history was lost to exactly that truncation. Pin the size
    bound at full suite width (every HEADLINE name at worst-case float
    widths) and the contract fields' presence."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    times = {q: 123.456 for q in bench.HEADLINE}
    rec = bench._essential_record(
        sum(times.values()), times, 0.1, tainted=False, cpus=32, parallelism=32
    )
    line = json.dumps(rec)
    assert len(line) <= 1536, f"essential line {len(line)}B > 1.5 KB"
    # contract fields (driver protocol) all present on the compact line
    assert {"metric", "value", "unit", "queries", "sf"} <= set(rec)
    assert rec["queries"] == times and rec["unit"] == "sec"
    # the row count keeps totals comparable across suite changes
    assert rec["suite_rows"] == len(bench.HEADLINE)


def test_bench_witness_row_pinned():
    """The core-scaling witness row stays in the headline suite, and its
    oracle keeps the oracle_quadratic tag, so bench.py reports it as
    no-baseline instead of timing DuckDB's deliberate all-pairs check."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench
    from lagom_kinesis_spark.registry import all_queries

    assert "dedup_jaccard_pairs" in bench.HEADLINE
    assert "oracle_quadratic" in all_queries()["dedup_jaccard_pairs"].tags


def test_bench_task_counts_telemetry(spark):
    """_task_counts must attribute a job group's tasks/stages (the
    core-scaling witness telemetry, VERDICT r12 ask #2) and degrade to {}
    rather than raise."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobGroup("tc-test", "tc-test")
    try:
        spark.range(100000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    out = bench._task_counts(spark, "tc-test")
    assert out.get("tasks", 0) > 0 and out.get("stages", 0) > 0
    assert bench._task_counts(spark, "no-such-group") in ({}, {"tasks": 0, "stages": 0})


# --- engine defaults and session discipline ---------------------------------


def test_no_conf_mutation_outside_session_module():
    """Operators never set a conf on a caller's session: conf-scoped runs go
    through session.child_session, the only module that sets confs."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "lagom_kinesis_spark"
    hits = [
        f"{p.relative_to(root)}:{n}"
        for p in sorted(root.rglob("*.py"))
        if p != root / "session.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if ".conf.set(" in line or ".conf.unset(" in line
    ]
    assert hits == []


def test_machine_defaults_follow_the_machine(monkeypatch):
    """With neither variable set, a local session takes the usable cores
    and a quarter of the machine's memory; a set variable wins."""
    import os

    from lagom_kinesis_spark.session import machine_defaults

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    cpus, mem = machine_defaults()
    assert cpus == str(len(os.sched_getaffinity(0)))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert mem == f"{phys_mb // 4}m"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert machine_defaults() == ("3", "2g")


def test_scratch_lands_under_tmpdir(monkeypatch, tmp_path):
    """Engine scratch follows TMPDIR, resolved per call; with TMPDIR unset
    it stays at /tmp/lagom_kinesis_spark."""
    import tempfile

    from lagom_kinesis_spark.catalog import stream_dir
    from lagom_kinesis_spark.session import scratch_root
    from lagom_kinesis_spark.streaming.topics import fresh_scratch_dir
    from tests.conftest import SF_DIR

    for k in ("TMPDIR", "TEMP", "TMP"):
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(tempfile, "tempdir", None)
    assert scratch_root() == "/tmp/lagom_kinesis_spark"
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    assert fresh_scratch_dir("tmpdir_probe").startswith(str(tmp_path))
    assert stream_dir(SF_DIR, "events").startswith(str(tmp_path))
