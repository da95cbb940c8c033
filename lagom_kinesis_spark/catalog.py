"""Fixture catalog: named tables → DataFrames.

Plays the role of the reference's topic-registration sweep
(``ScaladslRegisterTopicProducers.scala:33-101`` — reflect over descriptors,
wire a named topic to its serde and transport): here a *catalog* maps table
names to schema-bearing parquet scans, the engine's at-rest topic form
(SURVEY.md §1.1: a topic at rest is a partitioned parquet table).

Scans stay fully declarative (``spark.read.parquet``) so Catalyst gets
predicate pushdown, column pruning and partition pruning for free.

The single physical quirk lives here: ``events.parquet`` encodings have
varied across fixture generations (nanosecond int64 under
``spark.sql.legacy.parquet.nanosAsLong=true``, later ``timestamp[us]`` which
Spark reads as TIMESTAMP_NTZ). :func:`normalize_event_ts` branches on the
*loaded* dtype so every consumer — batch and streaming — sees one canonical
``TimestampType`` µs column regardless of the file encoding. The DuckDB
oracle's ``make_timestamp(epoch_ns(ts)//1000)`` (helpers.EVENTS_US_SQL) is
exact for both encodings, so the two engines can never diverge on ts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from lagom_kinesis_spark.session import scratch_root, tune

#: Every driver-provided fixture table (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def stable_tag(s: str) -> str:
    """Process-stable 8-hex tag for cache/scratch paths derived from a
    fixture dir. Python's ``hash()`` is salt-randomized per process, so
    hash-derived paths never matched across processes — every fresh
    process rebuilt its own copy of cached artifacts (io-format fixtures,
    bucketed warehouse tables) and orphaned the previous ones."""
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()[:8]


def path_of(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def fixture_fingerprint(sf_dir: str, name: str) -> str:
    """8-hex tag over the (mtime_ns, size) of a fixture table's file(s).

    Build-once scratch layouts (the persisted IVF index, the dedup
    fingerprint catalog) adopt an existing _SUCCESS-marked directory on
    re-invocation; keyed on sf_dir alone, a fixture REGENERATED during the
    process's lifetime would silently keep serving the stale layout and
    diverge from the oracle. Folding the source file's mtime/size into the
    scratch path makes regeneration produce a fresh path instead."""
    import hashlib
    import os

    p = path_of(sf_dir, name)
    parts: list[str] = []
    # The fixture may be a single file or a directory of part files —
    # walked RECURSIVELY: a hive-partitioned layout rewritten in place
    # one level down would leave the top-level subdir's mtime unchanged,
    # and a fingerprint that misses it would adopt stale scratch.
    paths = [p]
    if os.path.isdir(p):
        paths = sorted(
            os.path.join(root, f)
            for root, _dirs, files in os.walk(p)
            for f in files
        )
    for f in paths:
        try:
            st = os.stat(f)
            parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{f}:absent")
    return hashlib.md5("\n".join(parts).encode()).hexdigest()[:8]


_IO_GC_DONE = False


def io_scratch(name: str, sf_dir: str, source: str | None = None) -> str:
    """Per-process scratch dir for io-format roundtrip fixtures.

    The ``_p<pid>`` suffix keeps concurrent processes — the round-end
    runbook runs pytest and gate_sim side by side — from racing each
    other: ``write.mode('overwrite')`` DELETES files a sibling may be
    mid-scan on, yielding FileNotFound or a partial read. io fixtures
    are cheap to rebuild per process, so unlike the flock-guarded
    bucketed warehouse they are deliberately NOT shared; the
    predictable ``<name>_<tag>_p<pid>`` shape lets dead siblings be
    GC'd (once per process) instead of orphaning like the old salted
    ``hash()`` names did.

    ``source`` names the fixture table the scratch layout is DERIVED
    from: its :func:`fixture_fingerprint` is folded into the path, so a
    fixture regenerated during the process's lifetime produces a fresh
    path instead of a _SUCCESS-adopted stale layout (the staleness class
    first fixed for the persisted IVF index / dedup catalog). Write-side
    scratch (checkpoints, sim topics) passes no source."""
    import os
    import re
    import shutil

    base = os.path.join(scratch_root(), "io")
    os.makedirs(base, exist_ok=True)
    global _IO_GC_DONE
    if not _IO_GC_DONE:
        _IO_GC_DONE = True
        for entry in os.listdir(base):
            m = re.search(r"_p(\d+)$", entry)
            if not m:
                # Legacy pre-pid naming: nothing running can still own it.
                shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
                continue
            pid = int(m.group(1))
            try:
                os.kill(pid, 0)  # signal 0: liveness probe only
            except ProcessLookupError:
                shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
            except Exception:
                pass  # permission/other: leave it
    if source is not None:
        name = f"{name}_{fixture_fingerprint(sf_dir, source)}"
    return f"{base}/{name}_{stable_tag(sf_dir)}_p{os.getpid()}"


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` to TimestampType µs, whatever the file held.

    - int64 (legacy ns fixture under nanosAsLong): floor-divide to µs —
      matches DuckDB's ``epoch_ns(ts)//1000``.
    - TIMESTAMP_NTZ (timestamp[us] fixture): cast to TimestampType; the
      session timezone is pinned to UTC (session.RUNTIME_CONFS) so the cast
      is instant-preserving and matches DuckDB's naive-UTC timestamps.
    - TimestampType: already canonical.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # FLOOR division, like the oracle's `//`: `ts div 1000` truncates
        # toward zero, which differs by 1 µs on negative (pre-1970) ns
        # values. pmod yields the non-negative remainder, so subtracting
        # it lands on the exact floor multiple and the div is exact int64
        # (no double roundtrip — ns magnitudes exceed 2^53). Identical to
        # the old expression for ts >= 0, i.e. every current fixture.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
        )
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: (session-identity, sf_dir, table) → DataFrame. A DataFrame is an immutable
#: logical plan, so handing the same one to every caller is safe — and it is
#: what a real deployment does (tables registered once in a metastore, not a
#: fresh relation per query). Re-creating the relation per call costs a
#: parquet footer read + file listing + ~13 conf roundtrips in tune():
#: measured 0.16-0.63 s of per-query BUILD time at sf0.1 — pure fixed cost.
#: Keyed on the JVM session identity (identity-memo discipline shared with
#: fan_out — helpers.memo_by_identity pins the session object so a recycled
#: id can never serve a plan bound to a DIFFERENT session's state) PLUS the
#: fixture's mtime/size fingerprint: a fixture regenerated during the
#: process's lifetime produces a new key, so the fresh file listing is
#: resolved instead of a cached relation over deleted part files — the same
#: staleness class io_scratch(source=...) defends against. The stat is ~µs
#: per load() call, noise next to the 0.16 s it saves.
_LOAD_CACHE: dict[tuple, tuple[SparkSession, DataFrame]] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; canonicalizes events.ts (normalize_event_ts).

    Memoized per (session, sf_dir, table, fixture-fingerprint) — see
    _LOAD_CACHE."""
    from lagom_kinesis_spark.functions.helpers import memo_by_identity

    def build():
        tune(spark)
        df = spark.read.parquet(path_of(sf_dir, name))
        if name == "events":
            df = normalize_event_ts(df)
        return df

    return memo_by_identity(
        _LOAD_CACHE,
        spark,
        (sf_dir, name, fixture_fingerprint(sf_dir, name)),
        build,
    )


def stream_dir(sf_dir: str, name: str) -> str:
    """Directory view of one fixture file for the file-streaming source
    (which requires a directory, not a file): a temp dir holding a symlink
    to the parquet. Idempotent per (sf_dir, name)."""
    import os

    d = os.path.join(scratch_root(), "stream_src", f"{stable_tag(sf_dir)}_{name}")
    link = f"{d}/{name}.parquet"
    if not os.path.islink(link):
        os.makedirs(d, exist_ok=True)
        try:
            os.symlink(path_of(sf_dir, name), link)
        except FileExistsError:
            pass
    return d


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Temp view per table, for spark.sql-expressed queries."""
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
