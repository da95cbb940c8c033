"""`kinesis_sim` — a Spark 4 Python DataSource with Kinesis semantics.

The reference consumes real Kinesis through the KCL
(`KinesisSubscriberActor.scala:176-207`: one lease per shard, per-shard
ordering, TRIM_HORIZON replay, checkpointed progress). No AWS exists in
this environment, so the transport contract is proven on a faithful local
simulator instead — not a mock of our own consumer, but a real pluggable
``spark.read/readStream.format("kinesis_sim")`` source going through
Spark's public DataSource V2 Python API:

- a *stream* is a directory of ``shard-NNNNN/`` subdirs of append-only
  jsonl files; a *record* is ``(data, partition_key, sequence_number,
  shard_id)``;
- ``put_records`` is the KPL-analogue: routes each record to
  ``shard_for(partition_key)`` (md5-based, engine-reproducible) and
  assigns the next per-shard sequence number — same partition key ⇒ same
  shard ⇒ strictly ordered, exactly Kinesis's guarantee
  (`Producer.scala:217-250` relies on the same property);
- batch read = TRIM_HORIZON full replay, one InputPartition per shard
  (the KCL's lease-per-shard parallelism);
- stream read exposes per-shard sequence offsets: ``initialOffset`` is
  zeros (TRIM_HORIZON, `KinesisSubscriberActor.scala:193`) or the current
  tip (LATEST); Structured Streaming's checkpoint persists the offsets —
  the DynamoDB lease-table analogue (R17) — so a restarted query resumes
  where it left off. The stream reader is a simple stream reader: each
  micro-batch is read on the driver, while Spark asks for the latest
  offset, and reaches the JVM as one prefetched block with the batch plan,
  so a steady-state micro-batch starts no Python worker task. Only the
  replay of an uncommitted batch after a restart reads in a worker task.

Scale note: a batch read keeps one input partition per shard, exactly
Kinesis's parallelism model; resharding = more shard dirs. A stream read
funnels every shard through the driver's one source process, which suits
a micro-batch of thousands of records, not a firehose. Record files are
read sequentially per shard — the per-shard order IS the contract.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SCHEMA = (
    "data string, partition_key string, sequence_number bigint, shard_id string"
)


def shard_for(
    partition_key: str, n_shards: int, explicit_hash_key: str | None = None
) -> int:
    """md5-based shard routing: deterministic, engine-reproducible (the
    simulator's MD5-of-key stand-in for Kinesis's MD5 hash-key ring).

    ``explicit_hash_key`` overrides the partition key on the hash ring —
    the reference's ``KinesisOutboundRecord.explicitHashKey``
    (KinesisOutboundRecord.scala:5-9) / Kinesis PutRecord ExplicitHashKey:
    the record still CARRIES partition_key, only its placement changes
    (the producer's tool for spreading a hot key or pinning related keys
    to one shard)."""
    key = explicit_hash_key if explicit_hash_key is not None else partition_key
    # Same 32-bit md5-prefix hash as range routing (hash32, defined with
    # the ranged-stream helpers below): ONE hash definition for both the
    # modulo ring and the range ring, so they cannot desync.
    return hash32(key) % n_shards


def _shard_name(i: int) -> str:
    return f"shard-{i:05d}"


def _shard_file(stream_dir: str, i: int) -> str:
    return os.path.join(stream_dir, _shard_name(i), "records.jsonl")


def put_records(
    stream_dir: str, records: list[tuple], n_shards: int = 4
) -> dict[str, int]:
    """Append (data, partition_key[, explicit_hash_key]) records — the
    KPL-analogue producer. An explicit hash key overrides ring placement
    (shard_for). Returns the per-shard tip (record count) after the put.

    Descriptor-aware, mirroring _Writer's guard: a ranged stream
    (shards.json present) routes by hash RANGE over the OPEN shards —
    trusting the caller's ``n_shards`` there would mod-route records into
    CLOSED parents a drain-parents-first consumer already finished. On a
    plain stream, a put whose ``n_shards`` disagrees with the existing
    shard ring is rejected: the same partition key would re-route to a
    different shard, splitting one key's records across shards and
    silently breaking the module's per-key ordering contract."""
    if os.path.exists(os.path.join(stream_dir, _META)):
        return put_records_ranged(stream_dir, records)
    existing = _shards_of(stream_dir)
    if existing and len(existing) != n_shards:
        raise ValueError(
            f"put_records(n_shards={n_shards}) against a stream with "
            f"{len(existing)} existing shards would re-route partition "
            "keys; pass the stream's actual shard count"
        )
    buckets: dict[int, list[str]] = {}
    for rec in records:
        data, pk = rec[0], rec[1]
        ehk = rec[2] if len(rec) > 2 else None
        payload = {"data": data, "partition_key": pk}
        if ehk is not None:
            payload["explicit_hash_key"] = ehk
        buckets.setdefault(shard_for(pk, n_shards, ehk), []).append(
            json.dumps(payload)
        )
    tips: dict[str, int] = {}
    for i in range(n_shards):
        path = _shard_file(stream_dir, i)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        lines = buckets.get(i, [])
        if lines:
            with open(path, "a") as f:
                f.write("\n".join(lines) + "\n")
        tips[_shard_name(i)] = _count_records(path)
    return tips


def _count_records(path: str) -> int:
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return sum(1 for ln in f if ln.strip())


def _shards_of(stream_dir: str) -> list[str]:
    if not os.path.isdir(stream_dir):
        return []
    return sorted(d for d in os.listdir(stream_dir) if d.startswith("shard-"))


def _read_shard(
    stream_dir: str, shard: str, start: int, end: int | None
) -> Iterator[tuple]:
    """Rows of one shard with sequence numbers in [start, end); with
    ``end=None``, up to the last complete line."""
    path = os.path.join(stream_dir, shard, "records.jsonl")
    if not os.path.exists(path):
        return
    with open(path) as f:
        seq = 0
        for ln in f:
            if not ln.endswith("\n"):
                break  # the tail of a put still being appended
            if not ln.strip():
                continue
            if seq >= start and (end is None or seq < end):
                rec = json.loads(ln)
                yield (rec["data"], rec["partition_key"], seq, shard)
            seq += 1
            if end is not None and seq >= end:
                break


class _ShardPartition(InputPartition):
    def __init__(self, shard: str, start: int, end: int | None):
        self.shard = shard
        self.start = start
        self.end = end


class _BatchReader(DataSourceReader):
    """TRIM_HORIZON full replay; one partition per shard (lease model)."""

    def __init__(self, options):
        self.stream_dir = options["path"]

    def partitions(self):
        return [_ShardPartition(s, 0, None) for s in _shards_of(self.stream_dir)] or [
            _ShardPartition(_shard_name(0), 0, 0)
        ]

    def read(self, partition: _ShardPartition):
        yield from _read_shard(
            self.stream_dir, partition.shard, partition.start, partition.end
        )


class _StreamReader(SimpleDataSourceStreamReader):
    """Per-shard sequence offsets, checkpoint-persisted by Spark (R17).

    A simple stream reader: Spark's long-lived source runner on the driver
    calls ``read(start)`` from ``latestOffset``, caches the rows and hands
    them to the JVM with the batch plan, so a steady-state micro-batch
    starts no Python read task. A restart that replays an uncommitted
    offset-log batch finds that cache empty and re-reads the batch through
    ``readBetweenOffsets`` in a worker.

    ``drain_parents_first=true`` enforces the KCL lease-ordering rule
    across a reshard: a child shard's records are withheld from a
    micro-batch until every parent shard (shards.json lineage) has been
    read to its tip in an earlier micro-batch. Micro-batches execute
    strictly serially, so read-earlier implies processed-earlier — no
    child record is consumed before any parent record, preserving per-key
    order across a SplitShard/MergeShards boundary (one key's records live
    in exactly one parent and one child). Intended for TRIM_HORIZON replay
    consumes of a resharded stream — default off, since it staggers child
    data into later micro-batches.

    Restart safety comes from ``read(start)`` alone: ``start`` is always
    the last planned end — ``initialOffset`` on a fresh query, the
    re-planned or committed batch's end on a restart — and every shard's
    end is either its tip or, while held, ``start`` itself, so no end
    offset ever falls below what Spark has recorded. No reader state
    survives between calls.
    """

    def __init__(self, options):
        self.stream_dir = options["path"]
        self.starting = options.get("startingposition", "TRIM_HORIZON").upper()
        if self.starting not in ("TRIM_HORIZON", "LATEST"):
            # Fail fast: a typo silently becoming TRIM_HORIZON would
            # full-replay the stream (mass redelivery from a config slip).
            raise ValueError(
                f"unsupported startingposition: {self.starting!r} "
                "(TRIM_HORIZON or LATEST)"
            )
        self.drain_parents_first = (
            options.get("drain_parents_first", "false").lower() == "true"
        )

    def _lineage(self) -> dict[str, list[str]]:
        try:
            return {s["id"]: s["parents"] for s in _load_meta(self.stream_dir)}
        except (FileNotFoundError, KeyError, json.JSONDecodeError):
            return {}  # never resharded → no lineage to honor

    def initialOffset(self) -> dict:
        shards = _shards_of(self.stream_dir)
        if self.starting == "LATEST":
            return {
                s: _count_records(os.path.join(self.stream_dir, s, "records.jsonl"))
                for s in shards
            }
        return {s: 0 for s in shards}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo = {s: int(start.get(s, 0)) for s in _shards_of(self.stream_dir)}
        rows = {s: list(_read_shard(self.stream_dir, s, lo[s], None)) for s in lo}
        tips = {s: lo[s] + len(rows[s]) for s in lo}
        end = dict(tips)
        if self.drain_parents_first:
            lineage = self._lineage()
            for shard in lo:
                if any(p in lo and lo[p] < tips[p] for p in lineage.get(shard, [])):
                    # Hold the child at start until every parent has been
                    # read to its tip in an earlier batch.
                    end[shard] = lo[shard]
                    rows[shard] = []
        # A list iterator: the runner copies cached iterators on replay.
        return iter([r for s in lo for r in rows[s]]), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        for shard, hi in end.items():
            yield from _read_shard(
                self.stream_dir, shard, int(start.get(shard, 0)), int(hi)
            )


class _StagedParts(WriterCommitMessage):
    """Commit message: the shard parts one task staged (shard index,
    staged file path, record count)."""

    def __init__(self, parts: list[tuple[int, str, int]]):
        self.parts = parts


class _Writer(DataSourceWriter):
    """Distributed producer — the KPL-analogue publish path
    (`Producer.scala:217-250`) as a transactional Spark sink.

    Two-phase protocol (the standard exactly-once sink shape): each TASK
    buckets its rows by ``shard_for(partition_key)`` and writes one
    staged part file per shard (executor-side, parallel, no contention);
    the driver's ``commit()`` then appends all staged parts to the
    per-shard logs in one deterministic sorted order. A failed/retried
    task stages to a fresh uuid path and only the committed attempt's
    parts are appended — speculative or dead attempts are swept with the
    staging dir, so records never publish twice (the engine-side half of
    the reference's publish-then-save-offset contract,
    `Producer.scala:202-215`).
    """

    def __init__(self, options, overwrite: bool):
        self.stream_dir = options["path"]
        self.n_shards = int(options.get("n_shards", "4"))
        self.overwrite = overwrite
        # A ranged stream (shards.json present — create_stream/split/merge
        # model) routes by hash RANGE over the OPEN shards, exactly like
        # put_records_ranged. Without this, writing to a resharded stream
        # would mod-route records into CLOSED parents (breaking the
        # drain-parents-first ordering contract) and into shard indices
        # outside the descriptor entirely.
        meta = os.path.join(self.stream_dir, _META)
        self.open_ranges: list[dict] | None = None
        if os.path.exists(meta):
            self.open_ranges = [
                s for s in _load_meta(self.stream_dir) if s["status"] == "OPEN"
            ]

    def _route(self, pk: str, ehk) -> int:
        if self.open_ranges is None:
            return shard_for(pk, self.n_shards, ehk)
        s = covering_open_shard(self.open_ranges, pk, ehk)
        return int(s["id"].rsplit("-", 1)[1])

    def write(self, iterator) -> _StagedParts:
        import uuid as _uuid

        from pyspark import TaskContext

        # Partition id leads the staging path so commit()'s path sort is a
        # DETERMINISTIC (input partition, shard) order — a bare uuid made
        # same-key records from different tasks land in uuid order. Per-key
        # order through the distributed writer holds when a key lives in
        # one partition (TaggedProducer repartitions by key for exactly
        # this); cross-partition keys are the caller's ordering contract.
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        stage_dir = os.path.join(
            self.stream_dir, "_staging", f"{pid:05d}_{_uuid.uuid4().hex}"
        )
        buckets: dict[int, list[str]] = {}
        for row in iterator:
            pk = row.partition_key
            # Optional explicit_hash_key column overrides ring placement
            # (KinesisOutboundRecord.scala:5-9); absent/null → pk routing.
            ehk = getattr(row, "explicit_hash_key", None)
            payload = {"data": row.data, "partition_key": pk}
            if ehk is not None:
                payload["explicit_hash_key"] = ehk
            buckets.setdefault(self._route(pk, ehk), []).append(
                json.dumps(payload)
            )
        os.makedirs(stage_dir, exist_ok=True)
        parts: list[tuple[int, str, int]] = []
        for i, lines in sorted(buckets.items()):
            p = os.path.join(stage_dir, f"{_shard_name(i)}.part")
            with open(p, "w") as f:
                f.write("\n".join(lines) + "\n")
            parts.append((i, p, len(lines)))
        return _StagedParts(parts)

    def commit(self, messages) -> None:
        import shutil

        if self.overwrite:
            for s in _shards_of(self.stream_dir):
                shutil.rmtree(os.path.join(self.stream_dir, s), ignore_errors=True)
        # NOTE on retry semantics: the stage/commit split makes SPECULATIVE
        # and DEAD TASK attempts harmless (their parts are never appended).
        # A driver-side failure mid-append followed by a whole-job retry
        # re-publishes the already-appended parts — at-least-once, exactly
        # like a real Kinesis putRecords retry; exactly-once belongs to the
        # epoch-keyed sink (TaggedProducer.exactly_once), not this layer.
        staged = sorted(
            (part for m in messages if m is not None for part in m.parts),
            key=lambda x: x[1],
        )
        for i, path, _n in staged:
            dst = _shard_file(self.stream_dir, i)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            with open(path) as src, open(dst, "a") as out:
                out.write(src.read())
        # Materialize every shard dir so readers see the full shard ring
        # even when a shard received no records — mandatory after the
        # overwrite rmtree above, which deletes record-less OPEN shards
        # and CLOSED parents alike (create_stream/split/merge materialized
        # them once, but that does not survive an overwrite).
        if self.open_ranges is None:
            for i in range(self.n_shards):
                os.makedirs(
                    os.path.dirname(_shard_file(self.stream_dir, i)),
                    exist_ok=True,
                )
        else:
            for s in _load_meta(self.stream_dir):
                os.makedirs(
                    os.path.join(self.stream_dir, s["id"]), exist_ok=True
                )
        self._sweep_own_staging(messages)

    def abort(self, messages) -> None:
        self._sweep_own_staging(messages)

    def _sweep_own_staging(self, messages) -> None:
        """Remove ONLY this job's staged part dirs — a concurrent writer to
        the same stream has its own staging dirs in flight, and sweeping
        the whole _staging tree would destroy its uncommitted parts
        mid-commit (partial publish + lost records)."""
        import shutil

        own = {
            os.path.dirname(path)
            for m in (messages or [])
            if m is not None
            for _i, path, _n in m.parts
        }
        for d in own:
            shutil.rmtree(d, ignore_errors=True)
        staging = os.path.join(self.stream_dir, "_staging")
        # Opportunistic GC of DEAD attempts' leftovers: a task that staged
        # parts and then died before returning its message is in nobody's
        # `own` set, so its dir would leak forever. An age threshold keeps
        # this safe for concurrent writers — a live sibling's staging is
        # seconds old, while an hour-old dir can only be an orphan.
        import time

        cutoff = time.time() - 3600
        try:
            for entry in os.listdir(staging):
                p = os.path.join(staging, entry)
                if p not in own:
                    try:
                        if os.path.getmtime(p) < cutoff:
                            shutil.rmtree(p, ignore_errors=True)
                    except OSError:
                        pass  # swept by a sibling mid-listing
        except OSError:
            pass
        try:
            os.rmdir(staging)  # only if empty — siblings may be mid-flight
        except OSError:
            pass


class KinesisSimDataSource(DataSource):
    """``spark.read.format("kinesis_sim").option("path", dir)`` — register
    with ``spark.dataSource.register(KinesisSimDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "kinesis_sim"

    def schema(self) -> str | StructType:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _BatchReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _StreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _Writer(self.options, overwrite)


# ---------------------------------------------------------------------------
# Resharding (hash-range shard model)
#
# Kinesis proper routes by MD5 hash RANGE, and resharding splits a parent
# shard's range between two children: the parent is CLOSED (its records
# remain readable to the end — SHARD_END), and new records route to
# whichever child's range contains the key hash. Consumers must drain the
# parent before its children to keep per-key order (the KCL lease rule the
# reference inherits). The simulator keeps the same record/file layout and
# adds a `shards.json` descriptor carrying ranges, status and parentage.
# Ranges live in the 32-bit prefix space of md5 (granular enough for a
# simulator, and representable in every engine's BIGINT for oracles).
# ---------------------------------------------------------------------------

_META = "shards.json"
_RANGE_SPACE = 1 << 32


def hash32(partition_key: str) -> int:
    """First 8 md5 hex chars as uint32 — the range-routing hash (oracle
    mirror: CAST(('0x' || substr(md5(pk), 1, 8)) AS BIGINT))."""
    if partition_key is None:
        # Real Kinesis rejects a missing partition key at the API boundary;
        # fail fast here (the one routing choke point) instead of an opaque
        # AttributeError deep inside an executor's Python worker.
        raise ValueError("partition_key / explicit_hash_key must be non-null")
    return int(hashlib.md5(partition_key.encode()).hexdigest()[:8], 16)


def covering_open_shard(open_shards: list[dict], pk: str, ehk=None) -> dict:
    """The OPEN shard whose hash range contains hash32(ehk or pk) — the
    single definition of range routing, shared by the producer helper
    (put_records_ranged) and the distributed writer (_Writer._route)."""
    h = hash32(ehk if ehk is not None else pk)
    for s in open_shards:
        if s["lo"] <= h < s["hi"]:
            return s
    raise ValueError(f"no OPEN shard covers hash {h}")  # corrupt meta


def _load_meta(stream_dir: str) -> list[dict]:
    with open(os.path.join(stream_dir, _META)) as f:
        return json.load(f)


def _save_meta(stream_dir: str, shards: list[dict]) -> None:
    os.makedirs(stream_dir, exist_ok=True)
    with open(os.path.join(stream_dir, _META), "w") as f:
        json.dump(shards, f, indent=1)


def create_stream(stream_dir: str, n_shards: int = 1) -> list[dict]:
    """Initialize a ranged stream: n open shards splitting [0, 2^32)."""
    step = _RANGE_SPACE // n_shards
    shards = [
        {
            "id": _shard_name(i),
            "lo": i * step,
            "hi": (i + 1) * step if i < n_shards - 1 else _RANGE_SPACE,
            "status": "OPEN",
            "parents": [],
        }
        for i in range(n_shards)
    ]
    _save_meta(stream_dir, shards)
    for s in shards:
        os.makedirs(os.path.join(stream_dir, s["id"]), exist_ok=True)
    return shards


def split_shard(stream_dir: str, shard_id: str) -> tuple[str, str]:
    """Kinesis SplitShard: close the parent, create two children covering
    the halves of its hash range. Returns the child ids."""
    shards = _load_meta(stream_dir)
    by_id = {s["id"]: s for s in shards}
    parent = by_id[shard_id]
    if parent["status"] != "OPEN":
        raise ValueError(f"{shard_id} is not OPEN")
    parent["status"] = "CLOSED"
    mid = (parent["lo"] + parent["hi"]) // 2
    next_idx = len(shards)
    children = []
    for lo, hi in ((parent["lo"], mid), (mid, parent["hi"])):
        child = {
            "id": _shard_name(next_idx),
            "lo": lo,
            "hi": hi,
            "status": "OPEN",
            "parents": [shard_id],
        }
        os.makedirs(os.path.join(stream_dir, child["id"]), exist_ok=True)
        shards.append(child)
        children.append(child["id"])
        next_idx += 1
    _save_meta(stream_dir, shards)
    return children[0], children[1]


def put_records_ranged(
    stream_dir: str, records: list[tuple]
) -> dict[str, int]:
    """Route (data, partition_key[, explicit_hash_key]) records to the OPEN
    shard whose hash range contains hash32(explicit_hash_key or pk) — the
    post-reshard producer path with the Kinesis ExplicitHashKey override."""
    shards = [s for s in _load_meta(stream_dir) if s["status"] == "OPEN"]
    buckets: dict[str, list[str]] = {}
    for rec in records:
        data, pk = rec[0], rec[1]
        ehk = rec[2] if len(rec) > 2 else None
        target = covering_open_shard(shards, pk, ehk)["id"]
        payload = {"data": data, "partition_key": pk}
        if ehk is not None:
            payload["explicit_hash_key"] = ehk
        buckets.setdefault(target, []).append(json.dumps(payload))
    tips: dict[str, int] = {}
    for sid, lines in buckets.items():
        path = os.path.join(stream_dir, sid, "records.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a") as f:
            f.write("\n".join(lines) + "\n")
    for s in _load_meta(stream_dir):
        tips[s["id"]] = _count_records(
            os.path.join(stream_dir, s["id"], "records.jsonl")
        )
    return tips


def shard_lineage(stream_dir: str) -> dict[str, list[str]]:
    """shard id → parent ids; consumers drain parents before children
    (per-key order across a reshard — the KCL lease ordering rule)."""
    return {s["id"]: s["parents"] for s in _load_meta(stream_dir)}


def merge_shards(stream_dir: str, left_id: str, right_id: str) -> str:
    """Kinesis MergeShards: close two ADJACENT open shards, create one
    child owning their combined hash range. Returns the child id."""
    shards = _load_meta(stream_dir)
    by_id = {s["id"]: s for s in shards}
    a, b = by_id[left_id], by_id[right_id]
    if a["status"] != "OPEN" or b["status"] != "OPEN":
        raise ValueError("both shards must be OPEN")
    if a["hi"] != b["lo"]:
        raise ValueError(f"{left_id} and {right_id} are not adjacent")
    a["status"] = b["status"] = "CLOSED"
    child = {
        "id": _shard_name(len(shards)),
        "lo": a["lo"],
        "hi": b["hi"],
        "status": "OPEN",
        "parents": [left_id, right_id],
    }
    os.makedirs(os.path.join(stream_dir, child["id"]), exist_ok=True)
    shards.append(child)
    _save_meta(stream_dir, shards)
    return child["id"]
