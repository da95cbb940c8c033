"""``query_mix``: one client runs registered queries back to back (a closed
loop). Each query is a ``Query.fn`` call that builds the frame, then a
forced noop write of every output column.

Three untimed passes warm up: the first, in ``QUERY_MIX`` order, collects
every result and compares it with the query's DuckDB oracle (the same
canonical frame and value hash as ``scripts/gate_sim.py``), the second and
third force it like the timed passes. Timed passes follow. The later
passes run in seeded orders; the number of timed passes is set by
``seconds`` (``PASS_S``).
"""

from __future__ import annotations

import importlib.util
import os
import random
import statistics
import time

import measure
import procs
import sparkobs

#: Eight of the bench.HEADLINE rows. Most are bound by the fixed per-query
#: cost (plan build in Query.fn, Catalyst, job scheduling);
#: ``stream_session_window`` runs a bounded stateful streaming query inside
#: Query.fn and sets the tail. Left out, to keep a run inside its time
#: budget: every row's first run costs two to three times a warm one.
QUERY_MIX = (
    "flagship_revenue_by_nation",
    "agg_pricing_summary",
    "agg_count_distinct_multi",
    "join_asof",
    "win_topk_per_group",
    "dedup_exact",
    "text_top_tokens",
    "stream_session_window",
)
#: A run of ``seconds`` times ``seconds // PASS_S`` passes, at least two: a
#: fixed count per run length, so every run takes the same number of samples
#: and amortizes the same warm-up (a pass takes 4-10 s on 4 cores).
PASS_S = 5


def _gate_sim(repo: str):
    """``scripts/gate_sim.py`` as a module, for its oracle comparison."""
    spec = importlib.util.spec_from_file_location(
        "gate_sim", os.path.join(repo, "scripts", "gate_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_mismatch(gate, spark_pdf, duck_pdf) -> str | None:
    """Why a Spark result differs from its oracle, or None if it matches."""
    sc, dc = gate.canon_frame(spark_pdf), gate.canon_frame(duck_pdf)
    if list(sc.columns) != list(dc.columns):
        return f"columns {list(sc.columns)} != {list(dc.columns)}"
    if len(sc) != len(dc):
        return f"rows {len(sc)} != {len(dc)}"
    if gate.value_hash(sc) != gate.value_hash(dc):
        return "value hash differs"
    return None


def run(spark, repo: str, sf_dir: str, seed: int, seconds: float,
        tracer: measure.Tracer, setup_done) -> dict:
    import duckdb

    from lagom_kinesis_spark.catalog import TABLES
    from lagom_kinesis_spark.registry import all_queries

    with tracer.span("registry.import"):
        qs = all_queries()
    gate = _gate_sim(repo)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    names = QUERY_MIX
    rng = random.Random(seed)
    attempted = failed = 0
    errors: dict[str, str] = {}

    # The first pass runs in a fixed order, so that set-up ends with the same
    # query for every seed.
    for name in names:
        attempted += 1
        try:
            with tracer.span("warmup", f"warmup:{name}"):
                pdf = qs[name].fn(spark, sf_dir).toPandas()
            setup_done()
            why = oracle_mismatch(gate, pdf, con.sql(qs[name].oracle).df())
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            why = f"{type(e).__name__}: {e}"[:300]
        if why:
            failed += 1
            errors[name] = why
    con.close()
    setup_done()

    # Two more untimed passes: after the first alone, the first timed pass
    # still ran 20-50 % slower than later ones while the JVM compiled the hot
    # paths; after two, its JIT compilers still took half the window's CPU
    # time, and compiling less in the window makes the CPU cost steadier.
    for name in [n for _ in range(2) for n in rng.sample(names, len(names))]:
        attempted += 1
        try:
            with tracer.span("warmup", f"warmup:{name}"):
                sparkobs.noop_write(qs[name].fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            failed += 1
            errors.setdefault(name, f"{type(e).__name__}: {e}"[:300])

    counter = sparkobs.Py4jCounter(spark) if tracer.enabled else None
    lat, sub, passes = [], [], []
    per_query: dict[str, list[float]] = {}
    calls, forces, py4j, plan = [], [], [], []
    ticks0 = procs.cpu_ticks(os.getpid())
    start = time.time()
    for k in range(max(2, int(seconds // PASS_S))):
        p0 = time.time()
        for name in rng.sample(names, len(names)):
            attempted += 1
            req = f"pass{k}:{name}"
            try:
                with tracer.span("query", req):
                    n0 = counter.calls if counter else 0
                    t0 = time.time()
                    with tracer.span("registry.call"):
                        df = qs[name].fn(spark, sf_dir)
                    t1 = time.time()
                    n1 = counter.calls if counter else 0
                    phases = sparkobs.force(df, tracer)
                    t2 = time.time()
            except Exception as e:  # noqa: BLE001
                failed += 1
                errors.setdefault(name, f"{type(e).__name__}: {e}"[:300])
                continue
            lat.append((t2 - t0) * 1000.0)
            per_query.setdefault(name, []).append(lat[-1])
            sub.append((t1 - t0) * 1000.0)
            calls.append((t0, t1))
            forces.append((t1, t2))
            py4j.append(n1 - n0)
            plan.append(phases)
        passes.append(time.time() - p0)
    end = time.time()
    cpu_s = procs.cpu_seconds(ticks0, procs.cpu_ticks(os.getpid()))

    latency = measure.summary(lat)
    submit = measure.summary(sub)
    out = {
        "window": (start, end),
        "attempted": attempted,
        "failed": failed,
        "checks": {"oracle_checked": len(names), "errors": errors},
        "end_to_end": {
            "pass_s": (statistics.median(passes), "s"),
            "query_p50_ms": (latency["p50"], "ms"),
            "query_tail_ms": (latency["tail"], "ms"),
            "cpu_cost_ms": (1000.0 * cpu_s / max(len(lat), 1), "ms"),  # per query
        },
        "detail": {
            "latency": latency,
            "build": submit,
            "passes": passes,
            "query_p50_ms": {n: statistics.median(v) for n, v in per_query.items()},
        },
        "layers": {
            "registry.call_ms": measure.mean(sub),
            "spark.force_ms": measure.mean([(b - a) * 1000.0 for a, b in forces]),
            "latency_mean_ms": measure.mean(lat),
        },
        "units": len(lat),
        "call_windows": calls,
        "force_windows": forces,
    }
    if tracer.enabled:
        out["layers"].update({
            "registry.py4j_calls": measure.mean(py4j),
            "spark.analysis_ms": measure.mean([p.get("analysis", 0.0) for p in plan]),
            "spark.optimization_ms": measure.mean([p.get("optimization", 0.0) for p in plan]),
            "spark.planning_ms": measure.mean([p.get("planning", 0.0) for p in plan]),
        })
    return out

