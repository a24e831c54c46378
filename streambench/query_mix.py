"""``query_mix``: registered query operators, closed loop, one client.

The operators run on the engine's scale-factor-0.01 test tables (the
TPC-H-like star schema and the embeddings, committed under
``streambench/tables/``), in a seed-permuted order: ``WARMUP_ROUNDS``
untimed rounds, then timed rounds until the measured window is spent (at
least ``MIN_ROUNDS``). Each call is timed as the operator call (build:
table opens and any eager work) plus the collect of its result into
this process. ``op_p50_ms`` and ``op_p90_ms`` are percentiles over every
timed call; ``work_s`` (``mix_s``) sums each operator's median over the
timed rounds. The workload touches no store code.

The operators cover what the roadmap's query directions name: 7-table
opens and a bucketed twin (``q8_bucketed_colocated_join``), brute-force
top-k, and an eager driver-side build of many jobs
(``orders_rfm_segments``).
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

import checks
from spans import NullTracer
from stats import median, pct

OPERATORS = (
    "q8_bucketed_colocated_join",
    "similarity_topk_bruteforce",
    "orders_rfm_segments",
)
# Each operator still gets faster over the first rounds of a fresh JVM
# (its per-round time fell through six rounds after one warm-up round),
# and how fast it warms depends on the host's load; two warm-up rounds
# keep most of that out of the timed rounds.
WARMUP_ROUNDS = 2
MIN_ROUNDS, MAX_ROUNDS = 2, 6
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
# every module that binds ``load_table`` by name
_LOAD_TABLE_MODULES = (
    "pravega_spark.queries.relational",
    "pravega_spark.queries.text",
    "pravega_spark.queries.similarity",
    "pravega_spark.queries.stream_ops",
    "pravega_spark.queries.multimodal",
    "pravega_spark.sources",
    "pravega_spark.sources.tables",
    "pravega_spark.sources.bucketed",
)


def _compare_frames():
    """The parity gate's strict frame comparison (scripts/check_parity.py)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("check_parity", os.path.join(root, "scripts", "check_parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare_frames


def run(ctx) -> dict:
    """Warm-up and timed rounds untraced; with tracing on, as many timed
    rounds again, traced, in the same JVM."""
    spark = ctx.session()
    from pravega_spark.caching import release_result_caches
    from pravega_spark.queries import oracle_sql, queries

    ops = list(OPERATORS)
    random.Random(ctx.seed).shuffle(ops)
    fns = queries()

    attempted = failed = 0
    results: dict[str, list] = {name: [] for name in ops}

    def call(name: str, tracer, samples: dict | None) -> None:
        nonlocal attempted, failed
        attempted += 1
        try:
            with tracer.span(f"q.{name}", "queries"):
                t0 = time.perf_counter()
                with tracer.span("q.build", "queries", jobs=True):
                    df = fns[name](spark, TABLES)
                t1 = time.perf_counter()
                with tracer.span("q.collect", "queries", jobs=True):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
        except Exception as e:
            checks.log(f"{name} failed: {e!r}")
            failed += 1
            return
        finally:
            release_result_caches()
            spark.catalog.clearCache()
        results[name].append(pdf)
        if samples is not None:
            samples[name].append((t1 - t0, t2 - t1))

    def timed_rounds(tracer) -> tuple[dict[str, list[tuple[float, float]]], float, float]:
        """(build and collect times per operator, process CPU ms, start)"""
        samples: dict[str, list[tuple[float, float]]] = {name: [] for name in ops}
        cpu0 = time.process_time()
        start = time.perf_counter()
        rounds = 0
        while rounds < (1 if ctx.smoke else MIN_ROUNDS) or (time.perf_counter() - start < ctx.seconds and rounds < MAX_ROUNDS):
            for name in ops:
                call(name, tracer, samples)
            rounds += 1
        return samples, (time.process_time() - cpu0) * 1e3, start

    t = time.perf_counter()
    for _ in range(WARMUP_ROUNDS):
        for name in ops:
            call(name, NullTracer(), None)
    warmup_s = time.perf_counter() - t
    ctx.mark_timed()
    samples, _, _ = timed_rounds(NullTracer())
    tracer = ctx.tracer
    if tracer.enabled:
        for name in _LOAD_TABLE_MODULES:
            tracer.wrap(importlib.import_module(name), "load_table", "sources.load_table", "sources", jobs=True)
        traced, cpu_ms, start = timed_rounds(tracer)

    # ---- every result against its DuckDB oracle
    import duckdb

    compare = _compare_frames()
    con = duckdb.connect()
    for fname in sorted(os.listdir(TABLES)):
        table, ext = os.path.splitext(fname)
        if ext == ".parquet":
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(TABLES, fname)}'")
    sql = oracle_sql()
    bad = 0
    for name in ops:
        oracle = con.sql(sql[name]).df()
        for i, pdf in enumerate(results[name]):
            if ctx.fault == "corrupt" and i == len(results[name]) - 1:
                pdf = checks.corrupt_frame(pdf)
            problems = compare(name, pdf, oracle)
            if problems:
                checks.log(f"{name}: {' | '.join(problems)}")
                bad += 1
    con.close()
    failed += checks.report("query_mix.results_match_oracle", bad, attempted)

    def raw(samples):
        return {"op_s": {name: [b + c for b, c in s] for name, s in samples.items()}}

    out = {"attempted": attempted, "failed": failed, "raw": raw(samples)}
    if tracer.enabled:
        out["traced_raw"] = raw(traced)
        layers: dict[str, float] = {}
        timed_spans = [s for s in tracer.spans if s.start >= start]
        opens = [s for s in timed_spans if s.name == "sources.load_table"]
        layers["session.start_s"] = ctx.session_start_s
        layers["tables.open_ms"] = median([s.ms for s in opens])
        layers["tables.open_jobs"] = median([tracer.job_counts(s)[0] for s in opens])
        for name in ops:
            calls = [s for s in timed_spans if s.name == f"q.{name}"]
            counts = [tracer.job_counts(s) for s in calls]
            layers[f"q.{name}.build_s"] = median([b for b, _ in traced[name]])
            layers[f"q.{name}.collect_s"] = median([c for _, c in traced[name]])
            layers[f"q.{name}.jobs"] = median([j for j, _ in counts])
            layers[f"q.{name}.tasks"] = median([t for _, t in counts])
        layers.update({
            "engine.start_s": ctx.session_start_s,
            "warmup_s": warmup_s,
            "op.cpu_ms": cpu_ms / max(1, sum(len(s) for s in traced.values())),
            "op.files": 0,  # the operators write nothing
            # the unit of work_s: one call of every operator
            "work.jobs": sum(layers[f"q.{name}.jobs"] for name in ops),
            "work.tasks": sum(layers[f"q.{name}.tasks"] for name in ops),
        })
        out["layers"] = layers
    return out


def summarize(results: list[dict]) -> dict[str, float]:
    per_op: dict[str, list[float]] = {}
    for r in results:
        for name, xs in r["raw"]["op_s"].items():
            per_op.setdefault(name, []).extend(xs)
    calls = [x for xs in per_op.values() for x in xs]
    mix_s = sum(median(xs) for xs in per_op.values())
    return {"op_p50_ms": pct(calls, 50) * 1e3, "op_p90_ms": pct(calls, 90) * 1e3, "work_s": mix_s, "mix_s": mix_s}
