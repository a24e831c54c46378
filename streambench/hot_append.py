"""``hot_append``: the writeEvent ack path, with no JVM.

Closed loop: two writer threads, each with its own writer id, call
``StreamStore.append_events`` back to back on one 8-segment stream. Each
batch is 100 events of 1 KiB over 256 uniform keys, all generated before
timing. The store runs without a Spark session (``StreamStore(None,
root)``), so the run loads ``store`` (hot tier), ``metadata``, ``fsio`` and
the commit lock and nothing else.
"""

from __future__ import annotations

import math
import os
import threading
import time

import checks
import datagen
from layers import hot_layer_metrics, install_hot
from spans import NullTracer

SCOPE, STREAM = "bench", "hot"
WRITERS = 2
SEGMENTS = 8
WARMUP_PER_WRITER = 10
# Sizes the pre-generated batches: 3x the rate of one of two writers on
# the host this was tuned on (25 ms per append). A writer that runs out
# before its window ends fails the run: raise this instead of letting the
# window shrink.
MAX_RATE_PER_WRITER = 120


def run(ctx) -> dict:
    """One untraced pass; with tracing on, a traced pass follows in the
    same process on a stream of its own."""
    from pravega_spark.store import StreamStore

    n_batches = WARMUP_PER_WRITER + math.ceil(ctx.seconds * MAX_RATE_PER_WRITER)
    batches = {w: datagen.event_batches(ctx.seed * 1000 + ctx.child, w, n_batches) for w in range(1, WRITERS + 1)}
    t = time.perf_counter()
    store = StreamStore(None, os.path.join(ctx.workdir, "store"))
    store.create_scope(SCOPE)
    start_s = time.perf_counter() - t
    out = _pass(ctx, store, NullTracer(), STREAM, batches)
    if ctx.tracer.enabled:
        install_hot(ctx.tracer)
        traced = _pass(ctx, store, ctx.tracer, STREAM + "_t", batches)
        out["attempted"] += traced["attempted"]
        out["failed"] += traced["failed"]
        out["traced_raw"] = traced["raw"]
        layers = traced["layers"]
        layers.update({
            "engine.start_s": start_s,
            "warmup_s": out["warmup_s"],
            "op.cpu_ms": layers["hot.cpu_ms_per_append"],
            "op.files": layers["hot.files_per_append"],
            "work.jobs": 0,  # no Spark
            "work.tasks": 0,
        })
        out["layers"] = layers
    return out


def _pass(ctx, store, tracer, stream: str, batches: dict[int, list]) -> dict:
    """Warm-up and the timed window of both writers on a new ``stream``;
    spans go to ``tracer``."""
    from pravega_spark.config import ScalingPolicy, StreamConfiguration

    store.create_stream(SCOPE, stream, StreamConfiguration(scaling=ScalingPolicy.fixed(SEGMENTS)))
    n_batches = len(batches[1])
    acked: dict[int, int] = {}  # event id -> batch number (writer << 32 | seq)
    lat_ms: dict[int, list[float]] = {w: [] for w in batches}
    errors = [0]
    err_lock = threading.Lock()

    def append(w: int, i: int) -> bool:
        try:
            store.append_events(SCOPE, stream, batches[w][i], writer_id=f"w{w}", batch_seq=i)
        except Exception as e:  # counted as a failed operation, the run goes on
            checks.log(f"append w{w}#{i} failed: {e!r}")
            with err_lock:
                errors[0] += 1
            return False
        for ev in batches[w][i]:
            acked[datagen.id_of(ev["payload"])] = (w << 32) | i
        return True

    t = time.perf_counter()
    for i in range(WARMUP_PER_WRITER):
        for w in batches:
            append(w, i)
    warmup_s = time.perf_counter() - t

    ctx.mark_timed()
    cpu0 = time.process_time()
    start = time.perf_counter()
    deadline = start + ctx.seconds
    ends: dict[int, float] = {}
    ran_out: list[int] = []

    def writer(w: int) -> None:
        for i in range(WARMUP_PER_WRITER, n_batches):
            t = time.perf_counter()
            if t >= deadline:
                break
            if append(w, i):
                lat_ms[w].append((time.perf_counter() - t) * 1e3)
        else:
            ran_out.append(w)
        ends[w] = time.perf_counter()

    threads = [threading.Thread(target=writer, args=(w,)) for w in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = max(ends.values()) - start
    cpu_ms = (time.process_time() - cpu0) * 1e3
    timed = sum(len(v) for v in lat_ms.values())
    attempted = WRITERS * WARMUP_PER_WRITER + timed + errors[0]

    rows = checks.inject_rows(ctx.fault, checks.stream_rows(store, SCOPE, stream))
    failed = errors[0]
    for w in ran_out:
        checks.log(f"writer w{w} used all {n_batches} batches before its window ended: raise MAX_RATE_PER_WRITER")
    failed += checks.report("hot_append.window_filled", len(ran_out), WRITERS)
    failed += checks.report("hot_append.exactly_once", checks.exactly_once(rows, acked), attempted)
    failed += checks.report("hot_append.per_key_order", checks.per_key_order(rows, acked), attempted)

    out = {
        "attempted": attempted,
        "failed": failed,
        "warmup_s": warmup_s,
        "raw": {
            "append_ms": [x for v in lat_ms.values() for x in v],
            "acked_bytes": timed * datagen.EVENTS_PER_BATCH * datagen.PAYLOAD_BYTES,
            "window_s": elapsed,
        },
    }
    if tracer.enabled:
        layers = hot_layer_metrics(tracer, stream, start, start + elapsed, timed, cpu_ms)
        docs = [s for s in tracer.spans if s.name == "fsio.write_json_atomic"
                and s.attrs.get("key", "").endswith(os.path.join(stream, "segments.json"))]
        layers["meta.doc_kib"] = max(docs, key=lambda s: s.end).attrs["bytes"] / 1024 if docs else 0.0
        out["layers"] = layers
    return out


def summarize(results: list[dict]) -> dict[str, float]:
    from stats import pct

    lat = [x for r in results for x in r["raw"]["append_ms"]]
    mib = sum(r["raw"]["acked_bytes"] for r in results) / 2**20
    secs = sum(r["raw"]["window_s"] for r in results)
    return {
        "op_p50_ms": pct(lat, 50),
        "op_p90_ms": pct(lat, 90),
        "work_s": secs / mib,  # to ack 1 MiB of payload
        "append_p50_ms": pct(lat, 50),
        "append_p90_ms": pct(lat, 90),
        "append_mib_per_s": mib / secs,
    }
