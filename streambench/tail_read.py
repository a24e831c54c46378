"""``tail_read``: reader-group tailing, transactions and StreamCut reads.

1. Feed (open loop, one generator thread): a hot append of 100 x 1 KiB
   events is due every 400 ms on an 8-segment stream, while a pumping
   ``ReaderGroup`` copies the stream through
   ``write_stream_batch(passthrough_from=rg)``. An append is timed from
   its due time, so a stall also delays the appends queued behind it.
2. Transactions (closed loop): ``begin_txn`` -> ``write_events`` ->
   ``commit``, timing the commit.
3. Slices: ``StreamStore.read(from_cut, to_cut)`` plus an aggregate
   collect, each over a different ~5% slice between cuts saved during the
   feed, after one untimed slice read. The stream is then hundreds of
   small hot-tier files.
4. ``truncate_stream`` + ``compact_stream``, then the same slices again
   over a few compacted files.

The appends come slower than the pump's triggers (about 200-300 ms), so
each data trigger carries one append and an append's delivery is one
trigger. At 10 appends per second a trigger carried two appends on some
runs and three on others, and the delivery p50 of a run jumped between
the two (about 250 against 380 ms).

The feed lasts ``--seconds``, at most ``FEED_MAX_S`` (10 s: 25 appends,
so at most 28 data triggers with the warm-up). The passthrough sink runs
a verification job on its first data trigger and then on one in every
32; a feed that reaches that re-verification on some runs but not others
makes the delivery p90 (``op_p90_ms``) bimodal across runs. With one
append per trigger at most, a faster pump cannot bring the feed there,
but every run still counts its data triggers, and a run that reaches the
re-verification fails the check ``tail_read.feed_within_verify_interval``.
"""

from __future__ import annotations

import os
import random
import time

import checks
import datagen
from layers import hot_layer_metrics, install_hot, median_ms
from spans import NullTracer
from stats import median, pct

SCOPE, SOURCE, COPY = "bench", "feed", "copy"
SEGMENTS = 8  # 8 files per append: hundreds of small files after the feed
RATE = 2.5  # appends per second
FEED_MAX_S = 10
WARMUP_APPENDS = 3
TXNS = 4
SLICES = 2  # timed slices; one more is read untimed first
COMPACTED_PASSES = 2  # compacted reads are short: each slice is read this many times
SLICE_SHARE = 0.05
TXN_WRITER, FEED_WRITER = 2, 1
# the data trigger on which the passthrough sink re-verifies: its first
# data trigger is verified, then one in every 32 after it
REVERIFY_TRIGGER = 1 + 32 + 1


def _event_id_expr():
    from pyspark.sql import functions as F

    return F.conv(F.hex(F.substring("payload", 1, datagen.ID_BYTES)), 16, 10).cast("long")


def _install(tracer) -> None:
    from pravega_spark.metadata import MetadataStore
    from pravega_spark.store import StreamStore, Transaction
    from pravega_spark.streaming.reader_group import ReaderGroup

    install_hot(tracer)
    tracer.wrap(MetadataStore, "resolve_files", "meta.resolve_files", "metadata", key_arg=2)
    tracer.wrap(MetadataStore, "put_txn_doc", "meta.put_txn_doc", "store.txn", key_arg=2)
    tracer.wrap(ReaderGroup, "committed_positions", "rg.committed_positions", "streaming")
    tracer.wrap(Transaction, "write_events", "txn.write_events", "store.txn", jobs=True)
    tracer.wrap(Transaction, "commit", "txn.commit", "store.txn", jobs=True)
    tracer.wrap(StreamStore, "read", "store.read", "store.read", jobs=True)
    tracer.wrap(StreamStore, "truncate_stream", "store.truncate_stream", "store.maint")
    tracer.wrap(StreamStore, "compact_stream", "store.compact_stream", "store.maint", jobs=True)


def _progress_log():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Per-trigger ``durationMs`` of the pump, by batch id."""

        def __init__(self):
            self.by_batch: dict[int, dict] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.by_batch[p.batchId] = dict(p.durationMs)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def _file_ranges(store, stream: str) -> list[tuple[int, int, int]]:
    """(segment, min offset, max offset) of every manifest file, from the
    parquet footers."""
    import pyarrow.parquet as pq

    _doc, files_by_sid = store.meta.resolve_files(SCOPE, stream)
    base = store._stream_path(SCOPE, stream)
    out = []
    for sid, files in files_by_sid.items():
        for rel in files:
            md = pq.ParquetFile(os.path.join(base, rel)).metadata
            col = md.schema.names.index("offset")
            lo = min(md.row_group(g).column(col).statistics.min for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(col).statistics.max for g in range(md.num_row_groups))
            out.append((int(sid), lo, hi))
    return out


def run(ctx) -> dict:
    """One untraced pass; with tracing on, a traced pass follows in the
    same JVM on streams of its own."""
    from pravega_spark.store import StreamStore

    spark = ctx.session()
    store = StreamStore(spark, os.path.join(ctx.workdir, "store"))
    store.create_scope(SCOPE)
    out = _pass(ctx, spark, store, NullTracer(), "")
    if ctx.tracer.enabled:
        _install(ctx.tracer)
        traced = _pass(ctx, spark, store, ctx.tracer, "_t")
        out["attempted"] += traced["attempted"]
        out["failed"] += traced["failed"]
        out["traced_raw"] = traced["raw"]
        layers = traced["layers"]
        layers["session.start_s"] = ctx.session_start_s
        layers.update({
            "engine.start_s": ctx.session_start_s,
            "warmup_s": out["raw"]["rg_start_s"][0],
            "op.cpu_ms": layers["hot.cpu_ms_per_append"],
            "op.files": layers["hot.files_per_append"],
            # the unit of work_s: one commit, one slice read, one compacted read
            "work.jobs": layers["txn.commit_jobs"] + layers["read.jobs"] + layers["read.compacted_jobs"],
            "work.tasks": layers["txn.commit_tasks"] + layers["read.tasks"] + layers["read.compacted_tasks"],
        })
        out["layers"] = layers
    return out


def _pass(ctx, spark, store, tracer, suffix: str) -> dict:
    """Feed, transactions, slices and compaction on the streams named
    with ``suffix``; spans go to ``tracer``."""
    from pravega_spark.config import ScalingPolicy, StreamConfiguration
    from pravega_spark.streamcut import StreamCut
    from pravega_spark.streaming.datasource import read_offsets_log
    from pravega_spark.streaming.reader_group import ReaderGroup
    from pravega_spark.streaming.sink import write_stream_batch
    from pyspark.sql import functions as F

    SRC, DST = SOURCE + suffix, COPY + suffix
    n_feed = 8 if ctx.smoke else round(min(ctx.seconds, FEED_MAX_S) * RATE)
    txns = 2 if ctx.smoke else TXNS
    n_slices = 1 if ctx.smoke else SLICES
    batches = datagen.event_batches(ctx.seed, FEED_WRITER, WARMUP_APPENDS + n_feed)
    txn_batches = datagen.event_batches(ctx.seed, TXN_WRITER, txns)
    for s in (SRC, DST):
        store.create_stream(SCOPE, s, StreamConfiguration(scaling=ScalingPolicy.fixed(SEGMENTS)))
    rg = ReaderGroup(store, SCOPE, SRC, DST)
    sink = write_stream_batch(store, SCOPE, DST, writer_id="copy", passthrough_from=rg)
    sink_returns: list[tuple[float, int]] = []

    def timed_sink(df, batch_id):
        with tracer.span("rg.sink", "streaming"):
            sink(df, batch_id)
        sink_returns.append((time.perf_counter(), batch_id))

    progress = None
    if tracer.enabled:
        progress = _progress_log()
        spark.streams.addListener(progress)

    attempted = failed = 0
    acked: dict[int, object] = {}  # event id -> append index, or ("txn", index)
    tails: list[dict[int, int] | None] = []  # stream tails after each append, by append index

    def append(i: int) -> bool:
        nonlocal failed
        try:
            t = store.append_events(SCOPE, SRC, batches[i], writer_id="gen", batch_seq=i)
        except Exception as e:
            checks.log(f"append #{i} failed: {e!r}")
            failed += 1
            tails.append(None)
            return False
        tails.append(t)
        for ev in batches[i]:
            acked[datagen.id_of(ev["payload"])] = i
        return True

    # ---- feed under a live pump
    due, ack_ms, late_ms = [], [], []
    t_rg = time.perf_counter()
    with rg.pumping(timed_sink, timeout_s=120, poll_s=0.05) as wait_drained:
        for i in range(WARMUP_APPENDS):
            attempted += 1
            append(i)
        wait_drained()
        rg_start_s = time.perf_counter() - t_rg
        ctx.mark_timed()
        cpu0 = time.process_time()
        start = time.perf_counter() + 0.05
        for k in range(n_feed):
            d = start + k / RATE
            now = time.perf_counter()
            if d > now:
                time.sleep(d - now)
            sent = time.perf_counter()
            attempted += 1
            if append(WARMUP_APPENDS + k):
                ack_ms.append((time.perf_counter() - d) * 1e3)
            due.append(d)
            late_ms.append((sent - d) * 1e3)
        feed_end = time.perf_counter()
        cpu_ms = (time.process_time() - cpu0) * 1e3
        wait_drained()
        drained = time.perf_counter()
    feed_batches = [b for t, b in sink_returns if start <= t <= drained]
    n_triggers = sum(1 for t, _ in sink_returns if t <= drained)
    attempted += 1
    checks.log(f"warm-up plus feed took {n_triggers} data triggers; the sink re-verifies on trigger {REVERIFY_TRIGGER}")
    failed += checks.report("tail_read.feed_within_verify_interval", int(n_triggers >= REVERIFY_TRIGGER), 1)
    if progress is not None:
        # listener events arrive asynchronously: wait for the last feed batch
        deadline = time.perf_counter() + 10
        while feed_batches and feed_batches[-1] not in progress.by_batch and time.perf_counter() < deadline:
            time.sleep(0.05)
        spark.streams.removeListener(progress)

    # delivery: first sink return whose batch end covers the append's tails
    ends = [(t, read_offsets_log(rg.checkpoint_dir, b) or {}) for t, b in sink_returns]
    deliver_ms = []
    for k, d in enumerate(due):
        tl = tails[WARMUP_APPENDS + k]
        if tl is None:
            continue
        hit = next((t for t, e in ends if all(int(e.get(str(s), 0)) >= o for s, o in tl.items())), None)
        if hit is None:
            checks.log(f"append #{WARMUP_APPENDS + k} never reached the copy")
            failed += 1
        else:
            deliver_ms.append((hit - d) * 1e3)
    src_rows = checks.stream_rows(store, SCOPE, SRC)
    dst_rows = checks.inject_rows(ctx.fault, checks.stream_rows(store, SCOPE, DST))
    failed += checks.report("tail_read.copy_equals_source", checks.same_multiset(dst_rows, src_rows, acked), attempted)

    # ---- transactions
    commit_ms = []
    for j, batch in enumerate(txn_batches):
        attempted += 1
        df = spark.createDataFrame([(e["routing_key"], e["payload"]) for e in batch], "routing_key string, payload binary")
        try:
            txn = store.begin_txn(SCOPE, SRC)
            txn.write_events(df)
            t = time.perf_counter()
            txn.commit()
            commit_ms.append((time.perf_counter() - t) * 1e3)
        except Exception as e:
            checks.log(f"txn #{j} failed: {e!r}")
            failed += 1
            continue
        for ev in batch:
            acked[datagen.id_of(ev["payload"])] = ("txn", j)

    # ---- slices between cuts saved during the feed
    width = max(1, round(n_feed * SLICE_SHARE))
    rng = random.Random(ctx.seed)
    region = n_feed // (n_slices + 1)
    firsts = [r * region + rng.randrange(max(1, region - width + 1)) for r in range(n_slices + 1)]

    def cut_before(k: int):
        return StreamCut.of(tails[WARMUP_APPENDS + k - 1])

    def expected(k: int) -> tuple[int, int]:
        ids = [datagen.id_of(e["payload"]) for b in batches[WARMUP_APPENDS + k:WARMUP_APPENDS + k + width] for e in b]
        return len(ids), sum(ids)

    def read_slice(k: int, label: str) -> tuple[tuple[int, int] | None, float, float]:
        with tracer.span(label, "store.read"):
            t0 = time.perf_counter()
            df = store.read(SCOPE, SRC, cut_before(k), cut_before(k + width))
            t1 = time.perf_counter()
            with tracer.span("read.collect", "store.read", jobs=True):
                row = df.agg(F.count("*").alias("n"), F.sum(_event_id_expr()).alias("s")).collect()[0]
            t2 = time.perf_counter()
        return (row["n"], row["s"] or 0), t1 - t0, t2 - t1

    def slice_pass(ks: list[int], label: str, want) -> tuple[list[float], dict[int, tuple], int]:
        """Read each slice; ``want(k)`` is the aggregate it must return.
        Returns the read times, the aggregates and how many were wrong."""
        nonlocal attempted, failed
        times, aggs = [], {}
        bad = 0
        for k in ks:
            attempted += 1
            try:
                agg, open_s, collect_s = read_slice(k, label)
            except Exception as e:
                checks.log(f"{label} at {k} failed: {e!r}")
                failed += 1
                continue
            # the fault hits the uncompacted reads only, so that the
            # compacted reads' comparison with them is shown to fail too
            aggs[k] = checks.inject_agg(ctx.fault, agg) if label == "slice" else agg
            times.append(open_s + collect_s)
            bad += aggs[k] != want(k)
        return times, aggs, bad

    files_before = sum(len(f) for f in store.meta.resolve_files(SCOPE, SRC)[1].values())
    _, _, bad0 = slice_pass(firsts[:1], "slice", expected)  # untimed first read
    t_slices = time.perf_counter()
    slice_s, aggs, bad1 = slice_pass(firsts[1:], "slice", expected)
    t_slices_end = time.perf_counter()
    failed += checks.report("tail_read.slice_holds_its_events", bad0 + bad1, len(firsts))
    ranges = _file_ranges(store, SRC) if tracer.enabled else []

    # ---- maintenance
    attempted += 2
    t = time.perf_counter()
    store.truncate_stream(SCOPE, SRC, StreamCut.of(tails[WARMUP_APPENDS - 1]))
    truncate_ms = (time.perf_counter() - t) * 1e3
    t = time.perf_counter()
    store.compact_stream(SCOPE, SRC)
    compact_s = time.perf_counter() - t
    files_after = sum(len(f) for f in store.meta.resolve_files(SCOPE, SRC)[1].values())
    t_comp = time.perf_counter()
    compacted_s, _, bad2 = slice_pass(firsts[1:] * (1 if ctx.smoke else COMPACTED_PASSES), "compacted", aggs.get)
    failed += checks.report("tail_read.compacted_equals_uncompacted", bad2, len(compacted_s))

    # ---- committed transaction events (and the feed after truncation) appear once
    final = checks.inject_rows(ctx.fault, checks.stream_rows(store, SCOPE, SRC))
    live = {eid: u for eid, u in acked.items() if not (isinstance(u, int) and u < WARMUP_APPENDS)}
    failed += checks.report("tail_read.events_once_after_compaction", checks.exactly_once(final, live), attempted)

    out = {
        "attempted": attempted,
        "failed": failed,
        "raw": {"ack_ms": ack_ms, "deliver_ms": deliver_ms, "commit_ms": commit_ms,
                "slice_s": slice_s, "compacted_s": compacted_s, "rg_start_s": [rg_start_s]},
    }
    if tracer.enabled:
        spans = tracer.spans

        def named(name: str, since: float = 0.0, until: float = float("inf")):
            return [x for x in spans if x.name == name and since <= x.start <= until]

        def under(roots, name: str):
            return [c for r in roots for c in tracer.subtree(r) if c.name == name]

        def jobs(roots) -> tuple[float, float]:
            counts = [tracer.job_counts(r) for r in roots]
            return median([c[0] for c in counts]), median([c[1] for c in counts])

        layers = hot_layer_metrics(tracer, SRC, start, feed_end, len(ack_ms), cpu_ms)
        # the sink runs once per trigger that carried data
        data = [progress.by_batch[b] for b in feed_batches if b in progress.by_batch]
        layers["rg.start_s"] = rg_start_s
        layers["rg.data_triggers"] = len(feed_batches)
        layers["rg.appends_per_trigger"] = len(ack_ms) / max(1, len(feed_batches))
        for key, name in (("triggerExecution", "trigger_ms"), ("latestOffset", "latest_offset_ms"),
                          ("queryPlanning", "planning_ms"), ("addBatch", "add_batch_ms"),
                          ("walCommit", "wal_commit_ms")):
            # a mean: durationMs is whole milliseconds, so a median would repeat
            layers[f"rg.{name}"] = sum(d.get(key, 0) for d in data) / len(data) if data else 0.0
        layers["rg.sink_ms"] = median_ms(named("rg.sink", start, drained))
        layers["rg.poll_ms"] = median_ms(named("rg.committed_positions"))
        layers["gen.late_p50_ms"] = pct(late_ms, 50)
        layers["gen.late_max_ms"] = max(late_ms)
        commits = named("txn.commit")
        layers["txn.write_ms"] = median_ms(named("txn.write_events"))
        layers["txn.doc_ms"] = median([sum(c.ms for c in under([x], "meta.put_txn_doc")) for x in commits])
        layers["txn.commit_jobs"], layers["txn.commit_tasks"] = jobs(commits)
        slices = named("slice", t_slices, t_slices_end)
        layers["meta.resolve_ms"] = median_ms(under(slices, "meta.resolve_files"))
        layers["read.open_s"] = median_ms(under(slices, "store.read")) / 1e3
        layers["read.collect_s"] = median_ms(under(slices, "read.collect")) / 1e3
        layers["read.jobs"], layers["read.tasks"] = jobs(slices)
        layers["read.manifest_files"] = files_before
        holding = []
        for k in firsts[1:]:
            lo, hi = cut_before(k).positions, cut_before(k + width).positions
            holding.append(sum(1 for sid, a, b in ranges if a < hi.get(sid, 0) and b >= lo.get(sid, 0)))
        layers["read.files_per_slice_file"] = files_before / max(1.0, median(holding))
        compacted = named("compacted", t_comp)
        layers["read.compacted_open_s"] = median_ms(under(compacted, "store.read")) / 1e3
        layers["read.compacted_jobs"], layers["read.compacted_tasks"] = jobs(compacted)
        layers["maint.truncate_ms"] = truncate_ms
        layers["maint.compact_s"] = compact_s
        layers["maint.files_before"] = files_before
        layers["maint.files_after"] = files_after
        out["layers"] = layers
    return out


def summarize(results: list[dict]) -> dict[str, float]:
    raw = {k: [x for r in results for x in r["raw"][k]] for k in results[0]["raw"]}
    return {
        "op_p50_ms": pct(raw["deliver_ms"], 50),
        "op_p90_ms": pct(raw["deliver_ms"], 90),
        "work_s": pct(raw["commit_ms"], 50) / 1e3 + median(raw["slice_s"]) + median(raw["compacted_s"]),
        "ack_p50_ms": pct(raw["ack_ms"], 50),
        "deliver_p50_ms": pct(raw["deliver_ms"], 50),
        "deliver_p90_ms": pct(raw["deliver_ms"], 90),
        "txn_commit_p50_ms": pct(raw["commit_ms"], 50),
        "slice_read_s": median(raw["slice_s"]),
        "compacted_read_s": median(raw["compacted_s"]),
    }
