"""Which engine functions the traced pass wraps, per layer, and the
per-layer metrics computed from the spans they record.

Layer names follow the ``pravega_spark`` modules: ``store.hot`` (the
driver-side append), ``metadata``, ``streaming``, ``store.txn``,
``store.read``, ``store.maint``, ``sources``, ``queries`` and
``session``.
"""

from __future__ import annotations

import os

import datagen
from stats import median


def install_hot(tracer) -> None:
    """Spans of the hot append: the call, its payload files (stage), its
    manifest and doc writes (publish), the commit lock and doc reads."""
    from pravega_spark import fsio
    from pravega_spark.metadata import MetadataStore
    from pravega_spark.store import StreamStore

    tracer.wrap(StreamStore, "append_events", "store.append_events", "store.hot", key_arg=2)
    tracer.wrap(fsio, "parquet_write_table", "fsio.parquet_write_table", "store.hot", key_arg=1, size_arg=1)
    tracer.wrap(fsio, "write_json_atomic", "fsio.write_json_atomic", "metadata", key_arg=0, size_arg=0)
    tracer.wrap(MetadataStore, "put_segments_doc", "meta.put_segments_doc", "metadata", key_arg=2)
    tracer.wrap(MetadataStore, "segments_doc", "meta.segments_doc", "metadata", key_arg=2)
    tracer.wrap_lock(fsio, "locked", "store.hot")


def _in_stream(path: str, stream: str) -> bool:
    return f"{os.sep}{stream}{os.sep}" in path


def hot_layer_metrics(tracer, stream: str, since: float, until: float,
                      appends: int, cpu_ms: float) -> dict[str, float]:
    """store.hot metrics per append of the timed window [since, until] on
    ``stream``. Payload files are matched by path, because the store
    writes them from its I/O pool threads; every other span must sit
    under an ``append_events`` call on ``stream``."""
    spans = [s for s in tracer.spans if since <= s.start <= until]
    by_id = {s.id: s for s in tracer.spans}
    roots = {s.id for s in spans if s.name == "store.append_events" and s.attrs.get("key") == stream}

    def under_append(s) -> bool:
        p = s.parent
        while p is not None:
            if p in roots:
                return True
            p = by_id[p].parent if p in by_id else None
        return False

    n = max(appends, 1)
    stage = [s for s in spans if s.name == "fsio.parquet_write_table" and _in_stream(s.attrs.get("key", ""), stream)]
    inner = [s for s in spans if under_append(s)]
    docs = [s for s in inner if s.name == "fsio.write_json_atomic"]
    puts = [s for s in inner if s.name == "meta.put_segments_doc"]
    put_ids = {s.id for s in puts}
    # a doc write inside put_segments_doc is already in that span's time
    outer_docs = [s for s in docs if s.parent not in put_ids]
    written = sum(s.attrs.get("bytes", 0) for s in stage + docs)
    user = n * datagen.EVENTS_PER_BATCH * datagen.PAYLOAD_BYTES
    return {
        "hot.stage_ms": sum(s.ms for s in stage) / n,
        "hot.publish_ms": (sum(s.ms for s in puts) + sum(s.ms for s in outer_docs)) / n,
        "hot.lock_wait_ms": sum(s.ms for s in inner if s.name == "lock.wait") / n,
        "hot.lock_hold_ms": sum(s.ms for s in inner if s.name == "lock.hold") / n,
        "hot.doc_reads_per_append": sum(1 for s in inner if s.name == "meta.segments_doc") / n,
        "hot.files_per_append": len(stage) / n,
        "hot.bytes_per_user_byte": written / user,
        "hot.cpu_ms_per_append": cpu_ms / n,
    }


def median_ms(spans) -> float:
    return median([s.ms for s in spans]) if spans else 0.0
