"""Output checks and the fault injection that proves they can fail.

Every check runs outside the timed window. A check returns the number of
operations whose output it found wrong, so each failure counts against
the operations attempted. With ``--fault`` set, the fault is applied to
the observed output before the check compares it:

* ``drop``: one event vanishes;
* ``dup``: one event appears twice;
* ``alter``: one event's id changes;
* ``corrupt``: one cell of one query result row changes.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

STREAM_FAULTS = ("drop", "dup", "alter")
QUERY_FAULTS = ("corrupt",)


def log(msg: str) -> None:
    print(f"[streambench] {msg}", file=sys.stderr, flush=True)


def report(name: str, bad: int, total: int) -> int:
    log(f"check {name}: {'FAIL' if bad else 'ok'} ({bad} of {total} operations wrong)")
    return bad


def stream_rows(store, scope: str, stream: str) -> list[tuple[int, int, str, int]]:
    """Every visible event of a stream as (segment_id, offset, routing_key,
    event id), sorted, read straight from the committed manifest with
    pyarrow, so no JVM is needed. Rows outside [head, tail) of their
    segment are not visible and are left out."""
    import pyarrow.dataset as ds

    from datagen import id_of

    doc, files_by_sid = store.meta.resolve_files(scope, stream)
    base = store._stream_path(scope, stream)
    paths = [os.path.join(base, rel) for files in files_by_sid.values() for rel in files]
    if not paths:
        return []
    t = ds.dataset(paths, format="parquet", partitioning="hive", partition_base_dir=base).to_table(
        columns=["segment_id", "offset", "routing_key", "payload"])
    bounds = {int(k): (v["head_offset"], v["tail_offset"]) for k, v in doc["segments"].items()}
    out = []
    for sid, off, key, payload in zip(*(t[c].to_pylist() for c in ("segment_id", "offset", "routing_key", "payload"))):
        head, tail = bounds[sid]
        if head <= off < tail:
            out.append((sid, off, key, id_of(payload)))
    out.sort()
    return out


def inject_rows(fault: str | None, rows: list) -> list:
    """Apply a stream fault to a list of row tuples whose last field is
    the event id."""
    if fault is None or not rows:
        return rows
    rows = list(rows)
    mid = len(rows) // 2
    if fault == "drop":
        del rows[mid]
    elif fault == "dup":
        rows.insert(mid, rows[mid])
    elif fault == "alter":
        rows[mid] = rows[mid][:-1] + (rows[mid][-1] ^ (1 << 39),)
    return rows


def inject_agg(fault: str | None, agg: tuple[int, int]) -> tuple[int, int]:
    """Apply a stream fault to a (count, id sum) aggregate of a read."""
    n, total = agg
    if fault == "drop":
        return n - 1, total - 1
    if fault == "dup":
        return n + 1, total + 1
    if fault == "alter":
        return n, total ^ (1 << 39)
    return agg


def exactly_once(rows, acked: dict[int, int]) -> int:
    """Acked batches whose events do not appear exactly once. ``rows`` are
    row tuples ending with the event id; ``acked`` maps event id to the
    batch that carried it. An event id nobody acked counts as one more
    wrong operation."""
    seen = Counter(r[-1] for r in rows)
    bad = {b for eid, b in acked.items() if seen.get(eid, 0) != 1}
    stray = sum(1 for eid in seen if eid not in acked)
    return len(bad) + stray


def per_key_order(rows, batch_of: dict[int, int]) -> int:
    """Batches with an event out of its writer's send order among the
    events of its routing key. ``rows`` are (segment, offset, key, id)
    sorted by (segment, offset); ids rise in each writer's send order."""
    last: dict[tuple[str, int], int] = {}
    bad = set()
    for _sid, _off, key, eid in rows:
        k = (key, eid >> 40)
        if k in last and eid <= last[k]:
            bad.add(batch_of.get(eid, -1))
        last[k] = eid
    return len(bad)


def same_multiset(observed, expected, unit_of: dict[int, int]) -> int:
    """Units (appends) whose events differ between two row lists, compared
    as multisets of (routing key, event id); stray ids count one each."""
    a = Counter((r[-2], r[-1]) for r in observed)
    b = Counter((r[-2], r[-1]) for r in expected)
    bad = set()
    for k in set(a) | set(b):
        if a.get(k, 0) != b.get(k, 0):
            bad.add(unit_of.get(k[1], ("stray", k)))
    return len(bad)


def corrupt_frame(pdf):
    """Change the first cell of the first row (the ``corrupt`` fault)."""
    import pandas as pd

    pdf = pdf.copy()
    v = pdf.iat[0, 0]
    if isinstance(v, str):
        pdf.iat[0, 0] = v + "~"
    elif isinstance(v, pd.Timestamp):
        pdf.iat[0, 0] = v + pd.Timedelta(seconds=1)
    else:
        pdf.iat[0, 0] = v + 1
    return pdf
