"""Seeded event batches for the store workloads.

Every batch is a pure function of the seed and the writer, so two runs
with one seed append the same events. (``query_mix`` reads the fixed
tables under ``streambench/tables/`` instead.)
"""

from __future__ import annotations

import numpy as np

EVENTS_PER_BATCH = 100
PAYLOAD_BYTES = 1024
N_KEYS = 256
ID_BYTES = 8


def event_id(writer: int, seq: int) -> int:
    """Globally unique event id: the writer in the high bits, then the
    writer's own sequence number, so ids rise in each writer's send order."""
    return (writer << 40) | seq


def id_of(payload: bytes) -> int:
    return int.from_bytes(payload[:ID_BYTES], "big")


def event_batches(seed: int, writer: int, n_batches: int,
                  events: int = EVENTS_PER_BATCH) -> list[list[dict]]:
    """``n_batches`` batches of ``events`` events for one writer. An event
    is ``{"routing_key", "payload"}``; the payload starts with the event
    id (8 bytes, big-endian) and is padded to 1 KiB with random bytes.
    Keys are uniform over 256 values."""
    rng = np.random.default_rng([seed, writer])
    n = n_batches * events
    keys = rng.integers(0, N_KEYS, size=n)
    pad = rng.bytes(n * (PAYLOAD_BYTES - ID_BYTES))
    step = PAYLOAD_BYTES - ID_BYTES
    out: list[list[dict]] = []
    for b in range(n_batches):
        batch = []
        for j in range(events):
            i = b * events + j
            batch.append({
                "routing_key": f"k{keys[i]:03d}",
                "payload": event_id(writer, i).to_bytes(ID_BYTES, "big") + pad[i * step:(i + 1) * step],
            })
        out.append(batch)
    return out
