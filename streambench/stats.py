"""Percentiles as the benchmark reports them (linear interpolation)."""

from __future__ import annotations

import numpy as np


def pct(values, q: float) -> float:
    if len(values) == 0:
        raise ValueError("no samples")
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return pct(values, 50)
