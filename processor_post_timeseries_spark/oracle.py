"""Pure-numpy reference semantics for golden parity tests.

Mirrors the reference's test strategy (byte/value-exact goldens,
``/root/reference/tests/test_writer.py:60-108``): every Spark operator
result is compared against an independent numpy reimplementation here.
"""

from __future__ import annotations

import numpy as np


def window_stats(a: np.ndarray, w: int) -> dict[str, np.ndarray]:
    """Per-window min/max/sum/cnt of 1-D int array, ragged tail kept."""
    a = np.asarray(a, dtype=np.int64)
    n = len(a)
    nw = (n + w - 1) // w
    mins = np.empty(nw, np.int64)
    maxs = np.empty(nw, np.int64)
    sums = np.empty(nw, np.int64)
    cnts = np.empty(nw, np.int64)
    for k in range(nw):
        seg = a[k * w : (k + 1) * w]
        mins[k], maxs[k], sums[k], cnts[k] = seg.min(), seg.max(), seg.sum(), len(seg)
    return {"mins": mins, "maxs": maxs, "sums": sums, "cnts": cnts}


def gap_fill_ffill(idx: np.ndarray, val: np.ndarray, n: int, fill_first: int = 0) -> np.ndarray:
    """Forward-fill missing sample indices over [0, n); leading gap gets
    ``fill_first``. Matches operators/gapfill.py policy."""
    out = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
    out[np.asarray(idx, np.int64)] = np.asarray(val, np.int64)
    filled = out.copy()
    last = fill_first
    for i in range(n):
        if filled[i] == np.iinfo(np.int64).min:
            filled[i] = last
        else:
            last = filled[i]
    return filled


def contiguous_segments(idx: np.ndarray, gap: int) -> list[tuple[int, int]]:
    """Maximal runs where successive idx deltas <= gap; half-open ranges
    over positions (reference semantics, /root/reference/processor/reader.py:181-225)."""
    idx = np.asarray(idx)
    if len(idx) == 0:
        return []
    breaks = np.where(np.diff(idx) > gap)[0] + 1
    bounds = np.concatenate([[0], breaks, [len(idx)]])
    return [(int(idx[bounds[i]]), int(idx[bounds[i + 1] - 1]) + 1) for i in range(len(bounds) - 1)]
