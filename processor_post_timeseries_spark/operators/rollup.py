"""Cascading continuous aggregates (raw -> 1s -> 1m -> 1h retention tiers).

North-rule operator W5/A6 (SURVEY.md §2.5-2.6). The reference only tracks
per-channel extents (``/root/reference/processor/reader.py:146-175``); the
cascade itself is new, designed Spark-first.

Scale design
------------
Each sequence's token stream is one channel, sample index = time. A tier
window therefore never crosses a row: every tier is a pure **narrow
map** — ZERO shuffles for the whole cascade at any scale. Exploding to
one row per token (10^12+ rows) and shuffling on ``(doc, window)`` would
be the naive plan; we keep block form end to end. Cross-doc/source stats
are tiny tier summaries and shuffle only those.

One kernel does every tier: a ``mapInArrow`` that reads a list column
through its offsets as one flat array per batch (no per-doc Python
objects) and calls ``_compose`` — the only window composition (min of
mins, max of maxes, sum of sums, sum of cnts), one ``ufunc.reduceat``
per stat over the whole batch. Raw tokens enter as windows of one sample,
so tier 1 and tier k -> k+1 are the same composition; the output lists
are built back from offsets. ``tier1_from_tokens``, ``cascade_tier``,
``fused_tiers`` and ``rollup_all_tiers`` are views of that kernel.

Determinism: sums are int64 over int32 tokens (exact, order-free); mean
is derived at read time as ``sum/cnt`` (never accumulated in float), per
SURVEY.md §7 "hard parts".

Tier windows: sizes in samples, e.g. raw->1s = ``rate`` samples, 1s->1m =
60, 1m->1h = 60 (the reference's channels are fixed-rate streams,
``/root/reference/processor/timeseries_channel.py:28-31``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# (doc_id, source, tier, window, n_windows, mins, maxs, sums, cnts)
TIER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("tier", T.StringType(), False),
        T.StructField("window", T.LongType(), False),  # samples per window
        T.StructField("n_windows", T.IntegerType(), False),
        T.StructField("mins", T.ArrayType(T.LongType(), False), False),
        T.StructField("maxs", T.ArrayType(T.LongType(), False), False),
        T.StructField("sums", T.ArrayType(T.LongType(), False), False),
        T.StructField("cnts", T.ArrayType(T.LongType(), False), False),
    ]
)

DEFAULT_TIERS = (("1s", 100), ("1m", 60), ("1h", 60))  # factors vs previous tier

_STATS = ("mins", "maxs", "sums", "cnts")
_COLS = [f.name for f in TIER_SCHEMA.fields]


def _compose(stats, lens: np.ndarray, w: int):
    """Compose windows of ``w`` consecutive entries per doc over batch-wide
    flat arrays: min of mins, max of maxes, sum of sums, sum of cnts.

    ``stats`` are the four flat int64 arrays, ``lens`` the per-doc entry
    counts laid end to end. Every doc start is a window start, so a
    window never straddles docs; a doc's last window may be ragged.
    Returns the composed stats and the per-doc window counts.
    """
    nws = (lens + w - 1) // w
    total = int(nws.sum())
    if not total:
        return tuple(s[:0] for s in stats), nws
    # window g of the batch (the j-th of doc i) starts at doc_off[i] + j*w
    base = (np.cumsum(lens) - lens) - (np.cumsum(nws) - nws) * w
    starts = np.repeat(base, nws) + np.arange(total, dtype=np.int64) * w
    mins, maxs, sums, cnts = stats
    return (
        np.minimum.reduceat(mins, starts),
        np.maximum.reduceat(maxs, starts),
        np.add.reduceat(sums, starts),
        np.add.reduceat(cnts, starts),
    ), nws


def _lens(col: pa.Array) -> np.ndarray:
    """Per-row lengths of an Arrow list column (a null list has none)."""
    return pc.list_value_length(col).fill_null(0).to_numpy().astype(np.int64)


def _values(col: pa.Array) -> np.ndarray:
    """Flat int64 values of an Arrow list column. ``flatten()`` honours the
    array's offset, so a sliced batch is read correctly (``.values`` would
    return the whole parent buffer)."""
    return col.flatten().to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def rollup_batch(
    batch: pa.RecordBatch, tiers: tuple[tuple[str, int], ...], raw: bool
) -> Iterator[pa.RecordBatch]:
    """The tier kernel on one Arrow batch: one output batch per tier, tier
    k composed from tier k-1's flat arrays.

    A ``raw`` batch carries ``tokens`` (each token is a window of one
    sample: min = max = sum = token, cnt = 1); otherwise it carries tier
    rows (``window`` and the four stat arrays), e.g. read back from
    parquet.
    """
    n = batch.num_rows
    if raw:
        lens, v = _lens(batch.column("tokens")), _values(batch.column("tokens"))
        stats = (v, v, v, np.ones(len(v), np.int64))
        window = np.ones(n, np.int64)
    else:
        lens = _lens(batch.column("mins"))
        stats = tuple(_values(batch.column(c)) for c in _STATS)
        window = batch.column("window").to_numpy().astype(np.int64)
    for name, w in tiers:
        stats, lens = _compose(stats, lens, w)
        window = window * w
        offsets = pa.array(np.concatenate([[0], np.cumsum(lens)]).astype(np.int32))
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                batch.column("source"),
                pa.array([name] * n, pa.string()),
                pa.array(window),
                pa.array(lens.astype(np.int32)),
                *(pa.ListArray.from_arrays(offsets, s) for s in stats),
            ],
            names=_COLS,
        )


def _map_tiers(df: DataFrame, tiers: tuple[tuple[str, int], ...], raw: bool) -> DataFrame:
    """``rollup_batch`` as a narrow ``mapInArrow`` over the needed columns."""
    cols = ["doc_id", "source", *(("tokens",) if raw else ("window", *_STATS))]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows:
                yield from rollup_batch(b, tiers, raw)

    return df.select(*cols).mapInArrow(kernel, TIER_SCHEMA)


def tier1_from_tokens(seq_df: DataFrame, window: int, tier: str = "1s") -> DataFrame:
    """Raw -> first tier. Narrow map: no shuffle, no explode."""
    return _map_tiers(seq_df, ((tier, window),), raw=True)


def cascade_tier(prev: DataFrame, factor: int, tier: str) -> DataFrame:
    """Tier k -> k+1 by re-aggregating the previous tier's arrays (extra
    columns such as ``tier`` or ``bucket`` are ignored)."""
    return _map_tiers(prev, ((tier, factor),), raw=False)


def fused_tiers(
    seq_df: DataFrame, tiers: tuple[tuple[str, int], ...] = DEFAULT_TIERS
) -> DataFrame:
    """ALL retention tiers in one narrow pass over the raw ``tokens``, rows
    tagged by ``tier``; the pipeline writes them with one job."""
    return _map_tiers(seq_df, tiers, raw=True)


def rollup_all_tiers(
    seq_df: DataFrame, tiers: tuple[tuple[str, int], ...] = DEFAULT_TIERS
) -> dict[str, DataFrame]:
    """Full cascade as {tier_name: tier_df}; each tier is composed from the
    previous one (never recomputed from raw), per the north rule."""
    return {name: fused_tiers(seq_df, tiers).filter(F.col("tier") == name) for name, _f in tiers}


def tier_points(tier_df: DataFrame) -> DataFrame:
    """Exploded per-window points view (for oracles / downstream SQL):
    (doc_id, source, tier, window, win_no, min_v, max_v, sum_v, cnt, mean_v).
    Mean derived at read: exact int sum / exact int cnt, rounded(6)."""
    z = F.arrays_zip("mins", "maxs", "sums", "cnts").alias("z")
    ex = tier_df.select(
        "doc_id", "source", "tier", "window", F.posexplode(z).alias("win_no", "p")
    )
    return ex.select(
        "doc_id",
        "source",
        "tier",
        "window",
        "win_no",
        F.col("p.mins").alias("min_v"),
        F.col("p.maxs").alias("max_v"),
        F.col("p.sums").alias("sum_v"),
        F.col("p.cnts").alias("cnt"),
        F.round(F.col("p.sums").cast("double") / F.col("p.cnts"), 6).alias("mean_v"),
    )


def source_stats(points: DataFrame) -> DataFrame:
    """Cross-doc per-source tier stats — the only shuffling aggregate, over
    already-reduced tier points (input is ~n_tokens/window rows)."""
    return points.groupBy("source", "tier").agg(
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
        F.sum("sum_v").alias("sum_v"),
        F.sum("cnt").alias("cnt"),
        F.count("*").alias("n_windows"),
    )


def rollup_upsert(
    existing_points: DataFrame,
    delta_seq: DataFrame,
    tiers: tuple[tuple[str, int], ...],
    tier: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental continuous-aggregate maintenance (the TimescaleDB
    refresh semantics the reference's tiers would need under
    re-ingestion): given the materialized tier POINTS of a corpus and a
    delta of re-ingested docs (full replacement token arrays), produce
    the tier points of the updated corpus WITHOUT touching any
    unchanged doc.

    result = existing_points ⟕anti delta_ids  ∪  rollup(delta)

    The anti-join removes EVERY window of a replaced doc (so shrunken
    streams drop their trailing windows — the correctness trap of
    patch-style updates); only the delta is re-rolled, through the same
    zero-shuffle cascade as a full run. At scale the anti-join is a
    broadcast of the delta's doc ids and the write is a dynamic
    partition overwrite of the touched (source, bucket) partitions —
    the plan the pipeline already uses (plans/pipeline.py).

    ``existing_points``/result schema = ``tier_points`` of
    ``rollup_all_tiers(seq, tiers)[tier]``."""
    fresh = tier_points(rollup_all_tiers(delta_seq, tiers)[tier])
    ids = delta_seq.select(F.col(id_col)).distinct()
    kept = existing_points.join(F.broadcast(ids), id_col, "left_anti")
    return kept.unionByName(fresh)
