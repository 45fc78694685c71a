"""The one tier kernel: ``rollup_batch`` on raw Arrow batches against a
per-doc numpy reference (no Spark), and its Spark views against each
other on fresh, read-back and appended tier rows."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from processor_post_timeseries_spark import oracle
from processor_post_timeseries_spark.operators.incremental import append_tokens_to_tiers
from processor_post_timeseries_spark.operators.partitioning import with_bucket
from processor_post_timeseries_spark.operators.rollup import (
    cascade_tier,
    fused_tiers,
    rollup_all_tiers,
    rollup_batch,
    tier1_from_tokens,
)
from processor_post_timeseries_spark.sources.synth import sequences

TIERS = (("a", 3), ("b", 2), ("c", 2))  # windows 3, 6, 12 samples
# empty; shorter than one window; exact multiples of every tier's window;
# ragged last windows at every tier
LENGTHS = [0, 1, 2, 3, 12, 24, 0, 5, 7, 13, 25, 35, 0]


def _raw_batch() -> pa.RecordBatch:
    rng = np.random.default_rng(11)
    toks = [rng.integers(-1000, 1000, n).astype(np.int32).tolist() for n in LENGTHS]
    return pa.RecordBatch.from_arrays(
        [
            pa.array([f"d{i:02d}" for i in range(len(LENGTHS))]),
            pa.array([f"s{i % 3}" for i in range(len(LENGTHS))]),
            pa.array(toks, pa.list_(pa.int32())),
        ],
        names=["doc_id", "source", "tokens"],
    )


def _expect(batch: pa.RecordBatch, tiers, window0: int = 1) -> list[dict]:
    """Per doc, per tier: stats straight from the raw tokens over the
    tier's cumulative window (one numpy window loop per doc)."""
    rows, window = [], window0
    docs = list(zip(*(batch.column(c).to_pylist() for c in ("doc_id", "source", "tokens"))))
    for name, factor in tiers:
        window *= factor
        for doc, src, toks in docs:
            st = oracle.window_stats(np.asarray(toks, np.int64), window)
            rows.append({"doc_id": doc, "source": src, "tier": name, "window": window,
                         "n_windows": len(st["mins"]), **{k: v.tolist() for k, v in st.items()}})
    return rows


def _got(batches) -> list[dict]:
    return [r for b in batches for r in b.to_pylist()]


@pytest.mark.parametrize("offset", [0, 3])
def test_raw_batch_equals_per_doc_reference(offset):
    batch = _raw_batch().slice(offset)
    assert _got(rollup_batch(batch, TIERS, raw=True)) == _expect(batch, TIERS)


def test_tier_rows_cascade_equals_per_doc_reference():
    raw = _raw_batch()
    tier1 = next(rollup_batch(raw, TIERS[:1], raw=True))
    for offset in (0, 3):
        got = _got(rollup_batch(tier1.slice(offset), TIERS[1:], raw=False))
        assert got == _expect(raw.slice(offset), TIERS[1:], window0=TIERS[0][1])


def test_empty_batch_and_all_empty_docs():
    batch = _raw_batch().slice(0, 1)  # one empty doc
    (out,) = rollup_batch(batch, TIERS[:1], raw=True)
    assert out.to_pylist() == [{"doc_id": "d00", "source": "s0", "tier": "a", "window": 3,
                                "n_windows": 0, "mins": [], "maxs": [], "sums": [], "cnts": []}]
    assert all(b.num_rows == 0 for b in rollup_batch(_raw_batch().slice(0, 0), TIERS, raw=True))


def _rows(df):
    cols = ["doc_id", "source", "tier", "window", "n_windows", "mins", "maxs", "sums", "cnts"]
    return sorted(tuple(tuple(v) if isinstance(v, list) else v for v in r)
                  for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def seq(spark):
    return sequences(spark, 40, seed=9, min_tok=0, max_tok=400, vocab=500).cache()


def test_fused_equals_all_tiers_and_chained_cascade(seq):
    tiers = (("1s", 10), ("1m", 6), ("1h", 6))
    fused = _rows(fused_tiers(seq, tiers))
    views = rollup_all_tiers(seq, tiers)
    assert fused == sorted(r for name, _f in tiers for r in _rows(views[name]))
    t1 = tier1_from_tokens(seq, 10, "1s")
    t2 = cascade_tier(t1, 6, "1m")
    t3 = cascade_tier(t2, 6, "1h")
    assert fused == sorted(_rows(t1) + _rows(t2) + _rows(t3))


def test_cascade_on_tier_rows_read_back_from_parquet(spark, seq, tmp_path):
    path = str(tmp_path / "t1")
    (with_bucket(tier1_from_tokens(seq, 10, "1s"), 4)
     .write.partitionBy("tier", "source", "bucket").parquet(path))
    back = spark.read.parquet(path)
    assert {"tier", "bucket"} <= set(back.columns)
    want = rollup_all_tiers(seq, (("1s", 10), ("1m", 6)))["1m"]
    assert _rows(cascade_tier(back, 6, "1m")) == _rows(want)


def test_cascade_on_appended_tier_rows(spark):
    full = list(range(50))
    seq = spark.createDataFrame([("a", full[:23], 23, "s"), ("b", full, 50, "s")],
                                "doc_id string, tokens array<int>, n_tok int, source string")
    delta = spark.createDataFrame([("a", full[23:], "s", 23)],
                                  "doc_id string, tokens array<int>, source string, offset long")
    merged = append_tokens_to_tiers(tier1_from_tokens(seq, 4, "1s"), delta, 4, "1s")
    whole = seq.withColumn("tokens", F.lit(full)).withColumn("n_tok", F.lit(50))
    assert _rows(cascade_tier(merged, 3, "1m")) == _rows(
        rollup_all_tiers(whole, (("1s", 4), ("1m", 3)))["1m"]
    )
