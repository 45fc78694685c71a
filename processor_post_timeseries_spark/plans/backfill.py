"""Targeted backfill — invalidate selected work units in the lineage
checkpoint so the next resumable run recomputes EXACTLY those
partitions and nothing else.

Why this shape: the pipeline's resume protocol (``plans/lineage.py``)
skips every (stage, partition_key) with a ``done`` checkpoint row.
Reprocessing a bad partition (codec bug, corrupted source file,
upstream restatement) therefore reduces to DELETING its checkpoint
rows — the parquet-seam analog of ``DELETE FROM checkpoint WHERE …``
on an Iceberg table — and re-running the pipeline with ``resume=True``.
Dynamic partition overwrite makes the recompute idempotent; untouched
partitions are never read or rewritten.

The checkpoint table is tiny by construction (one row per partition per
stage), so the delete reads it once through the driver and writes the
kept rows back from a local relation. The rewrite goes to a sibling
directory that is swapped in by rename (``lineage.drop_checkpoint_rows``):
a crash at any point leaves either the old table or the new one, never a
missing or partial one, so no other unit's done rows are lost.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .lineage import drop_checkpoint_rows


def invalidate_units(
    spark: SparkSession,
    root: str,
    stage: str,
    partition_keys: list[str],
) -> int:
    """Remove done-rows for exact (stage, partition_key) pairs. Returns
    how many checkpoint rows were deleted."""
    return drop_checkpoint_rows(
        spark,
        root,
        (F.col("stage") == stage) & F.col("partition_key").isin(partition_keys),
    )


def invalidate_where(
    spark: SparkSession,
    root: str,
    source: str,
    bucket: int,
    stages: list[str] | None = None,
) -> int:
    """Invalidate one (source, bucket) work unit across stages. Handles
    both key layouts the pipeline writes: ``source/bucket`` (blocks) and
    ``tier/source/bucket`` (tier stages) via exact-match-or-suffix."""
    unit = f"{source}/{bucket}"
    cond = (F.col("partition_key") == unit) | F.col("partition_key").endswith(
        "/" + unit
    )
    if stages is not None:
        cond = cond & F.col("stage").isin(stages)
    return drop_checkpoint_rows(spark, root, cond)

