"""Small-file compaction for partitioned sinks (ops at 100 TB).

Long-lived ingest (resume re-writes, streaming availableNow triggers,
per-trigger appends) accumulates many small parquet files per
partition; at corpus scale the scan then pays a task per file and the
driver pays listing time. This is the Iceberg ``rewrite_data_files``
maintenance action re-expressed on the plain-parquet seam the sandbox
uses (same API shape: pick oversubscribed partitions, rewrite only
those, leave the rest byte-identical).

Safety: rewrites go through dynamic partition overwrite — a partition
is replaced atomically by the committer, untouched partitions are never
rewritten, and the operation is idempotent (re-running compacts nothing
the second time).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


@dataclass
class CompactionPlan:
    """What compaction decided, before any rewrite happens."""

    partitions: list[dict]  # per-partition: values, n_files, n_bytes, target_files
    n_partitions_total: int
    n_partitions_to_compact: int


def file_stats(spark: SparkSession, path: str, partition_cols: list[str]) -> DataFrame:
    """Per-partition (n_files, n_bytes) from a metadata-only listing —
    the binaryFile source exposes (path, length) and never reads file
    content unless the ``content`` column is selected."""
    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")  # walk into partition dirs
        .load(path)
        .select("path", "length")
    )
    cols = []
    for c in partition_cols:
        # .../c=value/... -> value (hive-style layout written by partitionBy)
        cols.append(
            F.regexp_extract(F.col("path"), f"/{c}=([^/]+)/", 1).alias(c)
        )
    return (
        listing.select(*cols, "length")
        .groupBy(*partition_cols)
        .agg(F.count("*").alias("n_files"), F.sum("length").alias("n_bytes"))
    )


def plan_compaction(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    min_files: int = 2,
) -> CompactionPlan:
    """Pick partitions whose file count exceeds what target sizing needs
    (and have at least ``min_files`` — a single file is never rewritten)."""
    stats = file_stats(spark, path, partition_cols).collect()
    parts = []
    to_compact = 0
    for r in stats:
        target_files = max(1, -(-int(r["n_bytes"]) // target_file_bytes))
        need = r["n_files"] >= min_files and r["n_files"] > target_files
        parts.append(
            {
                "values": {c: r[c] for c in partition_cols},
                "n_files": int(r["n_files"]),
                "n_bytes": int(r["n_bytes"]),
                "target_files": target_files,
                "compact": need,
            }
        )
        to_compact += int(need)
    return CompactionPlan(parts, len(parts), to_compact)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    min_files: int = 2,
) -> CompactionPlan:
    """Rewrite only the oversubscribed partitions of a partitioned
    parquet table, coalescing each to its target file count. Data is
    unchanged (same rows, same schema); only file layout changes.

    One job rewrites ALL selected partitions: the read filters to the
    selected partition values (partition pruning — untouched partitions
    are never scanned), a repartition on the partition key spreads work,
    and dynamic partition overwrite swaps exactly those directories.
    """
    plan = plan_compaction(spark, path, partition_cols, target_file_bytes, min_files)
    selected = [p for p in plan.partitions if p["compact"]]
    if not selected:
        return plan
    df = spark.read.parquet(path)
    # predicate: OR over selected partitions' value tuples (pruned scan)
    pred = None
    for p in selected:
        clause = None
        for c, v in p["values"].items():
            cc = F.col(c).cast("string") == F.lit(str(v))
            clause = cc if clause is None else (clause & cc)
        pred = clause if pred is None else (pred | clause)
    # repartition on the partition key alone would collapse each selected
    # partition to ONE task/file (a 10 GB file at scale); salt by a row
    # hash so each partition lands in ~target_files slices
    fanout = max(max(p["target_files"] for p in selected), 1)
    picked = df.filter(pred)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in picked.columns]), F.lit(fanout)
    )
    (
        picked.withColumn("_salt", salt)
        .repartition(*partition_cols, "_salt")
        .drop("_salt")
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    return plan
