"""Per-partition lineage + checkpoint table -> mid-pipeline resumability.

North-rule requirement: "every stage writes per-partition lineage rows
(input files, row counts, checksums) plus metrics to an Iceberg checkpoint
table so the job is resumable mid-pipeline".  The reference's analog is
the import manifest — the unit of commit/lineage for uploads
(``/root/reference/processor/clients/import_client.py:95-136``).

Protocol
--------
* Work unit = one physical partition key (e.g. ``(source, bucket)``).
* A stage writes its output partition-first (``partitionOverwriteMode=
  dynamic``), then reads the *written* files back to compute lineage
  stats (row_count, xor-of-xxhash64 checksum, n_bytes via input files) —
  so a checkpoint row certifies bytes on disk, not an in-memory plan.
* Resume = read the stage's ``status='done'`` keys once into a driver-side
  set (``done_keys``) and filter the input to the other work units;
  completed partitions are never recomputed, and re-writing a partition
  is idempotent (dynamic overwrite).

Crash semantics
---------------
* A checkpoint row is appended only after its partition's data is
  durable. A crash between the data write and the append leaves the unit
  without a row, so resume recomputes it: work is repeated, lineage is
  never stale.
* Deleting rows (``drop_checkpoint_rows``, used by backfill) never
  rewrites the table in place. The kept rows go to the sibling
  ``_checkpoint.next``, which two renames swap in (the old table moves to
  ``_checkpoint.prev`` and is then deleted). A crash before the swap
  leaves the old table whole; a crash between the renames is finished by
  the next ``read_checkpoint``. Every unit's done row survives either way.

Sandbox note: no Iceberg runtime jar is available offline, so the
checkpoint table is an append-only Parquet table behind the same API
(``catalog seam``, SURVEY.md §7); on a cluster with an Iceberg catalog
the identical code targets ``format("iceberg")`` commits.
"""

from __future__ import annotations

import os
import threading
import uuid

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

CKPT_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("checksum", T.LongType(), False),
        T.StructField("input_files", T.ArrayType(T.StringType()), True),
        T.StructField("status", T.StringType(), False),
    ]
)
_CKPT_ARROW = to_arrow_schema(CKPT_SCHEMA)


def _ckpt_path(root: str) -> str:
    return os.path.join(root, "_checkpoint")


def pk_col(key_cols: list[str]) -> Column:
    """The ``partition_key`` string of a row: its key values joined by '/'."""
    return F.concat_ws("/", *[F.col(c).cast("string") for c in key_cols])


def unit_key(values) -> str:
    """``partition_key`` of one work unit given as a tuple of key values;
    the driver-side twin of ``pk_col`` for str/int keys."""
    return "/".join(str(v) for v in values)


def _local_frame(spark: SparkSession, rows: list) -> DataFrame:
    """Checkpoint rows as a DataFrame over a local relation (built from
    Arrow, not from a pickled Python RDD, so no Python worker runs)."""
    cols = list(zip(*rows)) if rows else [()] * len(_CKPT_ARROW)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, _CKPT_ARROW)], schema=_CKPT_ARROW
    )
    return spark.createDataFrame(table, CKPT_SCHEMA)


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem of ``path``, its Path constructor)."""
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), Path


def _recover(spark: SparkSession, root: str) -> None:
    """Finish a checkpoint swap that a crash cut between its two renames:
    the table is missing, so promote the complete ``.next`` (or, failing
    that, put ``.prev`` back)."""
    path = _ckpt_path(root)
    fs, Path = _fs(spark, path)
    if fs.exists(Path(path)):
        return
    with _CKPT_WRITE_LOCK:
        if fs.exists(Path(path)):  # another thread finished it
            return
        if fs.exists(Path(path + ".next/_SUCCESS")):
            fs.rename(Path(path + ".next"), Path(path))
        elif fs.exists(Path(path + ".prev")):
            fs.rename(Path(path + ".prev"), Path(path))


def read_checkpoint(spark: SparkSession, root: str) -> DataFrame:
    _recover(spark, root)
    try:
        return spark.read.schema(CKPT_SCHEMA).parquet(_ckpt_path(root))
    except Exception:
        return _local_frame(spark, [])


def completed_keys(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """Distinct done partition_keys for a stage: (partition_key)."""
    return (
        read_checkpoint(spark, root)
        .filter((F.col("stage") == stage) & (F.col("status") == "done"))
        .select("partition_key")
        .distinct()
    )


def done_keys(spark: SparkSession, root: str) -> dict[str, set[str]]:
    """{stage: done partition_keys}, from one read of the checkpoint. The
    table holds one row per partition per stage, so it fits the driver."""
    out: dict[str, set[str]] = {}
    rows = (
        read_checkpoint(spark, root)
        .filter(F.col("status") == "done")
        .select("stage", "partition_key")
        .collect()
    )
    for r in rows:
        out.setdefault(r["stage"], set()).add(r["partition_key"])
    return out


def record_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    written_df: DataFrame,
    key_cols: list[str],
    run_id: str,
    only_keys=None,
) -> DataFrame:
    """Append done-rows for partitions of a written stage output.

    ``written_df`` must be a read-back of the stage's files so lineage
    certifies durable bytes (input_files from ``input_file_name()``).
    ``only_keys`` restricts recording to the partitions this run wrote:
    a DataFrame with the ``key_cols`` columns, or an iterable of key-value
    tuples in ``key_cols`` order. The tiny key set is collected and
    filtered on the partition columns before the stamp, so the scan
    prunes to those partitions and reads no other file.
    """
    if only_keys is not None:
        if isinstance(only_keys, DataFrame):
            pks = {r[0] for r in only_keys.select(pk_col(key_cols)).collect()}
        else:
            pks = {unit_key(k) for k in only_keys}
        if not pks:
            return _local_frame(spark, [])
        written_df = written_df.filter(pk_col(key_cols).isin(sorted(pks)))
    data_cols = [c for c in written_df.columns]
    stamped = written_df.withColumn(
        "_h", F.xxhash64(*[F.col(c) for c in data_cols])
    ).withColumn("_file", F.input_file_name())
    stats = (
        stamped.groupBy(*key_cols)
        .agg(
            F.count("*").alias("row_count"),
            F.expr("bit_xor(_h)").alias("checksum"),
            F.array_distinct(F.collect_list("_file")).alias("input_files"),
        )
        .select(
            F.lit(stage).alias("stage"),
            pk_col(key_cols).alias("partition_key"),
            F.lit(run_id).alias("run_id"),
            "row_count",
            "checksum",
            "input_files",
            F.lit("done").alias("status"),
        )
    )
    # one row per partition: collect, then append from a local relation.
    # Concurrent pipeline stages (plans/pipeline.py) may append lineage at
    # the same time and the Hadoop committer shares one _temporary dir per
    # output path, so the append is serialized within the process; the
    # scan and aggregation above it are not.
    rows = stats.collect()
    done = _local_frame(spark, rows)
    if rows:
        with _CKPT_WRITE_LOCK:
            _recover(spark, root)
            done.coalesce(1).write.mode("append").parquet(_ckpt_path(root))
    return done


def drop_checkpoint_rows(spark: SparkSession, root: str, cond: Column) -> int:
    """Delete the checkpoint rows matching ``cond``; returns how many.

    One read tags every row with a ``_drop`` flag; when any row matches,
    the kept rows are written from a local relation to the sibling
    ``_checkpoint.next`` and swapped in by ``_swap``. A crash before the
    swap leaves the old table whole; one between its two renames is
    finished by ``_recover`` on the next read. Nothing is written when no
    row matches.
    """
    path = _ckpt_path(root)
    with _CKPT_WRITE_LOCK:
        rows = (
            read_checkpoint(spark, root)
            .withColumn("_drop", F.coalesce(cond, F.lit(False)))
            .collect()
        )
        keep = [tuple(r)[:-1] for r in rows if not r["_drop"]]
        removed = len(rows) - len(keep)
        if removed:
            fs, Path = _fs(spark, path)
            fs.delete(Path(path + ".prev"), True)  # left by a crash after a swap
            _local_frame(spark, keep).coalesce(1).write.mode("overwrite").parquet(path + ".next")
            _swap(spark, path)
    return removed


def _swap(spark: SparkSession, path: str) -> None:
    """Swap ``path.next`` in for ``path`` with two renames, then delete the
    old table."""
    fs, Path = _fs(spark, path)
    for src, dst in ((path, path + ".prev"), (path + ".next", path)):
        if not fs.rename(Path(src), Path(dst)):
            raise OSError(f"checkpoint swap: rename {src} -> {dst} failed")
    fs.delete(Path(path + ".prev"), True)


_CKPT_WRITE_LOCK = threading.RLock()


def pending_only(df: DataFrame, spark: SparkSession, root: str, stage: str, key_cols: list[str]) -> DataFrame:
    """Filter a stage input down to partitions without a done checkpoint
    row — the resume anti-join. Checkpoint side is tiny -> broadcast."""
    done = completed_keys(spark, root, stage)
    keyed = df.withColumn("_pk", pk_col(key_cols))
    return keyed.join(
        F.broadcast(done.withColumnRenamed("partition_key", "_pk")), "_pk", "left_anti"
    ).drop("_pk")


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


# ------------------------------------------------------------- manifests
# The reference's import manifest is batched by a sampled mean entry size
# and preserves global insertion order across batches; these re-express
# that as engine operators (A4 + L2 import side).

MAX_REQUEST_SIZE_BYTES = 10 * 1024 * 1024  # reference import_client.py:14
DEFAULT_BATCH_SIZE = 1000

# serialized manifest entry is {"upload_key": "K", "file_path": "P"} with
# json.dumps' default separators plus one joining comma:
# 35 fixed chars + the two value lengths + 1  (import_client.py:176-178)
_ENTRY_OVERHEAD = 36


def calculate_batch_size(
    entries: DataFrame,
    order_col: str,
    key_col: str = "upload_key",
    path_col: str = "file_path",
    max_size_bytes: int = MAX_REQUEST_SIZE_BYTES,
    sample_n: int = 100,
) -> int:
    """A4 — manifest batch sizing from a sampled mean entry size with an
    80% safety margin (reference
    ``/root/reference/processor/clients/import_client.py:161-190``).
    The reference samples its list's first 100 entries; a DataFrame has
    no order, so ``order_col`` pins the sample deterministically
    (TakeOrdered — no full sort). Assumes manifest values need no JSON
    escaping (true for object keys/paths)."""
    sample = (
        entries.orderBy(order_col)
        .limit(sample_n)
        .select(
            (
                F.length(key_col) + F.length(path_col) + F.lit(_ENTRY_OVERHEAD)
            ).alias("entry_len")
        )
        .agg(F.sum("entry_len").alias("s"), F.count("*").alias("n"))
        .collect()[0]
    )
    if not sample["n"]:
        return DEFAULT_BATCH_SIZE
    avg = sample["s"] / sample["n"]
    return max(1, int(max_size_bytes * 0.8 / avg))


def assign_manifest_batches(
    entries: DataFrame, batch_size: int, order_col: str
) -> DataFrame:
    """L2 (import side) — batch assignment that preserves global insertion
    order across batches (reference behavior pinned by
    ``/root/reference/tests/test_import_client.py:279``): entry k lands in
    batch k//batch_size at offset k%batch_size, so concatenating batches
    in batch_no order reproduces the input order exactly.

    The global row_number is a driver-visible ordering over MANIFEST
    entries (one per uploaded file, not per data row) — small by
    construction; the single-partition window is deliberate and bounded.
    """
    from pyspark.sql.window import Window

    w = Window.orderBy(order_col)
    pos = F.row_number().over(w) - 1
    return (
        entries.withColumn("global_pos", pos.cast("bigint"))
        .withColumn("batch_no", F.floor(F.col("global_pos") / batch_size).cast("bigint"))
        .withColumn(
            "pos_in_batch", (F.col("global_pos") % batch_size).cast("bigint")
        )
    )


def verify_lineage(
    spark: SparkSession,
    root: str,
    stage: str,
    data_path: str,
    key_cols: list[str],
) -> DataFrame:
    """Audit a stage's checkpoint against its durable bytes: recompute
    per-partition row_count and xor-of-xxhash64 checksum from the data
    files and full-outer-join the checkpoint rows. Returns
    (partition_key, ok, ck_rows, data_rows, ck_checksum, data_checksum);
    ``ok`` is false on any count/checksum mismatch, a checkpointed
    partition with no data, or data with no checkpoint row. This is the
    operational twin of the driver-certified ``s8_lineage_certify``."""
    ck = (
        read_checkpoint(spark, root)
        .filter((F.col("stage") == stage) & (F.col("status") == "done"))
        .select(
            "partition_key",
            F.col("row_count").alias("ck_rows"),
            F.col("checksum").alias("ck_checksum"),
        )
    )
    written = spark.read.parquet(data_path)
    recomputed = (
        written.withColumn("_h", F.xxhash64(*[F.col(c) for c in written.columns]))
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("data_rows"),
            F.expr("bit_xor(_h)").alias("data_checksum"),
        )
        .select(
            pk_col(key_cols).alias("partition_key"),
            "data_rows",
            "data_checksum",
        )
    )
    j = ck.join(recomputed, "partition_key", "full_outer")
    return j.select(
        "partition_key",
        (
            F.col("ck_rows").isNotNull()
            & F.col("data_rows").isNotNull()
            & (F.col("ck_rows") == F.col("data_rows"))
            & (F.col("ck_checksum") == F.col("data_checksum"))
        ).alias("ok"),
        "ck_rows",
        "data_rows",
        "ck_checksum",
        "data_checksum",
    )
