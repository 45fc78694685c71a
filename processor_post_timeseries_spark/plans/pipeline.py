"""End-to-end resumable rollup pipeline: sequences -> blocks + tier tables.

The engine's flagship plan (reference lifecycle §3.1 re-expressed):

    sequences (doc_id, tokens, n_tok, source)
      -> salt bucket (partitioning.with_bucket)
      -> [stage blocks]  DoD-compress fixed-size blocks, write
         partitionBy(source, bucket)                    (narrow map)
      -> [stage tiers]   cascading continuous aggregates raw->1s->1m->1h
         in one pass, written partitionBy(tier, source, bucket)  (narrow map)
      -> checkpoint rows per (source, bucket) per stage (lineage.py)

Every stage is independently resumable: the checkpoint's done keys are
read once into a driver-side set, the input is filtered to the pending
work units, outputs land with dynamic partition overwrite (idempotent
re-write), and lineage is computed from read-back files.

There is one code path. The two stages are independent DAGs over the
same input, so each runs pending -> kernel -> write -> lineage record on
its own thread, in its own FAIR scheduler pool: when one stage's task
count drops below the core count (tail tasks, lineage jobs), the other
fills the idle slots. Running them one after the other was measured
slower on 4 cores (``ingest`` benchmark, median iteration 4.93 s
concurrent vs 6.00 s serial, 5 of 5 pairs).

Shuffle census: the per-row stages (blocks, every tier) add no wide
dependency of their own. The exchanges are (a) one
``repartition(shuffle.partitions, *partition cols)`` per stage that
shapes the sink (one task owns each output dir, so one file per dir),
(b) on resume, one distinct over the input's (source, bucket) units
(two small columns), and (c) the lineage groupBys over the
already-reduced read-back of the partitions a run wrote.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.blocks import to_blocks
from ..operators.partitioning import DEFAULT_BUCKETS, with_bucket
from ..operators.rollup import DEFAULT_TIERS, fused_tiers
from . import lineage


@dataclass
class PipelineConfig:
    out_dir: str
    block_size: int = 131_072
    n_buckets: int = DEFAULT_BUCKETS
    tiers: tuple = DEFAULT_TIERS
    run_id: str = field(default_factory=lineage.new_run_id)
    resume: bool = True
    # per-stage metrics captured DURING the write pass via df.observe
    # (operator A5: the reference's thread-safe progress counter,
    # /root/reference/processor/importer.py:117-127, re-expressed with
    # zero extra jobs)
    metrics: dict = field(default_factory=dict)


def _write_stage(
    spark: SparkSession,
    cfg: PipelineConfig,
    stage: str,
    df: DataFrame,
    key_cols: list[str],
) -> None:
    """Write one stage partition-first + record lineage from read-back.

    The write is shuffled to ``spark.sql.shuffle.partitions`` tasks by the
    key columns: one task owns each output dir, so each dir gets one
    file, and the work is spread over the cores. The explicit count
    matters: AQE would coalesce a plain ``repartition(cols)`` by bytes,
    and a few MB of tier rows would collapse into one task that writes
    every dir alone.

    Lineage rows cover only the partitions THIS run wrote (a resumed run
    must not re-attribute earlier runs' partitions). Their keys are
    observed during the write, with the row count, so finding them costs
    no job; the read-back is filtered to them on the partition columns,
    so its scan prunes to those partitions. The lineage record follows
    the write on the same thread, so a checkpoint row never precedes its
    data.
    """
    from pyspark.sql import Observation

    path = f"{cfg.out_dir}/{stage}"
    obs = Observation()
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_written"),
        F.collect_set(F.struct(*key_cols)).alias("_keys"),
    )
    n_tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    (
        df.repartition(n_tasks, *key_cols)
        .write.mode("overwrite")
        .partitionBy(*key_cols)
        .parquet(path)
    )
    try:
        metrics = obs.get
    except Exception:
        # a zero-row write never materializes its observation row (Spark
        # asserts in toPyRow); an empty stage is a valid no-op
        metrics = {"rows_written": 0, "_keys": []}
    keys = metrics.pop("_keys")
    cfg.metrics[stage] = metrics
    if not keys:
        return  # nothing written, nothing to certify
    # the read-back's schema is the written one: data columns, then the
    # partition columns; giving it skips a footer-inference job
    schema = T.StructType(
        [f for f in df.schema if f.name not in key_cols] + [df.schema[c] for c in key_cols]
    )
    written = spark.read.schema(schema).parquet(path)
    lineage.record_stage(spark, cfg.out_dir, stage, written, key_cols, cfg.run_id, only_keys=keys)


def run_pipeline(spark: SparkSession, seq_df: DataFrame, cfg: PipelineConfig) -> dict[str, str]:
    """Execute all stages (skipping checkpointed partitions). Returns
    {stage: output_path}.

    On resume, the input's (source, bucket) work units and the
    checkpoint's done keys are each read once into a driver-side set;
    every stage's pending units follow from them without another job, and
    a stage with none left is skipped.

    Both stages run concurrently, each on its own thread tagged with its
    own FAIR pool (session.py sets ``scheduler.mode=FAIR``): under FIFO
    the first-submitted job starves the other. A stage's exception is
    raised here once both have finished.
    """
    seq = with_bucket(seq_df, cfg.n_buckets)
    if cfg.resume:
        units = [
            lineage.unit_key(r)
            for r in seq.select("source", "bucket").distinct().collect()
        ]
        done = lineage.done_keys(spark, cfg.out_dir)
    tier_names = [name for name, _f in cfg.tiers]
    # stage, kernel, lineage key columns, done-key prefixes of one
    # (source, bucket) unit: a tiers unit is done only when EVERY tier's
    # row is checkpointed
    stages = (
        ("blocks", lambda df: to_blocks(df, cfg.block_size), ["source", "bucket"], [""]),
        ("tiers", lambda df: fused_tiers(df, cfg.tiers), ["tier", "source", "bucket"],
         [f"{t}/" for t in tier_names]),
    )

    def run_stage(stage, kernel, key_cols, prefixes) -> None:
        """Pending units -> kernel -> write -> lineage record. A unit is
        pending unless its ``prefix + unit`` keys are all done."""
        todo = seq
        if cfg.resume:
            ok = done.get(stage, set())
            left = sorted(u for u in units if not all(p + u in ok for p in prefixes))
            if not left:
                return
            if len(left) < len(units):
                todo = seq.filter(lineage.pk_col(["source", "bucket"]).isin(left))
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", stage)
        try:
            out_df = with_bucket(kernel(todo.drop("bucket")), cfg.n_buckets)
            _write_stage(spark, cfg, stage, out_df, key_cols)
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    with ThreadPoolExecutor(len(stages), thread_name_prefix="stage") as pool:
        futures = [pool.submit(run_stage, *st) for st in stages]
        for fut in futures:
            fut.result()
    out = {stage: f"{cfg.out_dir}/{stage}" for stage, *_ in stages}
    for name in tier_names:
        out[f"tier_{name}"] = f"{cfg.out_dir}/tiers/tier={name}"
    return out
