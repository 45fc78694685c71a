"""End-to-end resumable rollup pipeline: sequences -> blocks + tier tables.

The engine's flagship plan (reference lifecycle §3.1 re-expressed):

    sequences (doc_id, tokens, n_tok, source)
      -> salt bucket (partitioning.with_bucket)
      -> [stage blocks]  DoD-compress fixed-size blocks, write
         partitionBy(source, bucket)                    (narrow map)
      -> [stage tier_*]  cascading continuous aggregates raw->1s->1m->1h,
         each tier written partitionBy(source, bucket)  (narrow maps)
      -> checkpoint rows per (source, bucket) per stage (lineage.py)

Every stage is independently resumable: the checkpoint's done keys are
read once into a driver-side set, the input is filtered to the pending
work units, outputs land with dynamic partition overwrite (idempotent
re-write), and lineage is computed from read-back files.

Shuffle census: the per-row stages (blocks, every tier) add no wide
dependency of their own. The exchanges are (a) one
``repartition(shuffle.partitions, *partition cols)`` per stage that
shapes the sink (one task owns each output dir, so one file per dir),
(b) on resume, one distinct over the input's (source, bucket) units
(two small columns), and (c) the lineage groupBys over the
already-reduced read-back of the partitions a run wrote.
"""

from __future__ import annotations

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
    # single-pass blocks+tiers kernel (plans/ingest.py): one raw scan and
    # one Arrow transfer instead of two — the production mode for large
    # corpora; modular per-stage mode kept for operator-level reuse
    fused_ingest: bool = False
    # run the blocks stage as a concurrent Spark job alongside the tier
    # cascade (fills idle cores during tail tasks). r3 same-window A/B:
    # under FIFO this was BIMODAL (15-42 s on identical input — whichever
    # job submitted first starved the other); with per-stage FAIR pools
    # (session.py scheduler.mode=FAIR + setLocalProperty below) it is
    # both the fastest and the most stable mode measured: {24.4, 19.6,
    # 20.9, 20.5} s vs serial {43.1, 50.1, 26.7, 23.0} s alternating in
    # the same windows, and beats the r1 pin (21.6-28.6 s).
    concurrent_stages: bool = True
    # record lineage on helper threads (the scan+groupBy certification
    # jobs overlap the next stage) — small jobs, kept on by default
    async_lineage: bool = True


def _write_stage(
    spark: SparkSession,
    cfg: PipelineConfig,
    stage: str,
    df: DataFrame,
    key_cols: list[str] = ("source", "bucket"),
    part_cols: list[str] | None = None,
    record_threads: list | None = None,
) -> None:
    """Write one stage partition-first + record lineage from read-back.

    The write is shuffled to ``spark.sql.shuffle.partitions`` tasks by the
    partition columns ``part_cols`` (default ``key_cols``): one task owns
    each output dir, so each dir gets one file, and the work is spread
    over the cores. The explicit count matters: AQE would coalesce a
    plain ``repartition(cols)`` by bytes, and a few MB of tier rows would
    collapse into one task that writes every dir alone.

    Lineage rows cover only the partitions THIS run wrote (a resumed run
    must not re-attribute earlier runs' partitions). Their keys are
    observed during the write, with the row count, so finding them costs
    no job; the read-back is filtered to them on the partition columns,
    so its scan prunes to those partitions.

    When ``record_threads`` is given, the lineage job (a scan+groupBy of
    the just-written, already-reduced files) runs as a concurrent Spark
    job instead of a barrier — the next stage starts immediately; the
    pipeline joins all lineage jobs before returning, so a checkpoint row
    still never precedes its data.
    """
    import threading

    from pyspark.sql import Observation

    path = f"{cfg.out_dir}/{stage}"
    key_cols = list(key_cols)
    part_cols = list(part_cols or key_cols)
    obs = Observation()
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_written"),
        F.collect_set(F.struct(*key_cols)).alias("_keys"),
    )
    n_tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    (
        df.repartition(n_tasks, *part_cols)
        .write.mode("overwrite")
        .partitionBy(*part_cols)
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
        [f for f in df.schema if f.name not in part_cols] + [df.schema[c] for c in part_cols]
    )
    written = spark.read.schema(schema).parquet(path)

    def _record() -> None:
        lineage.record_stage(
            spark, cfg.out_dir, stage, written, key_cols, cfg.run_id, only_keys=keys
        )

    if record_threads is None or not cfg.async_lineage:
        _record()
    else:
        t = threading.Thread(target=_record, name=f"lineage-{stage}")
        t.start()
        record_threads.append(t)


def run_pipeline(spark: SparkSession, seq_df: DataFrame, cfg: PipelineConfig) -> dict[str, str]:
    """Execute all stages (skipping checkpointed partitions). Returns
    {stage: output_path}.

    On resume, the input's (source, bucket) work units and the
    checkpoint's done keys are each read once into a driver-side set;
    every stage's pending units follow from them without another job, and
    a stage with none left is skipped.

    The blocks stage and the tier cascade are independent DAGs over the
    same input, so by default they run as CONCURRENT Spark jobs (tiers
    on the caller thread, blocks on a helper), each tagged with its own
    FAIR scheduler pool: when one stage's task count drops below the
    core count (tail tasks, small cascade tiers), the other fills the
    idle slots. The pools matter — r3's same-window A/B showed plain
    FIFO concurrency is bimodal (15-42 s on identical input: first-
    submitted job starves the other), while FAIR-pooled concurrency is
    the fastest AND most stable mode measured (~20 s vs serial 23-50 s).
    """
    import threading

    seq = with_bucket(seq_df, cfg.n_buckets)
    if cfg.resume:
        units = [
            lineage.unit_key(r)
            for r in seq.select("source", "bucket").distinct().collect()
        ]
        done = lineage.done_keys(spark, cfg.out_dir)
    out: dict[str, str] = {}
    blocks_err: list[BaseException] = []
    record_threads: list = []

    def pending(stage: str, prefixes: list[str] = ("",)) -> DataFrame | None:
        """``seq`` without the units whose ``prefix + unit`` keys are all
        done in ``stage``; None when no unit is left."""
        if not cfg.resume:
            return seq
        ok = done.get(stage, set())
        todo = [u for u in units if not all(p + u in ok for p in prefixes)]
        if not todo:
            return None
        if len(todo) == len(units):
            return seq
        return seq.filter(lineage.pk_col(["source", "bucket"]).isin(sorted(todo)))

    if cfg.fused_ingest:
        from .ingest import fused_ingest

        stage = "ingest"
        todo = pending(stage)
        if todo is not None:
            ing = with_bucket(
                fused_ingest(todo.drop("bucket"), cfg.tiers, cfg.block_size), cfg.n_buckets
            )
            _write_stage(spark, cfg, stage, ing, part_cols=["kind", "source", "bucket"])
        out[stage] = f"{cfg.out_dir}/{stage}"
        out["blocks"] = f"{cfg.out_dir}/{stage}/kind=block"
        out["tiers"] = f"{cfg.out_dir}/{stage}/kind=tier"
        return out

    # -- stage: blocks (concurrent job) -----------------------------------
    def _blocks_stage() -> None:
        try:
            if cfg.concurrent_stages:
                # FAIR pool per stage (session.py sets scheduler.mode=FAIR):
                # without this, FIFO lets whichever job submits first hog
                # every slot and the other stage stalls behind it
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", "blocks")
            todo = pending("blocks")
            if todo is not None:
                blocks = with_bucket(to_blocks(todo.drop("bucket"), cfg.block_size), cfg.n_buckets)
                _write_stage(spark, cfg, "blocks", blocks, record_threads=record_threads)
        except BaseException as e:  # surface on the caller thread
            blocks_err.append(e)

    blocks_thread = None
    if cfg.concurrent_stages:
        blocks_thread = threading.Thread(target=_blocks_stage, name="blocks-stage")
        blocks_thread.start()
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "tiers")
    else:
        _blocks_stage()
        if blocks_err:
            raise blocks_err[0]
    out["blocks"] = f"{cfg.out_dir}/blocks"

    # -- stage: tiers (fused cascade, one pass over raw) ------------------
    stage = "tiers"
    tier_names = [name for name, _f in cfg.tiers]
    # lineage keys are (tier, source, bucket); a work unit (source,
    # bucket) is done only when EVERY tier's row is checkpointed
    todo = pending(stage, [f"{t}/" for t in tier_names])
    if todo is not None:
        tiers = with_bucket(fused_tiers(todo.drop("bucket"), cfg.tiers), cfg.n_buckets)
        _write_stage(
            spark,
            cfg,
            stage,
            tiers,
            key_cols=["tier", "source", "bucket"],
            record_threads=record_threads,
        )
    out[stage] = f"{cfg.out_dir}/{stage}"
    for name in tier_names:
        out[f"tier_{name}"] = f"{cfg.out_dir}/{stage}/tier={name}"

    if blocks_thread is not None:
        blocks_thread.join()
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
    for t in record_threads:
        t.join()
    if blocks_err:
        raise blocks_err[0]
    return out
