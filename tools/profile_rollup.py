"""Round-6: dissect rollup_pipeline wall-clock into its stages (guide
§1.1 empirical loop). Not a driver artifact — numbers feed
OPTIMIZATION_r06.md.

Usage: python tools/profile_rollup.py [n_docs]
Env: SPARK_GRAFT_CPUS (default: the cores this process may use), PTS_BENCH_OUT (default /dev/shm/pts_prof)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from processor_post_timeseries_spark.operators.blocks import to_blocks  # noqa: E402
from processor_post_timeseries_spark.operators.partitioning import with_bucket  # noqa: E402
from processor_post_timeseries_spark.operators.rollup import fused_tiers  # noqa: E402
from processor_post_timeseries_spark.plans.pipeline import (  # noqa: E402
    PipelineConfig,
    run_pipeline,
)
from processor_post_timeseries_spark.session import default_cpus, get_spark  # noqa: E402
from processor_post_timeseries_spark.sources.synth import sequences  # noqa: E402

TIERS = (("1s", 100), ("1m", 60), ("1h", 60))


def t(label, fn, out, reps=2):
    secs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        secs.append(round(time.perf_counter() - t0, 3))
    out[label] = secs
    print(f"# {label}: {secs}", file=sys.stderr)


def main():
    cpus = default_cpus()
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    work = os.environ.get("PTS_BENCH_OUT", "/dev/shm/pts_prof")
    spark = get_spark("pts-profile", master=f"local[{cpus}]")
    shutil.rmtree(work, ignore_errors=True)
    seq_path = f"{work}/sequences"
    sequences(spark, n_docs, seed=42).write.mode("overwrite").parquet(seq_path)
    seq = spark.read.parquet(seq_path)

    # warm python workers + JIT
    warm = seq.limit(512)
    run_pipeline(
        spark, warm,
        PipelineConfig(out_dir=f"{work}/_warm", block_size=131_072, n_buckets=4,
                       tiers=(("1s", 100),), run_id="warm", resume=False),
    )

    out = {}
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731

    # isolated kernels (scan + Arrow + kernel, no shuffle/write)
    t("scan_only_noop", lambda: noop(seq), out)
    t("blocks_kernel_noop", lambda: noop(to_blocks(seq, 131_072)), out)
    t("tiers_kernel_noop", lambda: noop(fused_tiers(seq, TIERS)), out)

    # + repartition (the one payload shuffle)
    t(
        "blocks_repart_noop",
        lambda: noop(
            with_bucket(to_blocks(seq, 131_072), cpus).repartition("source", "bucket")
        ),
        out,
    )

    # + parquet write partitioned (no lineage)
    def blocks_write():
        shutil.rmtree(f"{work}/bw", ignore_errors=True)
        (
            with_bucket(to_blocks(seq, 131_072), cpus)
            .repartition("source", "bucket")
            .write.mode("overwrite")
            .partitionBy("source", "bucket")
            .parquet(f"{work}/bw")
        )

    t("blocks_write", blocks_write, out)

    def tiers_write():
        shutil.rmtree(f"{work}/tw", ignore_errors=True)
        (
            with_bucket(fused_tiers(seq, TIERS), cpus)
            .repartition("source", "bucket")
            .write.mode("overwrite")
            .partitionBy("tier", "source", "bucket")
            .parquet(f"{work}/tw")
        )

    t("tiers_write", tiers_write, out)

    # read-back + lineage-shaped certification aggregate over written blocks
    def lineage_like():
        w = spark.read.parquet(f"{work}/bw")
        (
            w.withColumn("_h", F.xxhash64(*[F.col(c) for c in w.columns]))
            .groupBy("source", "bucket")
            .agg(F.count("*"), F.expr("bit_xor(_h)"))
            .write.format("noop").mode("overwrite").save()
        )

    t("lineage_readback_blocks", lineage_like, out)

    def full():
        shutil.rmtree(f"{work}/out", ignore_errors=True)
        run_pipeline(
            spark, seq,
            PipelineConfig(out_dir=f"{work}/out", block_size=131_072,
                           n_buckets=max(cpus, 8), tiers=TIERS, run_id="prof",
                           resume=False),
        )

    t("full_pipeline", full, out)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
