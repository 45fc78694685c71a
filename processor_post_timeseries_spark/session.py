"""SparkSession builder with the engine's standard configs.

AQE on (runtime coalesce + skew-join splitting), Arrow on (every codec /
reshape UDF is Arrow-vectorized), UTC, shuffle partitions sized to the
local core count rather than the 200 default.  On a real cluster the same
builder is used by ``spark-submit --py-files``; only ``master`` changes.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip this package for ``--py-files``-style shipping to executors.

    The north rule requires the engine be runnable via ``spark-submit
    --py-files`` on a multi-executor cluster; for plain ``python`` drivers
    the session builder ships the same artifact itself (addPyFile), so
    pandas-UDF closures unpickle on workers regardless of launch dir.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    out = os.path.join(tempfile.gettempdir(), f"{pkg_name}.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    return out


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` when set, else the cores this process may run
    on (its CPU affinity), so a bare run never oversubscribes the host."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "pts-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[default_cpus()]``: ``$SPARK_GRAFT_CPUS``
    (so the bench harness can pin parallelism for the N-vs-4N scaling
    runs), else the cores the process may use.
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # parse local[N] / local[N,maxFailures] to size shuffles to actual
        # parallelism; any unparseable form ('*', yarn, spark://…) -> cpus
        n = master.split("[")[-1].rstrip("]").split(",")[0] if "[" in master else ""
        try:
            shuffle_partitions = max(int(n), 1)
        except ValueError:
            shuffle_partitions = cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # floor on scan parallelism (guide §6): without it a ~250 MB
        # multi-file input packs into ceil(size/128MB) ≈ 2-3 splits and
        # every downstream narrow kernel runs 3-wide on a 32-core box.
        # Scale-adaptive, not a local constant: the floor follows the
        # session's parallelism, and big inputs still split by the
        # 128 MB default (the floor only ever ADDS splits).
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # NOTE: measured on this box — an oversized heap (48g) degrades
        # local[32] mapInPandas runs up to 10x (young-gen page zeroing is
        # memory-bandwidth-bound and scales with heap x threads); a small
        # pre-touched heap is fastest. Cluster deployments size executor
        # heaps explicitly per node instead.
        .config("spark.driver.memory", os.environ.get("PTS_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", "-XX:+AlwaysPreTouch")
        # v2 committer: task commits move files directly; the v1 serial
        # job-commit over hundreds of (source,bucket) dirs is pure driver
        # time that caps scaling efficiency
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # FAIR scheduling between named pools: concurrent pipeline stages
        # (plans/pipeline.py concurrent_stages) each tag their thread with
        # a pool so neither job starves the other under FIFO; single-job
        # workloads land in the default pool and are unaffected
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
    )
    # file:// FileSystem without the chmod-subprocess fork: PySpark has
    # no libhadoop.so, so stock RawLocalFileSystem forks `chmod` for
    # EVERY created file/dir (~20-40 ms each — a 1536-dir partitioned
    # write spent ~5 s in fork+exec; thread dumps showed
    # RawLocalFileSystem.setPermission -> Shell.execCommand). The shim
    # (java/pts/fs/*.java, compiled into jars/pts-niolocalfs.jar) does
    # the same chmod(2) via java.nio. Semantics unchanged (checksummed
    # LocalFileSystem); clusters with HDFS/S3 or libhadoop never hit
    # the forking path and simply don't need the override.
    _fs_jar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "jars", "pts-niolocalfs.jar"
    )
    if os.path.exists(_fs_jar):
        b = (
            b.config("spark.jars", _fs_jar)
            .config("spark.driver.extraClassPath", _fs_jar)
            .config("spark.executor.extraClassPath", _fs_jar)
            .config("spark.hadoop.fs.file.impl", "pts.fs.NioLocalFileSystem")
        )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(package_zip())
    return spark
