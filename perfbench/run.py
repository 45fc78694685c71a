#!/usr/bin/env python3
"""Benchmark of the rollup engine: one workload per run, outputs checked.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 1 --trace 0

Run it from the repository root. It builds every input from ``--seed``
inside ``.perfbench_work/``, sets up and warms up without timing, then
runs the workload in a closed loop (one caller, each call waits for the
previous one) for ``--seconds`` and at least one iteration. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, and the
spans with the Spark stages attributed to them are written to
``.perfbench_traces/``. The line before it holds the host record and the
workload's own figures. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from contract_tables import CONTRACT_QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "processor_post_timeseries_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
TRACES = os.path.join(ROOT, ".perfbench_traces")
DRIVER_MEM = "2g"  # the engine's 8g pre-touched heap would pin half of a 15 GB host
DEADLINE_S = 150.0  # start no iteration expected to end after this

END_TO_END = {
    "setup_s": "s",
    "iter_s": "s",
    "stored_bytes_per_token": "bytes/token",
}

SPAN_COUNTERS = ("run_pipeline", "append", "backfill", "verify", "readback", "tier_query")
COUNTER_UNITS = {"exec_run_s": "s", "exec_cpu_s": "s", "shuffle_bytes": "bytes",
                 "spill_bytes": "bytes", "failed_tasks": "count"}
PER_LAYER = {
    "session.start_s": "s", "synth.generate_s": "s", "scan.noop_s": "s",
    "rollup.fused_tiers_noop_s": "s", "rollup.cascade_tier_s": "s",
    "rollup.windows_1s": "count", "rollup.windows_1m": "count", "rollup.windows_1h": "count",
    "blocks.to_blocks_noop_s": "s", "blocks.from_blocks_s": "s",
    "blocks.n_blocks": "count", "codec.payload_bytes": "bytes",
    "exchange.repartition_s": "s", "exchange.shuffle_write_bytes": "bytes",
    "exchange.spill_bytes": "bytes",
    "write.blocks_s": "s", "write.tiers_s": "s", "write.files": "count",
    "write.dirs": "count", "write.bytes": "bytes",
    "pipeline.stage_busy_s": "s", "pipeline.driver_gap_s": "s",
    "lineage.record_stage_s": "s", "lineage.verify_s": "s",
    "lineage.checkpoint_rows": "count", "lineage.checkpoint_files": "count",
    "backfill.invalidate_s": "s", "backfill.resume_run_s": "s",
    "backfill.units_invalidated": "count", "backfill.units_rewritten": "count",
    "backfill.input_rows_read": "count", "backfill.useful_ratio": "ratio",
    "incremental.merge_s": "s", "incremental.rows_rewritten": "count",
    "incremental.useful_ratio": "ratio",
    **{f"{s}.{c}": u for s in SPAN_COUNTERS for c, u in COUNTER_UNITS.items()},
    "contract.load_views_s": "s", **{f"contract.{q}_s": "s" for q in CONTRACT_QUERIES},
    "mem.jvm_hwm_mb": "MiB", "mem.py_workers_hwm_mb": "MiB",
    "trace.iter_s": "s",
}
# layer metric <- median duration of the spans with this name
SPAN_TIMES = {
    "scan.noop_s": "scan.noop", "rollup.fused_tiers_noop_s": "rollup.fused_tiers_noop",
    "rollup.cascade_tier_s": "rollup.cascade_tier",
    "blocks.to_blocks_noop_s": "blocks.to_blocks_noop", "blocks.from_blocks_s": "readback",
    "exchange.repartition_s": "exchange.repartition",
    "write.blocks_s": "write.blocks", "write.tiers_s": "write.tiers",
    "lineage.record_stage_s": "lineage.record_stage", "lineage.verify_s": "verify",
    "backfill.invalidate_s": "backfill.invalidate",
    "backfill.resume_run_s": "backfill.resume_run", "incremental.merge_s": "incremental.merge",
    "synth.generate_s": "synth.generate",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "maintain", "contract_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def summary(xs: list[float]) -> dict:
    """Median, sample count, the highest of p75/p90/p95/p99 that has at
    least ten samples beyond it, and the samples in time order."""
    out = {"median": statistics.median(xs) if xs else None, "n": len(xs), "values": xs}
    for q in (99, 95, 90, 75):
        if len(xs) * (100 - q) / 100 >= 10:
            out[f"p{q}"] = statistics.quantiles(xs, n=100)[q - 1]
            break
    return out


def host_record(nproc: int) -> dict:
    mem_free = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem_free = int(line.split()[1]) // 1024
    sha = "none"
    if os.path.exists(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        sha = r.stdout.strip() if r.returncode == 0 else "none"
    digest = hashlib.sha1()
    pkg = os.path.join(ROOT, PACKAGE)
    for root, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    digest.update(fh.read())
    return {"nproc": nproc, "mem_available_mib": mem_free, "git_sha": sha,
            "package_sha1": digest.hexdigest(), "load1_start": os.getloadavg()[0]}


def _cpu_busy(interval: float = 0.5) -> float:
    """Share of all cores busy over ``interval``, from /proc/stat."""
    def sample():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[3] + v[4]  # total, idle + iowait

    t0, i0 = sample()
    time.sleep(interval)
    t1, i1 = sample()
    return 1.0 - (i1 - i0) / max(t1 - t0, 1)


def load_gate(wait_s: float = 10.0) -> str:
    """Wait, up to ``wait_s``, until other processes keep less than half
    the cores busy: timing on a contended host measures the other tenants.
    The host's current CPU use is the gate, not load1, which still holds
    the previous run's load for a minute after it ends."""
    t_end = time.monotonic() + wait_s
    while _cpu_busy() >= 0.5:
        if time.monotonic() > t_end:
            return "timeout"
    return "passed"


def start_session(nproc: int):
    from processor_post_timeseries_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every stage in the status store for the trace
            "spark.ui.retainedStages": "1000000",
            "spark.ui.retainedJobs": "1000000",
        },
    )


def _descendants(pid: int) -> list[int]:
    from spans import _children

    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += _children(p)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    t_end = time.monotonic() + 20
    while any(_alive(p) for p in kids):
        if time.monotonic() > t_end:
            for p in kids:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
            t_end = time.monotonic() + 20
        time.sleep(0.1)


def layer_metrics(spark, tracer, wl, session_s: float) -> dict[str, float]:
    from spans import (
        attribute, engine_counters, memory_hwm, spark_stages, span_counters, write_trace,
    )

    stages = spark_stages(spark)
    attribute(tracer, stages)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(wl.layer)
    m["session.start_s"] = session_s
    for metric, span in SPAN_TIMES.items():
        m[metric] = tracer.median_s(span)
    ex = span_counters(tracer, stages, "exchange.repartition")
    m["exchange.shuffle_write_bytes"] = ex["shuffle_bytes"]
    m["exchange.spill_bytes"] = ex["spill_bytes"]
    runs = tracer.named("run_pipeline") or tracer.named("backfill.resume_run")
    if runs:
        per_run = [(s["s"], engine_counters(tracer, stages, s)["busy_s"]) for s in runs]
        m["pipeline.stage_busy_s"] = statistics.median(b for _w, b in per_run)
        m["pipeline.driver_gap_s"] = statistics.median(w - b for w, b in per_run)
    if tracer.named("backfill.resume_run"):
        rows = span_counters(tracer, stages, "backfill.resume_run")["input_rows"]
        m["backfill.input_rows_read"] = rows
        m["backfill.useful_ratio"] = wl.rows_in_units / rows if rows else 0.0
    if tracer.named("append.write"):
        rows = span_counters(tracer, stages, "append.write")["output_rows"]
        m["incremental.rows_rewritten"] = rows
        m["incremental.useful_ratio"] = wl.n_delta_docs / rows if rows else 0.0
    for span in SPAN_COUNTERS:
        c = span_counters(tracer, stages, span)
        for k in COUNTER_UNITS:
            m[f"{span}.{k}"] = c[k]
    m["mem.jvm_hwm_mb"], m["mem.py_workers_hwm_mb"] = memory_hwm(spark)
    m["trace.iter_s"] = statistics.median(wl.samples.get("iter_s") or [0.0])
    os.makedirs(TRACES, exist_ok=True)
    write_trace(os.path.join(TRACES, f"{wl.args.workload}-seed{wl.args.seed}.json"),
                tracer, stages)
    return {k: float(v) for k, v in m.items()}


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # everything Spark, the JVM and the Python workers write stays in WORK
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PTS_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    host = host_record(nproc)
    host["load_gate"] = load_gate()

    import pyspark

    from spans import Tracer
    from workloads import WORKLOADS

    t_start = time.perf_counter()
    tracer = Tracer(bool(args.trace))
    spark = start_session(nproc)
    session_s = time.perf_counter() - t_start
    host.update(spark_version=spark.version, pyspark_version=pyspark.__version__)
    try:
        wl = WORKLOADS[args.workload](spark, tracer, args, WORK, nproc)
        wl.setup()
        setup_s = time.perf_counter() - t_start
        host["load1_timing_start"] = os.getloadavg()[0]
        t_loop = time.perf_counter()
        k = 0
        while k == 0 or time.perf_counter() - t_loop < args.seconds:
            t_it = time.perf_counter()
            wl.iteration(k)
            k += 1
            now = time.perf_counter()
            if now - t_start + (now - t_it) > DEADLINE_S:
                break
        wl.finish(k - 1)
        host["load1_end"] = os.getloadavg()[0]
        iter_s = wl.samples.get("iter_s", [])
        if args.trace:
            metrics = layer_metrics(spark, tracer, wl, session_s)
            units = PER_LAYER
        else:
            metrics = {"setup_s": setup_s, "iter_s": statistics.median(iter_s) if iter_s else 0.0,
                       "stored_bytes_per_token": wl.stored_bytes_per_token}
            units = END_TO_END
    finally:
        stop_session(spark)
    ops = wl.ops
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host,
        "figures": wl.detail,
        "samples": {name: summary(xs) for name, xs in wl.samples.items()},
        "ops_failed_ratio": ops.failed / max(ops.attempted, 1),
        "failures": ops.failures,
    }
    print(json.dumps({"perfbench": detail}))
    correct = ops.failed == 0 and bool(iter_s)
    print(json.dumps({
        "correct": correct, "attempted": ops.attempted, "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
