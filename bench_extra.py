"""Round-6 optimization harness (guide §1): isolate queries with the
noop sink, capture `.explain("formatted")` plans, and time N repeats.

NOT the driver metric — `bench.py` stays the frozen measurement. This
file exists so before/after numbers and plan diffs for
OPTIMIZATION_r06.md come from one reproducible command.

Usage:
    python bench_extra.py time  q1 q2 ...     # N repeats per query, noop sink
    python bench_extra.py plan  q1 q2 ...     # write plans/r06/<q>_<tag>.txt
    python bench_extra.py both  q1 q2 ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
     SPARK_GRAFT_CPUS (default: the cores this process may use)
     PTS_EXTRA_REPEATS (default 3)
     PTS_EXTRA_TAG (plan file suffix, default "before")
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from processor_post_timeseries_spark import contract  # noqa: E402
from processor_post_timeseries_spark.session import default_cpus, get_spark  # noqa: E402


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    repeats = int(os.environ.get("PTS_EXTRA_REPEATS", "3"))
    tag = os.environ.get("PTS_EXTRA_TAG", "before")
    plan_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    os.makedirs(plan_dir, exist_ok=True)

    spark = get_spark("pts-bench-extra", master=f"local[{cpus}]")
    qs = contract.queries()

    # extra bench-only paths (mirror bench.py's EXTRA_BENCH)
    import bench as _bench

    qs.update(_bench.EXTRA_BENCH)

    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        df = fn(spark, sf_dir)
        if mode in ("plan", "both"):
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(plan_dir, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"# wrote {path}", file=sys.stderr)
        if mode in ("time", "both"):
            secs = []
            for i in range(repeats):
                spark.sparkContext.setJobDescription(f"{name} rep{i}")
                # time fn() + noop write, matching bench.py's run_pass
                # (some fns do bounded driver work at build time)
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                secs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            out[name] = {"passes": secs, "best": min(secs)}
            print(f"# {name}: {secs} best={min(secs)}", file=sys.stderr)
    if out:
        print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
