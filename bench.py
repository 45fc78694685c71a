"""Benchmark harness. Prints ONE JSON line:

  {"metric": "...", "value": <best-of total sec>, "unit": "sec",
   "queries": {...per-query best-of sec...}, "detail": {...}, "sf": ...,
   "tokens_per_sec": ...}

Measures (a) the headline north-rule metric — rollup throughput in
tokens/sec end-to-end raw -> blocks + all retention tiers on a
deterministic synthetic sequences corpus sized by the SF — and (b)
wall-clock of representative contract queries on $SPARK_GRAFT_SF_DIR.

SELF-ADJUDICATING (VERDICT r4 ask #1): this host's throughput drifts
±30-45% over minutes, so a single-shot number cannot distinguish a code
regression from a slow window. Every invocation therefore runs TWO
back-to-back passes of the full suite and reports, per query,
{pass1, pass2, best, ratio} — "queries" carries the best-of (the number
comparable across rounds; pass 2 is also the warmed measurement, JIT
and Python-worker spawn excluded), and "detail" carries both raw passes
plus the pass-to-pass ratio, which IS the in-window drift control: code
can't change between passes, so ratio spread far from 1 on untouched
queries marks a noisy window, not a regression.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the cores this process may use),
     PTS_BENCH_DOCS (override corpus size),
     PTS_BENCH_OUT (work dir, default /dev/shm/pts_bench),
     PTS_BENCH_PASSES (default 2; 1 for quick iteration),
     PTS_BENCH_NO_LOADGATE=1 (skip the pre-run load check).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from processor_post_timeseries_spark import contract  # noqa: E402
from processor_post_timeseries_spark.plans.pipeline import (  # noqa: E402
    PipelineConfig,
    run_pipeline,
)
from processor_post_timeseries_spark.session import default_cpus, get_spark  # noqa: E402
from processor_post_timeseries_spark.sources.synth import sequences  # noqa: E402

# contract queries worth timing per-round (cover scan/join/window/dedup/ann)
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "w1_sessionize_events",
    "w5_cascade_1h_from_1m",
    "w2_gapfill_grid",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "rollup_tier_parity",
    "codec_roundtrip",
    # round-2 operators
    "j3_asof_align",
    "j4_interval_join",
    "w7_resample_linear",
    "dedup_components",
    "agg_heavy_hitters",
    "decontaminate",
    # round-3 operators
    "dedup_span_report",
    "tok_pack_manifest",
    # round-4 operators
    "curation_keepset",
    "ann_cosine_topk_q8",
    # round-5 operators
    "train_order_manifest",
    "m4_downsample",
    "decontaminate_bloom",
    "bpe_train_merges",
    "lm_avg_prob",
    # round-5 batch 2 (integer-exact analytics)
    "w2_gapfill_interp",
    "lttb_downsample",
]


def _dedup_minhash_lsh64(spark, sf_dir):
    """Production minhash path (xxh64 int64 signatures, ~4x less shuffle
    than the md5-hex oracle variant timed as dedup_minhash_lsh). Bench-
    only: DuckDB has no xxhash64, so it can't be an oracle row; pair-set
    equivalence vs md5 is pinned by pytest instead."""
    from processor_post_timeseries_spark.contract import load_views
    from processor_post_timeseries_spark.operators.dedup import lsh_candidate_pairs

    load_views(spark, sf_dir)
    return lsh_candidate_pairs(spark.table("documents"), 16, 4, hash_fn="xxh64")


def _dedup_components64(spark, sf_dir):
    """Production duplicate-clustering path: xxh64 candidate pairs (the
    default family) -> connected components (driver union-find under the
    edge threshold). The oracle variant (dedup_components) pays the md5
    pair generation DuckDB replay requires; this measures what a real
    pipeline runs."""
    from processor_post_timeseries_spark.contract import load_views
    from processor_post_timeseries_spark.operators.dedup import (
        duplicate_components,
        lsh_candidate_pairs,
    )

    load_views(spark, sf_dir)
    pairs = lsh_candidate_pairs(spark.table("documents"), 16, 4)
    return duplicate_components(pairs)


def _pack_single_source(spark, sf_dir):
    """Packing manifest over the corpus COLLAPSED TO ONE source — the
    shape that serialized in one task under the old per-source window
    cumsum. The two-phase bucketed prefix sum (operators/packing.py)
    keeps it multi-task; this row evidences parallel single-source
    packing (VERDICT r3 ask #1)."""
    from processor_post_timeseries_spark.contract import _char_tokens_df
    from processor_post_timeseries_spark.operators.packing import pack_manifest

    seq = _char_tokens_df(spark, sf_dir).withColumn("source", F.lit("one"))
    return pack_manifest(seq, ctx_len=512)


EXTRA_BENCH = {
    "dedup_minhash_lsh64": _dedup_minhash_lsh64,
    "dedup_components64": _dedup_components64,
    "pack_single_source": _pack_single_source,
}


def _load_gate(max_load: float = 2.0, max_wait_sec: float = 120.0) -> float:
    """Refuse to start timing while the box is busy (BENCH/BASELINE.md
    protocol: load < 2 before any timed run). Waits up to max_wait_sec,
    then proceeds anyway — the recorded load1 lets the reader judge."""
    if os.environ.get("PTS_BENCH_NO_LOADGATE"):
        return os.getloadavg()[0]
    deadline = time.monotonic() + max_wait_sec
    load = os.getloadavg()[0]
    while load > max_load and time.monotonic() < deadline:
        time.sleep(5.0)
        load = os.getloadavg()[0]
    return load


def run_pass(spark, seq, sf_dir: str, work: str, cpus: int, bench_queries, qs):
    """One full timed pass: rollup pipeline + every bench query. Returns
    (rollup_sec, {query: sec})."""
    shutil.rmtree(f"{work}/out", ignore_errors=True)
    t0 = time.perf_counter()
    run_pipeline(
        spark,
        seq,
        PipelineConfig(
            out_dir=f"{work}/out",
            block_size=131_072,
            n_buckets=max(cpus, 8),
            tiers=(("1s", 100), ("1m", 60), ("1h", 60)),
            run_id="bench",
            resume=False,
            # measured: the fused single-pass kernel is ~1.5x slower here
            # (object-dtype padding + wider Arrow frames outweigh the
            # saved second scan)
            fused_ingest=False,
            # FAIR-pooled concurrent stages are the default (see
            # pipeline.py); PTS_BENCH_SERIAL=1/true forces serial for
            # A/Bs ("0"/"false" keep the default — raw truthiness would
            # read PTS_BENCH_SERIAL=0 as serial)
            concurrent_stages=os.environ.get("PTS_BENCH_SERIAL", "").lower()
            not in ("1", "true"),
        ),
    )
    rollup_sec = time.perf_counter() - t0

    qsecs: dict[str, float] = {}
    for name in bench_queries:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        qsecs[name] = round(time.perf_counter() - t0, 3)
    return rollup_sec, qsecs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_docs = int(os.environ.get("PTS_BENCH_DOCS", str(max(int(40_000 * sf * 25), 500))))
    n_passes = max(int(os.environ.get("PTS_BENCH_PASSES", "2")), 1)
    # tmpfs by default: measures the compute path, not the single VM disk
    work = os.environ.get("PTS_BENCH_OUT", "/dev/shm/pts_bench")

    load1 = _load_gate()
    spark = get_spark("pts-bench", master=f"local[{cpus}]")

    # ---- setup (untimed): materialize the deterministic corpus ----------
    # PTS_BENCH_INPUT: reuse a pre-synthesized corpus (scaling runs share
    # one so legs differ only in parallelism)
    shutil.rmtree(work, ignore_errors=True)
    seq_path = os.environ.get("PTS_BENCH_INPUT") or f"{work}/sequences"
    if not os.path.exists(seq_path):
        sequences(spark, n_docs, seed=42).write.mode("overwrite").parquet(seq_path)
    seq = spark.read.parquet(seq_path)
    n_tokens = seq.agg(F.sum("n_tok")).collect()[0][0]

    # untimed prewarm: spawn+import the Python workers and JIT the JVM
    # paths once — production workers are long-lived, so first-touch
    # process startup does not belong in the throughput measurement
    warm = seq.limit(512)
    run_pipeline(
        spark,
        warm,
        PipelineConfig(
            out_dir=f"{work}/_warm", block_size=131_072, n_buckets=4,
            tiers=(("1s", 100),), run_id="warm", resume=False,
        ),
    )
    shutil.rmtree(f"{work}/_warm", ignore_errors=True)

    qs = {**contract.queries(), **EXTRA_BENCH}
    if os.environ.get("PTS_BENCH_SKIP_QUERIES"):
        bench_queries = []
    else:
        bench_queries = BENCH_QUERIES + list(EXTRA_BENCH)

    # ---- alternating passes: pass N is pass N-1's in-window control ------
    passes: list[tuple[float, dict[str, float]]] = []
    for _ in range(n_passes):
        passes.append(run_pass(spark, seq, sf_dir, work, cpus, bench_queries, qs))
    load2 = os.getloadavg()[0]

    names = ["rollup_pipeline"] + bench_queries
    per_pass: dict[str, list[float]] = {
        "rollup_pipeline": [round(p[0], 3) for p in passes]
    }
    for name in bench_queries:
        per_pass[name] = [p[1][name] for p in passes]
    best = {n: min(v) for n, v in per_pass.items()}
    detail = {
        n: {
            "passes": per_pass[n],
            "best": best[n],
            # last/first: <1 = warmed or window speeding up, >1 = window
            # slowing down; spread far from 1 across UNTOUCHED queries is
            # the drift signature (code cannot change between passes)
            "ratio": round(per_pass[n][-1] / per_pass[n][0], 3)
            if per_pass[n][0] > 0
            else 1.0,
        }
        for n in names
    }
    ratios = sorted(d["ratio"] for d in detail.values())
    drift = ratios[len(ratios) // 2] if ratios else 1.0
    total = round(sum(best.values()), 3)
    print(
        json.dumps(
            {
                "metric": "rollup+queries wall clock (best of passes)",
                "value": total,
                "unit": "sec",
                "queries": {n: round(best[n], 3) for n in names},
                "detail": detail,
                "n_passes": n_passes,
                "pass_totals": [
                    round(p[0] + sum(p[1].values()), 3) for p in passes
                ],
                "drift_ratio_median": drift,
                "load1_start": round(load1, 2),
                "load1_end": round(load2, 2),
                "sf": sf,
                "cpus": cpus,
                "n_docs": n_docs,
                "n_tokens": int(n_tokens),
                "tokens_per_sec": int(n_tokens / best["rollup_pipeline"]),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
