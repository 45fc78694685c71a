"""The benchmark's workloads. Each drives the package only through its
public functions, one call at a time (a closed loop with one caller), and
checks every output it times.

* ``ingest``   -- fresh ``run_pipeline`` runs over a seeded corpus.
* ``maintain`` -- append, backfill, verify, readback and tier query over a
  pristine ingest output restored before every cycle.
* ``contract_mix`` -- five contract queries on seeded tables, checked
  against their DuckDB oracles.
"""

from __future__ import annotations

import functools
import math
import operator
import os
import shutil
import statistics
import sys
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from processor_post_timeseries_spark.operators.blocks import from_blocks, to_blocks
from processor_post_timeseries_spark.operators.incremental import append_tokens_to_tiers
from processor_post_timeseries_spark.operators.partitioning import with_bucket
from processor_post_timeseries_spark.operators.rollup import (
    DEFAULT_TIERS,
    TIER_SCHEMA,
    cascade_tier,
    fused_tiers,
    source_stats,
    tier_points,
)
from processor_post_timeseries_spark.plans import lineage
from processor_post_timeseries_spark.plans.backfill import invalidate_units, invalidate_where
from processor_post_timeseries_spark.plans.pipeline import PipelineConfig, run_pipeline
from processor_post_timeseries_spark.sources.synth import sequences

from contract_tables import CONTRACT_QUERIES, write_tables

BLOCK_SIZE = 131_072
TIER_NAMES = [name for name, _f in DEFAULT_TIERS]
HOT_SOURCE = "src-000"

# Corpus size: 3.8 M tokens, a twentieth of the 77 M-token design (see
# README.md). Every run pays about 20 s of fixed cost before it times
# anything, and the whole schedule of runs must fit its time budget.
N_SHORT, N_LONG, N_BUCKETS = 1_200, 3, 8
LONG_MIN, LONG_MAX = 150_000, 1_500_000
APPEND_SHARE, APPEND_TOKENS, BACKFILL_UNITS = 0.05, 250, 2
VOCAB = 50_000


class Ops:
    """Counts operations attempted and failed (raised, or failed their
    output check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, what: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def guard(self, what: str, fn) -> bool:
        """Run ``fn`` (which times one call and returns its check result);
        an exception counts as a failed operation and the run goes on."""
        try:
            ok = bool(fn())
        except Exception:  # the loop must keep measuring; report the failure
            traceback.print_exc(file=sys.stderr)
            ok = False
        return self.check(what, ok)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du(*paths: str) -> tuple[int, int, int]:
    """(files, leaf dirs, bytes) of every regular file under ``paths``."""
    files = dirs = size = 0
    for p in paths:
        for root, dnames, fnames in os.walk(p):
            if not dnames:
                dirs += 1
            for f in fnames:
                files += 1
                size += os.path.getsize(os.path.join(root, f))
    return files, dirs, size


def _link_tree(src: str, dst: str) -> None:
    """Copy a pipeline output tree, hard-linking its immutable data files.
    Writers replace ``part-*`` files, never modify them in place."""

    def link_or_copy(s, d):
        if os.path.basename(s).lstrip(".").startswith("part-"):
            os.link(s, d)
        else:
            shutil.copy2(s, d)

    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst, copy_function=link_or_copy)


def _sum_arr(col: str):
    return F.aggregate(F.col(col), F.lit(0).cast("long"), lambda a, x: a + x)


class Corpus:
    """The seeded input corpus, written once as parquet, and the exact
    figures the output checks compare against (per-doc token sums and
    hashes by plain Spark SQL over the input, never the code under test)."""

    def __init__(self, spark, tracer, seed: int, work: str, nproc: int):
        self.buckets = N_BUCKETS
        rng = np.random.default_rng(seed)
        sub = [int(s) for s in rng.integers(1, 2**31 - 1, 1 + N_LONG)]
        lengths = np.linspace(LONG_MIN, LONG_MAX, N_LONG).astype(int)
        self.tracer = tracer
        self.path = f"{work}/input/sequences"
        with tracer.span("synth.generate"):
            df = sequences(spark, N_SHORT, seed=sub[0], partitions=nproc)
            for i, (n, s) in enumerate(zip(lengths, sub[1:])):
                # fixed sources: long doc i goes to src-00i, so every seed
                # puts the same token count in the hot source and the same
                # straggler layout in the write stage
                long_doc = sequences(
                    spark, 1, seed=s, min_tok=int(n), max_tok=int(n), partitions=1
                ).withColumns({
                    "doc_id": F.concat(F.lit(f"long-{i:02d}-"), "doc_id"),
                    "source": F.lit(f"src-{i % 16:03d}"),
                })
                df = df.unionByName(long_doc)
            df.write.mode("overwrite").parquet(self.path)
        self.seq = spark.read.parquet(self.path)
        with tracer.span("check"):
            docs = with_bucket(self.seq, self.buckets).select(
                "doc_id", "source", "bucket", "n_tok",
                _sum_arr("tokens").alias("sum"), F.xxhash64("doc_id", "tokens").alias("hash"),
            )
            self.docs = [r.asDict() for r in docs.collect()]
        self.src_sums, self.src_toks = {}, {}
        for d in self.docs:
            self.src_sums[d["source"]] = self.src_sums.get(d["source"], 0) + d["sum"]
            self.src_toks[d["source"]] = self.src_toks.get(d["source"], 0) + d["n_tok"]
        self.n_tokens = sum(d["n_tok"] for d in self.docs)
        self.n_blocks = sum(math.ceil(d["n_tok"] / BLOCK_SIZE) for d in self.docs)

    def warm_up(self, spark, out: str) -> None:
        """One untimed pipeline run over a quarter of the short docs. It
        exercises every (source, bucket) write path and the lineage reads
        at a fraction of a full run's cost; after it the JVM's JIT and
        heap sizing are far enough along that timed runs start near the
        steady state."""
        part = self.seq.filter(
            (F.col("n_tok") < LONG_MIN) & (F.xxhash64("doc_id") % 4 == 0))
        with self.tracer.span("warm_up"):
            run_pipeline(spark, part, PipelineConfig(
                out_dir=out, n_buckets=self.buckets, resume=False, block_size=BLOCK_SIZE,
                tiers=DEFAULT_TIERS, run_id="warm-up"))
        shutil.rmtree(out, ignore_errors=True)


def check_tiers(spark, out: str, src_sums: dict, src_toks: dict) -> dict | None:
    """Per tier: Σcnts per source equals the input tokens and Σsums per
    source equals the input sum. Returns Σn_windows per tier when all
    hold, else None."""
    rows = (
        spark.read.parquet(f"{out}/tiers")
        .groupBy("tier", "source")
        .agg(
            F.sum(_sum_arr("sums")).alias("s"),
            F.sum(_sum_arr("cnts")).alias("c"),
            F.sum("n_windows").alias("w"),
        )
        .collect()
    )
    got = {(r["tier"], r["source"]): (int(r["s"]), int(r["c"])) for r in rows}
    want = {(t, s): (src_sums[s], src_toks[s]) for t in TIER_NAMES for s in src_sums}
    if got != want:
        return None
    return {t: sum(int(r["w"]) for r in rows if r["tier"] == t) for t in TIER_NAMES}


def check_lineage(spark, out: str) -> bool:
    """``verify_lineage`` reports zero mismatches on both stages."""
    for stage, keys in (("blocks", ["source", "bucket"]), ("tiers", ["tier", "source", "bucket"])):
        r = (
            lineage.verify_lineage(spark, out, stage, f"{out}/{stage}", keys)
            .agg(F.count("*").alias("n"), F.sum(F.col("ok").cast("int")).alias("ok"))
            .first()
        )
        if not r["n"] or r["n"] != r["ok"]:
            return False
    return True


def block_stats(spark, out: str) -> tuple[int, int]:
    r = spark.read.parquet(f"{out}/blocks").agg(
        F.count("*").alias("n"), F.sum(F.length("payload")).alias("b")
    ).first()
    return int(r["n"]), int(r["b"] or 0)


def checkpoint_stats(spark, out: str) -> tuple[int, int]:
    ck = f"{out}/_checkpoint"
    files = sum(1 for f in os.listdir(ck) if f.startswith("part-")) if os.path.isdir(ck) else 0
    return lineage.read_checkpoint(spark, out).count(), files


class Workload:
    """One workload: ``setup`` (untimed inputs and warm-up), then
    ``iteration`` repeatedly, then ``finish``. Timed samples go to
    ``samples``; layer figures from traced runs go to ``layer``."""

    def __init__(self, spark, tracer, args, work: str, nproc: int):
        self.spark, self.tracer, self.args = spark, tracer, args
        self.work, self.nproc = work, nproc
        self.ops = Ops()
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.stored_bytes_per_token = 0.0

    def sample(self, name: str, v: float) -> None:
        self.samples.setdefault(name, []).append(v)


class Ingest(Workload):
    def setup(self) -> None:
        self.c = Corpus(self.spark, self.tracer, self.args.seed, self.work, self.nproc)
        self.out = f"{self.work}/ingest"
        self.c.warm_up(self.spark, self.out)

    def _run(self, k: int) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        cfg = PipelineConfig(out_dir=self.out, n_buckets=self.c.buckets, resume=False,
                             block_size=BLOCK_SIZE, tiers=DEFAULT_TIERS, run_id=f"ingest-{k}")

        def call():
            with self.tracer.span("run_pipeline", k) as sp:
                run_pipeline(self.spark, self.c.seq, cfg)
            self.sample("iter_s", sp["s"])
            m = cfg.metrics
            return (m["blocks"]["rows_written"] == self.c.n_blocks
                    and m["tiers"]["rows_written"] == len(TIER_NAMES) * len(self.c.docs))

        self.ops.guard(f"run_pipeline[{k}]", call)

    def iteration(self, k: int) -> None:
        self._run(k)

    def full_check(self, k: int) -> None:
        with self.tracer.span("check", k):
            windows = check_tiers(self.spark, self.out, self.c.src_sums, self.c.src_toks)
            self.ops.check(f"tier sums and counts[{k}]", windows is not None)
            self.ops.check(f"lineage green[{k}]", check_lineage(self.spark, self.out))
            n_blocks, payload = block_stats(self.spark, self.out)
            self.ops.check(f"block count[{k}]", n_blocks == self.c.n_blocks)
        files, dirs, size = _du(f"{self.out}/blocks", f"{self.out}/tiers")
        self.stored_bytes_per_token = size / self.c.n_tokens
        if self.tracer.enabled:
            rows, ck_files = checkpoint_stats(self.spark, self.out)
            self.layer.update({
                "rollup.windows_1s": (windows or {}).get("1s", 0),
                "rollup.windows_1m": (windows or {}).get("1m", 0),
                "rollup.windows_1h": (windows or {}).get("1h", 0),
                "blocks.n_blocks": n_blocks, "codec.payload_bytes": payload,
                "write.files": files, "write.dirs": dirs, "write.bytes": size,
                "lineage.checkpoint_rows": rows, "lineage.checkpoint_files": ck_files,
            })

    def isolate(self, k: int) -> None:
        """Rerun the pipeline's layers one at a time as child spans: the
        scan alone, each kernel into ``noop``, the exchange, the two
        partitioned writes, and the lineage record of what they wrote."""
        seq, sp, tr, nb = self.c.seq, self.spark, self.tracer, self.c.buckets
        iso = f"{self.work}/isolate"
        shutil.rmtree(iso, ignore_errors=True)
        with tr.span("isolate", k):
            with tr.span("scan.noop", k):
                _noop(seq)
            with tr.span("blocks.to_blocks_noop", k):
                _noop(to_blocks(seq, BLOCK_SIZE))
            with tr.span("rollup.fused_tiers_noop", k):
                _noop(fused_tiers(seq, DEFAULT_TIERS))
            with tr.span("exchange.repartition", k):
                _noop(with_bucket(to_blocks(seq, BLOCK_SIZE), nb).repartition("source", "bucket"))
            with tr.span("write.blocks", k):
                (with_bucket(to_blocks(seq, BLOCK_SIZE), nb).repartition("source", "bucket")
                 .write.mode("overwrite").partitionBy("source", "bucket").parquet(f"{iso}/blocks"))
            keys = ["tier", "source", "bucket"]
            with tr.span("write.tiers", k):
                (with_bucket(fused_tiers(seq, DEFAULT_TIERS), nb).repartition(*keys)
                 .write.mode("overwrite").partitionBy(*keys).parquet(f"{iso}/tiers"))
            with tr.span("lineage.record_stage", k):
                lineage.record_stage(sp, iso, "blocks", sp.read.parquet(f"{iso}/blocks"),
                                     ["source", "bucket"], "isolate")
                lineage.record_stage(sp, iso, "tiers", sp.read.parquet(f"{iso}/tiers"),
                                     keys, "isolate")

    def finish(self, last: int) -> None:
        self.full_check(last)
        if self.tracer.enabled:
            # after the timed runs, so that their times stay comparable
            # with an untraced run's
            self.isolate(last)
        self.detail = {
            "ingest_tokens_per_s": self.c.n_tokens / _median(self.samples.get("iter_s", [])),
            "input_tokens": self.c.n_tokens,
            "input_docs": len(self.c.docs),
        }


class Maintain(Workload):
    def setup(self) -> None:
        sp, args = self.spark, self.args
        self.c = c = Corpus(sp, self.tracer, args.seed, self.work, self.nproc)
        self.pristine = f"{self.work}/pristine"
        self.out = f"{self.work}/maintain"
        # the pristine run is the warm-up: the budget of the whole
        # schedule leaves room for one timed cycle and no untimed one
        cfg = PipelineConfig(out_dir=self.pristine, n_buckets=c.buckets, resume=False,
                             block_size=BLOCK_SIZE, tiers=DEFAULT_TIERS, run_id="pristine")
        run_pipeline(sp, c.seq, cfg)

        # seeded maintenance inputs: the invalidated units and the delta
        rng = np.random.default_rng([args.seed, 1])
        hot = sorted({d["bucket"] for d in c.docs if d["source"] == HOT_SOURCE})
        self.units = sorted(int(b) for b in rng.choice(hot, BACKFILL_UNITS, replace=False))
        outside = [d for d in c.docs
                   if not (d["source"] == HOT_SOURCE and d["bucket"] in self.units)]
        outside.sort(key=lambda d: d["doc_id"])
        pick = rng.choice(len(outside), int(round(APPEND_SHARE * len(c.docs))), replace=False)
        chosen = [outside[i] for i in sorted(pick)]
        toks = rng.integers(0, VOCAB, (len(chosen), APPEND_TOKENS), dtype=np.int32)
        delta_path = f"{self.work}/input/delta.parquet"
        pq.write_table(pa.table({
            "doc_id": [d["doc_id"] for d in chosen],
            "tokens": pa.array(list(toks), pa.list_(pa.int32())),
            "source": [d["source"] for d in chosen],
            "offset": pa.array([d["n_tok"] for d in chosen], pa.int64()),
        }), delta_path)
        self.delta = sp.read.parquet(delta_path)
        self.touched = sorted({(d["source"], d["bucket"]) for d in chosen})
        self.n_delta_docs = len(chosen)
        self.want_sums = dict(c.src_sums)
        self.want_toks = dict(c.src_toks)
        for d, t in zip(chosen, toks):
            self.want_sums[d["source"]] += int(t.astype(np.int64).sum())
            self.want_toks[d["source"]] += APPEND_TOKENS
        self.n_stored = sum(self.want_toks.values())
        self.rows_in_units = sum(1 for d in c.docs if d["source"] == HOT_SOURCE
                                 and d["bucket"] in self.units)
        hot = [d for d in c.docs if d["source"] == HOT_SOURCE]
        self.hot_want = (len(hot), sum(d["n_tok"] for d in hot),
                         functools.reduce(operator.xor, (d["hash"] for d in hot), 0))

    @staticmethod
    def _hot_stats(df) -> tuple:
        """Doc count, token count and XOR of ``xxhash64(doc_id, tokens)``."""
        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.size("tokens")).alias("t"),
            F.expr("bit_xor(xxhash64(doc_id, tokens))").alias("h"),
        ).first()
        return int(r["n"]), int(r["t"] or 0), int(r["h"] or 0)

    def _touched_1s(self, root: str):
        units = self.spark.createDataFrame(self.touched, "source string, bucket int")
        return (self.spark.read.parquet(f"{root}/tiers")
                .filter(F.col("tier") == "1s")
                .join(F.broadcast(units), ["source", "bucket"], "left_semi")
                .select(*[f.name for f in TIER_SCHEMA.fields]))

    def _delta_cols(self):
        return self.delta.select("doc_id", "tokens", "source", "offset")

    def cycle(self, k: int) -> None:
        sp, tr, ops = self.spark, self.tracer, self.ops
        with tr.span("restore", k):
            _link_tree(self.pristine, self.out)
        steps = (("append", self.append), ("backfill", self.backfill), ("verify", self.verify),
                 ("readback", self.readback), ("tier_query", self.tier_query))
        times = {}
        for name, step in steps:
            def call(name=name, step=step):
                with tr.span(name, k) as s:
                    result = step(k)
                times[name] = s["s"]
                with tr.span("check", k):
                    return self.checks[name](k, result)
            if not ops.guard(f"{name}[{k}]", call):
                return  # later steps need this one's output; restore fixes it
        for name, v in times.items():
            self.sample(name + "_s", v)
        self.sample("iter_s", sum(times.values()))

    # -- the five steps: each returns what its check needs ----------------
    def append(self, k: int):
        sp, tr = self.spark, self.tracer
        with tr.span("append.write", k):
            s1 = append_tokens_to_tiers(self._touched_1s(self.out), self._delta_cols(), 100, "1s")
            s1m = cascade_tier(s1, 60, "1m")
            merged = s1.unionByName(s1m).unionByName(cascade_tier(s1m, 60, "1h"))
            keys = ["tier", "source", "bucket"]
            (with_bucket(merged, self.c.buckets).repartition(*keys).write.mode("overwrite")
             .partitionBy(*keys).parquet(f"{self.out}/tiers"))
        pks = [f"{t}/{s}/{b}" for t in TIER_NAMES for s, b in self.touched]
        with tr.span("append.invalidate", k):
            invalidate_units(sp, self.out, "tiers", pks)
        with tr.span("lineage.record_stage", k):
            tier_dim = sp.createDataFrame([(t,) for t in TIER_NAMES], "tier string")
            only = sp.createDataFrame(self.touched, "source string, bucket int").crossJoin(tier_dim)
            lineage.record_stage(sp, self.out, "tiers", sp.read.parquet(f"{self.out}/tiers"),
                                 keys, f"append-{k}", only_keys=only)
        return None

    def backfill(self, k: int):
        sp, tr = self.spark, self.tracer
        with tr.span("backfill.invalidate", k):
            n = sum(invalidate_where(sp, self.out, HOT_SOURCE, b) for b in self.units)
        run_id = f"backfill-{k}"
        with tr.span("backfill.resume_run", k):
            run_pipeline(sp, self.c.seq, PipelineConfig(
                out_dir=self.out, n_buckets=self.c.buckets, resume=True,
                block_size=BLOCK_SIZE, tiers=DEFAULT_TIERS, run_id=run_id))
        return n, run_id

    def verify(self, k: int):
        return check_lineage(self.spark, self.out)

    def readback(self, k: int):
        blocks = self.spark.read.parquet(f"{self.out}/blocks").filter(
            F.col("source") == HOT_SOURCE)
        return self._hot_stats(from_blocks(blocks))

    def tier_query(self, k: int):
        tier = self.spark.read.parquet(f"{self.out}/tiers").filter(F.col("tier") == "1m")
        return source_stats(tier_points(tier)).collect()

    # -- their output checks ---------------------------------------------
    @property
    def checks(self):
        return {
            "append": self._check_append, "backfill": self._check_backfill,
            "verify": lambda k, ok: ok,
            "readback": lambda k, got: got == self.hot_want,
            "tier_query": self._check_query,
        }

    def _check_append(self, k, _):
        rows = (self.spark.read.parquet(f"{self.out}/tiers")
                .groupBy("tier", "source")
                .agg(F.sum(_sum_arr("sums")).alias("s"), F.sum(_sum_arr("cnts")).alias("c"))
                .collect())
        got = {(r["tier"], r["source"]): (int(r["s"]), int(r["c"])) for r in rows}
        want = {(t, s): (self.want_sums[s], self.want_toks[s])
                for t in TIER_NAMES for s in self.want_sums}
        return got == want

    def _check_backfill(self, k, result):
        n_removed, run_id = result
        ck = lineage.read_checkpoint(self.spark, self.out).filter(F.col("run_id") == run_id)
        got = {(r["stage"], r["partition_key"]) for r in ck.collect()}
        want = {("blocks", f"{HOT_SOURCE}/{b}") for b in self.units}
        want |= {("tiers", f"{t}/{HOT_SOURCE}/{b}") for t in TIER_NAMES for b in self.units}
        self.units_rewritten = len(got)
        # invalidate_where drops one checkpoint row per stage partition of a unit
        self.units_invalidated = n_removed / (1 + len(TIER_NAMES))
        return n_removed == len(want) and got == want

    def _check_query(self, k, rows):
        got = {r["source"]: (int(r["sum_v"]), int(r["cnt"])) for r in rows}
        want = {s: (self.want_sums[s], self.want_toks[s]) for s in self.want_sums}
        return got == want

    def iteration(self, k: int) -> None:
        self.cycle(k)
        if self.tracer.enabled:
            self.isolate(k)
            self.layer_counts()

    def isolate(self, k: int) -> None:
        """The append's two kernels alone, into ``noop``, on the pristine
        1s rows of the touched units; after the cycle, so that its times
        stay comparable with an untraced run's."""
        tr, touched = self.tracer, self._touched_1s(self.pristine)
        with tr.span("isolate", k):
            with tr.span("incremental.merge", k):
                _noop(append_tokens_to_tiers(touched, self._delta_cols(), 100, "1s"))
            with tr.span("rollup.cascade_tier", k):
                _noop(cascade_tier(cascade_tier(touched, 60, "1m"), 60, "1h"))

    def layer_counts(self) -> None:
        sp, out = self.spark, self.out
        with self.tracer.span("check"):
            w = {r["tier"]: int(r["w"]) for r in spark_windows(sp, out)}
            n_blocks, payload = block_stats(sp, out)
            rows, ck_files = checkpoint_stats(sp, out)
        files, dirs, size = _du(f"{out}/blocks", f"{out}/tiers")
        self.layer.update({
            "rollup.windows_1s": w.get("1s", 0), "rollup.windows_1m": w.get("1m", 0),
            "rollup.windows_1h": w.get("1h", 0),
            "blocks.n_blocks": n_blocks, "codec.payload_bytes": payload,
            "write.files": files, "write.dirs": dirs, "write.bytes": size,
            "lineage.checkpoint_rows": rows, "lineage.checkpoint_files": ck_files,
            "backfill.units_invalidated": getattr(self, "units_invalidated", 0),
            "backfill.units_rewritten": getattr(self, "units_rewritten", 0),
        })

    def finish(self, last: int) -> None:
        _f, _d, size = _du(f"{self.out}/blocks", f"{self.out}/tiers")
        self.stored_bytes_per_token = size / self.n_stored
        med = {k: _median(v) for k, v in self.samples.items()}
        self.detail = {
            "append_s": med.get("append_s", 0.0),
            "backfill_s": med.get("backfill_s", 0.0),
            "verify_s": med.get("verify_s", 0.0),
            "readback_tokens_per_s": self.hot_want[1] / med["readback_s"]
            if med.get("readback_s") else 0.0,
            "tier_query_s": med.get("tier_query_s", 0.0),
            "input_tokens": self.c.n_tokens,
            "backfill_rows_in_units": self.rows_in_units,
            "docs_with_delta": self.n_delta_docs,
        }


def spark_windows(spark, out: str):
    return (spark.read.parquet(f"{out}/tiers").groupBy("tier")
            .agg(F.sum("n_windows").alias("w")).collect())


class ContractMix(Workload):
    """Five contract queries on seeded tables, each written to the
    ``noop`` sink; one pass is one iteration. Two untimed passes warm up:
    the first collects every result and checks it against its DuckDB
    oracle, the second writes to ``noop`` as the timed ones do (the first
    ``noop`` pass still runs 10-30 % slower than the next)."""

    def setup(self) -> None:
        from processor_post_timeseries_spark import contract

        self.sf = f"{self.work}/contract"
        write_tables(self.sf, self.args.seed)
        self.fns = contract.queries()
        with self.tracer.span("contract.load_views"):
            contract.load_views(self.spark, self.sf)
        with self.tracer.span("check"):
            self.check_oracles(contract.TABLES, contract.oracle_sql())
            self.stored_bytes_per_token = self.codec_bytes_per_token()
        self._pass(-1)

    def check_oracles(self, tables, oracles) -> None:
        import duckdb

        con = duckdb.connect()
        for t in tables:
            con.sql(f"create view {t} as select * from '{self.sf}/{t}.parquet'")
        for q in CONTRACT_QUERIES:
            def compare(q=q):
                with self.tracer.span(f"contract.{q}", -1):
                    got = [r.asDict() for r in self.fns[q](self.spark, self.sf).collect()]
                res = con.sql(oracles[q])
                want = [dict(zip(res.columns, row)) for row in res.fetchall()]
                same_cols = not got or not want or sorted(got[0]) == sorted(want[0])
                return same_cols and _canon(got) == _canon(want)
            self.ops.guard(f"oracle {q}", compare)
        con.close()

    def codec_bytes_per_token(self) -> float:
        """DoD payload bytes per token of the documents' character tokens
        (ASCII codes, the token sequences the contract's codec queries
        encode), from the codec's array kernel, in this process."""
        from processor_post_timeseries_spark.functions.codec import dod_encode_array

        texts = pq.read_table(f"{self.sf}/documents.parquet", columns=["text"])["text"]
        toks = [np.frombuffer(t.encode("ascii"), np.uint8) for t in texts.to_pylist()]
        return sum(len(dod_encode_array(t)) for t in toks) / sum(len(t) for t in toks)

    def _pass(self, k: int) -> float:
        total = 0.0
        for q in CONTRACT_QUERIES:
            def call(q=q):
                nonlocal total
                with self.tracer.span(f"contract.{q}", k) as s:
                    _noop(self.fns[q](self.spark, self.sf))
                total += s["s"]
                return True
            self.ops.guard(f"{q}[{k}]", call)
        return total

    def iteration(self, k: int) -> None:
        self.sample("iter_s", self._pass(k))

    def finish(self, last: int) -> None:
        self.detail = {"contract_pass_s": _median(self.samples.get("iter_s", []))}
        if self.tracer.enabled:
            self.layer = {f"{n}_s": self.tracer.median_s(n) for n in
                          ["contract.load_views"] + [f"contract.{q}" for q in CONTRACT_QUERIES]}


def _norm_cell(v):
    """The oracle gate's cell rule: type-tagged, floats compared by repr."""
    if v is None:
        return ("N",)
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", repr(v))
    if isinstance(v, (bool, int)):
        return ("i", int(v))
    if isinstance(v, (bytes, bytearray)):
        return ("b", bytes(v))
    return ("s", str(v))


def _canon(rows: list[dict]) -> list[tuple]:
    if not rows:
        return []
    cols = sorted(rows[0].keys())
    return sorted(tuple(_norm_cell(r[c]) for c in cols) for r in rows)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


WORKLOADS = {"ingest": Ingest, "maintain": Maintain, "contract_mix": ContractMix}
