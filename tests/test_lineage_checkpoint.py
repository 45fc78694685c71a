"""Lineage read-back pruning, core-sized writer tasks and the checkpoint
rewrite behind backfill: exact counts, untouched kept rows, no write on a
miss, and a crash-safe swap."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from processor_post_timeseries_spark.plans import lineage
from processor_post_timeseries_spark.plans.backfill import invalidate_units, invalidate_where
from processor_post_timeseries_spark.plans.pipeline import PipelineConfig, run_pipeline
from processor_post_timeseries_spark.sources.synth import sequences

TIERS = (("1s", 10), ("1m", 6))


def _run(spark, out, run_id="run-a", n_docs=30, **kw):
    seq = sequences(spark, n_docs, seed=41, min_tok=5, max_tok=200, vocab=300)
    cfg = PipelineConfig(out_dir=out, block_size=64, n_buckets=4, tiers=TIERS,
                         run_id=run_id, **kw)
    run_pipeline(spark, seq, cfg)
    return cfg


def _rows(spark, out):
    return sorted(tuple(r) for r in lineage.read_checkpoint(spark, out).collect())


def _ckpt_mtimes(out):
    return {p: os.stat(p).st_mtime_ns for p in glob.glob(f"{out}/_checkpoint/*")}


def _green(spark, out):
    for stage, keys in (("blocks", ["source", "bucket"]), ("tiers", ["tier", "source", "bucket"])):
        r = lineage.verify_lineage(spark, out, stage, f"{out}/{stage}", keys).agg(
            F.count("*").alias("n"), F.sum(F.col("ok").cast("int")).alias("ok")
        ).first()
        if not r["n"] or r["n"] != r["ok"]:
            return False
    return True


def test_record_stage_reads_only_the_partitions_in_only_keys(spark, tmp_path):
    out = str(tmp_path / "o")
    _run(spark, out)
    good = spark.read.parquet(f"{out}/blocks")
    units = sorted({(r["source"], r["bucket"]) for r in good.select("source", "bucket").collect()})
    keep, other = units[0], units[-1]
    # an unreadable data file in a partition outside only_keys: a scan
    # that is not pruned to only_keys fails on it
    bad = f"{out}/blocks/source={other[0]}/bucket={other[1]}/part-99999-corrupt.snappy.parquet"
    with open(bad, "wb") as f:
        f.write(b"not a parquet file")
    written = spark.read.schema(good.schema).parquet(f"{out}/blocks")
    only = spark.createDataFrame([keep], "source string, bucket int")
    lineage.record_stage(spark, out, "blocks", written, ["source", "bucket"], "rec", only_keys=only)
    got = lineage.read_checkpoint(spark, out).filter(F.col("run_id") == "rec").collect()
    assert [r["partition_key"] for r in got] == [f"{keep[0]}/{keep[1]}"]
    assert all(f"bucket={keep[1]}" in p and keep[0] in p for p in got[0]["input_files"])


def test_fresh_pipeline_writes_tiers_with_one_task_per_core(spark, tmp_path, monkeypatch):
    """The tier write runs spark.sql.shuffle.partitions (4) tasks; AQE must
    not coalesce the small tier rows into one task."""
    sc = spark.sparkContext
    tracker, group = sc.statusTracker(), "tier-write-tasks"
    marks = {}
    record = lineage.record_stage

    def spy(spark_, root, stage, *a, **kw):
        marks[f"{stage}-start"] = set(tracker.getJobIdsForGroup(group))
        res = record(spark_, root, stage, *a, **kw)
        marks[f"{stage}-end"] = set(tracker.getJobIdsForGroup(group))
        return res

    monkeypatch.setattr(lineage, "record_stage", spy)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 4
    sc.setJobGroup(group, "fresh pipeline run")
    try:
        _run(spark, str(tmp_path / "t"), resume=False, concurrent_stages=False,
             async_lineage=False, n_docs=60)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # serial stages: the jobs between the blocks lineage record and the
    # tiers lineage record are the tier stage's write
    write_jobs = sorted(marks["tiers-start"] - marks["blocks-end"])
    assert write_jobs
    result_stage = max(tracker.getJobInfo(write_jobs[-1]).stageIds)
    info = tracker.getStageInfo(result_stage)
    assert (info.numTasks, info.numCompletedTasks) == (4, 4)


def test_invalidate_units_exact_count_and_kept_rows(spark, tmp_path):
    out = str(tmp_path / "u")
    _run(spark, out)
    before = _rows(spark, out)
    victims = sorted(r[1] for r in before if r[0] == "tiers")[:3]
    assert invalidate_units(spark, out, "tiers", victims + ["1s/no-such/9"]) == 3
    after = _rows(spark, out)
    assert after == [r for r in before if not (r[0] == "tiers" and r[1] in victims)]
    assert all(r[5] for r in after)  # input_files survive the rewrite


def test_invalidate_where_exact_count_and_kept_rows(spark, tmp_path):
    out = str(tmp_path / "w")
    _run(spark, out)
    before = _rows(spark, out)
    source, bucket = next(r[1] for r in before if r[0] == "blocks").rsplit("/", 1)
    unit = f"{source}/{bucket}"
    hit = [r for r in before if r[1] == unit or r[1].endswith("/" + unit)]
    assert len(hit) == 1 + len(TIERS)
    assert invalidate_where(spark, out, source, int(bucket)) == len(hit)
    assert _rows(spark, out) == [r for r in before if r not in hit]
    assert not glob.glob(f"{out}/_checkpoint.*")  # the swap cleaned up


def test_invalidate_without_match_writes_nothing(spark, tmp_path):
    out = str(tmp_path / "n")
    _run(spark, out)
    mtimes = _ckpt_mtimes(out)
    assert invalidate_where(spark, out, "no-such-source", 99) == 0
    assert invalidate_units(spark, out, "blocks", ["no-such-source/99"]) == 0
    assert _ckpt_mtimes(out) == mtimes
    assert not glob.glob(f"{out}/_checkpoint.*")


def test_checkpoint_rewrite_crash_before_swap_keeps_old_table(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "c")
    _run(spark, out)
    before = _rows(spark, out)
    unit = next(r[1] for r in before if r[0] == "blocks")

    def crash(*_a, **_k):
        raise RuntimeError("killed between the sibling write and the swap")

    monkeypatch.setattr(lineage, "_swap", crash)
    with pytest.raises(RuntimeError):
        invalidate_where(spark, out, *unit.rsplit("/", 1))
    assert os.path.exists(f"{out}/_checkpoint.next/_SUCCESS")  # the sibling was written
    assert _rows(spark, out) == before
    assert _green(spark, out)

    # the next rewrite replaces the stale sibling and completes
    monkeypatch.undo()
    assert invalidate_units(spark, out, "blocks", [unit]) == 1
    assert len(_rows(spark, out)) == len(before) - 1


def test_checkpoint_swap_cut_between_renames_is_finished_on_read(spark, tmp_path):
    out = str(tmp_path / "s")
    _run(spark, out)
    before = _rows(spark, out)
    ck = f"{out}/_checkpoint"
    # the state a crash after the swap's first rename leaves: the old table
    # moved aside, the new one complete but not yet renamed into place
    os.rename(ck, ck + ".prev")
    spark.read.parquet(ck + ".prev").coalesce(1).write.parquet(ck + ".next")
    assert _rows(spark, out) == before
    assert os.path.isdir(ck) and not os.path.exists(ck + ".next")
    assert _green(spark, out)
