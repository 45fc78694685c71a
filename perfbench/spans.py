"""Spans around the benchmark's calls into each layer, plus the Spark
stage counters and memory high-water marks that the traced run reports.

A span records name, start, end, parent and iteration id. Spans live in
memory and are written as one JSON file when the run ends. Each Spark
stage is attributed, by its submit time, to the innermost span open at
that moment: the benchmark makes one call at a time, so stages submitted
by ``run_pipeline``'s helper threads land under the span of that call.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Times every call it wraps. When ``enabled`` it also keeps a span
    per call; when not, it keeps nothing and adds two clock reads."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str, it: int | None = None):
        """Yield a dict whose ``s`` key holds the elapsed seconds once the
        block exits (also when it raises)."""
        rec = {"name": name, "iter": it, "s": None}
        if self.enabled:
            rec.update(
                id=len(self.spans),
                parent=self._open[-1]["id"] if self._open else None,
                start_ms=time.time() * 1000.0,
            )
            self.spans.append(rec)
            self._open.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            if self.enabled:
                rec["end_ms"] = rec["start_ms"] + rec["s"] * 1000.0
                self._open.pop()

    # ------------------------------------------------------------ queries
    def named(self, name: str) -> list[dict]:
        """Spans called ``name``, leaving out warm-up iterations (< 0)."""
        return [s for s in self.spans
                if s["name"] == name and (s["iter"] is None or s["iter"] >= 0)]

    def median_s(self, name: str) -> float:
        vals = [s["s"] for s in self.named(name)]
        return statistics.median(vals) if vals else 0.0

    def descendants(self, root: dict) -> set[int]:
        ids = {root["id"]}
        for s in self.spans:  # parents always precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def self_times(self) -> None:
        """Self time = span time minus the part its children cover (the
        children of one span never overlap: calls are made one at a time)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["s"]
        for s in self.spans:
            s["self_s"] = s["s"] - child_s.get(s["id"], 0.0)


def spark_stages(spark) -> list[dict]:
    """Every stage the session ran, from Spark's own status store, as
    plain dicts (run and CPU time, shuffle, spill, failed tasks, submit
    and completion times in epoch ms). One Py4J call: the store's stage
    list serialized to JSON inside the JVM."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    keep = (
        "stageId", "attemptId", "status", "numTasks", "numFailedTasks",
        "submissionTime", "completionTime", "executorRunTime", "executorCpuTime",
        "inputRecords", "outputRecords", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
        "schedulingPool",
    )
    return [{k: st.get(k) for k in keep} for st in json.loads(mapper.writeValueAsString(stages))]


def attribute(tracer: Tracer, stages: list[dict]) -> None:
    """Tag each stage with the id of the innermost span open at its
    submit time (``span`` None when no span was open)."""
    spans = sorted(tracer.spans, key=lambda s: s["start_ms"])
    for st in stages:
        sub = st["submissionTime"]
        owner = None
        if sub is not None:
            for s in spans:
                if s["start_ms"] > sub:
                    break
                if sub < s["end_ms"]:
                    owner = s["id"]  # later-starting containing span is inner
        st["span"] = owner


def engine_counters(tracer: Tracer, stages: list[dict], root: dict) -> dict[str, float]:
    """Spark counters summed over the stages under ``root`` and its child
    spans, plus the union of those stages' run intervals."""
    ids = tracer.descendants(root)
    mine = [st for st in stages if st["span"] in ids]
    intervals = sorted(
        (st["submissionTime"], st["completionTime"])
        for st in mine
        if st["submissionTime"] is not None and st["completionTime"] is not None
    )
    busy_ms, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy_ms += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy_ms += cur_e - cur_s
    return {
        "exec_run_s": sum(st["executorRunTime"] or 0 for st in mine) / 1e3,
        "exec_cpu_s": sum(st["executorCpuTime"] or 0 for st in mine) / 1e9,
        "shuffle_bytes": float(sum(st["shuffleWriteBytes"] or 0 for st in mine)),
        "spill_bytes": float(
            sum((st["memoryBytesSpilled"] or 0) + (st["diskBytesSpilled"] or 0) for st in mine)
        ),
        "failed_tasks": float(sum(st["numFailedTasks"] or 0 for st in mine)),
        "input_rows": float(sum(st["inputRecords"] or 0 for st in mine)),
        "output_rows": float(sum(st["outputRecords"] or 0 for st in mine)),
        "busy_s": busy_ms / 1e3,
    }


def span_counters(tracer: Tracer, stages: list[dict], name: str) -> dict[str, float]:
    """Median over iterations of ``engine_counters`` for every span named
    ``name`` (all zeros when the workload never opened such a span)."""
    per_iter = [engine_counters(tracer, stages, s) for s in tracer.named(name)]
    if not per_iter:
        return dict.fromkeys(engine_counters(tracer, [], {"id": -1}), 0.0)
    return {k: statistics.median(d[k] for d in per_iter) for k in per_iter[0]}


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return kids


def memory_hwm(spark) -> tuple[float, float]:
    """(JVM resident high-water mark, sum of the resident high-water marks
    of the JVM's Python worker processes), in MiB, read from /proc."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    py_mb, todo = 0.0, _children(jvm_pid)
    while todo:
        pid = todo.pop()
        py_mb += _hwm_mb(pid)
        todo += _children(pid)
    return _hwm_mb(jvm_pid), py_mb


def write_trace(path: str, tracer: Tracer, stages: list[dict]) -> None:
    tracer.self_times()
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans, "stages": stages}, f)
