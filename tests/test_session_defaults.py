"""Session defaults must be safe on the host they run on."""

from __future__ import annotations

import os

from processor_post_timeseries_spark.session import default_cpus


def test_default_cpus_is_the_process_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_default_cpus_follows_the_env_pin(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_cpus() == len(os.sched_getaffinity(0))
