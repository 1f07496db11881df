"""Session defaults: the master is sized from the host, not a fixed count."""

from __future__ import annotations

import os

from imdedup_plus_spark.session import default_master


def test_default_master_uses_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_master() == f"local[{len(os.sched_getaffinity(0))}]"


def test_default_master_env_overrides(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_master() == "local[3]"
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "spark://head:7077")
    assert default_master() == "spark://head:7077"
