"""Session defaults and scaling pins: sized from the host, not a fixed count."""

from __future__ import annotations

import os

import pytest

from imdedup_plus_spark.session import default_driver_memory, default_master
from scripts.scaling_cluster import cpu_plan


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


def test_default_driver_memory_is_a_quarter_of_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert default_driver_memory() == f"{ram // 4 // 2**20}m"


def test_default_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


def test_cpu_plan_reproduces_the_32_cpu_pins():
    mask = set(range(32))
    driver, pool_4n = cpu_plan(mask, 4, 1)
    assert driver == {28, 29, 30, 31}
    assert pool_4n == set(range(8))
    assert cpu_plan(mask, 1, 1) == (driver, {0, 1})


def test_cpu_plan_exits_when_the_mask_is_too_small():
    with pytest.raises(SystemExit, match="need 6 CPUs"):
        cpu_plan({0, 1, 2, 3}, 1, 1)
