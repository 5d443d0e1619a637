"""Session sizing: with no env overrides the driver heap and core count
come from the machine, so the suite starts on any host."""

from __future__ import annotations

import os

from nifi_spark.session import default_cpus, default_heap


def test_derived_heap_fits_in_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    heap = default_heap()
    assert heap.endswith("m")
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    assert 0 < int(heap[:-1]) * 1024 < mem_kb


def test_env_overrides_are_kept(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_heap() == "3g"
    assert default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cpus() == len(os.sched_getaffinity(0))
