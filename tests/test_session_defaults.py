"""``get_spark`` resource defaults come from the host, never above it."""
from __future__ import annotations

import os

from docext_spark.session import default_driver_memory, default_master

HOST_CPUS = len(os.sched_getaffinity(0))
HOST_MEM = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _bytes(spark_size: str) -> int:
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    return int(spark_size[:-1]) * units[spark_size[-1].lower()]


def test_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert default_master() == f"local[{HOST_CPUS}]"
    assert 0 < _bytes(default_driver_memory()) <= HOST_MEM // 2


def test_env_overrides_kept(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert default_master() == "local[3]"
    assert default_driver_memory() == "2g"

