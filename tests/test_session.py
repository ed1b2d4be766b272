"""Driver heap sizing from the host, with no Spark."""

from __future__ import annotations

import pytest

from pdxbldgimport_spark.session import driver_mem

GB = 1 << 30


@pytest.fixture(autouse=True)
def no_override(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


def test_small_host_gets_share_of_memtotal():
    assert driver_mem(4 * GB, None) == f"{int(4 * 1024 * 0.55)}m"


def test_large_host_is_capped_at_16g():
    assert driver_mem(256 * GB, None) == "16384m"


def test_cgroup_limit_below_memtotal_wins():
    assert driver_mem(64 * GB, 2 * GB) == f"{int(2 * 1024 * 0.55)}m"


def test_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_mem(64 * GB, 2 * GB) == "3g"
