"""Spark-free checks of the session's driver-heap sizing."""

from __future__ import annotations

import pytest

from gtec_etl_spark.session import driver_memory

CAP_MB = 48 * 1024


def _meminfo(total_kb: int) -> str:
    return f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"


def _mb(value: str) -> int:
    assert value.endswith("m")
    return int(value[:-1])


def test_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(_meminfo(16_479_424)) == "3g"
    assert driver_memory() == "3g"


@pytest.mark.parametrize(
    "total_kb",
    [
        16_462_643,  # 15.7 GB host: 5/8 of it, ~9.8 GB
        512 * 1024 * 1024,  # 512 GB host: capped at 48g
    ],
)
def test_default_bounded_by_memtotal_and_cap(monkeypatch, total_kb):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mb = _mb(driver_memory(_meminfo(total_kb)))
    assert mb <= total_kb // 1024
    assert mb <= CAP_MB
    assert mb == min(total_kb * 5 // 8 // 1024, CAP_MB)


def test_default_from_this_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mb = _mb(driver_memory())
    assert 0 < mb <= CAP_MB


def test_missing_memtotal_falls_back_to_cap(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory("") == f"{CAP_MB}m"
