"""The session's default driver heap: 60 % of physical RAM in whole
GiB, clamped to [1g, 24g], with ``SPARK_GRAFT_DRIVER_MEM`` as the
override (a pure function; no JVM starts), and the G1 region size the
session pins beside it."""

from __future__ import annotations

import os

import pytest

from data_ingestor_gluejob_script_spark.session import default_driver_memory

PAGE = 4096
GIB = 2**30


def _host_ram(monkeypatch, ram_bytes: int):
    sizes = {"SC_PHYS_PAGES": ram_bytes // PAGE, "SC_PAGE_SIZE": PAGE}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


@pytest.mark.parametrize(
    "ram, heap",
    [
        (int(15.69 * GIB), "9g"),  # a 4-core, 15 GB host
        (16 * GIB, "9g"),  # 9.6 GiB rounds down
        (64 * GIB, "24g"),  # capped at the old fixed default
        (1 * GIB, "1g"),  # floor
    ],
)
def test_default_heap_from_host_ram(monkeypatch, ram, heap):
    _host_ram(monkeypatch, ram)
    assert default_driver_memory() == heap


def test_env_override_wins(monkeypatch):
    _host_ram(monkeypatch, 15 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


def test_driver_jvm_keeps_16m_g1_regions(spark):
    """The session's JVM runs with the G1 region size a 24g heap
    implied, whatever heap the host gets."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("G1HeapRegionSize").getValue() == str(16 * 2**20)
