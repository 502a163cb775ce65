"""Session-factory defaults that need no running Spark."""

from __future__ import annotations

import pytest

from algoritmos_etl_spark import session

GIB = 1 << 30
PAGE = 4096


@pytest.mark.parametrize(
    "cgroup, phys, heap",
    [
        (None, int(15.7 * GIB), "7g"),   # no cgroup limit: physical memory bounds it
        (None, 256 * GIB, "32g"),        # large host: clamped at 32g
        (None, 2 * GIB, "1g"),           # small host: floored at 1g
        (8 * GIB, 256 * GIB, "2g"),      # a cgroup limit wins over the host's memory
    ],
)
def test_default_driver_mem_bounded_by_memory(monkeypatch, cgroup, phys, heap):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_cgroup_memory_limit", lambda: cgroup)
    sysconf = {"SC_PHYS_PAGES": phys // PAGE, "SC_PAGE_SIZE": PAGE}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    assert session._default_driver_mem() == heap


def test_default_driver_mem_honors_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._default_driver_mem() == "3g"
