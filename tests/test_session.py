"""Session defaults: the local core count and the driver heap follow the
machine unless the environment sets them.  No JVM is started."""

import os

from invariantbitpacking_spark import session


def test_cores_follow_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5},
                        raising=False)
    assert session.default_cores() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    assert session.default_cores() == 12


def _machine(monkeypatch, gib: float):
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": int(gib * (1 << 30)) // page}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)


def test_driver_heap_fits_the_machine(monkeypatch):
    monkeypatch.delenv("IBP_DRIVER_MEM", raising=False)
    for gib, heap in ((15.7, "7g"), (64, "16g"), (1, "1g"), (9, "4g")):
        _machine(monkeypatch, gib)
        assert session.default_driver_memory() == heap, gib
    monkeypatch.setenv("IBP_DRIVER_MEM", "20g")
    assert session.default_driver_memory() == "20g"
