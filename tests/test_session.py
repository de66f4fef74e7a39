"""Host-derived session defaults (no Spark needed)."""

from __future__ import annotations

import os

from pandemic_knowledge_spark.session import default_driver_memory

GIB = 1 << 30


def _host(monkeypatch, phys_bytes: int, page: int = 4096) -> None:
    values = {"SC_PHYS_PAGES": phys_bytes // page, "SC_PAGE_SIZE": page}
    monkeypatch.setattr(os, "sysconf", values.__getitem__)


def test_driver_memory_is_half_of_physical_ram(monkeypatch):
    _host(monkeypatch, 15 * GIB + 600 * (1 << 20))
    assert default_driver_memory() == "7g"
    _host(monkeypatch, 64 * GIB)
    assert default_driver_memory() == "32g"


def test_driver_memory_floors_at_1g(monkeypatch):
    _host(monkeypatch, 512 * (1 << 20))
    assert default_driver_memory() == "1g"
    _host(monkeypatch, 3 * GIB)
    assert default_driver_memory() == "1g"


def test_driver_memory_fits_this_host():
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert int(default_driver_memory()[:-1]) * GIB <= max(phys, GIB)
