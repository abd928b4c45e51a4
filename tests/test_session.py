"""Session defaults that are worked out from the host (no Spark started)."""

from __future__ import annotations

import os

from customer_er_spark import session


def _host(monkeypatch, gib: float) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": int(gib * 2**30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)


def test_driver_memory_is_half_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host(monkeypatch, 15.6)
    assert session.default_driver_memory() == "7g"
    _host(monkeypatch, 64)
    assert session.default_driver_memory() == "32g"
    _host(monkeypatch, 1.5)  # never below one GiB
    assert session.default_driver_memory() == "1g"


def test_driver_memory_override_wins(monkeypatch):
    _host(monkeypatch, 64)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.default_driver_memory() == "3g"


def test_driver_memory_fits_this_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gib = int(session.default_driver_memory().removesuffix("g"))
    assert 1 <= heap_gib and heap_gib * 2**30 <= max(phys, 2**30)
