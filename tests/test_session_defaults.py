"""Session defaults that depend on the host (assignment_etl_spark/session.py)."""

import os

from assignment_etl_spark.session import broadcast_threshold_bytes, driver_heap

GIB = 2**30
PAGE = 4096


def _host_ram(monkeypatch, ram_bytes: int) -> None:
    pages = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": ram_bytes // PAGE}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)


def test_driver_heap_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _host_ram(monkeypatch, 256 * GIB)
    assert driver_heap() == "24576m"  # large hosts keep 24 g
    _host_ram(monkeypatch, 15 * GIB)
    small = driver_heap()
    assert 6.4 * GIB <= int(small[:-1]) * 2**20 < 15 * GIB
    # a 15 GiB host keeps the 64 MB broadcast cap, so plans are unchanged
    assert broadcast_threshold_bytes(small) == 64 * 2**20


def test_driver_heap_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "7g")
    _host_ram(monkeypatch, 256 * GIB)
    assert driver_heap() == "7g"
