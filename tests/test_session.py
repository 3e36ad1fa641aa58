"""Session factory defaults that need no SparkSession."""

from __future__ import annotations

from etl_opensky_spark import session
from etl_opensky_spark.session import default_driver_memory


def test_default_driver_memory_fits_the_host(monkeypatch):
    sysconf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    # ¾ of a 15 GiB host, not a 16g heap that outgrows it
    assert default_driver_memory() == f"{15 * 1024 * 3 // 4}m"
    # capped at 16g where memory is plentiful
    sysconf["SC_PHYS_PAGES"] = 64 * 2**30 // 4096
    assert default_driver_memory() == "16384m"
