"""Session factory: its defaults, and what it does to a live session."""

from __future__ import annotations

from etl_opensky_spark import session
from etl_opensky_spark.session import default_driver_memory, get_spark


def test_default_driver_memory_fits_the_host(monkeypatch):
    sysconf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    # ¾ of a 15 GiB host, not a 16g heap that outgrows it
    assert default_driver_memory() == f"{15 * 1024 * 3 // 4}m"
    # capped at 16g where memory is plentiful
    sysconf["SC_PHYS_PAGES"] = 64 * 2**30 // 4096
    assert default_driver_memory() == "16384m"


def test_get_spark_leaves_a_live_session_as_it_is(spark):
    # the engine defaults apply only when get_spark builds the session; a
    # library call (the CLI's, say) must not reset what the owner set
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    owned = str(session.DEFAULT_SHUFFLE_PARTITIONS + 5)
    spark.conf.set(key, owned)
    try:
        assert get_spark() is spark
        assert spark.conf.get(key) == owned
    finally:
        spark.conf.set(key, saved)
