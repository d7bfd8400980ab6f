"""get_spark's defaults fit the host it runs on; the environment still
overrides them."""

import os

from ethereum_etl_spark import session

GIB = 2**30


def _host_ram(monkeypatch, gib):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": int(gib * GIB) // 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])


def test_defaults_fit_the_host_and_env_overrides(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert session._cpus() == len(os.sched_getaffinity(0))
    _host_ram(monkeypatch, 15.7)
    assert session._driver_memory() == "7g"
    _host_ram(monkeypatch, 256)
    assert session._driver_memory() == "24g"  # the cap
    _host_ram(monkeypatch, 1)
    assert session._driver_memory() == "1g"  # the floor
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "5g")
    assert session._cpus() == 3
    assert session._driver_memory() == "5g"


def test_parquet_files_are_written_with_zstd(spark):
    """Iceberg's default ``write.parquet.compression-codec``; every parquet
    writer in the engine inherits it from the session."""
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "zstd"
