import os

from accelerated_intelligent_document_processing_on_aws_spark.sources.session import (
    driver_memory,
)


def test_default_driver_memory_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    got = driver_memory()
    assert got.endswith("m")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < int(got[:-1]) <= min(ram_mb, 24 * 1024)


def test_driver_memory_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"
