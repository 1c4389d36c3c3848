"""The session factory's memory default, checked without starting Spark."""

from __future__ import annotations

from pyspark_scd_spark.session import _driver_memory

GIB = 1024**3


def test_driver_memory_is_a_quarter_of_ram_capped_at_16g():
    assert _driver_memory(16 * GIB) == "4096m"
    assert _driver_memory(15 * GIB + 512 * 1024**2) == "3968m"
    assert _driver_memory(64 * GIB) == "16384m"
    assert _driver_memory(256 * GIB) == "16384m"
    assert _driver_memory(2 * GIB) == "512m"


def test_driver_memory_reads_this_host():
    mb = int(_driver_memory().removesuffix("m"))
    assert 0 < mb <= 16 * 1024
