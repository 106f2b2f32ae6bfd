"""Session defaults that need no running Spark."""

from basin_cli_spark.session import driver_memory

GB = 1 << 30


def test_driver_memory_is_half_of_ram():
    assert driver_memory(15 * GB) == "7680m"
    assert driver_memory(4 * GB) == "2048m"


def test_driver_memory_capped_at_16g():
    assert driver_memory(32 * GB) == "16384m"
    assert driver_memory(512 * GB) == "16384m"


def test_driver_memory_reads_this_machine():
    mb = int(driver_memory().removesuffix("m"))
    assert 0 < mb <= 16 << 10
