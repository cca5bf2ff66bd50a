"""Session defaults derived from the host."""

from ariadne_dbt_spark.session import driver_memory

GIB = 1 << 30


def test_driver_memory_is_three_quarters_of_physical_capped_at_64g():
    assert driver_memory(16 * GIB) == "12288m"
    assert driver_memory(15 * GIB + 12345) == "11520m"
    assert driver_memory(64 * GIB) == "49152m"
    assert driver_memory(512 * GIB) == "65536m"
