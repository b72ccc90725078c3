"""The driver-heap default follows the host's memory."""

from habits_etl_spark.session import default_driver_memory

GIB = 1 << 30


def test_driver_memory_is_half_of_a_small_host():
    assert default_driver_memory(15 * GIB) == "7680m"


def test_driver_memory_is_capped_on_a_large_host():
    assert default_driver_memory(256 * GIB) == "24576m"
