"""Spark-free guards for the session defaults."""

from shippai_knowledge_etl_spark.session import default_driver_memory

GIB = 2**30


def test_default_driver_memory_follows_the_host():
    """Half of physical memory, capped at 16g; 16g when the size is
    unknown."""
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(4 * GIB) == "2048m"
    assert default_driver_memory(32 * GIB) == "16384m"
    assert default_driver_memory(256 * GIB) == "16384m"
    assert default_driver_memory(None) == "16384m"
