"""Session defaults that depend on the machine."""

from crawlspark.session import default_driver_memory

GIB = 2**30


def test_default_driver_memory_is_half_of_ram_capped_at_16g():
    assert default_driver_memory(int(15.7 * GIB)) == "7g"
    assert default_driver_memory(32 * GIB) == "16g"
    assert default_driver_memory(256 * GIB) == "16g"
    assert default_driver_memory(1 * GIB) == "1g"  # never below 1g


def test_default_driver_memory_reads_physical_ram():
    gib = int(default_driver_memory()[:-1])
    assert 1 <= gib <= 16
