"""Session defaults that depend on the machine or the master string."""

import os

from crawlspark.session import default_driver_memory, master_cores

GIB = 2**30


def test_default_driver_memory_is_half_of_ram_capped_at_16g():
    assert default_driver_memory(int(15.7 * GIB)) == "7g"
    assert default_driver_memory(32 * GIB) == "16g"
    assert default_driver_memory(256 * GIB) == "16g"
    assert default_driver_memory(1 * GIB) == "1g"  # never below 1g


def test_default_driver_memory_reads_physical_ram():
    gib = int(default_driver_memory()[:-1])
    assert 1 <= gib <= 16


def test_master_cores_parses_every_master_form():
    cpus = os.cpu_count()
    assert master_cores("local[4]") == 4
    assert master_cores("local[4,2]") == 4
    assert master_cores("local[*]") == cpus
    assert master_cores("local[*,3]") == cpus
    assert master_cores("local-cluster[2,2,1024]") == 4
    assert master_cores("local-cluster[3, 2, 512]") == 6
    assert master_cores("local") == cpus
    assert master_cores("spark://host:7077") == cpus
    assert master_cores("yarn") == cpus
