"""Session-factory defaults that need no JVM."""

import os

from veealign_spark.session import default_driver_memory


def test_driver_memory_is_a_third_of_ram_capped_at_16g():
    assert default_driver_memory(15 * 2**30) == "5120m"
    assert default_driver_memory(48 * 2**30) == "16384m"
    assert default_driver_memory(96 * 2**30) == "16384m"


def test_driver_memory_reads_this_machine():
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == default_driver_memory(ram)
    assert int(default_driver_memory()[:-1]) <= ram // 3 // 2**20
