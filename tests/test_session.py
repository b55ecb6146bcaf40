"""Session defaults must fit the host they run on."""

from __future__ import annotations

import os

from cir_duplicate_detector_spark.session import default_driver_memory


def test_default_driver_memory_fits_physical_ram():
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    heap = default_driver_memory()
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) << 20 <= ram
