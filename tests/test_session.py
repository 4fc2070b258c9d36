"""Session defaults that follow the host."""

from __future__ import annotations

from eventstreamd_spark.session import MAX_DRIVER_MB, _host_memory, driver_memory

GIB = 2**30


def test_driver_heap_is_half_the_usable_memory() -> None:
    assert driver_memory(16 * GIB, None) == "8192m"
    assert driver_memory(16 * GIB, "max\n") == "8192m"
    # a cgroup limit below physical memory is the usable memory
    assert driver_memory(16 * GIB, f"{4 * GIB}\n") == "2048m"
    assert driver_memory(4 * GIB, f"{16 * GIB}\n") == "2048m"
    assert driver_memory(512 * GIB, None) == f"{MAX_DRIVER_MB}m" == "49152m"


def test_default_driver_heap_fits_this_host() -> None:
    physical, cgroup_max = _host_memory()
    heap_mb = int(driver_memory(physical, cgroup_max).removesuffix("m"))
    assert 0 < heap_mb * 2**20 <= physical // 2
