"""Session defaults that follow the host, and `fan_out`'s streaming guard."""

from __future__ import annotations

import pytest

from eventstreamd_spark.session import (
    MAX_DRIVER_MB,
    _host_memory,
    driver_memory,
    fan_out,
)

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


def test_fan_out_leaves_a_streaming_frame_alone(spark) -> None:
    stream = spark.readStream.format("rate").load()
    assert fan_out(stream) is stream


def test_fan_out_raises_what_a_batch_frame_raises(spark, monkeypatch) -> None:
    df = spark.range(4).coalesce(1)

    def broken(self):
        raise RuntimeError("rdd unavailable")

    monkeypatch.setattr(type(df), "rdd", property(broken))
    with pytest.raises(RuntimeError, match="rdd unavailable"):
        fan_out(df)
