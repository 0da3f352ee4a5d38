"""``get_spark``'s host-derived heap default, checked without starting a JVM."""

from __future__ import annotations

from etl_stack_spark.session import MAX_DRIVER_MEM_MB, default_driver_mem


def test_heap_is_half_of_mem_total():
    assert default_driver_mem(16_479_424) == "8046m"  # 15.7 GiB MemTotal, in kB


def test_heap_capped_at_24g():
    assert MAX_DRIVER_MEM_MB == 24 * 1024
    assert default_driver_mem(128 * 1024 * 1024) == "24576m"


def test_heap_unknown_memory_falls_back_to_cap():
    assert default_driver_mem(None) == "24576m"
