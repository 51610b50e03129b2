"""The session factory sizes the driver heap from the host."""

from __future__ import annotations

from tp_airflow_gtfs_snowflake_spark.session import _default_driver_memory

MEMINFO = """MemTotal:       {total} kB
MemFree:         1048576 kB
MemAvailable:    2097152 kB
"""


def test_driver_heap_is_three_quarters_of_ram_on_a_small_host():
    # 16 GiB host: 3/4 is 12 GiB, below the 24g cap
    assert _default_driver_memory(MEMINFO.format(total=16 << 20)) == "12288m"


def test_driver_heap_is_capped_at_24g_on_a_large_host():
    assert _default_driver_memory(MEMINFO.format(total=128 << 20)) == "24576m"


def test_driver_heap_falls_back_to_24g_without_memtotal():
    assert _default_driver_memory("MemFree: 1 kB\n") == "24g"
