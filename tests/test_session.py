"""Session factory sizing."""

from __future__ import annotations

import os

from spartan2_spark.session import default_driver_memory


def test_default_driver_heap_fits_physical_memory():
    """Without SPARK_DRIVER_MEM the driver heap is derived from the
    host: never more than physical memory (a larger heap gets the JVM
    killed by the kernel), never above the 48g cap, and not trivially
    small."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap = default_driver_memory()
    assert heap.endswith("m")
    heap_mb = int(heap[:-1])
    assert heap_mb < phys_mb
    assert heap_mb <= 48 << 10
    assert heap_mb >= min(48 << 10, phys_mb // 2)


def test_get_spark_requests_the_derived_heap(spark):
    """The running session asked for the derived heap (or the explicit
    SPARK_DRIVER_MEM override), not a fixed size."""
    want = os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
