"""Session defaults fit the machine they run on."""

from __future__ import annotations

from codex_data_products_spark.session import default_driver_memory


def test_default_driver_heap_fits_physical_memory():
    with open("/proc/meminfo") as f:
        mem_kb = next(
            int(line.split()[1]) for line in f if line.startswith("MemTotal:")
        )
    heap = default_driver_memory()
    assert heap.endswith("m")
    heap_mb = int(heap[:-1])
    assert 0 < heap_mb * 1024 < mem_kb
    assert heap_mb <= 24 * 1024
