"""Session sizing follows the host it runs on."""

from kgw_spark.session import default_driver_mem


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("MemTotal:")) * 1024


def test_driver_heap_fits_physical_memory(spark):
    """The default heap, and the heap of the running JVM, stay below
    physical memory (a heap sized past it gets the JVM OOM-killed)."""
    heap = default_driver_mem()
    assert heap.endswith("m") and 0 < int(heap[:-1]) * 2**20 < _mem_total_bytes()
    jvm_max = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert jvm_max < _mem_total_bytes()
