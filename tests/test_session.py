"""Session sizing follows the host it runs on."""

from kgw_spark.session import default_driver_mem, spark_conf


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


def test_jit_policy_one_c2_thread(spark):
    """The running JVM was launched with one C2 compiler thread
    (``CICompilerCount`` 2 = one C1 + one C2), set on its command line;
    a caller's ``extraJavaOptions`` adds to the policy's
    ``defaultJavaOptions`` instead of displacing it."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    opt = bean.getVMOption("CICompilerCount")
    assert (opt.getValue(), opt.getOrigin().toString()) == ("2", "VM_CREATION")
    conf = spark_conf(extra_conf={"spark.driver.extraJavaOptions": "-Xms256m"})
    assert conf["spark.driver.defaultJavaOptions"] == "-XX:CICompilerCount=2"
    assert conf["spark.driver.extraJavaOptions"] == "-Xms256m"
