"""Session sizing follows the host it runs on."""

import os
import subprocess
import sys
from pathlib import Path

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


def test_get_spark_after_stop_spark_starts_a_new_session():
    """``stop_spark`` ends the session, and the next ``get_spark`` builds
    a new one on the new master (how a bench leg changes ``cores``). It
    runs in a child process: stopping the suite's shared session would
    strand every later test."""
    code = (
        "from kgw_spark.session import get_spark, stop_spark\n"
        "a = get_spark(cores=1, extra_conf={'spark.driver.memory': '512m'})\n"
        "stop_spark()\n"
        "assert a.sparkContext._jsc is None\n"
        "b = get_spark(cores=2)\n"
        "assert b is not a and b.sparkContext.master == 'local[2]'\n"
        "assert b.range(5).count() == 5\n"
        "stop_spark()\n"
    )
    env = {**os.environ, "PYTHONPATH": str(Path(__file__).resolve().parent.parent)}
    subprocess.run([sys.executable, "-c", code], env=env, check=True, timeout=600)
