"""SparkSession builder tuned for this engine.

Local mode defaults to one task slot per CPU this process may use
(``local[<host cores>]``, single JVM), but every knob scales with
``cores`` so the identical job can run at two parallelism levels (the
local stand-in for N vs 4N executors).

The driver JVM runs one JIT compile-cost policy, ``-XX:CICompilerCount=2``
(one C1 and one C2 compiler thread instead of JDK 17's 1 + 2 on four
CPUs; C2 is kept). On small inputs a query pass is mostly JVM warm-up:
HotSpot's compiler threads took 25.9 of a 40.2 CPU-s ``kg_query`` pass,
executor task threads 5.3. The reasons and numbers sit with the flag in
``spark_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# ``SPARK_GRAFT_CPUS`` overrides the host's core count
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_mem() -> str:
    """Driver heap sized from the host: ~40% of ``MemTotal``, capped at
    48g (the rest holds Python workers, page cache and the OS).
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(kb * 2 // 5 // 1024, 48 * 1024)}m"


def spark_conf(
    cores: int | None = None,
    app_name: str = "kgw_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> dict[str, str]:
    """The conf ``get_spark`` builds its session from (arguments as
    there); ``extra_conf`` entries win over the defaults."""
    cores = cores or DEFAULT_CPUS
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        # JIT compile-cost policy: one C2 compiler thread (JDK 17 runs 2
        # next to the C1 thread on 4 CPUs). local[N] already runs one task
        # thread per core, and C2 threads compete with them for those
        # cores; the long-running hot loops still reach C2. Measured on 4
        # cores, 10 alternating pairs against JDK defaults: perfbench
        # kg_query cpu_s 49.6 -> 39.4 s median (10/10 wins), wall_s
        # inside noise; compiler-thread CPU of one pass 25.9 -> 17.7 s;
        # kg_build cpu_s 54.1 -> 42.0 s. C1 only (TieredStopAtLevel=1)
        # cuts more CPU but costs bench.py's 30k-file pipeline leg 43%
        # of its triples/s. defaultJavaOptions, not extraJavaOptions:
        # Spark prepends it to the caller's extraJavaOptions (perfbench's
        # -Xms), and a caller's own defaultJavaOptions replaces it.
        "spark.driver.defaultJavaOptions": "-XX:CICompilerCount=2",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # small Arrow batches: corpus rows carry multi-KB content, and
        # 10k-row batches (~180MB of strings) wreck pandas memory
        # locality under many concurrent workers (measured 10x slower).
        # 128 beats 512 by a further ~18% CPU at 8 concurrent lanes
        # (per-batch footprint ~2MB fits cache; deeper JVM<->python
        # pipelining) and is neutral at 2 lanes — measured on the KG
        # pipeline, interleaved A/B, consumed-CPU minima
        "spark.sql.execution.arrow.maxRecordsPerBatch": "128",
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # fork workers from a daemon that has pandas/numpy/pyarrow
        # already imported (copy-on-write inheritance): stock workers
        # pay ~4 CPU-s of import each, a per-worker tax that grows
        # with executor core count (see worker_daemon docstring)
        "spark.python.daemon.module": "kgw_spark.worker_daemon",
    }
    conf.update((k, str(v)) for k, v in (extra_conf or {}).items())
    return conf


def get_spark(
    cores: int | None = None,
    app_name: str = "kgw_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``shuffle_partitions`` defaults to ``cores`` — on a real cluster this
    would be ~2-3x total executor cores; AQE coalesces the excess at
    runtime either way. Scratch space is Spark's own: ``SPARK_LOCAL_DIRS``
    or ``extra_conf={"spark.local.dir": ...}``, else the temp dir.

    The driver JVM gets ``-XX:CICompilerCount=2`` through
    ``spark.driver.defaultJavaOptions`` (see ``spark_conf``): JVM options
    in ``extra_conf["spark.driver.extraJavaOptions"]`` add to it, and
    ``extra_conf["spark.driver.defaultJavaOptions"]`` replaces it. JVM
    options take effect only when the JVM launches — in the first
    session of a process; a later ``get_spark`` (even after
    ``stop_spark``) reuses the running JVM and ignores them.
    """
    conf = spark_conf(cores, app_name, shuffle_partitions, extra_conf)
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows, schema) -> "DataFrame":
    """Driver-resident rows → a **LocalRelation**-backed DataFrame.

    ``createDataFrame(list)`` parallelizes the rows into
    ``defaultParallelism`` pickled partitions — so even a 34-row alias
    dictionary costs a cores-wide python-worker job (~2 s of wall per
    pipeline run, measured) and yields a stats-less ``LogicalRDD``.
    The arrow/pandas path builds a ``LocalRelation`` instead: the
    driver can broadcast it with ZERO tasks and Catalyst sees accurate
    row/byte stats. Use for every small driver-side frame that feeds a
    broadcast join (alias mappings, CC results, seed frames).

    ``schema`` is a DDL string ("id string, n long") or a StructType;
    column values are taken positionally from ``rows`` (tuples/lists,
    or the columns of a pyarrow Table — which skips the per-row pandas
    build, and ships as zero-copy slices of the table).
    """
    import pyarrow as pa
    from pyspark.sql.types import StructType, _parse_datatype_string

    st = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    if isinstance(rows, pa.Table):
        return spark.createDataFrame(rows.rename_columns(st.fieldNames()), schema=st)
    try:
        import pandas as pd

        pdf = pd.DataFrame.from_records(
            [tuple(r) for r in rows], columns=st.fieldNames()
        )
        if pdf.empty:
            # from_records of [] loses columns; rebuild with names
            pdf = pd.DataFrame({n: [] for n in st.fieldNames()})
        df = spark.createDataFrame(pdf, schema=st)
        # guard: if arrow conversion was silently disabled the pandas
        # path degrades to LogicalRDD; that's still correct, just slower
        return df
    except Exception:
        return spark.createDataFrame([tuple(r) for r in rows], schema=st)


def stop_spark() -> None:
    """Fully tear down the active session (needed between local[N] sizes):
    the next ``get_spark`` builds a new session with its own master."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
