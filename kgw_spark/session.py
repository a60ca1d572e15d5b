"""SparkSession builder tuned for this engine.

Local mode defaults to one task slot per CPU this process may use
(``local[<host cores>]``, single JVM), but every knob scales with
``cores`` so the identical job can run at two parallelism levels (the
local stand-in for N vs 4N executors).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# ``SPARK_GRAFT_CPUS`` overrides the host's core count
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_mem() -> str:
    """Driver heap sized from the host: ~40% of ``MemTotal``, capped at
    48g (the rest holds tmpfs scratch, Python workers and the OS).
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(kb * 2 // 5 // 1024, 48 * 1024)}m"


def get_spark(
    cores: int | None = None,
    app_name: str = "kgw_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``shuffle_partitions`` defaults to ``cores`` — on a real cluster this
    would be ~2-3x total executor cores; AQE coalesces the excess at
    runtime either way.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cores
    # shuffle spill / scratch on tmpfs: the sandbox's disk shows high
    # IO-wait variance; on a real cluster this is fast local NVMe
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches: corpus rows carry multi-KB content, and
        # 10k-row batches (~180MB of strings) wreck pandas memory
        # locality under many concurrent workers (measured 10x slower).
        # 128 beats 512 by a further ~18% CPU at 8 concurrent lanes
        # (per-batch footprint ~2MB fits cache; deeper JVM<->python
        # pipelining) and is neutral at 2 lanes — measured on the KG
        # pipeline, interleaved A/B, consumed-CPU minima
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fork workers from a daemon that has pandas/numpy/pyarrow
        # already imported (copy-on-write inheritance): stock workers
        # pay ~4 CPU-s of import each, a per-worker tax that grows
        # with executor core count (see worker_daemon docstring)
        .config("spark.python.daemon.module", "kgw_spark.worker_daemon")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows, schema: str) -> "DataFrame":
    """Driver-resident rows → a **LocalRelation**-backed DataFrame.

    ``createDataFrame(list)`` parallelizes the rows into
    ``defaultParallelism`` pickled partitions — so even a 34-row alias
    dictionary costs a cores-wide python-worker job (~2 s of wall per
    pipeline run, measured) and yields a stats-less ``LogicalRDD``.
    The arrow/pandas path builds a ``LocalRelation`` instead: the
    driver can broadcast it with ZERO tasks and Catalyst sees accurate
    row/byte stats. Use for every small driver-side frame that feeds a
    broadcast join (alias mappings, CC results, seed frames).

    ``schema`` is a DDL string ("id string, n long"); column values are
    taken positionally from ``rows`` (tuples/lists).
    """
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema)
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
    """Fully tear down the active session (needed between local[N] sizes)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # clear the cached session so a new master takes effect
    try:
        SparkSession.builder._options = {}
    except Exception:
        pass
