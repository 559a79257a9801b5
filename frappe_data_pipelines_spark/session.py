"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster (AQE on, skew-join handling on, adaptive
partition coalescing on). Shuffle partitions default small for local runs and
should be raised (or left to AQE) on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType


def jvm_has_deep_stack(spark: SparkSession, min_bytes: int = 8 << 20) -> bool:
    """True if the RUNNING driver JVM was launched with a thread stack of
    at least ``min_bytes`` (default 8 MB). Authoritative — reads the JVM's
    actual launch arguments via the runtime MX bean, not the SparkConf
    (which still *shows* ``spark.driver.extraJavaOptions`` on a session
    that pre-existed getOrCreate, where the option was silently ignored).
    Used by ``streaming.ingest.stop_streaming_query`` to decide whether
    the -Xss32m mid-batch-interrupt backstop is really in place."""
    try:
        mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()  # noqa: SLF001
        for arg in mx.getInputArguments():
            s = str(arg)
            if not s.startswith("-Xss"):
                continue
            size, unit = s[4:], 1
            if size and size[-1] in "kKmMgG":
                unit = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}[size[-1].lower()]
                size = size[:-1]
            try:
                return int(size) * unit >= min_bytes
            except ValueError:
                return False
    except Exception:  # noqa: BLE001 — py4j / non-JVM session: assume absent
        return False
    return False


def _with_stack_size(opts: str, xss: str = "-Xss32m") -> str:
    """Append ``xss`` to a driver-java-options string unless the caller
    already pins a stack size — their -Xss wins."""
    if "-Xss" in opts:
        return opts
    return f"{opts} {xss}".strip()


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema`` order),
    planned as a local relation through Arrow: collecting it, or a
    projection of it, runs no Spark job, and writing it runs no Python
    task. ``createDataFrame(list)`` plans an RDD instead, whose tasks
    unpickle the rows in a Python worker. A naive datetime is read in the
    driver's system time zone, as ``createDataFrame(list)`` reads it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for field, arrow_field, col in zip(schema.fields, arrow, cols):
        if isinstance(field.dataType, TimestampType):
            col = [v.astimezone() if v is not None and v.tzinfo is None else v for v in col]
        arrays.append(pa.array(col, type=arrow_field.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)


DRIVER_MEMORY_CAP_MB = 16 << 10


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset: half
    of the host's MemTotal, at least 1 GiB and never above 16 GiB. In local
    mode the driver heap is the engine's whole heap; the other half is left
    to the Python workers and the OS, so a heavy job fails inside Java
    instead of being OOM-killed by the kernel. Where MemTotal cannot be
    read (no ``/proc``), the cap is the default."""
    try:
        with open(meminfo) as f:
            total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, ValueError, IndexError, StopIteration):
        return f"{DRIVER_MEMORY_CAP_MB}m"
    return f"{max(1024, min(DRIVER_MEMORY_CAP_MB, total_kb // 2048))}m"


def get_spark(
    app_name: str = "frappe-data-pipelines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    AQE is enabled so runtime statistics re-plan joins (broadcast conversion,
    skew splitting, partition coalescing) — this is the scale story: the same
    logical plans run unchanged from sf0.001 to 100 TB because the physical
    strategy is chosen at runtime, not hard-coded here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: the cluster-scale knobs ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # --- Arrow for every pandas UDF / applyInPandas hop ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- parquet vectorized reader + pushdown are on by default; keep
        #     session tz fixed so timestamp semantics match the DuckDB oracle ---
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode runs every executor thread inside the driver JVM, so
        # the "driver" heap is the whole engine's heap — sized from the host
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # Stopping a stream mid-batch makes Spark classify the interrupted
        # batch's exception (StreamExecution.isInterruptionException) by
        # running a Scala regex over the exception MESSAGE — for an
        # interrupted py4j foreachBatch that message embeds the full Java
        # cause chain (can be 100s of KB) and java.util.regex recursion
        # overflows the stream thread's default 1 MB stack, killing the
        # thread instead of stopping cleanly (reproduced round 8 in
        # tools/stream_bench.py). A deeper default thread stack absorbs
        # it; streaming/ingest.stop_streaming_query avoids the interrupt
        # by stopping at trigger-idle. NOTE an explicit .config still
        # overrides spark-defaults.conf (builder semantics) — callers who
        # need extra driver flags pass them via SPARK_DRIVER_JAVA_OPTIONS
        # (appended here; an explicit -Xss in them wins over ours).
        # FRESH-JVM REQUIREMENT: extraJavaOptions only takes effect when
        # getOrCreate launches the JVM. If a SparkSession already exists
        # (tests, notebooks, an earlier get_spark with other args), this
        # config is silently ignored and the running JVM keeps its 1 MB
        # stacks — stop_streaming_query detects that (jvm_has_deep_stack)
        # and extends its idle wait rather than trusting the backstop.
        .config(
            "spark.driver.extraJavaOptions",
            _with_stack_size(os.environ.get("SPARK_DRIVER_JAVA_OPTIONS", "")),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
