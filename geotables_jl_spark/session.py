"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]`` but every knob here is chosen for
multi-executor scale: AQE on (runtime skew-join splitting + partition
coalescing), Arrow transfer on (all Python kernels are batch-vectorized),
shuffle partitions sized to the parallelism level instead of the 200
default.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf


def column_kernel(return_type):
    """Decorator turning ``f(pa.Array, ...) -> pa.Array`` into a function
    of columns that applies it as an ``arrow_udf`` (Spark >= 4.1): a
    row-preserving kernel over only the columns it reads.

    - The UDF is marked nondeterministic, so Spark evaluates it exactly
      once: a deterministic UDF is copied into every filter pushed below
      its projection and runs again there.
    - It is built on each call: a UDF object caches its JVM twin, which
      would keep a stopped SparkContext's accumulator server."""

    def decorate(f):
        @functools.wraps(f)
        def apply(*cols):
            return arrow_udf(f, return_type).asNondeterministic()(*cols)

        return apply

    return decorate


def _driver_memory() -> str:
    """Half of physical memory, at most 48g: the driver heap may grow to
    its ``-Xmx``, and a heap larger than the host's RAM dies mid-job with
    "mmap failed" instead of collecting. ``SPARK_GRAFT_DRIVER_MEM``
    overrides it."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 >> 20
    except (AttributeError, ValueError):  # no sysconf or no such name here
        return "48g"
    return f"{min(half_mb, 48 << 10)}m"


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on (all
    CPUs where the OS has no affinity call, as on macOS and Windows)."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return int(os.environ["SPARK_GRAFT_CPUS"])
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(
    app_name: str = "geotables_jl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    # executor Python workers must be able to import this package (the
    # Arrow refinement kernels unpickle references to it). On a real
    # cluster that is `spark-submit --py-files geotables_jl_spark.zip`;
    # in local mode, export the package root on PYTHONPATH before the
    # JVM (and its python workers) start.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pypath if pypath else "")
    if shuffle_partitions is None:
        # at cluster scale this would be ~2-3x total cores; AQE coalesces down
        shuffle_partitions = max(2 * cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # min/max over STRING columns compile to SortAggregate (varlen agg
        # buffers can't use the hash fast path), and the map-side sort is
        # per SCAN partition: at the 128 MB default a task sorts ~10M rows
        # and spills, and spill I/O contention made 16 cores SLOWER than 4
        # (measured 43 s vs 20 s on a 120M-row min(url)). 32 MB splits keep
        # every sort in execution memory: 5.4 s at 16 cores, 3.15x speedup.
        # On a real cluster this is the same knob per executor-core memory.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "33554432"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # off: every F.*/Column call would also capture its Python call
        # site for DataFrame error context (a session lookup, a conf read,
        # an origin set/clear over Py4J and an IPython import attempt) —
        # over a third of the Py4J round trips of a geojoin call. Error
        # classes are unchanged; only that call-site text goes away.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
