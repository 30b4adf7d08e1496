"""SparkSession factory: one Spark configuration for every caller.

The CLI's commands, the tests, the benchmark and the oracle tools all build
their session with ``get_spark()``, which takes no options, so each runs the
configuration users run. Local parallelism comes from ``SPARK_GRAFT_CPUS``
(``local[*]`` when unset), and the shuffle-partition count from it alone:
32 for ``*``, else ``max(cpus, 4)``. The rest is fixed: UTC session
timezone for deterministic date math, Arrow enabled for the few Pandas-UDF
paths, a 32 MB broadcast-join threshold, and ``TIMESTAMP(NANOS)`` parquet
columns read as ``bigint``. AQE, its coalescing and skew-join splitting,
and 128 MB scan splits (``spark.sql.files.maxPartitionBytes``) are Spark
4.1's own defaults, so they are not set here; ``tests/test_session.py``
checks the session reports them and that a second ``get_spark()`` call
leaves every value this module sets unchanged.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

APP_NAME = "us_flight_bigdata_dashboard_spark"


def default_driver_memory(meminfo: str) -> str:
    """``spark.driver.memory`` for a host whose ``/proc/meminfo`` reads
    ``meminfo``: half of ``MemTotal``, at most 24g, and 24g when the text
    gives no ``MemTotal``."""
    m = re.search(r"^MemTotal:\s+(\d+) kB$", meminfo, re.MULTILINE)
    return f"{min(int(m.group(1)) // 2048, 24 * 1024)}m" if m else "24g"


def _host_meminfo() -> str:
    try:
        with open("/proc/meminfo") as f:
            return f.read()
    except OSError:
        return ""


def get_spark() -> SparkSession:
    """Build (or reuse) the one SparkSession, named ``APP_NAME``.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism, default
    ``local[*]``, and the shuffle-partition count: 32 for ``*``, else
    ``max(cpus, 4)``. Reusing a session re-applies the same values, so a
    second call changes nothing.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    # State-API-v2 support: transformWithStateInPandas spawns a DRIVER-side
    # Python worker that only sees the JVM's PYTHONPATH (addPyFile cannot
    # reach it), so when no real protobuf is installed the shim's vendor
    # dir must be on PYTHONPATH BEFORE the JVM launches. No-op if protobuf
    # is installed or the JVM already exists (then the v2 capability gate
    # in streaming/streaks.py reports accordingly and v1 runs instead).
    from us_flight_bigdata_dashboard_spark.streaming import protobuf_compat

    protobuf_compat.ensure_jvm_pythonpath()

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(APP_NAME)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
        # uniform session-wide nanos handling: every TIMESTAMP(NANOS)
        # parquet column surfaces as bigint and is rebuilt by the loader
        # (sources/catalog.load_table) — set here at build time so the
        # behavior is visible and identical for ALL reads, not a session
        # mutation made mid-flight by whichever loader ran first
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] runs everything in ONE JVM whose default heap is 1g —
        # far too small for 32 concurrent tasks plus cached intermediates,
        # and the dominant GC-pressure source in the bench suite. Honored
        # at JVM launch when the session is built from Python; a no-op if
        # a JVM already exists (e.g. the driver passes us its session).
        # On a real cluster this is superseded by spark-submit's
        # --driver-memory/--executor-memory sizing. The default is half of
        # the host's memory, at most 24g; SPARK_GRAFT_DRIVER_MEM overrides
        # it, and must be set before the first session is built, because
        # the JVM heap is fixed at launch.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(_host_meminfo()),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
