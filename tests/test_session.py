"""The default driver heap is sized from the host's ``/proc/meminfo``; the
session runs with Spark's adaptive execution and scan-split defaults; and
the tests' session is the one configuration ``get_spark()`` builds for every
caller, so a CLI command's ``get_spark()`` call in the same process changes
none of its values."""

from __future__ import annotations

from us_flight_bigdata_dashboard_spark.session import default_driver_memory, get_spark

# a 16 GB host and a 128 GB host, as /proc/meminfo prints them
MEMINFO_16G = """MemTotal:       16393756 kB
MemFree:         1204880 kB
MemAvailable:    9875312 kB
Buffers:          210144 kB
"""
MEMINFO_128G = """MemTotal:       131895712 kB
MemFree:        98765432 kB
MemAvailable:   120012345 kB
"""


def test_half_of_a_small_host():
    assert default_driver_memory(MEMINFO_16G) == "8004m"  # 16393756 kB / 2 / 1024


def test_capped_at_24g_on_a_large_host():
    assert default_driver_memory(MEMINFO_128G) == "24576m"


def test_24g_when_memtotal_is_unknown():
    assert default_driver_memory("") == "24g"
    assert default_driver_memory("MemFree:  1204880 kB\n") == "24g"


def test_session_reports_aqe_and_128mb_scan_splits(spark):
    """``get_spark`` sets none of these: AQE with partition coalescing and
    skew-join splitting, and 128 MB scan splits, are Spark's defaults."""
    for key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
    ):
        assert spark.conf.get(key) == "true", key
    # Spark prints a byte size in bytes, suffixed "b"
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == f"{128 * 1024 * 1024}b"


def test_a_second_get_spark_changes_no_setting(spark):
    """A CLI command calls ``get_spark()`` in the tests' process: it gets the
    tests' session back, with every SQL setting ``get_spark`` makes as the
    tests ran it."""
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.session.timeZone",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.legacy.parquet.nanosAsLong",
    )
    before = {key: spark.conf.get(key) for key in keys}
    assert get_spark() is spark
    assert {key: spark.conf.get(key) for key in keys} == before
