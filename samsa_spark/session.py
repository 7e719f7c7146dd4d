"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM), but every
conf here is chosen for cluster scale: AQE handles skewed shuffle partitions
at 100 TB, Arrow keeps the (rare) pandas-UDF paths batched, and shuffle
partition count is sized for the test scale factors while AQE coalesces or
splits at runtime.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "samsa-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Local mode runs the whole engine in ONE JVM whose default heap is
        # spark.driver.memory = 1g — an accident on a 128 GiB box, and the
        # root cause of the note-39 "not enough memory to build and
        # broadcast" class: checkpoint blocks + one broadcast build exceed
        # 1g long before any real limit. Applies only when THIS factory
        # launches the JVM (the external driver's own vanilla session is
        # untouched); verified effective via Runtime.maxMemory.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "32")),
        )
        # AQE: runtime coalescing of small shuffle partitions + skew-join
        # splitting — the mechanism that keeps key-skew (hot samsa keys)
        # from stalling a 1000-executor job.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for any pandas-UDF / mapInPandas path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Testdata parquet stores event time as TIMESTAMP(NANOS); Spark has
        # no nanosecond timestamp type, so read as long and convert in
        # tables.load (see tables._TS_COLS).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set a session conf for the ``with`` block only. On exit, also when
    the block raises, the session's previous value is restored, and a conf
    the session never set is unset again, so a caller's session (the
    external driver's vanilla one included) never inherits the pin."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
