"""SparkSession construction, tuned for the driver's local[N] harness.

The same settings are the ones we'd set on a real cluster (AQE on,
sensible shuffle partitioning, Arrow for any pandas exchange, UTC so
timestamps compare cleanly against a DuckDB oracle).  Only
``spark.driver.memory`` is local-mode specific.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "myfitnesspaw_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all
    local cores.  Shuffle partitioning is matched to the core count —
    the default 200 over-parallelizes small local runs and does nothing
    for us at scale because AQE coalesces anyway.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS), which the
        # vectorized parquet reader rejects; read as epoch-nanos long and
        # convert in the loader (sources/tables.py) — same nanos→micros
        # truncation DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Delete reliable-checkpoint files (checkpoints.py) once their
        # frame is garbage-collected; localCheckpoint is unaffected.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def create_frame(spark: SparkSession, data, schema) -> DataFrame:
    """``spark.createDataFrame(data, schema=schema)`` that leaves the
    thread's active session as it found it.

    ``createDataFrame`` makes ``spark`` the active session (on both the
    Python class and the JVM thread-local), so a library call on some
    other session would silently move the caller's."""
    jcls = SparkSession._get_j_spark_session_class(spark._jvm)
    prev_py = SparkSession._activeSession
    prev_j = jcls.getActiveSession()
    try:
        return spark.createDataFrame(data, schema=schema)
    finally:
        SparkSession._activeSession = prev_py
        if prev_j.isDefined():
            jcls.setActiveSession(prev_j.get())
        else:
            jcls.clearActiveSession()
