"""Materialization barriers with a scale-safe reliability knob.

The engine truncates lineage / pins multi-consumer intermediates with
``localCheckpoint()`` — the right default for a latency bench and for
compact tables (it stores blocks on executors: fast, no external
storage round-trip).  But ``localCheckpoint`` is NOT fault-tolerant:
blocks live only in executor storage, so an executor loss (or dynamic
deallocation) kills the query, and an INSTANCE-SIZED materialization
(a corpus × grams exploded table) pins executor memory/disk
proportional to the corpus (VERDICT r20 #3/#5, ADVICE r20).

``materialize_instance_sized`` is the barrier for exactly those sites.
By default it is ``localCheckpoint`` (unchanged bench/local behavior).
Setting conf ``spark.myfitnesspaw.checkpoint.dir`` (or env
``SPARK_GRAFT_CHECKPOINT_DIR``) routes them to a RELIABLE checkpoint:
blocks go to the given directory (HDFS/object store on a cluster), the
lineage is equally truncated, and executor loss only re-reads files.
``session.get_spark`` sets
``spark.cleaner.referenceTracking.cleanCheckpoints=true``, so those
files are deleted once the checkpointed frame is garbage-collected.
That is the documented 100 TB posture for every instance-sized
barrier; compact-table barriers (signature tables, candidate lists,
centroid assignments, CC round labels) intentionally stay
``localCheckpoint`` — they are small multiples of the key space, and
recomputing them on executor loss is cheaper than writing them out.

Measured footprint and cost rows live in OPTIMIZATION_r21.md (the
knob's A/B at the K=32 corpus octave).
"""

from __future__ import annotations

import os
import warnings
from urllib.parse import urlparse

from pyspark.sql import DataFrame


def checkpoint_dir(spark) -> str | None:
    """The configured reliable-checkpoint directory, or None."""
    return (
        spark.conf.get("spark.myfitnesspaw.checkpoint.dir", None)
        or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        or None
    )


def _norm_dir(path: str) -> str:
    if path.startswith("file:"):
        path = urlparse(path).path
    return path.rstrip("/") if "://" in path else os.path.abspath(path)


def materialize_instance_sized(df: DataFrame) -> DataFrame:
    """Materialization barrier for instance-sized intermediates.

    Default: ``localCheckpoint()`` (executor-local, non-fault-tolerant
    — the bench/local posture).  With a reliable checkpoint dir
    configured, uses ``Dataset.checkpoint()`` against it instead; the
    dir is set on the SparkContext once, on first use.  A context whose
    checkpoint dir was already set elsewhere keeps it (the dir is
    context-wide, so changing it would move other callers' files) and
    a warning names both dirs.
    """
    spark = df.sparkSession
    target = checkpoint_dir(spark)
    if not target:
        return df.localCheckpoint()
    sc = spark.sparkContext
    current = sc.getCheckpointDir()
    if current is None:
        sc.setCheckpointDir(target)
    # setCheckpointDir writes into a fresh UUID subdirectory of target.
    elif _norm_dir(current.rstrip("/").rsplit("/", 1)[0]) != _norm_dir(target):
        warnings.warn(
            f"SparkContext checkpoint dir is already {current}; "
            f"checkpointing there, not under the configured {target}",
            stacklevel=2,
        )
    return df.checkpoint()
