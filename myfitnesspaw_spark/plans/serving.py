"""Serve small report tables from a per-data-version, driver-resident
snapshot.

A report's answer only changes when its input files do, so each key
(report name + arguments) keeps ONE snapshot: the full report table
collected once and re-registered as a ``LocalRelation``
(``createDataFrame`` over Arrow, below the session's
``spark.sql.execution.arrow.localRelationThreshold``).  Catalyst folds
a caller's ``where``/``select`` into that relation, so serving a
request starts no Spark job.

The version is the SparkContext ``applicationId`` plus the
(path, size, ``st_mtime_ns``) listing of the input table files, read
with ``os.stat`` BEFORE the build: files that change during a build
leave the entry one version behind, and the next request rebuilds.  A
newer version (or a new SparkContext) replaces the entry.  Inputs that
``os.stat`` cannot see (remote URIs) are served from the plan
directly, uncached.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Hashable, Iterable

from pyspark.sql import DataFrame, SparkSession

_lock = threading.Lock()
# key -> (version, snapshot): one entry per key, replaced on a new version
_memo: dict[Hashable, tuple[tuple, DataFrame]] = {}


def data_version(spark: SparkSession, sf_dir: str, tables: Iterable[str]) -> tuple | None:
    """(applicationId, sorted file listing with size and mtime), or
    None when an input is not a local path."""
    listing = []
    try:
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(path):
                files = [os.path.join(r, n) for r, _, ns in os.walk(path) for n in ns]
            else:
                files = [path]
            for f in files:
                st = os.stat(f)
                listing.append((f, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return spark.sparkContext.applicationId, tuple(sorted(listing))


def snapshot(
    spark: SparkSession,
    key: Hashable,
    sf_dir: str,
    tables: Iterable[str],
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The driver-resident table of ``build()`` for the current data
    version; ``build`` runs once per version, under a lock that hits
    never wait for."""
    version = data_version(spark, sf_dir, tables)
    if version is None:
        return build()
    hit = _memo.get(key)
    if hit is None or hit[0] != version:
        with _lock:
            hit = _memo.get(key)
            if hit is None or hit[0] != version:
                df = build()
                hit = (version, spark.createDataFrame(df.toArrow(), schema=df.schema))
                _memo[key] = hit
    return hit[1]
