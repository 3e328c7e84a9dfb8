"""Materialization barriers with a scale-safe reliability knob.

The engine truncates lineage / pins multi-consumer intermediates with
``localCheckpoint()`` — the right default for a latency bench and for
compact tables (it stores blocks on executors: fast, no external
storage round-trip).  But ``localCheckpoint`` is NOT fault-tolerant:
blocks live only in executor storage, so an executor loss (or dynamic
deallocation) kills the query, and an INSTANCE-SIZED materialization
(a corpus × grams exploded table) pins executor memory/disk
proportional to the corpus.

``materialize_instance_sized`` is the barrier for exactly those sites.
By default it is ``localCheckpoint``.  Setting conf
``spark.myfitnesspaw.checkpoint.dir`` routes them to a RELIABLE
checkpoint: blocks go to the given directory (HDFS/object store on a
cluster), the lineage is equally truncated, and executor loss only
re-reads files.  That is the 100 TB posture for every instance-sized
barrier; compact-table barriers (signature tables, candidate lists,
centroid assignments, CC round labels) intentionally stay
``localCheckpoint`` — they are small multiples of the key space, and
recomputing them on executor loss is cheaper than writing them out.

Spark deletes reliable-checkpoint files only when the SparkContext
starts with ``spark.cleaner.referenceTracking.cleanCheckpoints=true``;
without it every reliable barrier leaves an instance-sized copy under
the checkpoint dir.  ``session.get_spark`` sets it.  It is a
context-start setting, so a host-built session must set it too.  It
has no effect on the ``localCheckpoint`` default.
"""

from __future__ import annotations

import logging
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame

from myfitnesspaw_spark.config import checkpoint_dir

_logger = logging.getLogger(__name__)


def _dir_key(uri: str) -> str:
    """Comparable form of a checkpoint dir: local paths absolute,
    ``file:`` scheme dropped; other URIs as given."""
    u = urlparse(uri)
    if u.scheme in ("", "file"):
        return os.path.abspath(u.path)
    return uri.rstrip("/")


def materialize_instance_sized(df: DataFrame) -> DataFrame:
    """Materialization barrier for instance-sized intermediates.

    Default: ``localCheckpoint()`` (executor-local, non-fault-tolerant
    — the bench/local posture).  With a reliable checkpoint dir
    configured, uses ``Dataset.checkpoint()`` against it instead; the
    dir is set on the SparkContext once, on first use.  A SparkContext
    that already checkpoints elsewhere keeps its dir, with a warning.
    """
    spark = df.sparkSession
    target = checkpoint_dir(spark)
    if not target:
        return df.localCheckpoint()
    sc = spark.sparkContext
    current = sc.getCheckpointDir()
    if current is None:
        sc.setCheckpointDir(target)
    # Spark checkpoints into a random subdirectory of the dir it is given.
    elif _dir_key(os.path.dirname(current.rstrip("/"))) != _dir_key(target):
        _logger.warning(
            "SparkContext already checkpoints to %s; "
            "spark.myfitnesspaw.checkpoint.dir=%s is ignored",
            current,
            target,
        )
    return df.checkpoint()
