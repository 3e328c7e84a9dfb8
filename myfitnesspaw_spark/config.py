"""Engine settings: the ``spark.myfitnesspaw.*`` knobs and scoped
session-conf overrides.

Every engine knob is a session conf, read per use (so a test or a
deployment can flip it between queries) through one typed reader:

- ``store.rebalance`` (default true): REBALANCE hint before index-store
  writes, so file count tracks the AQE advisory size.
- ``store.buckets`` (default 8): bucket count of bucketed index stores;
  0 writes the plain store.
- ``checkpoint.dir`` (default unset): instance-sized barriers use a
  reliable checkpoint there instead of ``localCheckpoint``.
- ``stateShufflePartitions`` (default cores/4, min 4): state-store
  partitions of stateful streaming queries.

A value the reader cannot parse raises ``ValueError`` naming the conf
and the value: a typo never silently flips a default.  Booleans accept
exactly ``true``/``false``/``1``/``0`` (any case).

The driver-contract environment variables (``SPARK_GRAFT_CPUS``,
``SPARK_GRAFT_SF_DIR``, ``SPARK_DRIVER_MEMORY``) are read where the
session and the table loader are built, not here.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

PREFIX = "spark.myfitnesspaw."
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def _raw(spark, name: str) -> str | None:
    """``spark.myfitnesspaw.<name>``, or None when unset or blank."""
    return (spark.conf.get(PREFIX + name, None) or "").strip() or None


def _bool(spark, name: str, default: bool) -> bool:
    """``spark.myfitnesspaw.<name>`` as a boolean."""
    value = _raw(spark, name)
    if value is None:
        return default
    if value.lower() in ("true", "1", "false", "0"):
        return value.lower() in ("true", "1")
    raise ValueError(f"{PREFIX}{name}={value!r}: expected true, false, 1 or 0")


def _int(spark, name: str, default: int | None, minimum: int) -> int | None:
    """``spark.myfitnesspaw.<name>`` as an integer ``>= minimum``."""
    value = _raw(spark, name)
    if value is None:
        return default
    if not re.fullmatch(r"-?\d+", value) or int(value) < minimum:
        raise ValueError(f"{PREFIX}{name}={value!r}: expected an integer >= {minimum}")
    return int(value)


def store_rebalance(spark) -> bool:
    return _bool(spark, "store.rebalance", True)


def store_buckets(spark) -> int:
    return _int(spark, "store.buckets", 8, minimum=0)


def checkpoint_dir(spark) -> str | None:
    return _raw(spark, "checkpoint.dir")


def state_shuffle_partitions(spark) -> int:
    """Shuffle-partition count for STATEFUL streaming queries.

    The state-store partition count is frozen at a streaming query's
    first run, and every partition carries fixed per-store cost (store
    init, commit files, maintenance) EVERY micro-batch — a
    stream-stream join holds 4 stores per partition.  Sizing it to
    ``defaultParallelism`` (the right call for batch shuffles) made the
    fixed cost dominate: the stream-stream join at sf0.1 ran 7.3 s with
    32 state partitions vs 2.5 s with 8.  State partitions should track
    STATE VOLUME, not core count — a quarter of the cores (min 4),
    overridable for deployments whose watermark-bounded state needs
    more spread.
    """
    n = _int(spark, "stateShufflePartitions", None, minimum=1)
    return n or max(4, spark.sparkContext.defaultParallelism // 4)


@contextmanager
def conf_override(spark, key: str, value):
    """Set session conf ``key`` to ``value`` for the ``with`` block;
    on exit restore the prior value, or unset the key if it had none
    (so a session default is not pinned to the override)."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def state_partition_scope(spark):
    """Run a stateful streaming query at :func:`state_shuffle_partitions`
    — the state-store count is frozen from the shuffle-partition conf at
    the query's first run (a caller's session may carry the 200 default)."""
    return conf_override(spark, SHUFFLE_PARTITIONS, state_shuffle_partitions(spark))
