"""Scale-adaptive shuffle/state sizing for micro-batch streams (guide §2.2).

A stateful streaming query fixes its number of state-store partitions at
the FIRST micro-batch from ``spark.sql.shuffle.partitions`` and pins it in
the checkpoint (on restart Spark reads the count back from the offset log
and ignores the session conf — which is also why restarts against an
existing checkpoint are unaffected by this helper).  The session default
(one partition per core on ``local[$SPARK_GRAFT_CPUS]``; hundreds to
thousands on a cluster) is sized for batch shuffles, not for a stream's
state: every micro-batch pays one state-store commit (delta file write +
fsync) and one task PER PARTITION regardless of how many rows the
partition holds, so a stream whose entire backlog is a few MB spends more
wall on empty per-partition commits than on data.

:func:`stream_shuffle_partitions` derives the partition count from the
staged source size — the same bytes-per-partition reasoning as AQE's
``advisoryPartitionSizeInBytes``, applied where AQE cannot reach (AQE
coalescing does not apply to the stateful-operator shuffle because the
state layout must stay stable across batches).  The session default is
the CAP, never exceeded: a TB-scale backlog on a production cluster keeps
the cluster-sized partition count, a KB-scale replay gets the handful of
partitions its state actually needs.  A caller that wants a fixed count
sets ``spark.sql.shuffle.partitions`` itself and skips this helper.

Correctness is partition-count-independent: state is hash-partitioned by
group key, so any count yields the same groups, joins and outputs — only
the physical layout changes (pinned by the streaming equivalence queries,
whose oracle hashes are computed from the final batch read-back).
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Mirrors spark.sql.adaptive.advisoryPartitionSizeInBytes' order of
# magnitude for shuffle sizing; source bytes overestimate shuffle bytes
# (projection narrows them), so this errs toward more partitions.
_ADVISORY_BYTES = 32 << 20


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def derive_stream_partitions(
    spark: SparkSession,
    source_dir: str,
    advisory_bytes: int = _ADVISORY_BYTES,
) -> int:
    """Partition count for a file-replay stream: staged bytes / advisory,
    clamped to [1, session shuffle partitions]."""
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = math.ceil(max(1, _dir_bytes(source_dir)) / advisory_bytes)
    return max(1, min(n, session_parts))


@contextmanager
def stream_shuffle_partitions(spark: SparkSession, source_dir: str):
    """Run a (synchronous) stream with scale-derived shuffle partitions.

    The conf must hold from query planning through the first batch, so the
    caller keeps the whole start→awaitTermination span inside the block;
    the previous session value is restored on exit even on error.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    parts = derive_stream_partitions(spark, source_dir)
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
