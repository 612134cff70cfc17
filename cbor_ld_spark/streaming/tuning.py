"""Streaming state-store sizing (optimization guide §2.2/§9).

A stateful streaming query creates one state-store instance per shuffle
partition, and every micro-batch pays per-partition costs that are
independent of data volume: state-store init, delta + snapshot files
under the checkpoint, and commit-log entries.  With the session default
(32 partitions) a tiny-state query spends more wall time on state-store
file I/O than on data: the windowed-parity query measured 5.4-9.7 s at
32 state partitions vs 3.0-3.5 s at 4, same results.

The right number scales with STATE SIZE (distinct keys x bytes), not
with the core count, so the helper derives it from the known input row
count (~10k rows per state partition, at least 4), and the session's
shuffle parallelism stays the upper bound.  It is env-overridable for
production deployments (``SPARK_GRAFT_STREAM_STATE_PARTITIONS``).

Callers apply the count on a ``spark.newSession()`` (isolated SQL conf,
same SparkContext) and start their streams from that session, so the
caller's session conf is never mutated.  Spark pins the partition count
into the query's checkpoint on first start, so restarts resume with the
recorded value regardless of session conf.
"""

from __future__ import annotations

import os

from cbor_ld_spark.plans.partitioning import row_scaled

ROWS_PER_STATE_PARTITION = 10_000


def stream_state_partitions(spark, rows: int | None) -> int:
    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if env:
        return max(1, int(env))
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(cur, max(4, row_scaled(cur, rows,
                                      ROWS_PER_STATE_PARTITION)))


def state_session(spark, rows: int | None):
    """A ``spark.newSession()`` (isolated SQL conf, same SparkContext)
    sized by ``stream_state_partitions``: start the stateful streams
    from it and the caller's session conf is never touched, so
    concurrent queries cannot race on it.  Runtime SQL conf is not
    inherited by a new session, so the count is read from the caller
    and the session time zone is carried over (timestamp casts in the
    stream must agree with the caller's batch replica)."""
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
               str(stream_state_partitions(spark, rows)))
    s.conf.set("spark.sql.session.timeZone",
               spark.conf.get("spark.sql.session.timeZone"))
    return s
