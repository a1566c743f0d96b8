"""Scale-adaptive shuffle/state partitioning for streaming replays.

AQE partition coalescing is unavailable inside Structured Streaming
(``ResolveWriteToStream`` force-disables it), so a streaming query's
shuffle — and, for stateful operators, its STATE STORE partition count —
is pinned at whatever ``spark.sql.shuffle.partitions`` says at query
start. The session default is sized to cores, which is the right order
for the batch tier (where AQE coalesces the small cases at runtime) but
a pure fixed overhead for a replay micro-batch: every state partition
pays store open/commit + task launch per batch regardless of how few
rows it holds (guide §2: make partitioning scale-adaptive, derive from
input size, rather than a constant tuned for either local mode or the
cluster).

:func:`stream_shuffle_partitions` derives the partition count from the
*measured* staged input (rows per micro-batch), clamped to a floor that
keeps multi-core parallelism and a ceiling that scales with the
cluster (4x default parallelism by default). At bench scale
(~1-2k rows/batch) this lands at the floor; at 100 TB the per-batch row
estimate pushes it to the ceiling, so a cluster run keeps full-width
state partitioning. Both dials are env-overridable for production
tuning (``SPARK_GRAFT_STREAM_ROWS_PER_PARTITION``,
``SPARK_GRAFT_STREAM_MAX_PARTITIONS``).

Measured (r11 opt round, sf0.1 preference monitor, local[32], warm):
32 state partitions 5.58-5.67 s -> 8 partitions 3.85-4.05 s per replay;
results bit-identical (hash partitioning of groups only moves rows
between tasks, never between groups).
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager

from prosnet_prefect_pipelines_spark.session import memo

_MIN_PARTITIONS = 8

# opt r12: the monitors' width ESTIMATES were fed by spark.read.parquet(
# path).count() jobs at every plan construction — at 100 TB a corpus
# pass per plan build (same class as session_similarity's plan-build
# distinct scan, VERDICT r11 issue 1). The count feeds a partition-width
# decision only, never results; memoize it per (session, path). A
# session.memo entry, so bench repeat-cold passes still pay one count.
def staged_row_count(spark, path: str) -> int:
    """Memoized parquet row count for partitioning estimates."""
    return memo(
        spark, ("tuning.row_count", path),
        lambda: spark.read.parquet(path).count(),
    )


def stream_shuffle_partitions(spark, est_rows: int, n_batches: int = 4) -> int:
    """Partition count for a replay stream: rows-per-batch / target,
    clamped to [8, max(4 x defaultParallelism, session default)]."""
    rows_per_batch = max(1, int(est_rows) // max(1, n_batches))
    target = int(
        os.environ.get("SPARK_GRAFT_STREAM_ROWS_PER_PARTITION", "2000")
    )
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cap = int(
        os.environ.get(
            "SPARK_GRAFT_STREAM_MAX_PARTITIONS",
            str(max(4 * spark.sparkContext.defaultParallelism, default)),
        )
    )
    return max(_MIN_PARTITIONS, min(cap, math.ceil(rows_per_batch / target)))


def candidate_fanout(spark, est_cands_per_batch: float) -> int:
    """Fan-out width for a stateless compute-bound replay batch (ANN
    candidate scoring): candidates-per-task is the unit of work, not
    state rows, so the per-partition target is orders of magnitude
    higher than the state-store target above. 250k dim-64 cosines per
    task keeps tasks ~0.25-1 s at the measured ~1M cands/s/task rate
    (scripts/stress_ann_serving.py: 200M candidates/batch ran 6 s at 32
    partitions = 6.25M/task); below that, task-launch overhead
    dominates. Clamped like the state count: floor 8 keeps multi-core
    parallelism locally, ceiling 4x parallelism restores full width at
    cluster candidate volumes. Env-overridable for production tuning."""
    target = int(
        os.environ.get("SPARK_GRAFT_STREAM_CANDS_PER_PARTITION", "250000")
    )
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cap = int(
        os.environ.get(
            "SPARK_GRAFT_STREAM_MAX_PARTITIONS",
            str(max(4 * spark.sparkContext.defaultParallelism, default)),
        )
    )
    return max(
        _MIN_PARTITIONS,
        min(cap, math.ceil(max(1.0, est_cands_per_batch) / target)),
    )


@contextmanager
def pinned_partitions(spark, n: int):
    """Pin ``spark.sql.shuffle.partitions`` to an explicit count for a
    replay (same restore discipline as :func:`stream_partitioning`, for
    callers that derived the count themselves)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    try:
        yield int(n)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@contextmanager
def stream_partitioning(spark, est_rows: int, n_batches: int = 4):
    """Pin ``spark.sql.shuffle.partitions`` to the adaptive count for
    the duration of a replay (set -> start -> awaitTermination ->
    restore). ``StreamExecution`` clones the session conf at query
    start, so the restore never races the running stream; batch work
    outside the ``with`` block keeps the session default (where AQE
    coalescing applies)."""
    n = stream_shuffle_partitions(spark, est_rows, n_batches)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
