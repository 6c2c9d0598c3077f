"""The one bounded availableNow replay runner and its adaptive
partitioning (streaming/tuning.py). A source scan keeps
``trigger(availableNow=...)`` and ``.awaitTermination(`` out of every
package module but the runner."""

from __future__ import annotations

import ast
import os
import time

import pytest
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.streaming.tuning import (
    candidate_fanout,
    replay_progress,
    run_available_now,
    stream_shuffle_partitions,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "prosnet_prefect_pipelines_spark",
)


def test_width_follows_the_estimate(spark, monkeypatch):
    # no core-count floor: an empty partition still commits its state
    # stores every batch, so a bench-scale replay (~1.25k rows/batch)
    # runs on one partition; the cap is pinned above 20 so the
    # proportional branch runs on any core count
    monkeypatch.setenv("SPARK_GRAFT_STREAM_MAX_PARTITIONS", "64")
    assert stream_shuffle_partitions(spark, 5000, 4) == 1
    assert stream_shuffle_partitions(spark, 160_000, 4) == 20
    assert stream_shuffle_partitions(spark, 0, 4) == 1
    # ANN fan-out: candidates per batch over a 250k-per-task target
    assert candidate_fanout(spark, 3_900) == 1
    assert candidate_fanout(spark, 2_500_001) == 11
    assert candidate_fanout(spark, 0) == 1


def test_large_replay_scales_up_to_cap(spark):
    # 100 TB regime: per-batch rows push the count to the cluster cap
    # (4 x defaultParallelism by default), never below the session value
    cap = max(
        4 * spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    assert stream_shuffle_partitions(spark, 10_000_000_000, 4) == cap
    assert candidate_fanout(spark, 1e15) == cap


@pytest.fixture()
def id_stream(spark, tmp_path):
    """A 3-file stage of ids 0..29, replayed one file per micro-batch."""
    stage = str(tmp_path / "stage")
    spark.range(30).repartition(3, "id").write.parquet(stage)
    return (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def test_runner_pins_partitions_and_restores(spark, id_stream):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []

    def sink(batch_df, _bid):
        batch_df.collect()  # a stateful batch must be consumed to commit
        seen.append(batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    q = run_available_now(
        id_stream.groupBy(F.col("id") % 3).count(), sink=sink, name="pinned",
        output_mode="update", shuffle_partitions=11,
    )
    assert not q.isActive and q.name.startswith("pinned_")
    assert seen and set(seen) == {"11"}
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_memory_sink_returns_full_table(spark, id_stream):
    q = run_available_now(id_stream, sink="memory", name="ids")
    assert sorted(r.id for r in spark.table(q.name).collect()) == list(range(30))
    q = run_available_now(
        id_stream.groupBy((F.col("id") % 2).alias("p")).count(),
        sink="memory", name="parity", output_mode="complete",
    )
    assert {(r.p, r["count"]) for r in spark.table(q.name).collect()} == {
        (0, 15), (1, 15)
    }


def test_finished_replay_keeps_its_progress(spark, tmp_path):
    """The runner keeps each finished replay's per-batch record under its
    name: input rows, durationMs phases and per-operator state rows,
    memory and commit time. Two files, one micro-batch each, through a
    stateful dedup."""
    stage = str(tmp_path / "two")
    spark.range(20).repartition(2, "id").write.parquet(stage)
    src = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    assert replay_progress("two_batches") == []
    run_available_now(src.dropDuplicates(["id"]), sink="memory", name="two_batches")
    rec = replay_progress("two_batches")
    assert [b["batchId"] for b in rec] == [0, 1]
    assert sum(b["numInputRows"] for b in rec) == 20
    assert all(b["numInputRows"] > 0 for b in rec)
    for b in rec:
        assert {"addBatch", "queryPlanning", "walCommit", "commitOffsets"} <= set(
            b["durationMs"]
        )
        (op,) = b["stateOperators"]
        assert set(op) == {"operatorName", "numRowsTotal", "memoryUsedBytes",
                           "commitTimeMs", "numShufflePartitions",
                           "numStateStoreInstances"}
        assert op["memoryUsedBytes"] > 0 and op["commitTimeMs"] >= 0
        # unpinned: the session width, one store per state partition
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert op["numShufflePartitions"] == op["numStateStoreInstances"] == width
    assert rec[-1]["stateOperators"][0]["numRowsTotal"] == 20


def test_timeout_stops_raises_and_restores(spark, id_stream):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    running = []

    def sink(_batch_df, _bid):
        running.extend(spark.streams.active)
        time.sleep(3)

    with pytest.raises(RuntimeError, match=r"slow_[0-9a-f]{8} replay timed out"):
        run_available_now(
            id_stream, sink=sink, name="slow", shuffle_partitions=11, timeout_s=0.5
        )
    (q,) = {q.name: q for q in running}.values()
    assert q.name.startswith("slow_") and not q.isActive
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def _replay_calls(path: str) -> list[int]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and (
            node.func.attr == "awaitTermination"
            or (
                node.func.attr == "trigger"
                and any(k.arg == "availableNow" for k in node.keywords)
            )
        )
    ]


def test_only_the_runner_starts_replays():
    """availableNow replays have one idiom: ``run_available_now``."""
    tuning = os.path.join(PKG, "streaming", "tuning.py")
    with open(tuning) as fh:
        runner = next(
            n for n in ast.parse(fh.read()).body
            if isinstance(n, ast.FunctionDef) and n.name == "run_available_now"
        )
    found = {}
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py"):
                continue
            lines = _replay_calls(path)
            if path == tuning:
                inside = [n for n in lines if runner.lineno <= n <= runner.end_lineno]
                assert len(inside) == 2
                lines = [n for n in lines if n not in inside]
            if lines:
                found[os.path.relpath(path, PKG)] = lines
    assert not found, f"use streaming.tuning.run_available_now: {found}"
