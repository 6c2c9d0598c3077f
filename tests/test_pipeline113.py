"""Batch 113 invariants (the oracle hash-match is the primary gate;
these pin the semantic claims the oracles can't state directly)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans import q_pipeline113 as P113
from prosnet_prefect_pipelines_spark.plans.q_pipeline113 import (
    q_neardup_bucket_skew_report,
    q_neardup_index_merge,
)
from prosnet_prefect_pipelines_spark.plans.q_dedup import corpus
from prosnet_prefect_pipelines_spark.streaming.tuning import (
    replay_progress,
    staged_row_count,
    stream_shuffle_partitions,
)

_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "PythonUDF")


def test_index_merge_histogram_accounts_for_every_membership(spark, sf_dir):
    """sum(bucket_size * n_buckets) over the merged histogram == 4 bands
    x |corpus| — every document lands in exactly one bucket per band,
    merge loses and invents nothing."""
    hist = q_neardup_index_merge(spark, sf_dir)
    total = hist.agg(
        F.sum(F.col("bucket_size") * F.col("n_buckets")).alias("m")
    ).collect()[0].m
    n_docs = corpus(spark, sf_dir).count()
    assert total == 4 * n_docs
    assert hist.select("band").distinct().count() == 4


def test_skew_report_order_statistics_sane(spark, sf_dir):
    """Per band: p50 <= p90 <= max, singletons <= buckets, and the
    flood mass (members_over_cap) is zero iff no bucket exceeds the cap."""
    rows = q_neardup_bucket_skew_report(spark, sf_dir).collect()
    assert len(rows) == 4
    for r in rows:
        assert 1 <= r.p50_bucket <= r.p90_bucket <= r.max_bucket
        assert 0 <= r.n_singletons <= r.n_buckets
        assert (r.n_over_cap == 0) == (r.members_over_cap == 0)
        if r.n_over_cap:
            assert r.members_over_cap > 32 * r.n_over_cap - 32


def _monitor_replay(spark, sf_dir, monkeypatch):
    """(the finished replay query, the monitor's result frame)."""
    run, replays = P113.run_available_now, []

    def spy(df, **kw):
        replays.append(run(df, **kw))
        return replays[-1]

    monkeypatch.setattr(P113, "run_available_now", spy)
    df = P113.q_stream_neardup_monitor(spark, sf_dir)
    (q,) = replays
    return q, df


def test_neardup_replay_is_sized_to_its_batch(spark, sf_dir, monkeypatch):
    """The witness runs at the width its own estimate asks for (no
    core-count floor), and each micro-batch is shingled and min-hashed
    once: both join sides and the emitted band rows read one
    (band, bucket) exchange."""
    q, _ = _monitor_replay(spark, sf_dir, monkeypatch)
    est_rows = staged_row_count(spark, f"{sf_dir}/documents.parquet") * 4
    width = stream_shuffle_partitions(spark, est_rows, n_batches=1)
    ops = [op for b in replay_progress("stream_neardup_monitor")
           for op in b["stateOperators"]]
    assert ops and {op["numShufflePartitions"] for op in ops} == {width}
    phys = q._jsq.explainInternal(True).split("== Physical Plan ==")[-1]
    assert phys.count("Generate posexplode") == 1
    assert "ReusedExchange" in phys


def test_neardup_monitor_runs_in_the_jvm(spark, sf_dir, monkeypatch):
    """stream_neardup_monitor starts no Python worker: the replay's last
    executed plan witnesses with a stream-stream join, not
    FlatMapGroupsInPandasWithState, and the returned verification plan
    shingles without a pandas UDF."""
    q, df = _monitor_replay(spark, sf_dir, monkeypatch)
    replay_plan = q._jsq.explainInternal(False)
    assert "StreamingSymmetricHashJoin" in replay_plan
    assert "FlatMapGroupsInPandasWithState" not in replay_plan
    result_plan = df._jdf.queryExecution().executedPlan().toString()
    found = [n for n in _PYTHON_NODES if n in replay_plan + result_plan]
    assert not found, found
    ops = {op["operatorName"] for b in replay_progress("stream_neardup_monitor")
           for op in b["stateOperators"]}
    assert ops == {"symmetricHashJoin"}
    assert df.count() > 0
