"""Checkpoint-hygiene helpers (session.py): targeted unpersist of dead
localCheckpoints, protection of session-lifetime memoized fixtures, and
the between-query sweep the bench / self-sweep harnesses run.

Why this exists: ``DataFrame.localCheckpoint`` persists the physical RDD
and nothing in the public API ever releases it, so a 570-query
one-session sweep accumulates every query's fixpoint/stream state until
LRU spill churn sets in. The sweep frees those blocks — but it must
never touch the memoized corpus/triples fixtures that LATER queries
still read (a truncated-lineage checkpoint is unrecomputable once its
blocks are gone; r8 observed exactly that failure before the protection
registry existed).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.session import (
    _MEMO_FIXTURES,
    _PROTECTED_CKPT_IDS,
    memo_fixture,
    protect_checkpoint,
    reset_memo_fixtures,
    sweep_persistent_rdds,
    unpersist_checkpoint,
)


def _n_persistent(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def test_unpersist_checkpoint_releases_blocks(spark):
    sweep_persistent_rdds(spark)
    base = _n_persistent(spark)
    ck = spark.range(1000).select("id", (F.col("id") * 2).alias("y")).localCheckpoint()
    assert ck.count() == 1000
    assert _n_persistent(spark) == base + 1
    unpersist_checkpoint(ck)
    assert _n_persistent(spark) == base


def test_unpersist_checkpoint_ignores_plain_frames(spark):
    df = spark.range(10)
    unpersist_checkpoint(df)  # not checkpoint-backed: must not raise
    assert df.count() == 10


def test_protect_checkpoint_rejects_plain_frames(spark):
    """A protection that cannot take effect must fail loudly: a plain
    frame has no checkpoint RDD to exempt from the sweep."""
    with pytest.raises(ValueError):
        protect_checkpoint(spark.range(10))


def test_sweep_skips_protected_fixtures(spark):
    sweep_persistent_rdds(spark)
    fixture = spark.range(500).select("id").localCheckpoint(eager=False)
    protect_checkpoint(fixture)
    dead = spark.range(200).select("id").localCheckpoint()
    assert dead.count() == 200
    assert fixture.count() == 500  # materialize the lazy checkpoint
    swept = sweep_persistent_rdds(spark)
    assert swept >= 1
    # the protected fixture must still be persisted AND readable
    assert _n_persistent(spark) >= 1
    assert fixture.count() == 500
    unpersist_checkpoint(fixture)


def test_memoized_corpus_survives_sweep(spark, sf_dir):
    """The q_dedup corpus memo registers itself as protected: a sweep
    between two queries that share it must not break the second one."""
    from prosnet_prefect_pipelines_spark.plans.q_dedup import corpus

    c = corpus(spark, sf_dir)
    n1 = c.count()
    sweep_persistent_rdds(spark)
    n2 = corpus(spark, sf_dir).count()  # same memoized frame, post-sweep
    assert n1 == n2 > 0


def test_sweep_between_dedup_builds_keeps_memos_readable(spark, sf_dir):
    """Build dedup_minhash_lsh, sweep, then build and collect
    dedup_clusters from fresh memos: the q_dedup memos are materialized
    when they are memoized, so no unexecuted lineage of theirs reads a
    checkpoint block the sweep dropped (a lazy memo failed here with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    from prosnet_prefect_pipelines_spark.plans import catalog

    qs = catalog.load()[0]
    reset_memo_fixtures(spark)
    qs["dedup_minhash_lsh"](spark, sf_dir)
    sweep_persistent_rdds(spark)
    assert qs["dedup_clusters"](spark, sf_dir).collect()


def test_protection_is_app_scoped(spark):
    """Protected ids are keyed by application id (r12 ADVICE): a stale
    id recorded under a dead SparkContext must not exempt a fresh RDD
    with the colliding integer id from the sweep."""
    sweep_persistent_rdds(spark)
    base = _n_persistent(spark)
    ck = spark.range(300).localCheckpoint()
    assert ck.count() == 300
    rdd_id = int(ck._jdf.queryExecution().analyzed().rdd().id())
    # simulate a stale protection from a previous context: same integer
    # id, different app — the sweep must still release the block AND
    # prune the stale entry
    _PROTECTED_CKPT_IDS.add(("app-from-a-dead-context", rdd_id))
    swept = sweep_persistent_rdds(spark)
    assert swept >= 1
    assert _n_persistent(spark) == base
    assert ("app-from-a-dead-context", rdd_id) not in _PROTECTED_CKPT_IDS


def test_reset_memo_fixtures_forces_rebuild(spark, sf_dir):
    """reset_memo_fixtures returns the session to first-touch state:
    caches empty, protections dropped, blocks swept — the next corpus()
    call rebuilds rather than reusing a dangling checkpoint."""
    from prosnet_prefect_pipelines_spark.plans.q_dedup import corpus

    c = corpus(spark, sf_dir)
    n1 = c.count()
    assert any(k[1:] == ("corpus", sf_dir) for k in _MEMO_FIXTURES)  # memoized
    reset_memo_fixtures(spark)
    assert not _MEMO_FIXTURES
    assert not _PROTECTED_CKPT_IDS
    c2 = corpus(spark, sf_dir)
    assert c2 is not c  # rebuilt, not the dangling frame
    assert c2.count() == n1


def test_memo_fixture_hits_evicts_and_resets(spark):
    """One store for every memo: a hit returns the stored object, a miss
    evicts entries of dead applications, every DataFrame of a result is
    protected, and reset_memo_fixtures empties the store and drops the
    protections."""
    reset_memo_fixtures(spark)
    app = spark.sparkContext.applicationId
    builds = []

    def frame():
        builds.append("frame")
        return spark.range(50).localCheckpoint(eager=False)

    def pair():
        builds.append("pair")
        return spark.range(20).localCheckpoint(), 20

    f1 = memo_fixture(spark, ("test_frame",), frame)
    assert memo_fixture(spark, ("test_frame",), frame) is f1
    _MEMO_FIXTURES[("app-from-a-dead-context", "test_frame")] = f1
    p1 = memo_fixture(spark, ("test_pair", 1), pair)
    assert memo_fixture(spark, ("test_pair", 1), pair) is p1
    assert builds == ["frame", "pair"]
    assert set(_MEMO_FIXTURES) == {(app, "test_frame"), (app, "test_pair", 1)}
    protected = {
        (app, int(df._jdf.queryExecution().analyzed().rdd().id()))
        for df in (f1, p1[0])
    }
    assert protected <= _PROTECTED_CKPT_IDS

    # a result frame that cannot be protected is an error, never stored
    with pytest.raises(ValueError):
        memo_fixture(spark, ("test_plain",), lambda: spark.range(3))
    assert (app, "test_plain") not in _MEMO_FIXTURES

    reset_memo_fixtures(spark)
    assert not _MEMO_FIXTURES
    assert not _PROTECTED_CKPT_IDS
    assert memo_fixture(spark, ("test_frame",), frame) is not f1
    assert builds == ["frame", "pair", "frame"]
    reset_memo_fixtures(spark)
