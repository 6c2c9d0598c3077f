"""Round-10 hardening: degenerate-input behavior pinned for the r7
ADVICE findings.

1. zero-norm vectors: the map-side centroid probe (the streaming
   monitor's path) must rank a NULL cosine (try_divide by a zero norm)
   LAST, exactly like ``ivf_assign`` — otherwise the monitor==batch and
   merge==rebuild invariants silently diverge the day a zero vector
   enters the corpus;
2. streaming resolver: a null edge endpoint is skipped (mirroring the
   distributed path's null-key join semantics) instead of raising
   TypeError inside foreachBatch, and non-string ids compare as their
   string cast on BOTH state placements;
3. ``IncrementalResolver.restore`` honors the saving instance's
   driver_threshold — a forced-distributed resolver is not demoted
   onto the driver on resume;
4. ``pagerank`` on an empty edge list returns an explicit empty
   (node, rank_scaled, rank) frame, not a divide-by-zero plan;
5. replay stages are content-keyed (a regenerated source gets a fresh
   stage) and live under a user-private mode-0700 root.
"""

from __future__ import annotations

import os
import shutil

import pytest

from prosnet_prefect_pipelines_spark.operators import similarity as S
from prosnet_prefect_pipelines_spark.operators.ranking import pagerank
from prosnet_prefect_pipelines_spark.streaming.resolve import IncrementalResolver
from prosnet_prefect_pipelines_spark.streaming.staging import (
    replay_stage,
    source_fingerprint,
)


@pytest.fixture(scope="module")
def degenerate_vecs(spark):
    # id 0 is the ZERO vector and (lowest id) becomes a centroid:
    # every cosine against it is null on the Spark side
    rows = [
        (0, [0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.6, 0.8, 0.0]),
        (4, [0.0, 0.0, 0.0]),  # zero QUERY vector too
        (5, [0.8, 0.0, 0.6]),
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_zero_norm_probe_matches_ivf_assign(spark, degenerate_vecs):
    n_cells, nprobe = 2, 2
    want = {
        (r.id, r.cell_rank): r.cell
        for r in S.ivf_assign(
            degenerate_vecs, "vec_id", "embedding",
            n_cells=n_cells, rank_limit=nprobe,
        ).collect()
    }
    # array-carried probe (the streaming monitor's path)
    carr = S.centroid_array(
        S.seed_centroids(degenerate_vecs, "vec_id", "embedding", n_cells)
    )
    vecs = S.vector_rows(degenerate_vecs, "vec_id", "embedding")
    got_arr = {
        (r.id, r.cell_rank): r.cell
        for r in S.assign_cells(vecs, carr, k=nprobe).collect()
    }
    assert got_arr == want
    # the zero centroid (cid 0) scores NULL and ranks last; the zero
    # query scores NULL everywhere and falls back to the lowest cid
    assert (want[(1, 1)], want[(1, 2)]) == (1, 0)
    assert (want[(4, 1)], want[(4, 2)]) == (0, 1)


def test_resolver_null_edges_and_int_ids(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (2, 3), (11, 2)],
        "src int, dst int",
    )
    # driver placement: must not raise on None, must string-order ids
    # ("11" < "2" as strings — the distributed path casts to string, so
    # the driver path must label the component "11", not 1... i.e. both
    # paths agree on the STRING min)
    r = IncrementalResolver(spark, driver_threshold=1000)
    r.update(edges)
    driver_rows = {(x.node, x.comp) for x in r.mapping().collect()}

    # distributed placement on the same edges (threshold 0 spills after
    # the first batch; feed a second batch through the contraction path)
    r2 = IncrementalResolver(spark, driver_threshold=0)
    r2.update(edges)
    assert not r2._driver
    r2.update(edges)  # exercises the distributed null-drop path
    dist_rows = {(x.node, x.comp) for x in r2.mapping().collect()}

    assert driver_rows == dist_rows
    comps = {c for _, c in driver_rows}
    assert comps == {"1"}  # "1" < "11" < "2" < "3" as strings
    assert {n for n, _ in driver_rows} == {"1", "11", "2", "3"}


def test_resolver_restore_honors_threshold(spark, tmp_path):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    r = IncrementalResolver(spark, driver_threshold=0)
    r.update(edges)
    assert not r._driver
    path = str(tmp_path / "resolver_state")
    r.save(path)

    forced = IncrementalResolver.restore(spark, path, driver_threshold=0)
    assert not forced._driver  # no silent demotion onto the driver

    dflt = IncrementalResolver.restore(spark, path)
    assert dflt._driver  # small state, default threshold -> driver path

    want = {(x.node, x.comp) for x in r.mapping().collect()}
    assert {(x.node, x.comp) for x in forced.mapping().collect()} == want
    assert {(x.node, x.comp) for x in dflt.mapping().collect()} == want


def test_pagerank_empty_edges(spark):
    e = spark.createDataFrame([], "src string, dst string")
    out = pagerank(e)
    assert out.columns == ["node", "rank_scaled", "rank"]
    assert out.count() == 0


def test_replay_stage_content_keyed(spark, sf_dir, tmp_path):
    src = os.path.join(str(tmp_path), "region_copy.parquet")
    orig = f"{sf_dir}/region.parquet"
    if os.path.isdir(orig):
        shutil.copytree(orig, src)
    else:
        shutil.copy2(orig, src)
    df = spark.read.parquet(src)

    s1 = replay_stage(df, src, "t_region", n_files=2)
    s2 = replay_stage(df, src, "t_region", n_files=2)
    assert s1 == s2  # built once, reused
    assert len([f for f in os.listdir(s1) if f.endswith(".parquet")]) == 2

    root = os.path.dirname(s1)
    st = os.stat(root)
    assert st.st_uid == os.getuid()
    assert st.st_mode & 0o077 == 0  # user-private

    # "regenerate" the source: fingerprint and stage key must change
    fp_before = source_fingerprint(src)
    target = src
    if os.path.isdir(src):
        target = os.path.join(
            src, sorted(f for f in os.listdir(src) if not f.startswith("."))[0]
        )
    os.utime(target, ns=(os.stat(target).st_atime_ns, os.stat(target).st_mtime_ns + 1))
    assert source_fingerprint(src) != fp_before
    s3 = replay_stage(df, src, "t_region", n_files=2)
    assert s3 != s1
