"""Degenerate vectors through the package's one centroid selection
(``similarity.nearest_centroids`` / ``assign_cells``).

1. a centroid with an infinite component scores NaN against every
   vector; the batch ``ivf_assign`` and the streaming monitor's probe
   (``assign_cells`` over the broadcast centroid array) must still put
   every vector in the same cell — NaN ranks first under
   ``ORDER BY score DESC``, as in the DuckDB oracles;
2. a zero-norm vector scores NULL (try_divide) and ranks last instead
   of raising DIVIDE_BY_ZERO, both when ``pq_encode_with`` encodes it
   and when a k-means assignment step meets it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import similarity as S


def _vectors(df):
    return df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        S.norm(F.col("embedding")).alias("nv"),
    )


def test_nonfinite_centroid_batch_and_stream_agree(spark):
    inf = float("inf")
    df = spark.createDataFrame(
        [
            (0, [inf, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.6, 0.8, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    batch = {
        r.id: r.cell
        for r in S.ivf_assign(df, "vec_id", "embedding", n_cells=2).collect()
    }
    carr = S.centroid_array(S.seed_centroids(df, "vec_id", "embedding", 2))
    probe = {r.id: r.cell for r in S.assign_cells(_vectors(df), carr).collect()}
    assert probe == batch
    # centroid 0 scores NaN for every vector, and NaN ranks first
    assert batch == {0: 0, 1: 0, 2: 0, 3: 0}


@pytest.fixture(scope="module")
def planar(spark):
    """8 non-degenerate 4-d float vectors (two subspaces of 2)."""
    rows = [
        (i, [float((i * 3 + d * 5) % 7 - 3) + 0.5 for d in range(4)])
        for i in range(1, 9)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_encode_with_zero_vector_ranks_null_last(spark, planar):
    cbs = S.pq_codebooks(planar, "vec_id", "embedding", 4, n_sub=2, n_cells=3)
    zero = spark.createDataFrame(
        [(100, [0.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    got = {
        r.sub: (r.code, r.scos)
        for r in S.pq_encode_with(
            zero, "vec_id", "embedding", 4, cbs, n_sub=2
        ).collect()
    }
    # every score is NULL, so the tie falls to the lowest codeword id
    lowest = {
        r.sub: r.cid
        for r in cbs.groupBy("sub").agg(F.min("cid").alias("cid")).collect()
    }
    assert got == {s: (lowest[s], None) for s in (0, 1)}


def test_kmeans_step_zero_vector_ranks_null_last(spark, planar):
    zero = spark.createDataFrame(
        [(100, [0.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with_zero = planar.unionByName(zero)
    got = {
        r.cid: r.cv
        for r in S.kmeans_centroids(
            with_zero, "vec_id", "embedding", n_cells=3, iterations=2
        ).collect()
    }
    want = {
        r.cid: r.cv
        for r in S.kmeans_centroids(
            planar, "vec_id", "embedding", n_cells=3, iterations=2
        ).collect()
    }
    # the zero vector joins the lowest cell and adds nothing to its
    # direction, so the unit-norm centroids are unchanged
    assert got.keys() == want.keys()
    for cid in want:
        assert got[cid] == pytest.approx(want[cid], abs=1e-6)
