"""Streaming IVF-PQ serving monitor (plans/q_pipeline118.py, batch 118).

Load-bearing claims for the oracle pairing, mirroring batch 115's test
strategy on the quantized path:

1. slicing-insensitivity: a query's candidate set is complete within
   its own micro-batch (static encoded index), so 1-file and 4-file
   replays produce the identical top-k table;
2. the replayed answer equals a pure-batch IVF-PQ pass over the same
   odd-queries/even-index split where the coarse probe is the
   WINDOW-ranked assignment (the oracle's formulation) instead of the
   monitor's map-side centroid-array probe — covering both the probe
   equivalence and the foreachBatch ranking in one equality;
3. restart recovery: the monitor is stateless, so periodic availableNow
   runs against one checkpointLocation must not re-emit consumed
   queries and must serve late arrivals against the same frozen index,
   the union over runs equalling one batch pass.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.operators import similarity as S
from prosnet_prefect_pipelines_spark.plans import q_pipeline118 as P
from prosnet_prefect_pipelines_spark.plans.q_pipeline115 import topk_sink


def _publish_file(df, stage: str, name: str) -> None:
    tmp = stage + ".build"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    os.makedirs(stage, exist_ok=True)
    os.replace(part, os.path.join(stage, name))
    shutil.rmtree(tmp, ignore_errors=True)


def test_replay_slicing_insensitive(spark, sf_dir, tmp_path):
    ref = {
        (r.qid, r.xid, r.adc_cos)
        for r in P.q_stream_ann_ivfpq_monitor(spark, sf_dir).collect()
    }
    assert ref

    odd = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
    )
    one = str(tmp_path / "stage1")
    odd.coalesce(1).write.parquet(one)

    def _one_file_stream(spark_, _sf):
        schema = spark_.read.parquet(one).schema
        stream = (
            spark_.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(one)
        )
        return stream, one

    orig = P._query_stream
    P._query_stream = _one_file_stream
    try:
        got = {
            (r.qid, r.xid, r.adc_cos)
            for r in P.q_stream_ann_ivfpq_monitor(spark, sf_dir).collect()
        }
    finally:
        P._query_stream = orig
    assert got == ref


def test_monitor_equals_batch_ivfpq_split(spark, sf_dir):
    """Batch twin computed WITHOUT streaming and WITHOUT the map-side
    probe: coarse assignment by the window-ranked cosine (the oracle's
    shape), ADC scoring against the same maintained index."""
    xcodes, carr, _cbarr, _n = P._pq_serving_index(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    even = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id", "embedding")
    # REFERENCE index: the pre-r12 vector-carrying struct form scored by
    # adc_cos_column — an independent implementation of the same ADC
    # arithmetic, so equality here PINS the LUT path's bit-identity
    cbs_ref = S.pq_codebooks(
        even, "vec_id", "embedding", 64, P._PQ_SUB, P._PQ_CELLS
    )
    codes_ref = S.pq_encode_with(
        even, "vec_id", "embedding", 64, cbs_ref, P._PQ_SUB
    ).select(F.col("id").alias("xid"), "sub", "code")
    xarr = S.pq_structs_array(codes_ref, cbs_ref).join(
        xcodes.select("xid", "cell"), on="xid"
    )
    cents = (
        even.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
        .orderBy("cid")
        .limit(P._PQ_CELLS)
    )
    wp = Window.partitionBy("qid").orderBy(
        F.round(
            S.dot(F.col("qv"), F.col("cv"))
            / (S.norm(F.col("qv")) * S.norm(F.col("cv"))),
            6,
        ).desc(),
        F.col("cid"),
    )
    probes = (
        odd.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
        .crossJoin(F.broadcast(cents))
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") == 1)
        .select(
            "qid",
            F.col("cid").alias("cell"),
            S.norm(F.col("qv")).alias("qn"),
            S.pq_query_slices(F.col("qv"), 64, P._PQ_SUB).alias("_qs"),
        )
    )
    scored = probes.join(F.broadcast(xarr), on="cell").select(
        "qid", "xid", S.adc_cos_column(P._PQ_SUB).alias("adc_cos")
    )
    wk = Window.partitionBy("qid").orderBy(F.col("adc_cos").desc(), F.col("xid"))
    want = {
        (r.qid, r.xid, r.adc_cos)
        for r in scored.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") <= P._K)
        .select("qid", "xid", "adc_cos")
        .collect()
    }
    got = {
        (r.qid, r.xid, r.adc_cos)
        for r in P.q_stream_ann_ivfpq_monitor(spark, sf_dir).collect()
    }
    assert got == want


def test_ivfpq_monitor_resumes_exactly_once(spark, tmp_path):
    """Offset-log-only restart: no re-emission of consumed queries,
    late arrivals served against the same frozen codes, union over runs
    == one batch pass."""
    stage = str(tmp_path / "stage")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def _vec(i: int):
        return [float((i * 7 + d * 3) % 11 - 5) for d in range(64)]

    def _emb(ids):
        return spark.createDataFrame(
            [(i, _vec(i)) for i in ids], "vec_id long, embedding array<float>"
        )

    index_src = _emb(range(0, 40, 2))
    xcodes, _assign, _cbs = S.pq_index(
        index_src, "vec_id", "embedding", dim=64, n_sub=4,
        n_cells_coarse=4, n_cells_code=4,
    )
    xcodes = xcodes.localCheckpoint(eager=True)
    cbarr = S.pq_codebook_array(_cbs).localCheckpoint(eager=True)
    carr = S.centroid_array(S.seed_centroids(index_src, "vec_id", "embedding", 4))

    def _cands(df):
        vecs = S.vector_rows(df, "vec_id", "embedding", ("qid", "v", "nv"))
        return P.ivfpq_candidates(vecs, carr, cbarr, xcodes)

    def _run():
        schema = spark.read.parquet(stage).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )

        sink = topk_sink(out, "qid", "adc_cos", "xid", 3, n_out=1)
        q = (_cands(src).writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    _publish_file(_emb(range(1, 20, 2)), stage, "day0.parquet")
    _run()
    first = {(r.qid, r.xid, r.adc_cos)
             for r in spark.read.parquet(out).collect()}
    assert first and all(i % 2 == 1 and i < 20 for i, _, _ in first)

    _run()  # nothing new arrived: must be a no-op
    assert {(r.qid, r.xid, r.adc_cos)
            for r in spark.read.parquet(out).collect()} == first

    _publish_file(_emb(range(21, 40, 2)), stage, "day1.parquet")
    _run()
    both = {(r.qid, r.xid, r.adc_cos)
            for r in spark.read.parquet(out).collect()}
    new = both - first
    assert new and all(i >= 21 for i, _, _ in new)

    batch = S.top_k(_cands(_emb(range(1, 40, 2))), "qid", "adc_cos", "xid", 3)
    want = {(r.qid, r.xid, r.adc_cos) for r in batch.collect()}
    assert both == want


def test_rerank_is_exact_over_the_adc_pool(spark, sf_dir):
    """Two-stage invariant (r12): pq_rerank_topk's winners are (a) a
    subset of the ADC top-10 candidate pool and (b) EXACTLY the
    brute-force cosine top-3 restricted to that pool — the stage-2 join
    eliminates within-pool quantization ranking error by
    construction."""
    from pyspark.sql.window import Window

    from prosnet_prefect_pipelines_spark.operators.similarity import (
        dot as _dot,
        ivf_pq_topk,
        norm as _norm,
    )
    from prosnet_prefect_pipelines_spark.plans.q_pipeline10 import (
        _RERANK_POOL,
        q_pq_rerank_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pool = ivf_pq_topk(
        emb, "vec_id", "embedding", dim=64, n_sub=4,
        n_cells_coarse=4, n_cells_code=4, k=_RERANK_POOL,
    ).select("qid", "xid")
    got = {(r.qid, r.xid, r.cos) for r in q_pq_rerank_topk(spark, sf_dir).collect()}
    pool_set = {(r.qid, r.xid) for r in pool.collect()}
    assert {(q, x) for q, x, _ in got} <= pool_set

    qv = emb.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("_qv"),
        _norm(F.col("embedding")).alias("_qn"),
    )
    xv = emb.select(
        F.col("vec_id").alias("xid"),
        F.col("embedding").alias("_xv"),
        _norm(F.col("embedding")).alias("_xn"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("xid"))
    want = {
        (r.qid, r.xid, r.cos)
        for r in pool.join(qv, on="qid").join(xv, on="xid")
        .select(
            "qid", "xid",
            F.round(
                _dot(F.col("_qv"), F.col("_xv"))
                / (F.col("_qn") * F.col("_xn")),
                6,
            ).alias("cos"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("qid", "xid", "cos")
        .collect()
    }
    assert got == want
