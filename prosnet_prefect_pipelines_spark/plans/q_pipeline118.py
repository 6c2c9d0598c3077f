"""Pipeline batch 118 (r11 stretch): streaming IVF-PQ serving monitor —
the quantized twin of batch 115's IVF monitor, closing the r8 verdict
note that ``ann_ivf_pq_topk`` had no streaming twin (the serving
monitor ranked against raw vectors; a production billion-vector server
ranks against PQ codes and never re-reads a candidate vector).

``stream_ann_ivfpq_monitor``: the even-vec_id half of the embeddings
table is indexed ONCE into the maintained IVF-PQ structure
(``similarity.pq_index`` — coarse cells + per-subspace codebooks +
codes pivoted to one array-carrying row per vector, the exact structure
the batch query scans); the odd half arrives as the SAME 4-micro-batch
query stream batch 115 replays (shared replay stage). Per micro-batch,
each query picks its nearest coarse cell entirely map-side
(``similarity.assign_cells`` over the broadcast seed-centroid array,
nprobe=1 — ``ivf_pq_topk``'s documented simplification; the index
side's ``pq_index`` assigns and encodes with the same selection),
probes the encoded index with one stream-static
equi-join, and is ADC-scored (integer-scaled per-subspace terms,
``similarity.adc_cos_lut`` over a per-query lookup table, r12) with
batch-local exact top-3.

Replay-oracle argument (same as batches 113-115): a query id arrives
exactly once and all its candidates come from the static side, so the
per-id ranking is complete within its own micro-batch — the union over
ANY micro-batch slicing equals the batch IVF-PQ answer over the same
halves. The DuckDB oracle replays the per-subspace kmeans trainer, the
encode, the coarse probe and the ADC sum relationally over the same
even/odd split.

Scale notes (100 TB): the index is built once and maintained (the
merge==rebuild invariant is ``ann_index_merge``'s, applied to codes:
encoding is a pure per-row function of (vector, FROZEN codebooks));
per-batch work is |batch| coarse probes map-side plus an equi-join
against one cell's worth of n_sub-byte codes — candidate bytes shrink
by dim*8/n_sub (~128x at dim=64, n_sub=4) vs the raw-vector monitor,
which is the whole point of serving from PQ. The monitor itself is
stateless (offset-log-only restart, like batch 115).

Reference parity: the reference pushes full documents to its search
index on every run (prosnet-prefect-pipelines push_to_typesense.py:49-51);
this is the quantized serving-native replacement.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import similarity as S
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_pipeline4 import (
    _PQ_CELLS,
    _PQ_SUB,
    _PQ_SUBDIM,
    _pq_cos,
)
from prosnet_prefect_pipelines_spark.plans.q_pipeline10 import (
    _DOT64,
    _ivfpq_cos64,
)
from prosnet_prefect_pipelines_spark.plans.q_pipeline115 import (
    _query_stream,
    _vectors,
    topk_sink,
)
from prosnet_prefect_pipelines_spark.session import memo_fixture
from prosnet_prefect_pipelines_spark.streaming.staging import scratch_root

_K = 3
_EVEN = "vec_id % 2 = 0"
_ODD = "vec_id % 2 = 1"


def _sub_sql(s: int) -> str:
    """One even-half PQ subspace: slice -> seed -> 1 Lloyd iteration ->
    codes — q_pipeline4's trainer CTEs with the index-half filter (the
    monitor's codebooks are trained on the INDEXED corpus only; queries
    never influence the quantizer, as in production)."""
    lo, hi = s * _PQ_SUBDIM + 1, (s + 1) * _PQ_SUBDIM
    d = _PQ_SUBDIM
    cos_xc = _pq_cos("x.v", "c.cv", d)
    return f"""
v{s} AS (SELECT vec_id AS id, embedding[{lo}:{hi}] AS v
         FROM embeddings WHERE {_EVEN}),
c{s}0 AS (
    SELECT vec_id AS cid, embedding[{lo}:{hi}] AS cv
    FROM embeddings WHERE {_EVEN} ORDER BY vec_id LIMIT {_PQ_CELLS}
),
a{s} AS (
    SELECT id, cid FROM (
        SELECT x.id, c.cid,
               row_number() OVER (
                   PARTITION BY x.id
                   ORDER BY round({cos_xc}, 6) DESC, c.cid
               ) AS rn
        FROM v{s} x CROSS JOIN c{s}0 c
    ) t WHERE rn = 1
),
m{s} AS (
    SELECT a.cid, p.pos,
           CAST(SUM(CAST(round(CAST(x.v[p.pos] AS DOUBLE) * 1000000000.0)
                         AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000000000.0 AS m
    FROM a{s} a JOIN v{s} x ON a.id = x.id, generate_series(1, {d}) p(pos)
    GROUP BY a.cid, p.pos
),
r{s} AS (SELECT cid, list(m ORDER BY pos) AS cvr FROM m{s} GROUP BY cid),
c{s}1 AS (
    SELECT cid,
           list_transform(cvr, x -> CAST(x / sqrt(list_reduce(
               list_transform(cvr, y -> y * y), (xx, yy) -> xx + yy)) AS REAL))
               AS cv
    FROM r{s}
),
out{s} AS (
    SELECT id, {s} AS sub, cid AS code FROM (
        SELECT x.id, c.cid,
               row_number() OVER (
                   PARTITION BY x.id
                   ORDER BY round({cos_xc}, 6) DESC, c.cid
               ) AS rn
        FROM v{s} x CROSS JOIN c{s}1 c
    ) t WHERE rn = 1
)"""


def _adc_sql(s: int) -> str:
    lo = s * _PQ_SUBDIM
    dot_q_cw = (
        f"list_reduce(list_transform(generate_series(1, {_PQ_SUBDIM}), "
        f"i -> CAST(q.embedding[{lo} + i] AS DOUBLE) * CAST(cb.cv[i] AS DOUBLE)), "
        "(x, y) -> x + y)"
    )
    norm2_cw = (
        "list_reduce(list_transform(cb.cv, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), "
        "(x, y) -> x + y)"
    )
    return f"""adc{s} AS (
    SELECT p.id AS qid, cx.id AS xid,
           CAST(round(({dot_q_cw}) * 1000000000.0) AS BIGINT) AS d_scaled,
           CAST(round(({norm2_cw}) * 1000000000.0) AS BIGINT) AS n2_scaled
    FROM embeddings q
    JOIN probes p ON p.id = q.vec_id
    JOIN cells cx ON cx.cell = p.cell
    JOIN out{s} o ON o.id = cx.id
    JOIN c{s}1 cb ON cb.cid = o.code
)"""


IVFPQ_MONITOR_SQL = (
    "WITH "
    + ",".join(_sub_sql(s) for s in range(_PQ_SUB))
    + f""",
coarse AS (
    SELECT vec_id AS cid, embedding AS cv
    FROM embeddings WHERE {_EVEN} ORDER BY vec_id LIMIT {_PQ_CELLS}
),
cells AS MATERIALIZED (
    SELECT id, cell FROM (
        SELECT e.vec_id AS id, c.cid AS cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_ivfpq_cos64('e.embedding', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN coarse c
        WHERE {_EVEN.replace('vec_id', 'e.vec_id')}
    ) t WHERE rn = 1
),
probes AS MATERIALIZED (
    SELECT id, cell FROM (
        SELECT o.vec_id AS id, c.cid AS cell,
               row_number() OVER (
                   PARTITION BY o.vec_id
                   ORDER BY round({_ivfpq_cos64('o.embedding', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM embeddings o CROSS JOIN coarse c
        WHERE {_ODD.replace('vec_id', 'o.vec_id')}
    ) t WHERE rn = 1
),
"""
    + ",".join(_adc_sql(s) for s in range(_PQ_SUB))
    + f""",
pairs AS (
    SELECT qid, xid, SUM(d_scaled) AS ds, SUM(n2_scaled) AS ns
    FROM ({" UNION ALL ".join(f"SELECT * FROM adc{s}" for s in range(_PQ_SUB))}) u
    GROUP BY qid, xid
),
qn AS (
    SELECT vec_id AS qid, sqrt({_DOT64.format(a='embedding', b='embedding')}) AS qn
    FROM embeddings WHERE {_ODD}
),
scored AS (
    SELECT p.qid, p.xid,
           round((p.ds / 1000000000.0)
                 / (qn.qn * sqrt(p.ns / 1000000000.0)), 6) AS adc_cos
    FROM pairs p JOIN qn ON qn.qid = p.qid
)
SELECT qid, xid, adc_cos FROM (
    SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY adc_cos DESC, xid) AS rn
    FROM scored
) t WHERE rn <= {_K}
"""
)

# the encoded index is a MAINTAINED serving structure — memoized per
# (session, sf) and checkpoint-protected, like batch 115's IVF index
def _pq_serving_index(spark, sf_dir):
    """-> (xcodes (xid, cell, _xp, _xn2), carr one-row broadcast
    centroid array, cbarr one-row broadcast codebook array).

    xcodes is the even-half encoded index (``similarity.pq_index``,
    r12 positional-codes form) as an eager checkpoint; carr carries
    the coarse centroid table as ONE array row so the per-batch probe
    plan is independent of n_cells; cbarr carries the codebook entries
    the per-query ADC lookup table is built from."""
    return memo_fixture(
        spark, ("pq_serving_index", sf_dir),
        lambda: _build_pq_serving_index(spark, sf_dir),
    )


def _build_pq_serving_index(spark, sf_dir):
    even = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 2 == 0)
        .select("vec_id", "embedding")
    )
    xcodes, _assign, cbs = S.pq_index(
        even, "vec_id", "embedding", dim=64,
        n_sub=_PQ_SUB, n_cells_coarse=_PQ_CELLS, n_cells_code=_PQ_CELLS,
    )
    xcodes = xcodes.localCheckpoint(eager=True)
    cbarr_df = S.pq_codebook_array(cbs).localCheckpoint(eager=True)
    # checkpointed with the index: no per-batch re-aggregation of the
    # one-row centroid array (same as batch 115)
    carr = S.centroid_array(
        S.seed_centroids(even, "vec_id", "embedding", _PQ_CELLS)
    ).localCheckpoint(eager=True)
    return xcodes, carr, cbarr_df, xcodes.count()


def ivfpq_candidates(queries, carr, cbarr, xcodes):
    """(qid, v, nv) query rows -> (qid, xid, adc_cos): each query's
    nearest coarse cell (``assign_cells`` over the broadcast centroid
    array ``carr``), its ADC lookup table against the broadcast
    codebook array ``cbarr``, one equi-join against the encoded index
    ``xcodes`` and the LUT ADC score. Batch or streaming: the monitor
    and its serving probe build their candidates here.

    Candidate rows carry codes, never raw vectors (the 128x
    candidate-byte shrink). The index is broadcast, which suits bench
    scale; past the ``_PQ_BROADCAST_BYTES`` gate the batch path
    shuffles on cell and the monitor would stage the index as a keyed
    table instead."""
    return (
        S.assign_cells(queries, carr)
        .crossJoin(F.broadcast(cbarr))
        .select(
            "qid",
            F.col("nv").alias("qn"),
            "cell",
            S.pq_query_lut(F.col("v"), F.col("_cbarr"), 64, _PQ_SUB).alias(
                "_qlut"
            ),
        )
        .join(F.broadcast(xcodes), on="cell")
        .select("qid", "xid", S.adc_cos_lut(_PQ_SUB).alias("adc_cos"))
    )


@register("stream_ann_ivfpq_monitor", oracle=IVFPQ_MONITOR_SQL,
          covers=["T1", "T3", "J1", "O6"])
def q_stream_ann_ivfpq_monitor(spark, sf_dir):
    """Streaming IVF-PQ serving: map-side coarse probe (broadcast
    centroid array, nprobe=1), stream-static cell equi-join against the
    ENCODED index, integer-exact ADC scoring, batch-local exact top-3 —
    availableNow replay hash-matched against the batch IVF-PQ SQL over
    the same even/odd halves for any micro-batch slicing."""
    from prosnet_prefect_pipelines_spark.streaming.tuning import (
        candidate_fanout,
        run_available_now,
        staged_row_count,
    )

    xcodes, carr, cbarr, n_index = _pq_serving_index(spark, sf_dir)

    stream, stage = _query_stream(spark, sf_dir)
    # opt r11 (guide §2): replay width from measured candidate volume
    # (qpb x nprobe=1 x mean cell occupancy), not the core count — the
    # ADC scorer is even cheaper per candidate than the raw-cosine
    # monitor's, so fixed 32-wide fan-out was pure task overhead at
    # bench volumes, where the estimate now gives one partition; cap 4x
    # parallelism restores cluster width
    n_stage_files = max(
        1, len([f for f in os.listdir(stage) if f.endswith(".parquet")])
    )
    qry_per_batch = staged_row_count(spark, stage) / n_stage_files
    est_cands = qry_per_batch * (n_index / _PQ_CELLS)
    fan = candidate_fanout(spark, est_cands)
    cands = ivfpq_candidates(
        _vectors(stream.repartition(fan), "qid"), carr, cbarr, xcodes
    )

    out_dir = tempfile.mkdtemp(prefix="ann_ivfpq_monitor_", dir=scratch_root(spark))
    # output sizing from estimated result rows (guide §6), was fixed 4
    n_out = max(1, min(fan, int(_K * qry_per_batch // 5_000_000) + 1))

    # foreachBatch window exchange runs without AQE coalescing — pin it
    run_available_now(
        cands,
        sink=topk_sink(out_dir, "qid", "adc_cos", "xid", _K, n_out),
        name="stream_ann_ivfpq_monitor",
        shuffle_partitions=fan,
    )
    return spark.read.schema("qid long, xid long, adc_cos double").parquet(
        out_dir
    )
