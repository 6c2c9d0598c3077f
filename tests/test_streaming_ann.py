"""Streaming ANN serving monitor (plans/q_pipeline115.py, batch 115).

Load-bearing claims for the oracle pairing:

1. the literal-centroid probe expression ranks cells identically to
   the window-based ``ivf_assign`` (same rounded-cosine DESC / cid ASC
   order) — the map-side streaming assignment IS the batch assignment;
2. the replay is slicing-insensitive: a query's candidate set is
   complete within its own micro-batch, so 1-file and 4-file replays
   produce the identical top-k table;
3. the monitor equals the pure-batch IVF top-k computed with the same
   split (stream = odd ids, index = even ids).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import similarity as S
from prosnet_prefect_pipelines_spark.plans import q_pipeline115 as P


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_literal_probe_matches_ivf_assign(spark, emb):
    even = emb.filter(F.col("vec_id") % 2 == 0)
    cents_rows = (
        even.select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cv"),
            S.norm(F.col("embedding")).alias("ncv"),
        )
        .orderBy("cid")
        .limit(P._N_CELLS)
        .collect()
    )
    # window path on the even half: ivf_assign derives its centroids
    # from its own input, which is exactly the monitor's seed set
    want_even_cents = {
        (r.id, r.cell_rank): r.cell
        for r in S.ivf_assign(
            even, "vec_id", "embedding", n_cells=P._N_CELLS,
            rank_limit=P._NPROBE,
        ).collect()
    }
    got_even = {
        (r.id, r.rank): r.cell
        for r in even.select(
            F.col("vec_id").alias("id"),
            F.posexplode(
                S.literal_centroid_probe(
                    F.col("embedding"),
                    S.norm(F.col("embedding")),
                    cents_rows,
                    nprobe=P._NPROBE,
                )
            ).alias("pos", "_p"),
        )
        .select("id", (F.col("pos") + 1).alias("rank"), F.col("_p.cid").alias("cell"))
        .collect()
    }
    assert got_even == want_even_cents


def test_array_probe_equals_literal_probe(spark, emb):
    """centroid_probe_column (centroids as one broadcast array row —
    the large-n_cells production path) ranks identically to
    literal_centroid_probe (centroids folded into the plan)."""
    even = emb.filter(F.col("vec_id") % 2 == 0)
    cents = even.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        S.norm(F.col("embedding")).alias("ncv"),
    ).orderBy("cid").limit(P._N_CELLS)
    cents_rows = cents.collect()
    lit = {
        (r.id, r.pos): (r._p.negc, r._p.cid)
        for r in emb.select(
            F.col("vec_id").alias("id"),
            F.posexplode(
                S.literal_centroid_probe(
                    F.col("embedding"), S.norm(F.col("embedding")),
                    cents_rows, nprobe=P._NPROBE,
                )
            ).alias("pos", "_p"),
        ).collect()
    }
    arr = {
        (r.id, r.pos): (r._p.negc, r._p.cid)
        for r in emb.crossJoin(F.broadcast(S.centroid_array(cents))).select(
            F.col("vec_id").alias("id"),
            F.posexplode(
                S.centroid_probe_column(
                    F.col("_cents"), F.col("embedding"),
                    S.norm(F.col("embedding")), nprobe=P._NPROBE,
                )
            ).alias("pos", "_p"),
        ).collect()
    }
    assert lit == arr


def test_replay_slicing_insensitive(spark, sf_dir, tmp_path):
    """1-file and 4-file stagings of the same query set produce the
    identical monitor output (per-id candidates are batch-local)."""
    import prosnet_prefect_pipelines_spark.plans.q_pipeline115 as P115

    ref = {
        (r.id, r.neighbor, r.cos)
        for r in P115.q_stream_ann_topk_monitor(spark, sf_dir).collect()
    }

    # monkeypatch the stage to a single file: one mega-batch replay
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

    orig = P115._query_stream
    P115._query_stream = _one_file_stream
    try:
        got = {
            (r.id, r.neighbor, r.cos)
            for r in P115.q_stream_ann_topk_monitor(spark, sf_dir).collect()
        }
    finally:
        P115._query_stream = orig
    assert got == ref


def test_monitor_equals_batch_ivf_split(spark, sf_dir, emb):
    """The replayed answer equals the batch IVF top-k over the same
    odd-probes-even-index split, computed without any streaming."""
    db, cents, _carr, _n_db = P._ivf_index(spark, sf_dir)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    probes = odd.crossJoin(F.broadcast(S.centroid_array(cents))).select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("qv"),
        S.norm(F.col("embedding")).alias("qn"),
        F.explode(
            S.centroid_probe_column(
                F.col("_cents"), F.col("embedding"),
                S.norm(F.col("embedding")), nprobe=P._NPROBE
            )
        ).alias("_p"),
    ).select("id", "qv", "qn", F.col("_p.cid").alias("cell"))
    from pyspark.sql.window import Window

    pairs = probes.join(db, on="cell").select(
        "id",
        "neighbor",
        F.round(
            S.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nv")), 6
        ).alias("cos"),
    )
    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), F.col("neighbor"))
    want = {
        (r.id, r.neighbor, r.cos)
        for r in pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= P._K)
        .select("id", "neighbor", "cos")
        .collect()
    }
    got = {
        (r.id, r.neighbor, r.cos)
        for r in P.q_stream_ann_topk_monitor(spark, sf_dir).collect()
    }
    assert got == want


def test_rebalance_decision_matches_closed_form(spark, sf_dir):
    """ann_rebalance_plan (r12) re-derives its split/merge/keep labels
    from the traffic report by the documented integer inequalities —
    the plan frame must agree with a driver-side recomputation."""
    rep = {
        r.cell: (r.n_indexed, r.n_probes, r.candidate_volume)
        for r in P.q_ann_cell_traffic_report(spark, sf_dir).collect()
    }
    plan = {
        r.cell: r.decision
        for r in P.q_ann_rebalance_plan(spark, sf_dir).collect()
    }
    n_cells = len(rep)
    tot_vol = sum(v for _, _, v in rep.values())
    tot_idx = sum(i for i, _, _ in rep.values())
    assert set(plan) == set(rep)
    for cell, (ni, _np, cv) in rep.items():
        if cv * n_cells > 4 * tot_vol:
            want = "split"
        elif ni > P._SPLIT_OCCUPANCY:  # r13 absolute occupancy rule
            want = "split"
        elif 4 * ni * n_cells < tot_idx:
            want = "merge"
        else:
            want = "keep"
        assert plan[cell] == want, (cell, ni, cv, plan[cell], want)


def test_rebalance_flags_planted_hot_and_waste_cells(spark, monkeypatch):
    """Planted skew: a cell carrying ~99% of the candidate volume must
    SPLIT; a near-empty cell must MERGE; the middle stays KEEP."""
    rows = [(0, 100, 1000, 100000)] + [
        (i, 10, 10, 100) for i in range(1, 7)
    ] + [(7, 1, 0, 0)]
    fake = spark.createDataFrame(
        rows, "cell long, n_indexed long, n_probes long, candidate_volume long"
    )
    monkeypatch.setattr(P, "_traffic_report", lambda s, d: fake)
    got = {
        r.cell: r.decision
        for r in P.q_ann_rebalance_plan(spark, "unused").collect()
    }
    assert got[0] == "split"
    assert got[7] == "merge"
    assert all(got[i] == "keep" for i in range(1, 7))


def test_rebalance_occupancy_rule_fires_on_uniform_growth(spark, monkeypatch):
    """r13: the relative rules are blind to UNIFORM corpus growth (the
    monitors-10x stress measured the fixed-cell monitor 32x superlinear
    with zero relative triggers), so cells uniformly above the absolute
    _SPLIT_OCCUPANCY bound must all SPLIT — and the same occupancy
    below the bound must all KEEP."""
    over = P._SPLIT_OCCUPANCY + 1
    rows = [(i, over, 100, over * 100) for i in range(8)]
    fake = spark.createDataFrame(
        rows, "cell long, n_indexed long, n_probes long, candidate_volume long"
    )
    monkeypatch.setattr(P, "_traffic_report", lambda s, d: fake)
    got = {
        r.cell: r.decision
        for r in P.q_ann_rebalance_plan(spark, "unused").collect()
    }
    assert all(d == "split" for d in got.values()), got

    under = P._SPLIT_OCCUPANCY // 2
    rows = [(i, under, 100, under * 100) for i in range(8)]
    fake = spark.createDataFrame(
        rows, "cell long, n_indexed long, n_probes long, candidate_volume long"
    )
    monkeypatch.setattr(P, "_traffic_report", lambda s, d: fake)
    got = {
        r.cell: r.decision
        for r in P.q_ann_rebalance_plan(spark, "unused").collect()
    }
    assert all(d == "keep" for d in got.values()), got
