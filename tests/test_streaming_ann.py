"""Streaming ANN serving monitor (plans/q_pipeline115.py, batch 115).

Load-bearing claims for the oracle pairing:

1. the map-side probe (``assign_cells`` over the broadcast centroid
   array) ranks cells exactly as a row_number window over the fanned-out
   (vector, centroid) scores does (rounded-cosine DESC / cid ASC, the
   oracle's order), and ``ivf_assign`` is that same probe — the
   map-side streaming assignment IS the batch assignment;
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


def _row_number_ref(vecs, cents, k):
    """{(id, rank): (cell, score)}: the oracle-shaped reference — every
    (vector, centroid) pair scored, then row_number() OVER (PARTITION BY
    id ORDER BY score DESC, cid) <= k."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("cid"))
    return {
        (r.id, r.rn): (r.cid, r.score)
        for r in vecs.crossJoin(cents)
        .select(
            "id",
            "cid",
            F.round(
                S.dot(F.col("v"), F.col("cv")) / (F.col("nv") * F.col("ncv")), 6
            ).alias("score"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .collect()
    }


def test_probe_matches_ivf_assign(spark, emb):
    """ivf_assign over the even half (its own lowest-id seeds, which
    are exactly the monitor's) equals the row_number reference."""
    even = emb.filter(F.col("vec_id") % 2 == 0)
    cents = S.seed_centroids(even, "vec_id", "embedding", P._N_CELLS)
    want = {
        key: cell
        for key, (cell, _score) in _row_number_ref(
            P._vectors(even), cents, P._NPROBE
        ).items()
    }
    got = {
        (r.id, r.cell_rank): r.cell
        for r in S.ivf_assign(
            even, "vec_id", "embedding", n_cells=P._N_CELLS,
            rank_limit=P._NPROBE,
        ).collect()
    }
    assert got == want


def test_probe_matches_row_number_reference(spark, sf_dir, emb):
    """The monitor's probe over the maintained index's centroid array
    picks, ranks and scores every vector's nprobe cells exactly as the
    row_number reference does."""
    _db, carr, _n_db = P._ivf_index(spark, sf_dir)
    even = emb.filter(F.col("vec_id") % 2 == 0)
    cents = S.seed_centroids(even, "vec_id", "embedding", P._N_CELLS)
    want = _row_number_ref(P._vectors(emb), cents, P._NPROBE)
    got = {
        (r.id, r.cell_rank): (r.cell, r.ccos)
        for r in S.assign_cells(P._vectors(emb), carr, k=P._NPROBE).collect()
    }
    assert got == want


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
    db, carr, _n_db = P._ivf_index(spark, sf_dir)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    probes = S.assign_cells(P._vectors(odd), carr, k=P._NPROBE).select(
        "id", F.col("v").alias("qv"), F.col("nv").alias("qn"), "cell"
    )
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
