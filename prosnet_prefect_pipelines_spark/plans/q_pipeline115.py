"""Pipeline batch 115: streaming ANN serving monitor — a query-vector
stream probed against a static IVF index, with an exact replay oracle.

``stream_ann_topk_monitor`` completes the streaming-monitor trio
(near-dup batch 113, entity resolution batch 114): the accepted corpus
is the even-vec_id half of the embeddings table, indexed once into IVF
cells (assignment = nearest of the 8 lowest-id centroids, the same
deterministic seed convention as ``ann_ivf_topk``); the odd half
arrives as a 4-micro-batch stream of queries. Per micro-batch, every
query vector picks its ``nprobe=2`` nearest cells entirely map-side
(``similarity.assign_cells``, the package's one nearest-centroid
selection, over the centroid table carried as ONE broadcast array row
— what an IVF server does: ship the centroid table everywhere; plan
cost independent of n_cells, so the same shape serves the production
thousands-of-cells regime). The index build uses the same selection
over the same array, so batch and stream rank every vector — NULL and
NaN cosines included — identically. Each query then probes the
static cell index with one
stream-static equi-join, and ranks its top-5 neighbors inside
``foreachBatch`` (legal because a neighbor lives in exactly one cell
and all of a query's candidates arrive in its own micro-batch — the
per-id ranking is complete batch-locally, so the union over ANY
micro-batch slicing equals the batch IVF answer; same replay-oracle
argument as batches 113/114).

``ann_cell_traffic_report`` is the serving telemetry twin (the
batch-113 skew-report pattern): per cell, index occupancy, probe
traffic, and the candidate volume their product implies — the numbers
that decide when cells must split (n_cells ~ N / target_cell_size).

Scale notes (100 TB): the index side shuffles once at build time and
is reused across every batch; per-batch work is |batch| x n_cells
centroid cosines (map-side) plus an equi-join whose per-cell cost the
traffic report bounds. No state store at all — the monitor is
stateless, so there is nothing to evict or checkpoint beyond source
offsets. Reference parity: the reference re-pushes its whole Typesense
search index on every incremental run (prosnet-prefect-pipelines
push_to_typesense.py:49-51, wikidata_index.py:155-180); this is the
streaming-native replacement where only arriving queries pay work.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import similarity as S
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_similarity import _cos
from prosnet_prefect_pipelines_spark.streaming.staging import replay_stage, scratch_root
from prosnet_prefect_pipelines_spark.session import memo_fixture

_N_CELLS = 8
_NPROBE = 2
# absolute occupancy bound for the rebalance SPLIT rule (r13): the
# relative imbalance rules compare cells to the CORPUS MEAN, so a
# uniform 10x corpus growth — which multiplies every probe's candidate
# scan 10x — was invisible to the planner (the monitors-10x stress
# measured the fixed-8-cell IVF monitor going 32x superlinear at 10x
# data with rebalance_triggered false). A cell above this occupancy is
# a serving hot spot REGARDLESS of how its siblings look; splitting
# until every cell is back under the bound is the C-grows-with-N
# scaling the IVF literature prescribes (C ~ sqrt(N) at minimum; the
# occupancy target decides the exponent). Sized as a per-probe exact-
# scoring budget (512 64-dim cosines per (query, probed cell)): above
# every base test-scale occupancy (max 250/cell — sf0.1 full-corpus
# self-join at 8 cells) and below the measured 10x cliff (1250/cell,
# where the fixed-8-cell monitor ran 32x superlinear and ivf_topk
# measured 261 s vs 79 s at C=25 and 32.5 s at C=80 on the same
# corpus — artifacts/stress_monitors_10x.json rebalance_demo).
_SPLIT_OCCUPANCY = 512
_K = 5

_PROBE_CTES = f"""
ev AS (SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id % 2 = 0),
ods AS (SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id % 2 = 1),
cents AS (SELECT id AS cid, v AS cv FROM ev ORDER BY id LIMIT {_N_CELLS}),
db AS (
    SELECT id, v, cell FROM (
        SELECT e.id, e.v, c.cid AS cell,
               row_number() OVER (
                   PARTITION BY e.id
                   ORDER BY round({_cos('e.v', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM ev e CROSS JOIN cents c
    ) t WHERE rn = 1
),
probes AS (
    SELECT id, v, cell FROM (
        SELECT o.id, o.v, c.cid AS cell,
               row_number() OVER (
                   PARTITION BY o.id
                   ORDER BY round({_cos('o.v', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM ods o CROSS JOIN cents c
    ) t WHERE rn <= {_NPROBE}
)"""

ANN_MONITOR_SQL = f"""
WITH {_PROBE_CTES},
pairs AS (
    SELECT p.id, d.id AS neighbor, round({_cos('p.v', 'd.v')}, 6) AS cos
    FROM probes p JOIN db d USING (cell)
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY id ORDER BY cos DESC, neighbor) AS rn
    FROM pairs
)
SELECT id, neighbor, cos FROM ranked WHERE rn <= {_K}
"""


# the static IVF index is a MAINTAINED serving structure, not a per-run
# rebuild — memoized per (session, sf) like the batch-113 LSH index
def _ivf_index(spark, sf_dir):
    """-> (db DataFrame (neighbor, v, nv, cell), carr one-row centroid
    array, db row count).

    db is the even-half IVF index (home cells only), eagerly
    checkpointed and sweep-protected; carr is the seed centroid table
    the index and the probes rank against, carried as data
    (``similarity.centroid_array``) so the plan cost is independent of
    n_cells — the production regime is thousands of cells."""
    return memo_fixture(
        spark, ("ivf_index", sf_dir), lambda: _build_ivf_index(spark, sf_dir)
    )


def _build_ivf_index(spark, sf_dir):
    even = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 2 == 0)
        .select("vec_id", "embedding")
    )
    # the one-row centroid array the stream broadcasts is itself part
    # of the maintained index: checkpointing it here removes the
    # collect_list aggregate jobs every micro-batch otherwise re-runs
    # (the array is rebuilt only when the index is)
    carr = S.centroid_array(
        S.seed_centroids(even, "vec_id", "embedding", _N_CELLS)
    ).localCheckpoint(eager=True)
    db = (
        S.assign_cells(_vectors(even, "neighbor"), carr)
        .select("neighbor", "v", "nv", "cell")
        .localCheckpoint(eager=True)
    )
    # index cardinality cached at build time so the width estimate
    # adds no job per plan construction (same as q118)
    return db, carr, db.count()


def _vectors(df, id_name: str = "id"):
    """(vec_id, embedding) -> (id_name, v, nv): the row shape
    ``similarity.assign_cells`` ranks."""
    return S.vector_rows(df, "vec_id", "embedding", (id_name, "v", "nv"))


def ann_candidates(queries, carr, db):
    """(id, v, nv) query rows -> (id, neighbor, cos): each query's
    ``_NPROBE`` nearest cells (``assign_cells`` over the broadcast
    centroid array ``carr``), one equi-join against the (neighbor, v,
    nv, cell) index ``db``, every candidate scored by ``cosine``.
    Batch or streaming: the monitor, its serving probe and
    scripts/stress_ann_serving.py all build their candidates here."""
    probes = S.assign_cells(queries, carr, k=_NPROBE).select(
        "id", F.col("v").alias("qv"), F.col("nv").alias("qn"), "cell"
    )
    return probes.join(db, on="cell").select(
        "id",
        "neighbor",
        S.cosine(
            F.col("qv"), F.col("v"), na=F.col("qn"), nb=F.col("nv")
        ).alias("cos"),
    )


def topk_sink(out_dir: str, by: str, score: str, tie: str, k: int, n_out: int):
    """foreachBatch sink appending each micro-batch's ``top_k`` rows
    (by, tie, score) to ``out_dir`` as ``n_out`` parquet files. Exact
    per batch for a query stream against a static index: a query id
    arrives once and all its candidates come from the static side, so
    its ranking is complete within its own micro-batch."""

    def _sink(batch_df, _batch_id):
        (
            S.top_k(batch_df, by, score, tie, k)
            .select(by, tie, score)
            .coalesce(n_out)
            .write.mode("append")
            .parquet(out_dir)
        )

    return _sink


def _query_stream(spark, sf_dir):
    """The odd-half query vectors as a 4-file replay stage (the same
    build-once atomic-publish staging as batch 114)."""
    odd = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
    )
    # content-keyed, user-private, atomically-published stage — see
    # streaming/staging.py (a regenerated embeddings.parquet gets a
    # fresh stage; no fixed world-writable path to squat)
    stage = replay_stage(odd, f"{sf_dir}/embeddings.parquet", "ann")
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return stream, stage


@register("stream_ann_topk_monitor", oracle=ANN_MONITOR_SQL,
          covers=["T1", "T3", "J1", "O6"])
def q_stream_ann_topk_monitor(spark, sf_dir):
    """Streaming IVF serving: map-side centroid probe (broadcast
    centroid array, no window, no state), stream-static cell join, per-batch
    exact top-k — availableNow replay hash-matched against the batch
    IVF SQL answer for any micro-batch slicing."""
    from prosnet_prefect_pipelines_spark.streaming.tuning import (
        candidate_fanout,
        run_available_now,
        staged_row_count,
    )

    db, carr, n_db = _ivf_index(spark, sf_dir)

    # a micro-batch is ONE staged file = one partition, and with the
    # index broadcast nothing downstream reshuffles — without fan-out
    # the whole |batch| x n_cells probe runs on a single core (the
    # stress harness measured 159 s/batch at 20k queries x 40k index
    # vs 6 s fanned; scripts/stress_ann_serving.py)
    stream, stage = _query_stream(spark, sf_dir)

    # estimated per-batch candidate volume: queries-per-file x nprobe x
    # mean cell occupancy. Parquet counts are metadata-only and the index
    # is an eager checkpoint, so the estimate costs no real work.
    n_stage_files = max(
        1, len([f for f in os.listdir(stage) if f.endswith(".parquet")])
    )
    qry_per_batch = staged_row_count(spark, stage) / n_stage_files
    est_cands = qry_per_batch * _NPROBE * (n_db / _N_CELLS)
    # opt r11 (guide §2): derive the replay width from the measured
    # candidate volume instead of pinning it at the core count — the
    # monitor is stateless and compute-bound, so candidates-per-task is
    # the right unit. The fixed 32-way fan-out plus the 32-partition
    # window exchange it replaced was ~200 near-empty tasks per replay;
    # at sf0.01 (~3.9k cands/batch against the 250k-per-task target) the
    # fan-out and the window both run on one partition, at cluster
    # volumes the estimate restores full width (cap 4x parallelism)
    fan = candidate_fanout(spark, est_cands)
    # the centroid table rides along as ONE broadcast array row
    # (stream-static, append-legal); plan cost independent of n_cells.
    # carr comes pre-checkpointed from the index cache (no per-batch
    # re-aggregation). Halves are parity-disjoint, so the stream-static
    # cell join needs no self-pair filter.
    cands = ann_candidates(_vectors(stream.repartition(fan)), carr, db)

    out_dir = tempfile.mkdtemp(prefix="ann_monitor_", dir=scratch_root(spark))
    # per-batch output is <= _K rows per query — size the write from
    # that estimate (~5M rows of (long, long, double) per ~128 MB file)
    # instead of a fixed 4 files per batch (guide §6: output file
    # sizing; at bench scale this is 1 file/batch, 16 -> 4 write tasks)
    n_out = max(1, min(fan, int(_K * qry_per_batch // 5_000_000) + 1))

    # the foreachBatch window exchange runs without AQE coalescing, so
    # pin its partition count to the same adaptive width for the replay
    run_available_now(
        cands,
        sink=topk_sink(out_dir, "id", "cos", "neighbor", _K, n_out),
        name="stream_ann_topk_monitor",
        shuffle_partitions=fan,
    )
    return spark.read.schema("id long, neighbor long, cos double").parquet(out_dir)


TRAFFIC_SQL = f"""
WITH {_PROBE_CTES},
occ AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_indexed FROM db GROUP BY cell),
tr AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_probes FROM probes GROUP BY cell)
SELECT o.cell, o.n_indexed,
       COALESCE(t.n_probes, 0) AS n_probes,
       o.n_indexed * COALESCE(t.n_probes, 0) AS candidate_volume
FROM occ o LEFT JOIN tr t ON o.cell = t.cell
"""


ANN_MERGE_SQL = f"""
WITH {_PROBE_CTES}
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_indexed
FROM db GROUP BY cell
"""


@register("ann_index_merge", oracle=ANN_MERGE_SQL, covers=["A2", "O5"])
def q_ann_index_merge(spark, sf_dir):
    """Incremental IVF maintenance == full rebuild: the cell occupancy
    of the index built from day-0 (vec_id % 4 == 0) UNION ALL the day-1
    delta (vec_id % 4 == 2) must equal one rebuild over the whole even
    half — because assignment is a pure per-row function of (vector,
    FROZEN centroids), never a corpus statistic, new vectors fold into
    cells per-partition with no global recompute (the batch-113
    neardup_index_merge invariant applied to vector serving; centroid
    RETRAINING, by contrast, is the explicit global event the traffic
    report's occupancy skew motivates). The oracle computes the
    histogram from the single full rebuild; a hash match proves
    merge == rebuild."""
    _db, carr, _n = _ivf_index(spark, sf_dir)

    def _assign(residue: int):
        part = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
            F.col("vec_id") % 4 == residue
        )
        return S.assign_cells(_vectors(part), carr).select("cell")

    merged = _assign(0).unionByName(_assign(2))
    return merged.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_indexed")
    )


def _traffic_report(spark, sf_dir):
    """The per-cell (cell, n_indexed, n_probes, candidate_volume)
    telemetry frame — shared by the report query, the rebalance plan
    and the serving probe's rebalance trigger (streaming/serving.py)."""
    db, carr, _n = _ivf_index(spark, sf_dir)
    odd = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") % 2 == 1
    )
    probes = S.assign_cells(_vectors(odd), carr, k=_NPROBE).select("cell")
    occ = db.groupBy("cell").agg(F.count(F.lit(1)).cast("long").alias("n_indexed"))
    tr = probes.groupBy("cell").agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
    return (
        occ.join(tr, on="cell", how="left")
        .select(
            "cell",
            "n_indexed",
            F.coalesce(F.col("n_probes"), F.lit(0).cast("long")).alias("n_probes"),
            (F.col("n_indexed") * F.coalesce(F.col("n_probes"), F.lit(0).cast("long"))
             ).alias("candidate_volume"),
        )
    )


@register("ann_cell_traffic_report", oracle=TRAFFIC_SQL, covers=["A2", "J2"])
def q_ann_cell_traffic_report(spark, sf_dir):
    """Per-cell serving telemetry: index occupancy x probe traffic =
    the candidate volume each cell's equi-join partition pays — the
    report that decides when a hot cell must split (n_cells is the IVF
    scale lever). One aggregation per side over the same assignment
    used by the monitor; the join is |cells|-sized."""
    return _traffic_report(spark, sf_dir)


REBALANCE_SQL = f"""
WITH {_PROBE_CTES},
occ AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_indexed FROM db GROUP BY cell),
tr AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_probes FROM probes GROUP BY cell),
rep AS (
    SELECT o.cell, o.n_indexed,
           COALESCE(t.n_probes, 0) AS n_probes,
           o.n_indexed * COALESCE(t.n_probes, 0) AS candidate_volume
    FROM occ o LEFT JOIN tr t ON o.cell = t.cell
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(candidate_volume) AS HUGEINT) AS tot_vol,
           CAST(SUM(n_indexed) AS HUGEINT) AS tot_idx
    FROM rep
)
SELECT r.cell, r.n_indexed, r.n_probes, r.candidate_volume,
       CASE WHEN CAST(r.candidate_volume AS HUGEINT) * n_cells > 4 * tot_vol
                THEN 'split'
            WHEN r.n_indexed > 4096
                THEN 'split'
            WHEN 4 * CAST(r.n_indexed AS HUGEINT) * n_cells < tot_idx
                THEN 'merge'
            ELSE 'keep' END AS decision
FROM rep r CROSS JOIN tot
"""


@register("ann_rebalance_plan", oracle=REBALANCE_SQL, covers=["A2", "J2"])
def q_ann_rebalance_plan(spark, sf_dir):
    """The rebalance decision the traffic report is documented to
    drive (r9 verdict item 6), as exact integer comparisons against
    corpus means so both engines agree bit-for-bit:

    - SPLIT a cell whose candidate volume exceeds 4x the mean volume
      (candidate_volume * n_cells > 4 * total_volume) — its equi-join
      partition is the serving hot spot;
    - SPLIT a cell whose ABSOLUTE occupancy exceeds _SPLIT_OCCUPANCY
      (r13): relative rules are blind to uniform corpus growth — the
      monitors-10x stress measured the fixed-cell monitor 32x
      superlinear at 10x data with zero relative triggers — so a hard
      per-cell scan bound fires on uniformly overgrown indexes and
      prescribes the C ~ sqrt(N) cell-count growth;
    - MERGE a cell whose occupancy falls below a quarter of the mean
      (4 * n_indexed * n_cells < total_indexed) — centroid waste;
    - KEEP otherwise.

    The relative thresholds are the classic IVF imbalance-factor
    heuristics;
    everything stays |cells|-sized (one broadcast 1-row total), so the
    decision costs nothing beyond the report itself. The streaming ANN
    serving probe runs this same frame and reports hot-cell counts as
    its rebalance trigger telemetry."""
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    rep = _traffic_report(spark, sf_dir)
    tot = rep.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(dec(F.col("candidate_volume"))).alias("tot_vol"),
        F.sum(dec(F.col("n_indexed"))).alias("tot_idx"),
    )
    return rep.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_indexed",
        "n_probes",
        "candidate_volume",
        F.when(
            dec(F.col("candidate_volume")) * F.col("n_cells")
            > 4 * F.col("tot_vol"),
            F.lit("split"),
        )
        .when(F.col("n_indexed") > _SPLIT_OCCUPANCY, F.lit("split"))
        .when(
            4 * dec(F.col("n_indexed")) * F.col("n_cells")
            < F.col("tot_idx"),
            F.lit("merge"),
        )
        .otherwise(F.lit("keep"))
        .alias("decision"),
    )
