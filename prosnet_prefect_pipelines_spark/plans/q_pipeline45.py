"""Pipeline batch 45: embedding-budget and contrastive-training prep —

- ``embedding_energy_report``: Matryoshka-style truncation budgeting:
  for prefix dims {8, 16, 32} of the 64-d embeddings, what fraction of
  each vector's energy (sum of squares) the prefix retains — per-dim
  corpus distribution (mean/min ppm). The report that decides how far
  an MRL index can truncate before recall collapses. Exact integers:
  embeddings are first quantized to int milli-units (round(x*1000)) so
  squares and sums are BIGINT arithmetic, identical on both engines —
  the established embedding_quantize_int8/embedding_drift convention.
- ``hard_negative_mining``: contrastive-training pair generation: for
  each anchor vector, semi-hard negatives = vectors in the SAME IVF
  cell (so they're plausibly confusable) whose rounded cosine lies in
  [0.1, 0.8) — excluding near-duplicates (too easy to be wrong, too
  hard to be useful excluded per the classic semi-hard rule). Top-2
  per anchor by (cos desc, id). The cell equi-join keeps candidate
  generation linear; no all-pairs scan.

Scale notes: the energy report is one narrow pass (higher-order
aggregate over the array, no shuffle before the per-dim rollup).
Mining joins on the cell key (broadcast centroids for assignment,
shuffle on cell id) — the IVF candidate shape, with the window keyed
per anchor.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_similarity import DOT_FOLD, _cos

_DIMS = [8, 16, 32]


def _energy_sql(upto: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {upto}), "
        "i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)"
        " * CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)))"
    )


ENERGY_SQL = f"""
WITH per AS (
    SELECT vec_id,
           {_energy_sql(64)} AS e_full,
           {", ".join(f"{_energy_sql(d)} AS e_{d}" for d in _DIMS)}
    FROM embeddings
),
ratios AS (
    SELECT vec_id, d, CAST(CAST(e_d AS HUGEINT) * 1000000 // e_full AS BIGINT)
               AS retained_ppm
    FROM (
        {" UNION ALL ".join(f"SELECT vec_id, {d} AS d, e_{d} AS e_d, e_full FROM per" for d in _DIMS)}
    )
    WHERE e_full > 0
)
SELECT CAST(d AS BIGINT) AS prefix_dim,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(retained_ppm) // COUNT(*) AS BIGINT) AS mean_retained_ppm,
       CAST(MIN(retained_ppm) AS BIGINT) AS min_retained_ppm
FROM ratios GROUP BY d
"""


@register("embedding_energy_report", oracle=ENERGY_SQL, covers=["A2", "P2"])
def q_embedding_energy_report(spark, sf_dir):
    """Truncation energy report: per prefix dim, the corpus mean/min of
    prefix-energy / full-energy in ppm, over milli-quantized integer
    squares (exact on both engines). One narrow aggregate pass per
    vector + one tiny rollup keyed by dim."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def energy(upto: int):
        return F.aggregate(
            F.transform(
                F.slice("embedding", 1, upto),
                lambda x: (
                    F.round(x.cast("double") * 1000).cast("long")
                    * F.round(x.cast("double") * 1000).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    per = emb.select(
        "vec_id",
        energy(64).alias("e_full"),
        *[energy(d).alias(f"e_{d}") for d in _DIMS],
    ).filter(F.col("e_full") > 0)
    ratios = None
    for d in _DIMS:
        part = per.select(
            F.lit(d).cast("long").alias("d"),
            F.expr(
                f"CAST(CAST(e_{d} AS DECIMAL(38,0)) * 1000000 div e_full AS BIGINT)"
            ).alias("retained_ppm"),
        )
        ratios = part if ratios is None else ratios.unionAll(part)
    return ratios.groupBy(F.col("d").alias("prefix_dim")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.expr("CAST(SUM(retained_ppm) div COUNT(*) AS BIGINT)").alias(
            "mean_retained_ppm"
        ),
        F.min("retained_ppm").cast("long").alias("min_retained_ppm"),
    )


_N_CELLS = 8

HARD_NEG_SQL = f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT {_N_CELLS}
),
assign AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_cos('e.embedding', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ) t WHERE rn = 1
),
pairs AS (
    SELECT a.vec_id AS anchor, b.vec_id AS negative,
           round({_cos('ea.embedding', 'eb.embedding')}, 6) AS cos
    FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id <> b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id
),
band AS (
    SELECT anchor, negative, cos,
           row_number() OVER (PARTITION BY anchor
                              ORDER BY cos DESC, negative) AS rn
    FROM pairs WHERE cos >= 0.1 AND cos < 0.8
)
SELECT anchor, negative, cos, CAST(rn AS BIGINT) AS rn
FROM band WHERE rn <= 2
"""


@register("hard_negative_mining", oracle=HARD_NEG_SQL, covers=["J1", "O6"])
def q_hard_negative_mining(spark, sf_dir):
    """Semi-hard negative mining for contrastive training: candidates
    come from the anchor's own IVF cell (equi-join on cell id — the
    confusable set, never all pairs), filtered to the semi-hard cosine
    band [0.1, 0.8), top-2 per anchor by hardness. Centroids broadcast
    as one array row for the per-row assignment; the per-anchor window
    is keyed."""
    from prosnet_prefect_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    carr = S.centroid_array(S.seed_centroids(emb, "vec_id", "embedding", _N_CELLS))
    vecs = S.vector_rows(emb, "vec_id", "embedding", ("vec_id", "v", "nv"))
    scored = (
        S.assign_cells(vecs, carr)
        .select("vec_id", F.col("v").alias("embedding"), F.col("cell").alias("cid"))
        .localCheckpoint(eager=False)  # both sides of the cell self-join
    )
    a = scored.select(
        F.col("vec_id").alias("anchor"), F.col("embedding").alias("ea"), "cid"
    )
    b = scored.select(
        F.col("vec_id").alias("negative"), F.col("embedding").alias("eb"), "cid"
    )
    pairs = (
        a.join(b, "cid")
        .filter(F.col("anchor") != F.col("negative"))
        .select(
            "anchor",
            "negative",
            S.cosine(F.col("ea"), F.col("eb"), 64).alias("cos"),
        )
        .filter((F.col("cos") >= 0.1) & (F.col("cos") < 0.8))
    )
    return S.top_k(pairs, "anchor", "cos", "negative", 2).select(
        "anchor", "negative", "cos", F.col("_rn").cast("long").alias("rn")
    )
