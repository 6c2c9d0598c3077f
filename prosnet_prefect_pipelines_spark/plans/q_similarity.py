"""Similarity-search queries over the embeddings table (north-star
extension). Dot products are ordered folds in both engines (Spark
aggregate/zip_with vs DuckDB list_reduce/list_transform) so cosines are
bit-identical before the 6-dp rounding."""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import similarity as S
from prosnet_prefect_pipelines_spark.plans.catalog import register

DIM = 64

DOT_FOLD = """
list_reduce(
    list_transform(generate_series(1, 64),
                   i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),
    (x, y) -> x + y)
"""


def _cos(a: str, b: str) -> str:
    return (
        f"({DOT_FOLD.format(a=a, b=b)}) / "
        f"(sqrt({DOT_FOLD.format(a=a, b=a)}) * sqrt({DOT_FOLD.format(a=b, b=b)}))"
    )


COSINE_TOPK_SQL = f"""
WITH pairs AS (
    SELECT x.vec_id AS id, y.vec_id AS neighbor,
           round({_cos('x.embedding', 'y.embedding')}, 6) AS cos
    FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, neighbor) AS rn
    FROM pairs
)
SELECT id, neighbor, cos FROM ranked WHERE rn <= 5
"""


@register("ann_cosine_topk", oracle=COSINE_TOPK_SQL, covers=["O6", "O1"])
def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-5 — the ANN correctness baseline
    (quadratic; verification scale only)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.cosine_topk(emb, "vec_id", "embedding", k=5, dim=DIM)


# 2 hash tables x 4 planes (global plane index hg = t*4 + h), bucket-cap
# 32 with id%n_sub salting — mirrors rhp_lsh_topk(planes=4, tables=2,
# bucket_cap=32) exactly
RHP_LSH_SQL = f"""
WITH planes AS (
    SELECT t, h FROM generate_series(0, 1) tt(t), generate_series(0, 3) hh(h)
),
proj AS (
    SELECT e.vec_id, p.t, p.h,
           list_reduce(
               list_transform(generate_series(1, 64),
                              i -> CAST(e.embedding[i] AS DOUBLE)
                                   * ((((p.t * 4 + p.h) + 1) * ((i - 1) + 7)
                                       * 2654435761) % 2039 - 1019)),
               (x, y) -> x + y) AS pr
    FROM embeddings e, planes p
),
sig AS (
    SELECT vec_id, t,
           CAST(t AS VARCHAR) || ':' ||
           string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY h) AS bucket
    FROM proj GROUP BY vec_id, t
),
sizes AS (SELECT bucket, COUNT(*) AS bc FROM sig GROUP BY bucket),
salted AS (
    SELECT s.vec_id,
           s.bucket || ':' ||
           CAST(s.vec_id % CAST(ceil(z.bc / 32.0) AS BIGINT) AS VARCHAR) AS bucket
    FROM sig s JOIN sizes z USING (bucket)
),
cand AS (
    SELECT DISTINCT x.vec_id AS id, y.vec_id AS neighbor
    FROM salted x JOIN salted y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id
),
pairs AS (
    SELECT c.id, c.neighbor,
           round({_cos('ex.embedding', 'ey.embedding')}, 6) AS cos
    FROM cand c
    JOIN embeddings ex ON ex.vec_id = c.id
    JOIN embeddings ey ON ey.vec_id = c.neighbor
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, neighbor) AS rn
    FROM pairs
)
SELECT id, neighbor, cos FROM ranked WHERE rn <= 5
"""


@register("ann_rhp_lsh_topk", oracle=RHP_LSH_SQL, covers=["O6", "J1"])
def q_ann_rhp_lsh(spark, sf_dir):
    """Random-hyperplane LSH top-5 with the three 100 TB levers on:
    2 hash tables (recall), 4 planes (bucket count scales with N via
    auto_planes in production; pinned here for the oracle), and a
    32-vector bucket cap (skew guard via deterministic id%n salting)."""
    from prosnet_prefect_pipelines_spark.session import fan_out

    # the single-row-group local embeddings file scans as 1 partition;
    # the hyperplane-projection pass is per-row map work, so fan it out
    # (measured 2.5 -> 1.8 s warm at sf0.1; see session.fan_out)
    emb = fan_out(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), spark)
    return S.rhp_lsh_topk(
        emb, "vec_id", "embedding", dim=DIM, k=5, planes=4, tables=2, bucket_cap=32
    )


IVF_SQL = f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding AS cv
    FROM embeddings ORDER BY vec_id LIMIT 8
),
assign AS (
    SELECT vec_id, cid, rn FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_cos('e.embedding', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ) t WHERE rn <= 2
),
pairs AS (
    -- queries probe their 2 nearest cells; the database side is each
    -- vector's home cell (rn = 1)
    SELECT ax.vec_id AS id, ay.vec_id AS neighbor,
           round({_cos('ex.embedding', 'ey.embedding')}, 6) AS cos
    FROM assign ax
    JOIN assign ay ON ax.cid = ay.cid AND ay.rn = 1 AND ax.vec_id <> ay.vec_id
    JOIN embeddings ex ON ex.vec_id = ax.vec_id
    JOIN embeddings ey ON ey.vec_id = ay.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, neighbor) AS rn
    FROM pairs
)
SELECT id, neighbor, cos FROM ranked WHERE rn <= 5
"""


QUANTIZE_SQL = """
WITH s AS (
    SELECT vec_id AS id,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx,
           embedding AS v
    FROM embeddings
)
SELECT id, round(mx / 127.0, 6) AS scale,
       CAST(p.pos AS INT) AS pos,
       CAST(CASE WHEN mx > 1e-12
                 THEN round(CAST(v[p.pos] AS DOUBLE) / (mx / 127.0))
                 ELSE 0 END AS INT) AS q
FROM s, generate_series(1, 64) p(pos)
"""


@register("embedding_quantize_int8", oracle=QUANTIZE_SQL, covers=[])
def q_embedding_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization (scale = max|x|/127,
    q = round(x/scale)) — the embedding-compression step of a training
    pipeline, as pure Column expressions; cells exploded to rows for the
    value-hash compare."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qz = S.quantize_int8(emb, "vec_id", "embedding")
    return qz.select(
        "id",
        F.round("scale", 6).alias("scale"),
        F.posexplode("q").alias("pos0", "q"),
    ).select("id", "scale", (F.col("pos0") + 1).cast("int").alias("pos"), "q")


# DuckDB twin of one Lloyd's iteration, parameterized by the incoming
# centroid CTE name: assignment (argmax rounded cosine, cid tie-break),
# exact integer-scaled elementwise sums divided in double, L2-normalize,
# cast to float32 like the operator.
def _lloyd_iter(src: str, n: int) -> str:
    return f"""
a{n} AS (
    SELECT id, cid FROM (
        SELECT x.id, c.cid,
               row_number() OVER (
                   PARTITION BY x.id
                   ORDER BY round({_cos('x.v', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM v x CROSS JOIN {src} c
    ) t WHERE rn = 1
),
m{n} AS (
    SELECT a.cid, p.pos,
           CAST(SUM(CAST(round(CAST(x.v[p.pos] AS DOUBLE) * 1000000000.0)
                         AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000000000.0 AS m
    FROM a{n} a JOIN v x ON a.id = x.id, generate_series(1, 64) p(pos)
    GROUP BY a.cid, p.pos
),
r{n} AS (SELECT cid, list(m ORDER BY pos) AS cvr FROM m{n} GROUP BY cid),
c{n} AS (
    SELECT cid,
           list_transform(cvr, x -> CAST(x / sqrt(list_reduce(
               list_transform(cvr, y -> y * y), (xx, yy) -> xx + yy)) AS REAL))
               AS cv
    FROM r{n}
)
"""


KMEANS_SQL = f"""
WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
c0 AS (
    SELECT vec_id AS cid, embedding AS cv
    FROM embeddings ORDER BY vec_id LIMIT 4
),
{_lloyd_iter('c0', 1)},
{_lloyd_iter('c1', 2)}
SELECT id, cid AS cell, ccos FROM (
    SELECT x.id, c.cid,
           round({_cos('x.v', 'c.cv')}, 6) AS ccos,
           row_number() OVER (
               PARTITION BY x.id
               ORDER BY round({_cos('x.v', 'c.cv')}, 6) DESC, c.cid
           ) AS rn
    FROM v x CROSS JOIN c2 c
) t WHERE rn = 1
"""


@register("ann_kmeans_cells", oracle=KMEANS_SQL, covers=["O6"])
def q_ann_kmeans_cells(spark, sf_dir):
    """Spherical k-means (Lloyd's, 2 iterations, 4 cells) trained by the
    IVF trainer, then every vector assigned to its trained cell. Each
    iteration is one broadcast-centroid assignment pass plus a
    (cell, dim)-keyed aggregation whose shuffle size is cells x dims —
    independent of corpus size; means sum integer-scaled components
    exactly, so partial-aggregation order can't perturb the centroids
    and both engines compute bit-identical values."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = S.kmeans_centroids(
        emb, "vec_id", "embedding", n_cells=4, iterations=2
    ).select("cid", "cv", S.norm(F.col("cv")).alias("ncv"))
    vecs = S.vector_rows(emb, "vec_id", "embedding")
    return S.assign_cells(vecs, S.centroid_array(cents)).select(
        "id", "cell", "ccos"
    )


@register("ann_ivf_topk", oracle=IVF_SQL, covers=["O6", "J1", "O1"])
def q_ann_ivf(spark, sf_dir):
    """IVF approximate top-5: broadcast-centroid assignment (narrow pass)
    then candidate search over the query's 2 nearest cells (multi-probe,
    the IVF recall lever) — ~nprobe*n^2/C work and clean cell-partitioned
    parallelism; the inverted-file scale path next to the LSH one."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.ivf_topk(emb, "vec_id", "embedding", k=5, n_cells=8, nprobe=2, dim=DIM)


SEMDEDUP_THRESHOLD = 0.4

SEMDEDUP_SQL = f"""
WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
c0 AS (
    SELECT vec_id AS cid, embedding AS cv
    FROM embeddings ORDER BY vec_id LIMIT 4
),
{_lloyd_iter('c0', 1)},
{_lloyd_iter('c1', 2)},
cells AS (
    SELECT id, cid FROM (
        SELECT x.id, c.cid,
               row_number() OVER (
                   PARTITION BY x.id
                   ORDER BY round({_cos('x.v', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM v x CROSS JOIN c2 c
    ) t WHERE rn = 1
),
dups AS (
    SELECT DISTINCT b.id
    FROM cells a JOIN cells b ON a.cid = b.cid AND a.id < b.id
    JOIN v va ON va.id = a.id
    JOIN v vb ON vb.id = b.id
    WHERE round({_cos('va.v', 'vb.v')}, 6) >= {SEMDEDUP_THRESHOLD}
)
SELECT c.id, c.cid AS cell,
       CAST(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM cells c LEFT JOIN dups d ON d.id = c.id
"""


@register("semdedup_keep", oracle=SEMDEDUP_SQL, covers=["J9", "O6"])
def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): spherical-k-means clustering, then
    within-cluster cosine pruning — a vector is dropped when a
    smaller-id near-duplicate (cos >= 0.4) shares its cell. The cluster
    count is the scale lever: n_cells ~ N / target_cell_size keeps the
    per-cell pair join constant-sized while cells parallelize across
    the cluster (the paper runs k=25k on LAION-440M)."""
    from prosnet_prefect_pipelines_spark.operators.dedup import semdedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semdedup(
        emb, "vec_id", "embedding", n_cells=4, iterations=2,
        threshold=SEMDEDUP_THRESHOLD,
    )


ANN_RECALL_SQL = f"""
WITH exact_pairs AS (
    SELECT x.vec_id AS id, y.vec_id AS neighbor,
           round({_cos('x.embedding', 'y.embedding')}, 6) AS cos
    FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id
),
exact_ranked AS (
    SELECT id, neighbor,
           row_number() OVER (PARTITION BY id ORDER BY cos DESC, neighbor) AS rn
    FROM exact_pairs
),
exact_topk AS (SELECT id, neighbor FROM exact_ranked WHERE rn <= 5),
approx_topk AS (SELECT id, neighbor FROM ({RHP_LSH_SQL.strip().rstrip()}) a)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN a.neighbor IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit,
       CAST(SUM(CASE WHEN a.neighbor IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS recall_ppm
FROM exact_topk e
LEFT JOIN approx_topk a ON e.id = a.id AND e.neighbor = a.neighbor
"""


@register("ann_recall_report", oracle=ANN_RECALL_SQL, covers=["O6", "A2"])
def q_ann_recall_report(spark, sf_dir):
    """Recall instrumentation for the ANN tier: exact top-5 (brute
    force — the verification-scale tier) left-joined against the
    RHP-LSH top-5, recall reported in integer ppm — the quality gauge
    that decides planes/tables/bucket_cap BEFORE trusting the
    approximate path at scale. Composes the two already-oracled
    queries; one keyed join + one count.

    Measured context: THIS corpus is i.i.d. random vectors — the
    adversarial case for angle LSH (true "nearest" neighbors sit near
    90°, where hyperplane collision odds bottom out), giving ~19%
    recall at the pinned (4 planes, 2 tables). Real embedding corpora
    cluster, and recall climbs steeply with `tables`; this report is
    the dial for that trade."""
    exact = S.cosine_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        "vec_id", "embedding", k=5, dim=DIM,
    ).select("id", "neighbor")
    approx = q_ann_rhp_lsh(spark, sf_dir).select(
        "id", F.col("neighbor").alias("a_neighbor")
    )
    joined = exact.join(
        approx,
        (exact["id"] == approx["id"]) & (exact["neighbor"] == approx["a_neighbor"]),
        "left",
    ).select(exact["id"], "neighbor", "a_neighbor")
    return joined.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.when(F.col("a_neighbor").isNotNull(), 1).otherwise(0)).alias("n_hit"),
        F.expr(
            "CAST(sum(CASE WHEN a_neighbor IS NOT NULL THEN 1 ELSE 0 END) * 1000000"
            " div count(1) AS BIGINT)"
        ).alias("recall_ppm"),
    )
