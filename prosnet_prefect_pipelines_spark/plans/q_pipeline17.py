"""Pipeline batch 17 (north-star extension): embedding-distribution
drift, token-budget mixture planning, duplicate-cluster histograms, and
type-token compressibility — the reporting/planning tier of a
training-data pipeline, each hash-matched against a DuckDB twin.

Determinism: centroid sums are integer-scaled (1e6) before any
aggregation; mixture rates round integer cross-products; histograms and
ratios are integer counts with one rounded division.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# --- embedding drift ---------------------------------------------------------------------

# split the corpus into a reference half and a live half by vec_id
# parity; compare per-label centroids via integer-scaled sums
EMBEDDING_DRIFT_SQL = """
WITH scaled AS (
    SELECT vec_id, label, vec_id % 2 AS half, i.i AS dim,
           CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS v
    FROM embeddings, LATERAL (SELECT unnest(generate_series(1, 64)) AS i) i
),
cents AS (
    SELECT label, half, dim,
           CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
    FROM scaled GROUP BY label, half, dim
),
paired AS (
    SELECT a.label, a.dim,
           a.s * b.n - b.s * a.n AS num, a.n * b.n AS den
    FROM cents a JOIN cents b ON a.label = b.label AND a.dim = b.dim
    WHERE a.half = 0 AND b.half = 1
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_dims,
       -- den = na*nb is constant across dims of a label, so the exact
       -- integer SUM(|num|) divides ONCE (order-independent)
       round(CAST(SUM(abs(num)) AS DOUBLE) / MAX(den), 6) AS l1_shift_scaled
FROM paired GROUP BY label
"""


@register("embedding_drift", oracle=EMBEDDING_DRIFT_SQL, covers=["A2", "J1"])
def q_embedding_drift(spark, sf_dir):
    """Embedding-distribution drift monitor: per label, the L1 distance
    between the reference-half and live-half centroids, computed as
    exact integer cross-products (a.s*b.n - b.s*a.n over scaled sums) so
    no mean is ever a float — the retrain-trigger metric for embedding
    pipelines. One explode + two keyed aggregations; dims shard the
    shuffle key space."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    scaled = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim0", "ev"),
    ).select(
        "label",
        "half",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("ev").cast("double") * 1000000, 0).cast("long").alias("v"),
    )
    cents = scaled.groupBy("label", "half", "dim").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    a = cents.filter(F.col("half") == 0).select(
        "label", "dim", F.col("s").alias("sa"), F.col("n").alias("na")
    )
    b = cents.filter(F.col("half") == 1).select(
        "label", "dim", F.col("s").alias("sb"), F.col("n").alias("nb")
    )
    paired = a.join(b, on=["label", "dim"]).select(
        "label",
        (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).alias("num"),
        (F.col("na") * F.col("nb")).alias("den"),
    )
    return paired.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.round(
            F.sum(F.abs(F.col("num"))).cast("double") / F.max("den"), 6
        ).alias("l1_shift_scaled"),
    )


# --- token-budget mixture planning -------------------------------------------------------

_MIX_WEIGHTS = "VALUES ('src0', 50), ('src1', 30), ('src2', 15), ('src3', 5)"

MIXTURE_PLAN_SQL = f"""
WITH avail AS (
    SELECT source,
           CAST(SUM(length(trim(text))
                    - length(replace(trim(text), ' ', '')) + 1) AS BIGINT) AS tokens
    FROM documents GROUP BY source
),
weights AS (SELECT * FROM ({_MIX_WEIGHTS}) w(source, weight)),
budget AS (SELECT CAST(SUM(tokens) // 2 AS BIGINT) AS total FROM avail)
SELECT a.source, a.tokens, w.weight,
       CAST(w.weight * b.total // 100 AS BIGINT) AS target_tokens,
       CASE WHEN a.tokens * 100 <= w.weight * b.total THEN 1000000
            ELSE CAST(w.weight * b.total * 10000 // a.tokens AS BIGINT) END
           AS rate_ppm
FROM avail a JOIN weights w USING (source) CROSS JOIN budget b
"""


@register("mixture_budget_plan", oracle=MIXTURE_PLAN_SQL, covers=["A2", "J4"])
def q_mixture_budget_plan(spark, sf_dir):
    """Data-mixing budget plan: given per-source token inventories and
    target mixture weights, compute each source's token target and
    sampling rate (parts-per-million, integer arithmetic throughout —
    rate = min(1, weight*budget/available) without ever dividing
    floats). The planning query that configures mixture_sample;
    weights are a VALUES inline table, the budget a broadcast scalar."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.trim(F.col("text"))
    tokens = F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1
    avail = docs.groupBy("source").agg(F.sum(tokens).cast("long").alias("tokens"))
    weights = local_frame(
        spark,
        [("src0", 50), ("src1", 30), ("src2", 15), ("src3", 5)], "source string, weight long"
    )
    budget = avail.agg(F.expr("sum(tokens) div 2").alias("total"))
    return (
        avail.join(F.broadcast(weights), on="source")
        .crossJoin(F.broadcast(budget))
        .select(
            "source",
            "tokens",
            "weight",
            F.expr("(weight * total) div 100").alias("target_tokens"),
            F.when(
                F.col("tokens") * 100 <= F.col("weight") * F.col("total"), F.lit(1000000)
            )
            .otherwise(
                F.expr("(weight * total * 10000) div tokens")
            )
            .cast("long")
            .alias("rate_ppm"),
        )
    )


# --- duplicate-cluster histogram ---------------------------------------------------------

DUP_HISTOGRAM_SQL = """
WITH clusters AS (
    SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS size
    FROM (
        SELECT text FROM documents
        UNION ALL
        SELECT text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT text FROM documents WHERE doc_id % 20 = 0
    ) c
    GROUP BY md5(text)
)
SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(size * COUNT(*) AS BIGINT) AS n_docs
FROM clusters GROUP BY size
"""


@register("dup_cluster_histogram", oracle=DUP_HISTOGRAM_SQL, covers=["A2", "O3"])
def q_dup_cluster_histogram(spark, sf_dir):
    """Duplicate-cluster size histogram over an augmented corpus (10%
    duplicated once, 5% twice): how many exact-duplicate clusters of
    each size exist and how many documents they hold — the dedup
    effectiveness report. Two keyed aggregations (hash then size); the
    content hash, not the content, is the shuffle payload."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    c = (
        docs.select("text")
        .unionByName(docs.filter(F.col("doc_id") % 10 == 0).select("text"))
        .unionByName(docs.filter(F.col("doc_id") % 20 == 0).select("text"))
    )
    clusters = c.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("size")
    )
    return clusters.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


# --- type-token compressibility ----------------------------------------------------------

TYPE_TOKEN_SQL = """
WITH toks AS (
    SELECT source, t.tok
    FROM documents, unnest(string_split_regex(trim(text), '\\s+')) t(tok)
    WHERE t.tok <> ''
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types,
       round(CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*), 6) AS type_token_ratio
FROM toks GROUP BY source
"""


@register("type_token_ratio", oracle=TYPE_TOKEN_SQL, covers=["A1", "A2"])
def q_type_token_ratio(spark, sf_dir):
    """Per-source type-token ratio — the cheap compressibility /
    diversity proxy corpus reports lead with (low TTR flags templated
    or machine-generated text). One explode + one grouped distinct
    keyed on the source."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_types"),
        F.round(F.countDistinct("tok").cast("double") / F.count(F.lit(1)), 6).alias(
            "type_token_ratio"
        ),
    )
