"""Pipeline batch 56: embedding-space dataset QA + tokenizer planning —

- ``nearest_centroid_confusion``: the confident-learning-style label
  noise audit — assign every vector to its nearest label centroid by
  cosine and cross-tabulate predicted vs true label. Off-diagonal mass
  is the mislabel signal a dataset audit starts from.
- ``silhouette_labels``: per-label simplified silhouette — a(i) =
  Euclidean distance to own centroid, b(i) = distance to the nearest
  other centroid, s = (b-a)/max(a,b) — the cluster-separation report
  for an embedding space, means computed as exact scaled-integer sums.
- ``tokenizer_fertility``: per (lang, source) corpus fertility stats in
  exact integer ppm — chars/token and tokens/doc — the numbers a
  tokenizer-budget plan is built from.

Scale notes: centroids aggregate labels x 64 rows (corpus-size
independent) and broadcast into the scoring; the confusion audit ranks
the centroid array per vector, the silhouette's vector-by-centroid
fanout is N x n_labels narrow rows folded JVM-side; fertility
is one keyed aggregation with map-side combine. No corpus-sized join
anywhere.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import similarity as S
from prosnet_prefect_pipelines_spark.operators.textstats import tokens
from prosnet_prefect_pipelines_spark.plans.catalog import register

DIM = 64

# exact scaled-integer per-label centroid (same discipline as
# embedding_outliers, q_pipeline7.py) — reused by both audits
_CENT_CTE = f"""
v AS (SELECT vec_id AS id, label, embedding AS v FROM embeddings),
m AS (
    SELECT label, p.pos,
           CAST(SUM(CAST(round(CAST(v[p.pos] AS DOUBLE) * 1000000000.0)
                         AS BIGINT)) AS DOUBLE)
           -- COUNT(v[p.pos]) counts NON-NULL components, twinning the
           -- Spark side's posexplode element count: an embedding shorter
           -- than DIM contributes no row there, while COUNT(*) here
           -- would still count it and silently skew the mean
           / COUNT(v[p.pos]) / 1000000000.0 AS m
    FROM v, generate_series(1, {DIM}) p(pos)
    GROUP BY label, p.pos
),
cent AS (SELECT label, list(m ORDER BY pos) AS cv FROM m GROUP BY label)
"""

_DOT = (
    f"list_reduce(list_transform(generate_series(1, {DIM}), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _cos(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


_SQDIST = (
    f"list_reduce(list_transform(generate_series(1, {DIM}), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
    "(x, y) -> x + y)"
)

CONFUSION_SQL = f"""
WITH {_CENT_CTE},
scored AS (
    SELECT x.id, x.label AS true_label, c.label AS cand,
           round({_cos('x.v', 'c.cv')}, 6) AS ccos
    FROM v x CROSS JOIN cent c
),
pred AS (
    SELECT id, true_label, cand AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cand) AS rn
        FROM scored
    ) t WHERE rn = 1
)
SELECT CAST(true_label AS INT) AS true_label,
       CAST(pred_label AS INT) AS pred_label,
       CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY true_label, pred_label
"""


@register("nearest_centroid_confusion", oracle=CONFUSION_SQL, covers=["A2", "J1", "O6"])
def q_nearest_centroid_confusion(spark, sf_dir):
    """Label-noise audit: nearest-centroid prediction vs true label,
    cross-tabulated. Centroids are exact scaled-integer means, broadcast
    as one array row; each vector picks its label by the per-row
    nearest-centroid selection (labels as centroid ids), no window."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = emb.select(
        F.col("vec_id").alias("id"),
        "label",
        F.col("embedding").alias("v"),
        S.norm(F.col("embedding")).alias("nv"),
    )
    cent = S.label_centroids(emb, "label", "embedding").select(
        F.col("label").alias("cid"), "cv", S.norm(F.col("cv")).alias("ncv")
    )
    pred = S.assign_cells(v, S.centroid_array(cent)).select(
        F.col("label").alias("true_label"), F.col("cell").alias("pred_label")
    )
    return pred.groupBy(
        F.col("true_label").cast("int").alias("true_label"),
        F.col("pred_label").cast("int").alias("pred_label"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


SILHOUETTE_SQL = f"""
WITH {_CENT_CTE},
dists AS (
    SELECT x.id, x.label AS true_label, c.label AS cand,
           round(sqrt({_SQDIST.format(a='x.v', b='c.cv')}), 6) AS d
    FROM v x CROSS JOIN cent c
),
ab AS (
    SELECT id, true_label,
           MIN(CASE WHEN cand = true_label THEN d END) AS a,
           MIN(CASE WHEN cand <> true_label THEN d END) AS b
    FROM dists GROUP BY id, true_label
),
s AS (
    SELECT id, true_label, a, b,
           CAST(round(CASE WHEN greatest(a, b) > 0
                           THEN round((b - a) / greatest(a, b), 6)
                           ELSE 0.0 END * 1000000, 0) AS BIGINT) AS s6
    FROM ab
)
SELECT CAST(true_label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(s6) AS BIGINT) / (COUNT(*) * 1000000.0) AS mean_silhouette
FROM s GROUP BY true_label
"""


@register("silhouette_labels", oracle=SILHOUETTE_SQL, covers=["A2", "O6"])
def q_silhouette_labels(spark, sf_dir):
    """Cluster-separation report: per-label mean simplified silhouette
    (own-centroid distance vs nearest-other-centroid distance). Scores
    are 6-dp rounded and mean-reduced as exact scaled integers. The
    centroids broadcast into an N x n_labels narrow fanout."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = emb.select(F.col("vec_id").alias("id"), "label", F.col("embedding").alias("v"))
    cent = S.label_centroids(emb, "label", "embedding").select(
        F.col("label").alias("cand"), "cv"
    )
    dists = v.crossJoin(F.broadcast(cent)).select(
        "id",
        F.col("label").alias("true_label"),
        "cand",
        F.round(F.sqrt(S.sq_dist(F.col("v"), F.col("cv"))), 6).alias("d"),
    )
    ab = dists.groupBy("id", "true_label").agg(
        F.min(F.when(F.col("cand") == F.col("true_label"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("cand") != F.col("true_label"), F.col("d"))).alias("b"),
    )
    s6 = F.round(
        F.when(
            F.greatest("a", "b") > 0,
            F.round((F.col("b") - F.col("a")) / F.greatest("a", "b"), 6),
        ).otherwise(F.lit(0.0))
        * 1_000_000,
        0,
    ).cast("long")
    return (
        ab.select(F.col("true_label").cast("int").alias("label"), s6.alias("s6"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.sum("s6").cast("long") / (F.count(F.lit(1)) * F.lit(1_000_000.0))).alias(
                "mean_silhouette"
            ),
        )
    )


FERTILITY_SQL = """
WITH per_doc AS (
    SELECT lang, source,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
           len(text) AS n_chars
    FROM documents
    WHERE text IS NOT NULL AND trim(text) <> ''
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS tot_chars,
       CAST(SUM(n_chars) AS BIGINT) * 1000000
           // CAST(SUM(n_tokens) AS BIGINT) AS chars_per_token_ppm,
       CAST(SUM(n_tokens) AS BIGINT) * 1000000
           // CAST(COUNT(*) AS BIGINT) AS tokens_per_doc_ppm
FROM per_doc GROUP BY lang, source
"""


@register("tokenizer_fertility", oracle=FERTILITY_SQL, covers=["A2", "P2"])
def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer-budget planning: per (lang, source) whitespace-token
    fertility in exact integer ppm — chars per token and tokens per
    doc. One keyed aggregation with map-side combine; token counts via
    the shared tokenizer so numbers line up with the ranking tier."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per_doc = docs.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    ).select(
        "lang",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tot_tokens"),
        F.sum("n_chars").cast("long").alias("tot_chars"),
        F.expr("(sum(n_chars) * 1000000) div sum(n_tokens)").alias(
            "chars_per_token_ppm"
        ),
        F.expr("(sum(n_tokens) * 1000000) div count(1)").alias("tokens_per_doc_ppm"),
    )
