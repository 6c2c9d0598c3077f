"""Pipeline batch 55: hybrid retrieval & ranking evaluation —

- ``rrf_fusion``: reciprocal-rank fusion of a lexical retriever (Okapi
  BM25 over the fixed query-term set) and a dense retriever (cosine
  against a deterministic query vector) — the standard hybrid-search
  merge. Contributions round(1e6/(60+rank)) are summed as exact scaled
  integers; missing side contributes 0; top-20 fused.
- ``ndcg_eval``: retrieval evaluation — 4 synthetic dense queries (one
  per embedding label 0..3, query vector a deterministic function of
  the label), graded relevance rel=3 when the hit's label matches the
  query, nDCG@10 + MRR per query via ``ranking.ndcg_mrr``.
- ``char_entropy_filter``: per-document Shannon character entropy over
  the first 120 chars — the classic low-entropy quality gate (repeated
  chars / boilerplate) — via ``textstats.char_entropy``.

Scale notes: the fusion joins run over top-K candidate lists (tiny,
broadcastable at cluster scale — the corpus-sized work is in the
upstream retrievers, which shuffle once on their keys); the eval is a
4x fanout narrow pass plus per-query windows over candidate rows; the
entropy pass explodes a bounded 120-char prefix into one keyed count
with map-side partial aggregation. The per-retriever row_number ranks
here are single-partition over hit-set-sized frames (hundreds of rows)
— at cluster scale the same rank is per-query-partitioned, never
corpus-global.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.operators import ranking as R
from prosnet_prefect_pipelines_spark.operators import similarity as S
from prosnet_prefect_pipelines_spark.operators import textstats as T
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_ranking import BM25_SQL, BM25_TERMS

# deterministic 64-dim query vector: q[i] = (((i*37 + label*11) % 19) - 9) / 10
# — integer arithmetic then one exact /10.0, so Spark literals and the
# DuckDB expression produce bit-identical doubles.
DIM = 64


def _qvec(label: int) -> list[float]:
    return [(((i * 37 + label * 11) % 19) - 9) / 10.0 for i in range(1, DIM + 1)]


def _qvec_sql(label: str) -> str:
    """DuckDB fold-ready element expression for plane index i (1-based)."""
    return f"((((i * 37 + ({label}) * 11) % 19) - 9) / 10.0)"


def _dense_dot(label: str) -> str:
    return f"""
list_reduce(
    list_transform(generate_series(1, {DIM}),
                   i -> CAST(e.embedding[i] AS DOUBLE) * {_qvec_sql(label)}),
    (x, y) -> x + y)
"""


def _dense_norms(label: str) -> tuple[str, str]:
    en = f"""
sqrt(list_reduce(
    list_transform(generate_series(1, {DIM}),
                   i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
    (x, y) -> x + y))
"""
    qn = f"""
sqrt(list_reduce(
    list_transform(generate_series(1, {DIM}),
                   i -> {_qvec_sql(label)} * {_qvec_sql(label)}),
    (x, y) -> x + y))
"""
    return en, qn


_EN0, _QN0 = _dense_norms("0")

RRF_SQL = f"""
WITH lex AS (SELECT * FROM ({BM25_SQL}) bm),
lexr AS (
    SELECT id, row_number() OVER (ORDER BY score DESC, id) AS lex_rank FROM lex
),
dense AS (
    SELECT e.vec_id AS id,
           round(({_dense_dot('0')}) / (({_EN0}) * ({_QN0})), 6) AS cos
    FROM embeddings e
),
denser AS (
    SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS dense_rank FROM dense
),
fused AS (
    SELECT COALESCE(l.id, d.id) AS id,
           l.lex_rank, d.dense_rank,
           COALESCE(CAST(round(1000000.0 / (60 + l.lex_rank), 0) AS BIGINT), 0)
         + COALESCE(CAST(round(1000000.0 / (60 + d.dense_rank), 0) AS BIGINT), 0)
               AS s6
    FROM (SELECT * FROM lexr WHERE lex_rank <= 50) l
    FULL OUTER JOIN (SELECT * FROM denser WHERE dense_rank <= 50) d ON l.id = d.id
)
SELECT id, CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(dense_rank AS BIGINT) AS dense_rank,
       s6 / 1000000.0 AS rrf_score
FROM (SELECT *, row_number() OVER (ORDER BY s6 DESC, id) AS rn FROM fused) t
WHERE rn <= 20
"""


@register("rrf_fusion", oracle=RRF_SQL, covers=["J2", "A2", "O6"])
def q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical ranks fused with dense cosine
    ranks by reciprocal-rank fusion (k=60), top-20 by fused score.
    Both retrievers truncate to their top-50 before the full-outer
    fusion join, so the fusion operates on candidate lists, not the
    corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # top-k via orderBy().limit(k) — compiles to TakeOrderedAndProject
    # (per-partition top-k + driver merge of k rows), never a single-
    # partition global window over the corpus. The rank columns are then
    # re-derived by a window over the ALREADY-truncated <=50-row frame —
    # identical values (deterministic total order), bounded input.
    lex = R.bm25(docs, "doc_id", "text", BM25_TERMS)
    wl = Window.orderBy(F.col("score").desc(), F.col("id"))
    lexr = (
        lex.orderBy(F.col("score").desc(), F.col("id"))
        .limit(50)
        .withColumn("rank", F.row_number().over(wl))
        .select("id", "rank")
    )

    qv = F.array(*[F.lit(x) for x in _qvec(0)])
    dense = emb.select(
        F.col("vec_id").alias("id"),
        S.cosine(F.col("embedding"), qv, 64).alias("cos"),
    )
    wd = Window.orderBy(F.col("cos").desc(), F.col("id"))
    denser = (
        dense.orderBy(F.col("cos").desc(), F.col("id"))
        .limit(50)
        .withColumn("rank", F.row_number().over(wd))
        .select("id", "rank")
    )

    fused = R.rrf_fuse([("lex", lexr), ("dense", denser)], k=60)
    return (
        fused.orderBy(F.col("rrf_score").desc(), F.col("id"))
        .limit(20)
        .select("id", "lex_rank", "dense_rank", "rrf_score")
    )


NDCG_SQL = f"""
WITH qs AS (SELECT CAST(q AS INT) AS q FROM generate_series(0, 3) t(q)),
run AS (
    SELECT qs.q, e.vec_id,
           round(({_dense_dot('qs.q')}) /
                 (({_dense_norms('qs.q')[0]}) * ({_dense_norms('qs.q')[1]})), 6) AS cos,
           CASE WHEN e.label = qs.q THEN 3 ELSE 0 END AS rel
    FROM qs CROSS JOIN embeddings e
),
r1 AS (
    SELECT q, vec_id, rel,
           row_number() OVER (PARTITION BY q ORDER BY cos DESC, vec_id) AS r
    FROM run
),
ranked AS (
    SELECT q, vec_id, rel, r,
           row_number() OVER (PARTITION BY q ORDER BY rel DESC, r) AS ir
    FROM r1
),
terms AS (
    SELECT q, rel, r, ir,
           CAST(round(round((pow(2.0, rel) - 1) / log2(r + 1.0), 6) * 1000000, 0)
                AS BIGINT) AS t6,
           CAST(round(round((pow(2.0, rel) - 1) / log2(ir + 1.0), 6) * 1000000, 0)
                AS BIGINT) AS it6
    FROM ranked
),
agg AS (
    SELECT q,
           CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
           CAST(SUM(CASE WHEN r <= 10 THEN t6 ELSE 0 END) AS BIGINT) AS dcg6,
           CAST(SUM(CASE WHEN ir <= 10 THEN it6 ELSE 0 END) AS BIGINT) AS idcg6,
           MIN(CASE WHEN rel > 0 AND r <= 10 THEN r END) AS first_hit
    FROM terms GROUP BY q
)
SELECT q, n_rel,
       dcg6 / 1000000.0 AS dcg,
       idcg6 / 1000000.0 AS idcg,
       CASE WHEN idcg6 > 0 THEN round(CAST(dcg6 AS DOUBLE) / idcg6, 6) ELSE 0.0 END AS ndcg,
       COALESCE(round(1.0 / first_hit, 6), 0.0) AS mrr
FROM agg
"""


@register("ndcg_eval", oracle=NDCG_SQL, covers=["A2", "O6", "O1"])
def q_ndcg_eval(spark, sf_dir):
    """Retrieval-quality evaluation: 4 dense queries (deterministic
    vectors parameterized by label 0..3), graded relevance from the
    embeddings' label column, nDCG@10 + MRR per query. The 4x corpus
    fanout is narrow; ranking windows partition by query."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = spark.range(4).select(F.col("id").cast("int").alias("q"))
    qvec = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: (((i * 37 + F.col("q") * 11) % 19) - 9) / F.lit(10.0),
    )
    run = qs.crossJoin(emb).select(
        "q",
        "vec_id",
        S.cosine(F.col("embedding"), qvec, 64).alias("cos"),
        F.when(F.col("label") == F.col("q"), 3).otherwise(0).alias("rel"),
    )
    w = Window.partitionBy("q").orderBy(F.col("cos").desc(), F.col("vec_id"))
    ranked = run.withColumn("rank", F.row_number().over(w)).select(
        "q", "vec_id", "rank", "rel"
    )
    return R.ndcg_mrr(ranked, query_col="q", rank_col="rank", rel_col="rel", k=10)


ENTROPY_SQL = """
WITH pre AS (
    SELECT doc_id, left(text, 120) AS s
    FROM documents
    WHERE text IS NOT NULL AND len(left(text, 120)) > 0
),
chars AS (
    SELECT doc_id, len(s) AS n_used, substr(s, CAST(i AS INT), 1) AS ch
    FROM pre, unnest(generate_series(1, len(s))) t(i)
),
cnt AS (
    SELECT doc_id, n_used, ch, COUNT(*) AS c
    FROM chars GROUP BY doc_id, n_used, ch
),
terms AS (
    SELECT doc_id, n_used,
           CAST(round(round(-(c / CAST(n_used AS DOUBLE))
                            * ln(c / CAST(n_used AS DOUBLE)), 6) * 1000000, 0)
                AS BIGINT) AS t6
    FROM cnt
)
SELECT doc_id AS id, CAST(n_used AS BIGINT) AS n_used,
       CAST(SUM(t6) AS BIGINT) / 1000000.0 AS entropy,
       (CAST(SUM(t6) AS BIGINT) / 1000000.0) < 2.5 AS low_entropy
FROM terms GROUP BY doc_id, n_used
"""


@register("char_entropy_filter", oracle=ENTROPY_SQL, covers=["P2", "A2"])
def q_char_entropy_filter(spark, sf_dir):
    """Low-entropy quality gate: Shannon character entropy of each
    document's first 120 characters, flagging entropy < 2.5 nats.
    Bounded explode + one keyed count — narrow, map-side combinable."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return T.char_entropy(docs, "doc_id", "text", prefix_len=120)
