"""Pipeline batch 11 (north-star extension): skew-salted joins, CUBE
aggregation, cross-document exact-substring duplication, containment
dedup, CUSUM drift monitoring, schema-evolution ingestion, and batch
KNN join — the remaining scale/quality surfaces of a 100 TB
training-data pipeline, each hash-matched against a DuckDB twin.

Float discipline (catalog convention): quantity sums go through
DECIMAL(18,6) before the final DOUBLE cast; CUSUM is pure BIGINT
arithmetic (values scaled by series length so the mean subtraction
stays integral); cosines are ordered folds rounded to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import aggregates as A
from prosnet_prefect_pipelines_spark.operators import dedup as D
from prosnet_prefect_pipelines_spark.operators import relational as R
from prosnet_prefect_pipelines_spark.operators import similarity as S
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_dedup import (
    CORPUS_CTE,
    corpus,
)
from prosnet_prefect_pipelines_spark.plans.q_similarity import _cos

# --- skew-salted join --------------------------------------------------------------------

SKEW_JOIN_SQL = """
WITH fact AS (
    SELECT CASE WHEN l_orderkey % 4 > 0 THEN 0 ELSE l_suppkey % 25 END AS k,
           l_quantity
    FROM lineitem
)
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
FROM fact f JOIN nation n ON f.k = n.n_nationkey
GROUP BY n.n_name
"""


@register("skew_join_salted", oracle=SKEW_JOIN_SQL, covers=["J1", "A2"])
def q_skew_join_salted(spark, sf_dir):
    """Fact-dim join under extreme key skew (~75% of fact rows share one
    key) executed via salt replication: the fact side gets a random
    bucket, the dim side is exploded across all buckets, and the shuffle
    key becomes (key, bucket) — the hot key fans out over ``salt``
    reducers instead of pinning one straggler. The salt column is
    dropped before aggregation, so the result is bit-identical to the
    plain join (the oracle). AQE skew splitting handles moderate skew on
    splittable stages; explicit salting is the lever when a single key
    exceeds what one task can hold."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    fact = li.select(
        F.when(F.col("l_orderkey") % 4 > 0, F.lit(0))
        .otherwise(F.col("l_suppkey") % 25)
        .alias("k"),
        "l_quantity",
    )
    dim = nation.select(F.col("n_nationkey").cast("long").alias("k"), "n_name")
    joined = R.salted_join(fact, dim, on="k", salt=8)
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("sum_qty"),
    )


# --- CUBE / grouping sets ----------------------------------------------------------------

CUBE_SQL = """
SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
       COALESCE(l_linestatus, '<all>') AS linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("cube_pricing", oracle=CUBE_SQL, covers=["A2"])
def q_cube_pricing(spark, sf_dir):
    """CUBE aggregation (all 2^2 grouping sets) with GROUPING() markers
    distinguishing a real NULL key from a rolled-up placeholder — one
    pass, expanded map-side, still partially aggregated before the
    shuffle (complements rollup_pricing's 3-set ROLLUP)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("linestatus"),
            "g_flag",
            "g_status",
            "n",
            "sum_qty",
        )
    )


# --- cross-document exact-substring duplication ------------------------------------------

DUP_SPANS_SQL = f"""
WITH {CORPUS_CTE.strip()},
words AS (
    SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM corpus
),
spans AS (
    SELECT id, span FROM words,
    LATERAL (
        SELECT unnest(
            CASE WHEN len(w) >= 8
                 THEN list_transform(generate_series(1, len(w) - 7),
                                     i -> array_to_string(w[i:i+7], ' '))
                 ELSE [array_to_string(w, ' ')] END
        ) AS span
    ) s
),
per AS (SELECT id, span, CAST(COUNT(*) AS BIGINT) AS c FROM spans GROUP BY id, span),
holders AS (SELECT span, CAST(COUNT(*) AS BIGINT) AS n_docs FROM per GROUP BY span)
SELECT id,
       CAST(SUM(c) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_spans,
       round(CAST(SUM(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE), 6) AS dup_span_frac
FROM per JOIN holders USING (span)
GROUP BY id
"""


@register("dup_spans_exact", oracle=DUP_SPANS_SQL, covers=["A2"])
def q_dup_spans_exact(spark, sf_dir):
    """Per-document fraction of word 8-gram occurrences that also occur
    in at least one other document — the exact-substring duplication
    signal (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", at k-gram granularity). Runs over the augmented
    dedup corpus (exact + truncated copies), where planted duplicates
    guarantee non-trivial dup fractions."""
    return D.dup_span_stats(corpus(spark, sf_dir), "id", "text", k=8)


# --- containment (one-sided Jaccard) dedup -----------------------------------------------

CONTAINMENT_SQL = f"""
WITH {CORPUS_CTE.strip()},
words AS (
    SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM corpus
),
shingles AS (
    SELECT DISTINCT id, shingle FROM words,
    LATERAL (
        SELECT unnest(
            CASE WHEN len(w) >= 3
                 THEN list_transform(generate_series(1, len(w) - 2),
                                     i -> array_to_string(w[i:i+2], ' '))
                 ELSE [array_to_string(w, ' ')] END
        ) AS shingle
    ) s
),
sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY id),
inter AS (
    SELECT x.id AS a, y.id AS b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM shingles x JOIN shingles y ON x.shingle = y.shingle AND x.id < y.id
    GROUP BY x.id, y.id
)
SELECT a, b, n_common,
       round(n_common / least(sa.n, sb.n), 6) AS containment
FROM inter
JOIN sizes sa ON inter.a = sa.id
JOIN sizes sb ON inter.b = sb.id
WHERE round(n_common / least(sa.n, sb.n), 6) >= 0.8
"""


@register("containment_dedup", oracle=CONTAINMENT_SQL, covers=["A2", "J1"])
def q_containment_dedup(spark, sf_dir):
    """One-sided Jaccard (containment = |A∩B| / min(|A|,|B|)) pairs at
    >= 0.8 — catches sub-document duplication that symmetric Jaccard
    misses (a short document embedded in a long one: boilerplate,
    quoted articles, mirrors with added chrome). Same inverted-index
    plan as ngram_jaccard_pairs; no cross join."""
    return D.containment_pairs(corpus(spark, sf_dir), "id", "text", k=3, threshold=0.8)


# --- CUSUM drift monitoring --------------------------------------------------------------

CUSUM_SQL = """
WITH daily AS (
    SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d')
),
tot AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d, CAST(SUM(n) AS BIGINT) AS t
    FROM daily GROUP BY event_type
),
y AS (
    SELECT daily.event_type, day, n, n * d - t AS yv
    FROM daily JOIN tot USING (event_type)
),
c AS (
    SELECT event_type, day, n,
           CAST(SUM(yv) OVER (PARTITION BY event_type ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cv
    FROM y
),
m AS (
    SELECT event_type, day, n, cv,
           MIN(cv) OVER (PARTITION BY event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING) AS cmin,
           MAX(cv) OVER (PARTITION BY event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING) AS cmax
    FROM c
)
SELECT event_type AS key, day AS bucket, n AS value,
       CAST(cv - LEAST(0, cmin) AS BIGINT) AS cusum_pos,
       CAST(GREATEST(0, cmax) - cv AS BIGINT) AS cusum_neg
FROM m
"""


@register("cusum_drift", oracle=CUSUM_SQL, covers=["A2"])
def q_cusum_drift(spark, sf_dir):
    """Per-event-type CUSUM drift statistic over daily event counts —
    the data-quality monitor that catches slow upstream volume drift a
    fixed threshold misses. Sequential recursion replaced by its closed
    prefix form (two running windows over ONE shuffle on the series
    key); pure BIGINT arithmetic via series-length scaling, so both
    engines agree bit-for-bit."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return A.cusum_scaled(daily, "event_type", "day", "n")


# --- schema-evolution union --------------------------------------------------------------

SCHEMA_EVOLUTION_SQL = """
SELECT o_orderkey, o_custkey,
       o_totalprice,
       CAST(NULL AS VARCHAR) AS o_orderstatus,
       'v1' AS src
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_custkey,
       CAST(NULL AS DOUBLE) AS o_totalprice,
       o_orderstatus,
       'v2' AS src
FROM orders WHERE o_orderkey % 2 = 1
"""


@register("schema_evolution_union", oracle=SCHEMA_EVOLUTION_SQL, covers=["P1"])
def q_schema_evolution_union(spark, sf_dir):
    """Schema-evolution ingestion: two snapshot generations with
    different column sets (v1 carries o_totalprice, v2 replaced it with
    o_orderstatus) unioned by NAME with missing columns null-padded —
    ``unionByName(allowMissingColumns=True)``, the DataFrame twin of
    parquet ``mergeSchema`` reads. Narrow (no shuffle); the lineage tag
    lets downstream disambiguate generations."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice", F.lit("v1").alias("src")
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_orderstatus", F.lit("v2").alias("src")
    )
    out = v1.unionByName(v2, allowMissingColumns=True)
    return out.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "src")


# --- batch KNN join ----------------------------------------------------------------------

KNN_JOIN_SQL = f"""
WITH q AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id % 101 = 0
),
c AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id % 101 <> 0
),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor,
           round({_cos('q.embedding', 'c.embedding')}, 6) AS cos
    FROM q, c
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor) AS rn
    FROM pairs
)
SELECT query_id, neighbor, cos FROM ranked WHERE rn <= 5
"""


@register("knn_join_batch", oracle=KNN_JOIN_SQL, covers=["O6", "O1", "J1"])
def q_knn_join_batch(spark, sf_dir):
    """Exact batch KNN join: a small query set (every 101st vector)
    against the rest of the corpus. Queries broadcast, corpus scored in
    place (never shuffled for pair generation), a partial per-partition
    top-k in the JVM before the only wide exchange — see
    ``similarity.knn_join`` for the 100 TB analysis.

    dim deliberately NOT passed (HOF fold): r3 benched this with
    dim=64 unrolled chains and regressed 2.17x vs r2 — attributed r4 to
    ~2 s of Catalyst planning the 600-node trees cost per call against
    ~0.8 s of execution (measured: 2.97 s unrolled vs 0.87 s fold at
    sf0.1). Unrolling only pays when pair volume makes execution
    dominate; see ``similarity.dot``."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 101 == 0)
    corpus_ = emb.filter(F.col("vec_id") % 101 != 0)
    return S.knn_join(
        queries, corpus_, "vec_id", "embedding", "vec_id", "embedding", k=5
    )
