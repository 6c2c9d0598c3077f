"""Pipeline batch 80 (north-star extension): relational linear algebra —
sparse COO matrix multiply, exact Gram matrices, embedding analogy
search, two-step Markov transitions, and boolean co-occurrence matmul.

Matrix multiply in a relational engine IS a join + grouped sum on the
shared index — the shape that scales (shuffle on the contraction key,
partial aggregation on the output key). Exactness discipline: all
products accumulate integer-scaled components."""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register

# ---------------------------------------------------------------------------
# sparse COO matmul: doc-term counts x term-topic weights.

MATMUL_SQL = """
WITH a AS (  -- A[doc, term] = tf
    SELECT doc_id AS i, t.term AS k, COUNT(*) AS v
    FROM documents, unnest(string_split_regex(trim(text), '\\s+')) t(term)
    WHERE text IS NOT NULL AND t.term <> ''
    GROUP BY doc_id, t.term
),
b AS (  -- B[term, topic]: deterministic hash-derived integer weights
    SELECT DISTINCT k, tp.topic,
           (list_sum(list_transform(generate_series(1, 4), i ->
               CAST(strpos('0123456789abcdef',
                           substr(md5(k || ':' || CAST(tp.topic AS VARCHAR)), i, 1))
                    - 1 AS BIGINT)
               * CAST(power(16, 4 - i) AS BIGINT))) % 7) - 3 AS w
    FROM a, generate_series(0, 3) tp(topic)
),
c AS (
    SELECT a.i, b.topic, SUM(a.v * b.w) AS cv
    FROM a JOIN b USING (k)
    GROUP BY a.i, b.topic
)
SELECT i AS doc_id, CAST(topic AS BIGINT) AS topic, CAST(cv AS BIGINT) AS value
FROM c WHERE cv <> 0
"""


@register("sparse_matmul_coo", oracle=MATMUL_SQL, covers=["J1", "A2"])
def q_sparse_matmul_coo(spark, sf_dir):
    """Sparse matrix multiply in COO form: C = A x B where A is the
    doc-term count matrix and B a deterministic term-topic weight
    matrix — relationally, a JOIN on the contraction index (term) and a
    grouped SUM on the output key (doc, topic). At 100 TB the shuffle
    keys are exactly the matrix indexes; B (vocab x 4) broadcasts.
    Integer weights in [-3, 3] keep every product exact."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    a = (
        docs.select(
            F.col("doc_id").alias("i"),
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("k"),
        )
        .filter(F.col("k") != "")
        .groupBy("i", "k")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    topics = spark.range(0, 4).select(F.col("id").cast("int").alias("topic"))
    terms = a.select("k").distinct()
    # positional value of the md5 prefix's first 4 hex digits — exactly
    # what the oracle's strpos/power fold computes
    hex4 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("k"), F.lit(":"), F.col("topic").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    b = (
        terms.join(F.broadcast(topics))
        .select("k", "topic", ((hex4 % 7) - 3).alias("w"))
    )
    c = (
        a.join(b, "k")
        .groupBy("i", "topic")
        .agg(F.sum(F.col("v") * F.col("w")).alias("cv"))
        .filter(F.col("cv") != 0)
    )
    return c.select(
        F.col("i").alias("doc_id"),
        F.col("topic").cast("long").alias("topic"),
        F.col("cv").cast("long").alias("value"),
    )


# ---------------------------------------------------------------------------
# exact Gram matrix of the embedding corpus.

GRAM_SQL = """
WITH comp AS (
    SELECT p.pos AS d, CAST(round(CAST(embedding[p.pos] AS DOUBLE) * 1000000)
                            AS BIGINT) AS x,
           vec_id
    FROM embeddings, generate_series(1, 64) p(pos)
),
pairs AS (
    SELECT a.d AS di, b.d AS dj, SUM(CAST(a.x AS HUGEINT) * b.x) AS s
    FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.d <= b.d
    GROUP BY a.d, b.d
)
SELECT CAST(di AS BIGINT) AS di, CAST(dj AS BIGINT) AS dj,
       CAST(s AS BIGINT) AS gram_micro2
FROM pairs
"""


@register("gram_matrix_exact", oracle=GRAM_SQL, covers=["A2", "J1"])
def q_gram_matrix_exact(spark, sf_dir):
    """Exact Gram matrix G = X^T X over the embedding corpus: every
    (dim_i, dim_j <= dim_j) entry as the exact integer sum of
    micro-scaled component products — the covariance/PCA building
    block. The contraction joins components on the VECTOR id (each
    vector's 64 components are co-located rows from one posexplode),
    and the output is dim² keyed sums — corpus-size-independent
    shuffle, the whole reduction map-side combinable."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "xraw")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("d"),
        F.round(F.col("xraw").cast("double") * 1_000_000).cast("long").alias("x"),
    )
    a = comp.select("vec_id", F.col("d").alias("di"), F.col("x").alias("xi"))
    b = comp.select("vec_id", F.col("d").alias("dj"), F.col("x").alias("xj"))
    pairs = (
        a.join(b, "vec_id")
        .filter(F.col("di") <= F.col("dj"))
        .groupBy("di", "dj")
        .agg(
            F.sum(
                F.col("xi").cast("decimal(38,0)") * F.col("xj")
            ).alias("s")
        )
    )
    return pairs.select(
        F.col("di").cast("long").alias("di"),
        F.col("dj").cast("long").alias("dj"),
        F.col("s").cast("long").alias("gram_micro2"),
    )


# ---------------------------------------------------------------------------
# embedding analogy: a - b + c -> nearest neighbors.

from prosnet_prefect_pipelines_spark.plans.q_similarity import (  # noqa: E402
    DOT_FOLD,
)

ANALOGY_SQL = f"""
WITH va AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 1),
vb AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 2),
vc AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 3),
target AS (
    SELECT list_transform(generate_series(1, 64), i ->
        CAST(va.v[i] AS DOUBLE) - CAST(vb.v[i] AS DOUBLE)
        + CAST(vc.v[i] AS DOUBLE)) AS t
    FROM va, vb, vc
),
scored AS (
    SELECT e.vec_id,
           round(({DOT_FOLD.format(a='t', b='e.embedding')}) /
                 (sqrt({DOT_FOLD.format(a='t', b='t')})
                  * sqrt({DOT_FOLD.format(a='e.embedding', b='e.embedding')})), 6)
               AS cos
    FROM embeddings e CROSS JOIN target
    WHERE e.vec_id NOT IN (1, 2, 3)
)
SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 3
"""


@register("vector_analogy_topk", oracle=ANALOGY_SQL, covers=["O6", "O1"])
def q_vector_analogy_topk(spark, sf_dir):
    """Embedding analogy search (king - man + woman): the target vector
    a - b + c built by exact per-component arithmetic, then the top-3
    nearest corpus vectors by ordered-fold cosine (query ids excluded).
    The target is a broadcast single row; scoring is one narrow pass +
    TakeOrdered."""
    from prosnet_prefect_pipelines_spark.operators.similarity import cosine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    va = emb.filter(F.col("vec_id") == 1).select(F.col("embedding").alias("a"))
    vb = emb.filter(F.col("vec_id") == 2).select(F.col("embedding").alias("b"))
    vc = emb.filter(F.col("vec_id") == 3).select(F.col("embedding").alias("c"))
    target = (
        va.crossJoin(vb)
        .crossJoin(vc)
        .select(
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: F.element_at("a", i).cast("double")
                - F.element_at("b", i).cast("double")
                + F.element_at("c", i).cast("double"),
            ).alias("t")
        )
    )
    scored = (
        emb.filter(~F.col("vec_id").isin(1, 2, 3))
        .crossJoin(F.broadcast(target))
        .select(
            "vec_id",
            cosine(F.col("t"), F.col("embedding")).alias("cos"),
        )
    )
    return scored.orderBy(F.col("cos").desc(), F.col("vec_id")).limit(3)


# ---------------------------------------------------------------------------
# two-step Markov transitions (P^2 numerators, exact).

MARKOV2_SQL = """
WITH ev AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
    FROM events WHERE user_id IS NOT NULL
),
steps AS (
    SELECT event_type AS a,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id) AS b
    FROM ev
),
t1 AS (SELECT a, b, COUNT(*) AS c FROM steps WHERE b IS NOT NULL GROUP BY a, b),
t2 AS (
    SELECT x.a, y.b, SUM(x.c * y.c) AS num2
    FROM t1 x JOIN t1 y ON y.a = x.b
    GROUP BY x.a, y.b
),
rowsum AS (SELECT a, SUM(num2) AS den FROM t2 GROUP BY a)
SELECT t2.a AS from_state, t2.b AS to_state,
       CAST(t2.num2 AS BIGINT) AS num2,
       CAST(CAST(t2.num2 AS HUGEINT) * 1000000 // r.den AS BIGINT) AS p2_ppm
FROM t2 JOIN rowsum r USING (a)
"""


@register("markov_two_step", oracle=MARKOV2_SQL, covers=["J1", "A2"])
def q_markov_two_step(spark, sf_dir):
    """Two-step Markov transitions: P² computed as the relational
    matmul of the transition-count matrix with itself (join on the
    intermediate state, grouped sum), row-normalized to ppm — where a
    user's event type lands two steps out. The state space is tiny
    (|event_types|²), so the matmul shuffles a constant-size frame
    regardless of corpus scale."""
    from prosnet_prefect_pipelines_spark.model import read_events
    from pyspark.sql.window import Window

    ev = read_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    steps = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    t1 = steps.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
    x = t1.select(F.col("a"), F.col("b").alias("mid"), F.col("c").alias("cx"))
    y = t1.select(F.col("a").alias("mid"), F.col("b"), F.col("c").alias("cy"))
    t2 = (
        x.join(y, "mid")
        .groupBy("a", "b")
        .agg(F.sum(F.col("cx") * F.col("cy")).alias("num2"))
    )
    rowsum = t2.groupBy("a").agg(F.sum("num2").alias("den"))
    return t2.join(rowsum, "a").select(
        F.col("a").alias("from_state"),
        F.col("b").alias("to_state"),
        F.col("num2").cast("long").alias("num2"),
        F.expr(
            "CAST(CAST(num2 AS DECIMAL(38,0)) * 1000000 div den AS BIGINT)"
        ).alias("p2_ppm"),
    )


# ---------------------------------------------------------------------------
# boolean co-occurrence matmul: C = A^T A over the doc-term incidence.

COOC_SQL = """
WITH toks AS (
    SELECT DISTINCT doc_id, t.term
    FROM documents, unnest(string_split_regex(trim(text), '\\s+')) t(term)
    WHERE text IS NOT NULL AND len(t.term) >= 4
),
df_ AS (SELECT term, COUNT(*) AS df FROM toks GROUP BY term),
top_terms AS (SELECT term FROM df_ ORDER BY df DESC, term LIMIT 12),
filt AS (
    SELECT t.doc_id, t.term FROM toks t JOIN top_terms USING (term)
)
SELECT a.term AS t1, b.term AS t2, CAST(COUNT(*) AS BIGINT) AS n_docs_both
FROM filt a JOIN filt b ON a.doc_id = b.doc_id AND a.term < b.term
GROUP BY a.term, b.term
"""


@register("term_cooccurrence_matmul", oracle=COOC_SQL, covers=["J1", "A1"])
def q_term_cooccurrence_matmul(spark, sf_dir):
    """Boolean co-occurrence matmul: C = AᵀA over the doc-term
    incidence matrix restricted to the 12 highest-df terms — the
    document-level co-occurrence counts a topic/correlation analysis
    starts from (the windowed PMI collocations are the positional
    cousin). The contraction joins on the doc id; restricting to a
    top-k term slice keeps the output k² regardless of vocabulary."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
        )
        .filter(F.length("term") >= 4)
        .distinct()
    )
    df_ = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    top_terms = df_.orderBy(F.col("df").desc(), F.col("term")).limit(12).select(
        "term"
    )
    filt = toks.join(F.broadcast(top_terms), "term")
    a = filt.select("doc_id", F.col("term").alias("t1"))
    b = filt.select("doc_id", F.col("term").alias("t2"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_both"))
    )
