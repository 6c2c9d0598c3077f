"""Training-data pipeline queries, batch 5 (north-star extension):
streaming cardinality sketches, contrastive negative sampling,
quality-aware dedup keepers, and SPARQL property-path compositions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import sketch as SK
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_streaming import US_HOUR

# ---------------------------------------------------------------------------
# streaming windowed HLL (bounded-state streaming cardinality)

_HLL_ALPHA_M2 = repr(0.7213 / (1.0 + 1.079 / SK.HLL_M) * SK.HLL_M * SK.HLL_M)

STREAM_HLL_SQL = f"""
WITH h AS (
    SELECT epoch_us(ts) - epoch_us(ts) % {US_HOUR} AS window_start,
           list_sum(list_transform(generate_series(1, 12), i ->
               CAST(strpos('0123456789abcdef',
                           substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
               * CAST(power(16, 12 - i) AS BIGINT))) AS hash48
    FROM events
),
parts AS (
    SELECT window_start,
           hash48 // {1 << SK._REM_BITS} AS b,
           hash48 % {1 << SK._REM_BITS} AS rem
    FROM h
),
regs AS (
    SELECT window_start, b,
           MAX({SK._REM_BITS + 1} - length(ltrim(bin(rem), '0'))) AS rank
    FROM parts GROUP BY window_start, b
),
agg AS (
    SELECT window_start, COUNT(*) AS nset,
           SUM(1.0 / (CAST(1 AS BIGINT) << rank)) AS s
    FROM regs GROUP BY window_start
)
SELECT window_start,
       CAST(FLOOR({_HLL_ALPHA_M2} / (s + ({SK.HLL_M} - nset))) AS BIGINT)
           AS hll_estimate,
       CAST(nset AS BIGINT) AS registers_set
FROM agg
"""


@register("stream_hll_distinct", oracle=STREAM_HLL_SQL, covers=["T1", "A1"])
def q_stream_hll_distinct(spark, sf_dir):
    """X-STREAM-HLL: per-hour distinct-user registers maintained by REAL
    Structured Streaming — state is <= 512 register rows per window (the
    sketch bound), never the user set, which is the point of streaming
    cardinality at scale. The batch estimate step then reads the final
    registers. Raw HLL estimate (no small-range correction — see
    sketch.hll_estimate); the oracle recomputes the whole sketch in
    batch SQL and must match bit-for-bit."""
    from prosnet_prefect_pipelines_spark.plans.q_stream import _events_stream
    from prosnet_prefect_pipelines_spark.streaming.tuning import run_available_now

    ev = _events_stream(spark, sf_dir)
    bucket, rank = SK.hll_register(F.col("user_id"))
    agg = (
        ev.withWatermark("event_time", "1 hour")
        .groupBy(
            F.window("event_time", "1 hour").alias("w"), bucket.alias("_b")
        )
        .agg(F.max(rank).alias("_rank"))
    )
    q = run_available_now(agg, sink="memory", name="hll", output_mode="complete")
    out = spark.table(q.name)
    regs = out.select(
        F.unix_micros(F.col("w.start")).alias("window_start"), "_b", "_rank"
    )
    return SK.hll_estimate(regs, ["window_start"])


# ---------------------------------------------------------------------------
# contrastive negative sampling

_NEG_K = 4

NEG_SAMPLE_SQL = f"""
WITH n AS (SELECT COUNT(*) AS cnt FROM embeddings),
anchors AS (SELECT vec_id AS anchor, label FROM embeddings),
cand AS (
    SELECT a.anchor, a.label AS anchor_label, j,
           (a.anchor * 31 + j * 7919) % cnt AS neg_id
    FROM anchors a, generate_series(1, {_NEG_K}) t(j), n
)
SELECT c.anchor, CAST(c.j AS INT) AS slot, c.neg_id,
       e.label AS neg_label
FROM cand c JOIN embeddings e ON e.vec_id = c.neg_id
WHERE e.label <> c.anchor_label AND c.neg_id <> c.anchor
"""


@register("negative_sampling", oracle=NEG_SAMPLE_SQL, covers=["J1", "P7"])
def q_negative_sampling(spark, sf_dir):
    """X-NEG-SAMPLE: deterministic negatives for contrastive training —
    per anchor, K pseudo-random candidate ids ((a*31 + j*7919) mod N,
    the in-batch-negatives shape made key-pure), resolved by an
    id-equi-join, same-label/self collisions dropped. Linear in N*K,
    never a cross join; reruns produce identical pairs, so a cached
    negatives table stays valid across pipeline retries."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    anchors = emb.select(F.col("vec_id").alias("anchor"), F.col("label").alias("anchor_label"))
    cand = anchors.select(
        "anchor",
        "anchor_label",
        F.explode(F.array(*[F.lit(j) for j in range(1, _NEG_K + 1)])).alias("j"),
    ).select(
        "anchor",
        "anchor_label",
        "j",
        ((F.col("anchor") * 31 + F.col("j") * 7919) % n).alias("neg_id"),
    )
    return (
        cand.join(
            emb.select(F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")),
            on="neg_id",
        )
        .filter(
            (F.col("neg_label") != F.col("anchor_label"))
            & (F.col("neg_id") != F.col("anchor"))
        )
        .select("anchor", F.col("j").cast("int").alias("slot"), "neg_id", "neg_label")
    )


# ---------------------------------------------------------------------------
# quality-aware dedup keeper (argmax quality per near-dup cluster)

from prosnet_prefect_pipelines_spark.operators import graph as G  # noqa: E402
from prosnet_prefect_pipelines_spark.plans.q_dedup import (  # noqa: E402
    COMPONENT_CTES,
    MINHASH_PAIR_CTES,
    corpus,
    lsh_pairs,
)

KEEP_BEST_SQL = f"""
WITH RECURSIVE {MINHASH_PAIR_CTES}, {COMPONENT_CTES},
membership AS (
    SELECT c.id, coalesce(m.comp_id, c.id) AS cluster, length(c.text) AS q
    FROM corpus c LEFT JOIN comps m ON c.id = m.node_id
),
best AS (
    SELECT cluster, id AS keeper FROM (
        SELECT cluster, id,
               row_number() OVER (PARTITION BY cluster ORDER BY q DESC, id) AS rn
        FROM membership
    ) t WHERE rn = 1
)
SELECT mm.id, b.keeper, mm.id = b.keeper AS keep
FROM membership mm JOIN best b ON mm.cluster = b.cluster
"""


@register("dedup_keep_best", oracle=KEEP_BEST_SQL, covers=["J9", "O6"])
def q_dedup_keep_best(spark, sf_dir):
    """X-DEDUP-BEST: near-dup keeper = highest-QUALITY member per cluster
    (length proxy; id tie-break) instead of min-id — what a curation
    pipeline actually wants: the near-dup family collapses onto its best
    exemplar. Same linear LSH -> components machinery as dedup_clusters
    plus one keyed argmax window over cluster membership."""
    from pyspark.sql.window import Window

    c = corpus(spark, sf_dir)
    pairs = lsh_pairs(spark, sf_dir)
    edges = pairs.select(
        F.lpad(F.col("a").cast("string"), 12, "0").alias("src"),
        F.lpad(F.col("b").cast("string"), 12, "0").alias("dst"),
    )
    comps = G.connected_components(edges).select(
        F.col("node").cast("bigint").alias("node_id"),
        F.col("comp").cast("bigint").alias("comp_id"),
    )
    membership = (
        c.select("id", F.length("text").alias("q"))
        .join(comps, F.col("id") == F.col("node_id"), "left")
        .select("id", "q", F.coalesce("comp_id", "id").alias("cluster"))
    )
    w = Window.partitionBy("cluster").orderBy(F.col("q").desc(), F.col("id"))
    best = (
        membership.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cluster", F.col("id").alias("keeper"))
    )
    return membership.join(best, on="cluster").select(
        "id", "keeper", (F.col("id") == F.col("keeper")).alias("keep")
    )


# ---------------------------------------------------------------------------
# SPARQL property-path compositions

from prosnet_prefect_pipelines_spark.plans.tpch_graph import (  # noqa: E402
    TRIPLES_CTE,
    triples_from_tpch,
)

PROPERTY_PATHS_SQL = f"""
WITH {TRIPLES_CTE},
-- sequence path: ?c ex:nation/ex:inRegion/ex:label(@en) ?rl
seq AS (
    SELECT t1.s AS cust, t3.o AS region_label
    FROM triples t1
    JOIN triples t2 ON t2.s = t1.o AND t2.p = 'ex:inRegion'
    JOIN triples t3 ON t3.s = t2.o AND t3.p = 'ex:label' AND t3.o_lang = 'en'
    WHERE t1.p = 'ex:nation'
),
-- alternation: ?c (ex:segment|ex:label) ?v  (counted)
alt AS (
    SELECT s AS cust, COUNT(*) AS n_alt
    FROM triples WHERE p IN ('ex:segment', 'ex:label') AND s LIKE 'urn:cust/%'
    GROUP BY s
),
-- inverse-then-forward: ?c ^ex:nation/ex:nation ?c2 (co-nationals, minus self)
inv AS (
    SELECT t1.s AS cust, COUNT(*) AS n_conational
    FROM triples t1 JOIN triples t2
      ON t2.o = t1.o AND t2.p = 'ex:nation' AND t2.s <> t1.s
    WHERE t1.p = 'ex:nation'
    GROUP BY t1.s
)
SELECT s.cust, s.region_label, a.n_alt,
       coalesce(i.n_conational, 0) AS n_conational
FROM seq s
JOIN alt a ON a.cust = s.cust
LEFT JOIN inv i ON i.cust = s.cust
"""


@register("property_paths", oracle=PROPERTY_PATHS_SQL, covers=["J1", "J5", "J3"])
def q_property_paths(spark, sf_dir):
    """SPARQL property-path compositions beyond the reference's P279*:
    a sequence path (nation/inRegion/label@en), an alternation
    (segment|label), and an inverse-then-forward path (^nation/nation,
    co-national count) — each a join/union composition on the triples
    view, broadcast-friendly because path steps filter p first."""
    t = triples_from_tpch(spark, sf_dir)
    t1 = t.filter(F.col("p") == "ex:nation").select(
        F.col("s").alias("cust"), F.col("o").alias("nation")
    )
    t2 = t.filter(F.col("p") == "ex:inRegion").select(
        F.col("s").alias("nation"), F.col("o").alias("region")
    )
    t3 = t.filter((F.col("p") == "ex:label") & (F.col("o_lang") == "en")).select(
        F.col("s").alias("region"), F.col("o").alias("region_label")
    )
    seq = t1.join(t2, on="nation").join(t3, on="region").select("cust", "region_label")
    alt = (
        t.filter(
            F.col("p").isin("ex:segment", "ex:label")
            & F.col("s").startswith("urn:cust/")
        )
        .groupBy(F.col("s").alias("cust"))
        .agg(F.count(F.lit(1)).alias("n_alt"))
    )
    inv = (
        t1.alias("x")
        .join(
            t1.alias("y"),
            (F.col("y.nation") == F.col("x.nation"))
            & (F.col("y.cust") != F.col("x.cust")),
        )
        .groupBy(F.col("x.cust").alias("cust"))
        .agg(F.count(F.lit(1)).alias("n_conational"))
    )
    return (
        seq.join(alt, on="cust")
        .join(inv, on="cust", how="left")
        .select(
            "cust",
            "region_label",
            "n_alt",
            F.coalesce("n_conational", F.lit(0)).alias("n_conational"),
        )
    )
