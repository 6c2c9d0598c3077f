"""Pipeline batch 107 (north-star extension): ranking comparison &
evaluation completion — average precision (MAP@10), the
precision/recall@k curve, Kendall rank distance between two
rankings, and truncated rank-biased overlap (RBO@10). Together with
batch 55's nDCG/MRR these complete the standard retrieval-eval kit.

Ranking A orders by the discount score (s = max lineitem discount in
integer percent, DESC) and ranking B by order value (DESC), both
tie-broken by o_orderkey ASC so every rank is deterministic;
relevance is the returned flag. Top-k extraction is ORDER BY +
LIMIT — Spark plans TakeOrderedAndProject, the scale-safe top-k that
never globally sorts.

Exactness conventions:
- every precision/recall/AP value is a ratio of exact integers,
  divided once, 6 dp;
- Kendall distance counts discordant pairs as integers over the
  top-100 item set (10^4 pairs — quadratic only in k, never in
  orders);
- RBO weights (1-p)p^(d-1) for p = 0.9, d = 1..10 are 6-dp LITERALS
  written identically in both engines (the Benford-literal
  discipline); overlap-at-depth comes from the two top-10 lists
  full-outer-joined on the item key.

Scale notes: one lineitem aggregation keyed on l_orderkey feeds the
scores; every evaluation then touches at most top-100 rows. The
windows ORDER BY inside a LIMIT-ed subset only.

Ref semantics: SURVEY §2 O1/O6/A2 compositions; no reference
counterpart (extensions X-MAP .. X-RBO).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# per-order score and label (the batch-105/106 model, order-granular)
_SCORED_CTE = """
scored AS (
    SELECT l_orderkey AS okey,
           CAST(round(MAX(l_discount) * 100) AS BIGINT) AS s,
           MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS y
    FROM lineitem GROUP BY 1
)
"""

# RBO geometric weights (1-p) * p^(d-1), p = 0.9, rounded to 6 dp once
_RBO_W = [
    (1, 0.100000),
    (2, 0.090000),
    (3, 0.081000),
    (4, 0.072900),
    (5, 0.065610),
    (6, 0.059049),
    (7, 0.053144),
    (8, 0.047830),
    (9, 0.043047),
    (10, 0.038742),
]


def _scored(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_discount", "l_returnflag"
    )
    return li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.round(F.max("l_discount") * 100).cast("long").alias("s"),
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("y"),
    )


def _topk_a(spark, sf_dir, k):
    """Top-k of ranking A (score DESC, okey ASC) with positions."""
    sc = _scored(spark, sf_dir)
    top = sc.orderBy(F.col("s").desc(), F.col("okey").asc()).limit(k)
    w = Window.orderBy(F.col("s").desc(), F.col("okey").asc())
    return top.withColumn("pos", F.row_number().over(w))


# ---------------------------------------------------------------------------
# 1. MAP@10 (single-query average precision).

MAP_SQL = (
    "WITH "
    + _SCORED_CTE
    + """,
top10 AS (
    SELECT y, ROW_NUMBER() OVER (ORDER BY s DESC, okey ASC) AS pos
    FROM (SELECT * FROM scored ORDER BY s DESC, okey ASC LIMIT 10)
),
cum AS (
    SELECT pos, y,
           SUM(y) OVER (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum_rel
    FROM top10
),
tot AS (SELECT SUM(y) AS n_rel FROM scored)
SELECT (SELECT CAST(n_rel AS BIGINT) FROM tot) AS n_relevant_total,
       CAST(SUM(y) AS BIGINT) AS relevant_in_top10,
       round(CAST(SUM(CASE WHEN y = 1
                           THEN CAST(round(round(CAST(cum_rel AS DOUBLE) / pos,
                                                 9) * 1000000000, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) / 1000000000.0
             / LEAST((SELECT n_rel FROM tot), 10), 6) AS ap_at_10_6
FROM cum
"""
)


@register("map_at_10_exact", oracle=MAP_SQL, covers=["O1", "A2"])
def q_map_at_10_exact(spark, sf_dir):
    """Average precision at 10 for the discount-score ranking:
    AP@10 = sum over relevant hit positions i of (cum_rel_i / i),
    normalized by min(total relevant, 10). Top-10 extraction is
    ORDER BY + LIMIT (TakeOrderedAndProject — no global sort); the
    precision terms are exact-integer ratios summed over <= 10 rows.

    Ref semantics: SURVEY §2 O1/A2 (extension X-MAP)."""
    sc = _scored(spark, sf_dir)
    top = _topk_a(spark, sf_dir, 10)
    wcum = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    cum = top.withColumn("cum_rel", F.sum("y").over(wcum))
    tot = sc.agg(F.sum("y").alias("n_rel"))
    t9 = F.round(
        F.round(F.col("cum_rel").cast("double") / F.col("pos"), 9)
        * 1000000000,
        0,
    ).cast("long")
    agg = cum.agg(
        F.sum("y").alias("hits"),
        F.sum(F.when(F.col("y") == 1, t9).otherwise(F.lit(0))).alias("ap9"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("n_rel").cast("long").alias("n_relevant_total"),
        F.col("hits").cast("long").alias("relevant_in_top10"),
        F.round(
            F.col("ap9") / 1000000000.0 / F.least(F.col("n_rel"), F.lit(10)),
            6,
        ).alias("ap_at_10_6"),
    )


# ---------------------------------------------------------------------------
# 2. Precision / recall @ k curve.

PRK_SQL = (
    "WITH "
    + _SCORED_CTE
    + """,
top50 AS (
    SELECT y, ROW_NUMBER() OVER (ORDER BY s DESC, okey ASC) AS pos
    FROM (SELECT * FROM scored ORDER BY s DESC, okey ASC LIMIT 50)
),
ks(k) AS (VALUES (1), (5), (10), (20), (50)),
tot AS (SELECT SUM(y) AS n_rel FROM scored)
SELECT CAST(k AS BIGINT) AS k,
       CAST(SUM(CASE WHEN pos <= k THEN y ELSE 0 END) AS BIGINT) AS hits,
       round(CAST(SUM(CASE WHEN pos <= k THEN y ELSE 0 END) AS DOUBLE)
             / k, 6) AS precision_6,
       round(CAST(SUM(CASE WHEN pos <= k THEN y ELSE 0 END) AS DOUBLE)
             / n_rel, 6) AS recall_6
FROM top50 CROSS JOIN ks CROSS JOIN tot
GROUP BY k, n_rel
"""
)


@register("precision_recall_at_k", oracle=PRK_SQL, covers=["O1", "A2", "J4"])
def q_precision_recall_at_k(spark, sf_dir):
    """The P@k / R@k operating curve at k in {1, 5, 10, 20, 50} — one
    top-50 extraction fanned across a broadcast k dimension (J4),
    exact hit counts divided once per cell.

    Ref semantics: SURVEY §2 O1/A2/J4 (extension X-PRATK)."""
    sc = _scored(spark, sf_dir)
    top = _topk_a(spark, sf_dir, 50)
    ks = local_frame(spark, [(1,), (5,), (10,), (20,), (50,)], "k long")
    tot = sc.agg(F.sum("y").alias("n_rel"))
    j = top.crossJoin(F.broadcast(ks)).crossJoin(F.broadcast(tot))
    hits = F.sum(F.when(F.col("pos") <= F.col("k"), F.col("y")).otherwise(0))
    return (
        j.groupBy("k", "n_rel")
        .agg(hits.alias("hits"))
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("hits").cast("long").alias("hits"),
            F.round(F.col("hits").cast("double") / F.col("k"), 6).alias(
                "precision_6"
            ),
            F.round(F.col("hits").cast("double") / F.col("n_rel"), 6).alias(
                "recall_6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 3. Kendall rank distance between the discount and value rankings.

KENDALL_DIST_SQL = """
WITH scored AS (
    SELECT o.o_orderkey AS okey,
           CAST(round(MAX(l.l_discount) * 100) AS BIGINT) AS s,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, o.o_totalprice
),
top100 AS (
    SELECT okey,
           ROW_NUMBER() OVER (ORDER BY s DESC, okey ASC) AS ra,
           ROW_NUMBER() OVER (ORDER BY v DESC, okey ASC) AS rb
    FROM (SELECT * FROM scored ORDER BY s DESC, okey ASC LIMIT 100)
),
pairs AS (
    SELECT SUM(CASE WHEN (b.ra - a.ra) * (b.rb - a.rb) < 0
                    THEN 1 ELSE 0 END) AS discordant,
           COUNT(*) AS n_pairs
    FROM top100 a JOIN top100 b ON a.okey < b.okey
)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(discordant AS BIGINT) AS discordant,
       round(CAST(discordant AS DOUBLE) / n_pairs, 6) AS kendall_dist_6,
       round(1.0 - 2.0 * discordant / n_pairs, 6) AS kendall_tau_6
FROM pairs
"""


@register("kendall_rank_distance", oracle=KENDALL_DIST_SQL, covers=["O1", "J1", "A2"])
def q_kendall_rank_distance(spark, sf_dir):
    """Kendall distance between two rankings of the same top-100
    items (discount-score order vs order-value order, both
    deterministically tie-broken): the share of item pairs the two
    rankings order oppositely, and the corresponding tau. The pair
    join is quadratic only in k = 100 (4950 pairs), never in orders.

    Ref semantics: SURVEY §2 O1/J1/A2 (extension X-KENDALLDIST)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_discount"
    )
    scored = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("okey"), F.col("v"))
        .agg(F.round(F.max("l_discount") * 100).cast("long").alias("s"))
    )
    top = scored.orderBy(F.col("s").desc(), F.col("okey").asc()).limit(100)
    wa = Window.orderBy(F.col("s").desc(), F.col("okey").asc())
    wb = Window.orderBy(F.col("v").desc(), F.col("okey").asc())
    ranked = top.select(
        F.col("okey"),
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    pairs = a.join(b, F.col("a.okey") < F.col("b.okey")).agg(
        F.sum(
            (
                (F.col("b.ra") - F.col("a.ra"))
                * (F.col("b.rb") - F.col("a.rb"))
                < 0
            ).cast("int")
        ).alias("discordant"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    return pairs.select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("discordant").cast("long").alias("discordant"),
        F.round(
            F.col("discordant").cast("double") / F.col("n_pairs"), 6
        ).alias("kendall_dist_6"),
        F.round(
            1.0 - 2.0 * F.col("discordant") / F.col("n_pairs"), 6
        ).alias("kendall_tau_6"),
    )


# ---------------------------------------------------------------------------
# 4. Truncated rank-biased overlap (RBO@10, p = 0.9).

_RBO_VALUES = ",\n          ".join(f"({d}, {w})" for d, w in _RBO_W)

RBO_SQL = f"""
WITH scored AS (
    SELECT o.o_orderkey AS okey,
           CAST(round(MAX(l.l_discount) * 100) AS BIGINT) AS s,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, o.o_totalprice
),
ta AS (
    SELECT okey, ROW_NUMBER() OVER (ORDER BY s DESC, okey ASC) AS ra
    FROM (SELECT * FROM scored ORDER BY s DESC, okey ASC LIMIT 10)
),
tb AS (
    SELECT okey, ROW_NUMBER() OVER (ORDER BY v DESC, okey ASC) AS rb
    FROM (SELECT * FROM scored ORDER BY v DESC, okey ASC LIMIT 10)
),
merged AS (
    SELECT COALESCE(ta.ra, 11) AS ra, COALESCE(tb.rb, 11) AS rb
    FROM ta FULL OUTER JOIN tb ON ta.okey = tb.okey
),
w(d, wt) AS (
    VALUES {_RBO_VALUES}
),
depth AS (
    SELECT d, wt,
           (SELECT COUNT(*) FROM merged WHERE ra <= d AND rb <= d) AS x
    FROM w
)
SELECT CAST(SUM(CASE WHEN d = 10 THEN x ELSE 0 END) AS BIGINT)
           AS overlap_at_10,
       round(CAST(SUM(CAST(round(round(wt * CAST(x AS DOUBLE) / d, 9)
                                 * 1000000000, 0) AS BIGINT)) AS BIGINT)
             / 1000000000.0, 6) AS rbo_truncated_6
FROM depth
"""


@register("rbo_truncated_10", oracle=RBO_SQL, covers=["O1", "J2", "J4", "A2"])
def q_rbo_truncated_10(spark, sf_dir):
    """Truncated rank-biased overlap (Webber et al.) at depth 10 with
    persistence p = 0.9: sum over depths d of (1-p)p^(d-1) *
    |A_d n B_d| / d. The geometric weights are 6-dp literals in both
    engines; overlap-at-depth comes from the two top-10 lists
    full-outer-joined on the item key (<= 20 rows).

    Ref semantics: SURVEY §2 O1/J2/J4 (extension X-RBO)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_discount"
    )
    scored = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("okey"), F.col("v"))
        .agg(F.round(F.max("l_discount") * 100).cast("long").alias("s"))
    )
    wa = Window.orderBy(F.col("s").desc(), F.col("okey").asc())
    wb = Window.orderBy(F.col("v").desc(), F.col("okey").asc())
    ta = (
        scored.orderBy(F.col("s").desc(), F.col("okey").asc())
        .limit(10)
        .select(F.col("okey"), F.row_number().over(wa).alias("ra"))
    )
    tb = (
        scored.orderBy(F.col("v").desc(), F.col("okey").asc())
        .limit(10)
        .select(F.col("okey").alias("okey_b"), F.row_number().over(wb).alias("rb"))
    )
    both = ta.join(
        tb, ta.okey == tb.okey_b, "full_outer"
    ).select(
        F.coalesce(F.col("ra"), F.lit(11)).alias("ra"),
        F.coalesce(F.col("rb"), F.lit(11)).alias("rb"),
    )
    wdim = local_frame(spark, _RBO_W, "d long, wt double")
    depth = (
        both.crossJoin(F.broadcast(wdim))
        .groupBy("d", "wt")
        .agg(
            F.sum(
                ((F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")))
                .cast("int")
            ).alias("x")
        )
    )
    t9 = F.round(
        F.round(
            F.col("wt") * F.col("x").cast("double") / F.col("d"), 9
        )
        * 1000000000,
        0,
    ).cast("long")
    return depth.agg(
        F.sum(F.when(F.col("d") == 10, F.col("x")).otherwise(0))
        .cast("long")
        .alias("overlap_at_10"),
        F.round(F.sum(t9) / 1000000000.0, 6).alias("rbo_truncated_6"),
    )
