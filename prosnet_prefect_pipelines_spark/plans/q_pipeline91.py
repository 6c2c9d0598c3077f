"""Pipeline batch 91 (north-star extension): mix & concentration
analytics — category mix trends, first-value repeat rates, Pareto
share curves, Heaps-law vocabulary growth, and daily-volume anomaly
flags.

Exactness discipline: shares in truncating ppm; the Pareto thresholds
are rank cuts over the bounded customer dimension; the volume anomaly
test is the cross-multiplied integer sigma inequality."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# ---------------------------------------------------------------------------
# category mix trend.

MIX_SQL = """
WITH src AS (
    SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
           p.p_type AS category,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
),
g AS (SELECT month, category, SUM(cents) AS cents FROM src GROUP BY month, category),
t AS (SELECT month, SUM(cents) AS total FROM g GROUP BY month)
SELECT g.month, g.category, CAST(g.cents AS BIGINT) AS cents,
       CAST(CAST(g.cents AS HUGEINT) * 1000000 // t.total AS BIGINT)
           AS share_ppm
FROM g JOIN t USING (month)
"""


@register("category_mix_trend", oracle=MIX_SQL, covers=["A2", "J1"])
def q_category_mix_trend(spark, sf_dir):
    """Category revenue-mix trend: each part type's ppm share of every
    month's revenue — the stacked-area mix chart that surfaces
    assortment shift. Dimension joins broadcast; monthly totals joined
    back on the month key."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        ),
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_type").alias("category")
    )
    src = (
        li.select(
            "l_orderkey",
            "l_partkey",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .join(orders, "l_orderkey")
        .join(F.broadcast(part), "l_partkey")
    )
    g = src.groupBy("month", "category").agg(F.sum("cents").alias("cents"))
    t = g.groupBy("month").agg(F.sum("cents").alias("total"))
    return g.join(t, "month").select(
        "month",
        "category",
        F.col("cents").cast("long").alias("cents"),
        F.expr(
            "CAST(CAST(cents AS DECIMAL(38,0)) * 1000000 div total AS BIGINT)"
        ).alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# first-order value band vs repeat rate.

REPEAT_SQL = """
WITH ranked AS (
    SELECT o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn,
           COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
    FROM orders
),
first_ AS (
    SELECT o_custkey, cents // 5000000 AS first_band,
           CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END AS repeated
    FROM ranked WHERE rn = 1
)
SELECT CAST(first_band AS BIGINT) AS first_band,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(repeated) AS BIGINT) AS n_repeated,
       CAST(CAST(SUM(repeated) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
           AS repeat_ppm
FROM first_ GROUP BY first_band
"""


@register("first_value_repeat_rate", oracle=REPEAT_SQL, covers=["A2", "O6"])
def q_first_value_repeat_rate(spark, sf_dir):
    """Does a big first order predict retention? Customers banded by
    their FIRST order's value ($50k bands), repeat rate (>= 2 lifetime
    orders) per band in ppm — the acquisition-quality curve. One
    customer-keyed window pass derives both the first order and the
    lifetime count."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wn = Window.partitionBy("o_custkey")
    ranked = o.select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_orders"),
    )
    first_ = ranked.filter(F.col("rn") == 1).select(
        F.expr("CAST(cents div 5000000 AS BIGINT)").alias("first_band"),
        F.when(F.col("n_orders") >= 2, 1).otherwise(0).alias("repeated"),
    )
    return first_.groupBy("first_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("repeated").cast("long").alias("n_repeated"),
        F.expr(
            "CAST(CAST(SUM(repeated) AS DECIMAL(38,0)) * 1000000 div COUNT(1)"
            " AS BIGINT)"
        ).alias("repeat_ppm"),
    )


# ---------------------------------------------------------------------------
# Pareto share curve.

PARETO_SQL = """
WITH rev AS (
    SELECT o_custkey, SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT cents,
           row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
           COUNT(*) OVER () AS n,
           SUM(cents) OVER () AS total,
           SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM rev
),
spine AS (SELECT CAST(k.k AS BIGINT) AS pct FROM (VALUES (1), (5), (10), (20), (50)) k(k))
SELECT s.pct,
       CAST(MAX(CASE WHEN r.rn = greatest(1, r.n * s.pct // 100)
                     THEN r.cum END) AS BIGINT) AS cum_cents,
       CAST(MAX(CASE WHEN r.rn = greatest(1, r.n * s.pct // 100)
                     THEN CAST(r.cum AS HUGEINT) * 1000000 // r.total END)
            AS BIGINT) AS share_ppm
FROM spine s JOIN ranked r ON r.rn = greatest(1, r.n * s.pct // 100)
GROUP BY s.pct
"""


@register("pareto_share_report", oracle=PARETO_SQL, covers=["A2", "O1"])
def q_pareto_share_report(spark, sf_dir):
    """Pareto concentration: the revenue share held by the top 1/5/10/
    20/50% of customers (rank cut, cumulative share in truncating ppm)
    — the '80/20' readout that complements Gini and HHI.

    The rank AND the running revenue sum are computed DISTRIBUTIVELY in
    one two-pass layout (r11, caught by the cardinality-class plan
    audit: the rollup is o_custkey-keyed — one row per CUSTOMER, which
    grows with the corpus, so the old global window was a
    single-partition sort over an unbounded table). n and total come
    free from the offset pass and fold into the spine predicate as
    literals — bit-identical to the window form."""
    from prosnet_prefect_pipelines_spark.operators.distrank import (
        prefix_sums,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    ranked = prefix_sums(
        rev,
        [F.col("cents").desc(), F.col("o_custkey").asc()],
        {"cum": F.col("cents")},
        rn_out="rn",
    )
    # n (customer count) and total (revenue) as a broadcast 1-row dim
    # over the protocol's persisted block — the same integer spine
    # predicate and ppm arithmetic as the old driver-side literals,
    # with zero jobs at construction (r12)
    stats = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("_pn"),
        F.sum("cents").cast("long").alias("_ptot"),
    )
    spine = local_frame(
        spark,
        [(1,), (5,), (10,), (20,), (50,)], "pct long"
    ).crossJoin(F.broadcast(stats))
    j = F.broadcast(spine).join(
        ranked,
        ranked["rn"]
        == F.greatest(F.lit(1), F.expr("_pn * pct div 100")),
    )
    return j.groupBy("pct").agg(
        F.max("cum").cast("long").alias("cum_cents"),
        F.max(
            F.expr(
                "CAST(CAST(cum AS DECIMAL(38,0)) * 1000000 div "
                "CAST(_ptot AS BIGINT) AS BIGINT)"
            )
        ).alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth curve.

HEAPS_SQL = """
WITH toks AS (
    SELECT doc_id, t.term
    FROM documents, unnest(string_split_regex(trim(text), '\\s+')) t(term)
    WHERE text IS NOT NULL AND t.term <> ''
),
first_seen AS (SELECT term, MIN(doc_id) AS d0 FROM toks GROUP BY term),
nd AS (SELECT MAX(doc_id) AS max_doc FROM toks),
spine AS (SELECT CAST(k.k AS BIGINT) AS decile
          FROM (VALUES (2), (4), (6), (8), (10)) k(k))
SELECT s.decile,
       CAST(COUNT(CASE WHEN f.d0 <= nd.max_doc * s.decile // 10 THEN 1 END)
            AS BIGINT) AS vocab_size
FROM spine s CROSS JOIN first_seen f CROSS JOIN nd
GROUP BY s.decile
"""


@register("vocab_growth_curve", oracle=HEAPS_SQL, covers=["A1", "A2"])
def q_vocab_growth_curve(spark, sf_dir):
    """Heaps-law vocabulary growth: distinct-token counts after 20%,
    40%, ... 100% of the corpus (by doc-id order) — computed from ONE
    first-seen-doc aggregation fanned against the milestone spine,
    never a per-milestone distinct over prefixes (the same
    first-occurrence trick as the user growth curve, applied to
    vocabulary sizing for tokenizer budgets)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    first_seen = toks.groupBy("term").agg(F.min("doc_id").alias("d0"))
    nd = toks.agg(F.max("doc_id").alias("max_doc"))
    spine = local_frame(
        spark,
        [(2,), (4,), (6,), (8,), (10,)], "decile long"
    )
    fan = F.broadcast(spine).crossJoin(first_seen.join(F.broadcast(nd)))
    return fan.groupBy("decile").agg(
        F.count(
            F.when(
                F.col("d0") <= F.expr("max_doc * decile div 10"), 1
            )
        )
        .cast("long")
        .alias("vocab_size")
    )


# ---------------------------------------------------------------------------
# daily-volume anomaly flags (integer sigma on the daily series).

VOLUME_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS v FROM events GROUP BY day
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sm,
           CAST(SUM(v * v) AS BIGINT) AS ss
    FROM daily
)
SELECT CAST(d.day AS VARCHAR) AS day, CAST(d.v AS BIGINT) AS n_events,
       CAST(CASE WHEN CAST(s.n * d.v - s.sm AS HUGEINT)
                      * CAST(s.n * d.v - s.sm AS HUGEINT)
                      > 4 * CAST(s.n AS HUGEINT) * (s.n * s.ss - s.sm * s.sm)
                 THEN 1 ELSE 0 END AS INT) AS volume_anomaly
FROM daily d CROSS JOIN s
"""


@register("daily_volume_anomalies", oracle=VOLUME_SQL, covers=["A2"])
def q_daily_volume_anomalies(spark, sf_dir):
    """Daily ingest-volume anomaly flags: days whose event count sits
    beyond 2 sigma of the series, tested through the cross-multiplied
    integer inequality (n*v - s)² > 4n(n*ss - s²) — the pipeline-health
    tripwire that pages before a silent upstream drop corrupts a
    backfill. The stats row broadcasts over the bounded daily series."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("v")
    )
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sm"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
    )
    return daily.join(F.broadcast(s)).select(
        F.col("day").cast("string").alias("day"),
        F.col("v").cast("long").alias("n_events"),
        F.expr(
            "CAST(CASE WHEN CAST(n * v - sm AS DECIMAL(38,0)) * "
            "CAST(n * v - sm AS DECIMAL(38,0)) > 4 * CAST(n AS DECIMAL(38,0))"
            " * (n * ss - sm * sm) THEN 1 ELSE 0 END AS INT)"
        ).alias("volume_anomaly"),
    )
