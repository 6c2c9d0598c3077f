"""Pipeline batch 92 (north-star extension): closing breadth — local
clustering coefficients, rank-uniform transforms, session
co-visitation, enum drift guards, and top-k stability.

Exactness discipline: coefficients and Jaccards in truncating ppm;
the rank-uniform transform maps through exact (2r-1)/2n micro; drift
is pure set difference."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.model import read_events
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# ---------------------------------------------------------------------------
# local clustering coefficient per node.

CLUSTERING_SQL = """
WITH m AS (SELECT COUNT(*) // 10 + 1 AS m1, COUNT(*) // 10 + 3 AS m2 FROM orders),
raw AS (SELECT o_orderkey % m1 AS u, o_orderkey % m2 AS v FROM orders, m),
e AS (
    SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
    FROM raw WHERE u <> v
),
n AS (SELECT a AS u, b AS w FROM e UNION ALL SELECT b AS u, a AS w FROM e),
deg AS (SELECT u AS node, COUNT(*) AS d FROM n GROUP BY u),
tri AS (
    -- triangles at each node: pairs of its neighbors that are adjacent
    SELECT na.u AS node, COUNT(*) AS t2
    FROM n na JOIN n nb ON nb.u = na.u AND na.w < nb.w
    JOIN e ON e.a = na.w AND e.b = nb.w
    GROUP BY na.u
)
SELECT CAST(d.node AS BIGINT) AS node, CAST(d.d AS BIGINT) AS degree,
       CAST(COALESCE(t.t2, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN d.d >= 2
                 THEN CAST(2 * COALESCE(t.t2, 0) AS HUGEINT) * 1000000
                      // (CAST(d.d AS HUGEINT) * (d.d - 1))
                 ELSE 0 END AS BIGINT) AS clustering_ppm
FROM deg d LEFT JOIN tri t ON t.node = d.node
WHERE d.d >= 2
"""


@register("node_clustering_coefficient", oracle=CLUSTERING_SQL, covers=["J1", "A2"])
def q_node_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient: per node, closed neighbor pairs
    over d(d-1)/2 in truncating ppm — the 'how cliquish is my
    neighborhood' metric (the per-node refinement of the global
    triangle count, same wedge-join machinery: neighbor pairs verified
    against the canonical edge list)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cnt = orders.count()
    m1, m2 = cnt // 10 + 1, cnt // 10 + 3
    k = F.col("o_orderkey")
    raw = orders.select((k % m1).alias("u"), (k % m2).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    e = raw.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    n = e.select(F.col("a").alias("u"), F.col("b").alias("w")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("w"))
    )
    deg = n.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    na = n.select(F.col("u"), F.col("w").alias("wa"))
    nb = n.select(F.col("u"), F.col("w").alias("wb"))
    wedges = na.join(nb, "u").filter(F.col("wa") < F.col("wb"))
    tri = (
        wedges.join(
            e, (e["a"] == wedges["wa"]) & (e["b"] == wedges["wb"])
        )
        .groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("t2"))
    )
    return (
        deg.join(tri, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("t2"), F.lit(0)).cast("long").alias("n_triangles"),
            F.expr(
                "CAST(CASE WHEN d >= 2 THEN CAST(2 * COALESCE(t2, 0) "
                "AS DECIMAL(38,0)) * 1000000 div "
                "(CAST(d AS DECIMAL(38,0)) * (d - 1)) ELSE 0 END AS BIGINT)"
            ).alias("clustering_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# rank-uniform transform.

RANKUNIFORM_SQL = """
WITH pts AS (
    SELECT l_suppkey % 5 AS grp,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS v
    FROM lineitem
),
r AS (
    SELECT grp, v,
           2 * rank() OVER (PARTITION BY grp ORDER BY v)
             + COUNT(*) OVER (PARTITION BY grp, v) - 1 AS r2,
           COUNT(*) OVER (PARTITION BY grp) AS n
    FROM pts
),
u AS (
    -- uniform position = (2*avg_rank - 1) / (2n) = (r2 - 1) / (2n), micro
    SELECT grp, CAST(r2 - 1 AS HUGEINT) * 1000000 // (2 * n) AS u_micro
    FROM r
)
SELECT CAST(grp AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(u_micro) AS BIGINT) AS min_u_micro,
       CAST(MAX(u_micro) AS BIGINT) AS max_u_micro,
       CAST(SUM(u_micro) // COUNT(*) AS BIGINT) AS mean_u_micro
FROM u GROUP BY grp
"""


@register("rank_uniform_transform", oracle=RANKUNIFORM_SQL, covers=["A2", "O1"])
def q_rank_uniform_transform(spark, sf_dir):
    """Rank-uniform transform: each value mapped to its tie-corrected
    uniform position (2*avg_rank - 1)/2n per group in truncating
    micro — the distribution-free feature transform (and the first
    half of an inverse-normal transform). Doubled ranks keep ties
    integral; summary stats pin the near-uniform mean around 0.5."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = li.select(
        (F.col("l_suppkey") % 5).alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    wr = Window.partitionBy("grp").orderBy("v")
    wv = Window.partitionBy("grp", "v")
    wn = Window.partitionBy("grp")
    r = pts.select(
        "grp",
        (
            2 * F.rank().over(wr) + F.count(F.lit(1)).over(wv) - 1
        ).alias("r2"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    u = r.select(
        "grp",
        F.expr(
            "CAST(r2 - 1 AS DECIMAL(38,0)) * 1000000 div (2 * n)"
        ).alias("u_micro"),
    )
    return u.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("u_micro").cast("long").alias("min_u_micro"),
        F.max("u_micro").cast("long").alias("max_u_micro"),
        F.expr("CAST(SUM(u_micro) div COUNT(1) AS BIGINT)").alias(
            "mean_u_micro"
        ),
    ).select(
        F.col("grp").cast("long").alias("grp"),
        "n",
        "min_u_micro",
        "max_u_micro",
        "mean_u_micro",
    )


# ---------------------------------------------------------------------------
# session co-visitation pairs.

COVISIT_SQL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) % 20 AS item
    FROM events
    WHERE user_id IS NOT NULL AND props IS NOT NULL AND props <> ''
),
marked AS (
    SELECT user_id, ts_us, item,
           CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
                     OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
    FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sess AS (
    SELECT user_id, item,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
),
su AS (SELECT DISTINCT user_id, sid, item FROM sess WHERE item IS NOT NULL)
SELECT CAST(a.item AS BIGINT) AS item_a, CAST(b.item AS BIGINT) AS item_b,
       CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM su a JOIN su b
  ON a.user_id = b.user_id AND a.sid = b.sid AND a.item < b.item
GROUP BY a.item, b.item
"""


@register("covisitation_pairs", oracle=COVISIT_SQL, covers=["J1", "A2"])
def q_covisitation_pairs(spark, sf_dir):
    """Session co-visitation ('people also viewed'): item pairs seen in
    the SAME 30-minute session, counted across sessions (items parsed
    from the JSON props) — the within-session co-occurrence signal
    session-based recommenders train on. Sessionization windows +
    a session-keyed pair join bounded by per-session item counts."""
    ev = read_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull()
        & F.col("props").isNotNull()
        & (F.col("props") != "")
    ).select(
        "user_id",
        "ts_us",
        "event_id",
        (F.get_json_object("props", "$.k").cast("long") % 20).alias("item"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    marked = ev.select(
        "user_id",
        "ts_us",
        "item",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000)
            | F.lag("ts_us").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    su = (
        marked.withColumn("sid", F.sum("new_s").over(wn))
        .filter(F.col("item").isNotNull())
        .select("user_id", "sid", "item")
        .distinct()
    )
    a = su.select("user_id", "sid", F.col("item").alias("item_a"))
    b = su.select("user_id", "sid", F.col("item").alias("item_b"))
    return (
        a.join(b, ["user_id", "sid"])
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .select(
            F.col("item_a").cast("long").alias("item_a"),
            F.col("item_b").cast("long").alias("item_b"),
            "n_sessions",
        )
    )


# ---------------------------------------------------------------------------
# enum drift guard.

ENUM_DRIFT_SQL = """
WITH ev AS (
    SELECT event_type,
           CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15' THEN 1 ELSE 2 END
               AS half,
           -- planted drift: second half gains a variant suffix on errors
           CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15'
                     AND event_type = 'error' AND event_id % 10 = 0
                THEN 'error_v2' ELSE event_type END AS observed
    FROM events
),
base AS (SELECT DISTINCT observed FROM ev WHERE half = 1),
cur AS (SELECT observed, COUNT(*) AS n FROM ev WHERE half = 2 GROUP BY observed)
SELECT c.observed AS new_value, CAST(c.n AS BIGINT) AS n
FROM cur c LEFT JOIN base b ON b.observed = c.observed
WHERE b.observed IS NULL
"""


@register("enum_drift_report", oracle=ENUM_DRIFT_SQL, covers=["J7", "P7"])
def q_enum_drift_report(spark, sf_dir):
    """Enum drift guard: categorical values appearing in the CURRENT
    period that the baseline period never saw (a planted 'error_v2'
    variant fires the guard deterministically) — the schema-contract
    tripwire that catches silent upstream enum additions before they
    break dashboards. Baseline values anti-join the current counts."""
    ev = read_events(spark, sf_dir)
    split_us = 1705276800000000  # 2024-01-15
    src = ev.select(
        F.when(F.col("ts_us") < split_us, 1).otherwise(2).alias("half"),
        F.when(
            (F.col("ts_us") >= split_us)
            & (F.col("event_type") == "error")
            & (F.col("event_id") % 10 == 0),
            "error_v2",
        )
        .otherwise(F.col("event_type"))
        .alias("observed"),
    )
    base = src.filter(F.col("half") == 1).select("observed").distinct()
    cur = (
        src.filter(F.col("half") == 2)
        .groupBy("observed")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return cur.join(base, "observed", "left_anti").select(
        F.col("observed").alias("new_value"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# top-k stability between periods.

TOPK_STABILITY_SQL = """
WITH rev AS (
    SELECT l_partkey % 100 AS grp,
           CASE WHEN CAST(l_shipdate AS DATE) < DATE '1996-01-01'
                THEN 1 ELSE 2 END AS half,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
    FROM lineitem GROUP BY grp, half
),
ranked AS (
    SELECT grp, half,
           row_number() OVER (PARTITION BY half
                              ORDER BY cents DESC, grp) AS rnk
    FROM rev
),
t1 AS (SELECT grp FROM ranked WHERE half = 1 AND rnk <= 20),
t2 AS (SELECT grp FROM ranked WHERE half = 2 AND rnk <= 20),
i AS (SELECT COUNT(*) AS k FROM t1 JOIN t2 USING (grp))
SELECT CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS n_top1,
       CAST((SELECT COUNT(*) FROM t2) AS BIGINT) AS n_top2,
       CAST(i.k AS BIGINT) AS n_common,
       CAST(CAST(i.k AS HUGEINT) * 1000000
            // ((SELECT COUNT(*) FROM t1) + (SELECT COUNT(*) FROM t2) - i.k)
            AS BIGINT) AS jaccard_ppm
FROM i
"""


@register("topk_stability_report", oracle=TOPK_STABILITY_SQL, covers=["O6", "A2"])
def q_topk_stability_report(spark, sf_dir):
    """Top-k stability: the Jaccard overlap (ppm) between the two
    halves' top-20 revenue part-groups — the leaderboard-churn summary
    next to the per-group rank_movers detail. Per-period ranks over the
    bounded group dimension; the overlap is one semi-join count."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev = (
        li.select(
            (F.col("l_partkey") % 100).alias("grp"),
            F.when(
                F.to_date("l_shipdate") < F.lit("1996-01-01").cast("date"), 1
            )
            .otherwise(2)
            .alias("half"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
        )
        .groupBy("grp", "half")
        .agg(F.sum("c").alias("cents"))
    )
    w = Window.partitionBy("half").orderBy(F.col("cents").desc(), F.col("grp"))
    ranked = rev.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 20
    )
    t1 = ranked.filter(F.col("half") == 1).select("grp")
    t2 = ranked.filter(F.col("half") == 2).select("grp")
    n1, n2 = t1.count(), t2.count()
    k = t1.join(t2, "grp", "left_semi").count()
    return local_frame(
        spark,
        [(n1, n2, k, k * 1_000_000 // (n1 + n2 - k))],
        "n_top1 long, n_top2 long, n_common long, jaccard_ppm long",
    )
