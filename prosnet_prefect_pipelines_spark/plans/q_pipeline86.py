"""Pipeline batch 86 (north-star extension): graph statistics &
recommendation — exact degree assortativity, reciprocity/density,
hub-removal robustness, Tukey IQR fences, and a popularity-fallback
recommender.

Exactness discipline: assortativity reuses the (sign, r² ppm) Pearson
decomposition on edge-endpoint degrees; reciprocity/density are
truncating ppm; Tukey fences compare through x4-scaled integers so the
1.5*IQR arithmetic never leaves integers."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# shared graph: the orders-derived co-residue graph (same family as
# triangle_count / edge_triangle_support).
_EDGES_SQL = """
m AS (SELECT COUNT(*) // 10 + 1 AS m1, COUNT(*) // 10 + 3 AS m2 FROM orders),
raw AS (SELECT o_orderkey % m1 AS u, o_orderkey % m2 AS v FROM orders, m),
e AS (
    SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
    FROM raw WHERE u <> v
)
"""


def _edges(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = orders.count()
    m1, m2 = n // 10 + 1, n // 10 + 3
    k = F.col("o_orderkey")
    raw = orders.select((k % m1).alias("u"), (k % m2).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    return raw.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()


# ---------------------------------------------------------------------------
# exact degree assortativity (sign + r² ppm over edge-endpoint degrees).

ASSORT_SQL = f"""
WITH {_EDGES_SQL},
deg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
    ) t GROUP BY node
),
pairs AS (
    -- each undirected edge contributes BOTH orientations so the
    -- correlation is symmetric
    SELECT da.d AS x, db.d AS y
    FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
    UNION ALL
    SELECT db.d, da.d
    FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
),
s AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(x * y) AS HUGEINT) AS sxy,
           CAST(SUM(x * x) AS HUGEINT) AS sxx,
           CAST(SUM(y * y) AS HUGEINT) AS syy
    FROM pairs
)
SELECT CAST(n AS BIGINT) AS n_endpoints,
       CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1
                 WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INT) AS r_sign,
       CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000
            // ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS BIGINT) AS r2_ppm
FROM s
"""


@register("degree_assortativity_exact", oracle=ASSORT_SQL, covers=["J1", "A2"])
def q_degree_assortativity_exact(spark, sf_dir):
    """Exact degree assortativity: the Pearson correlation of endpoint
    degrees over every edge (both orientations), emitted as the (sign,
    r² ppm) decomposition — positive = hubs attach to hubs, negative =
    hub-and-spoke. Degrees are one rollup joined back on the endpoint
    keys; the correlation is five wide-integer sums."""
    e = _edges(spark, sf_dir)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("dy"))
    ed = e.join(da, "a").join(db, "b")
    pairs = ed.select(F.col("dx").alias("x"), F.col("dy").alias("y")).unionAll(
        ed.select(F.col("dy").alias("x"), F.col("dx").alias("y"))
    )
    d = "DECIMAL(38,0)"
    s = pairs.agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum("x").cast(d).alias("sx"),
        F.sum("y").cast(d).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(d).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(d).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast(d).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        F.col("n").cast("long").alias("n_endpoints"),
        F.when(num > 0, 1).when(num < 0, -1).otherwise(0).cast("int").alias(
            "r_sign"
        ),
        F.expr(
            "CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000 div "
            "((n * sxx - sx * sx) * (n * syy - sy * sy)) AS BIGINT)"
        ).alias("r2_ppm"),
    )


# ---------------------------------------------------------------------------
# reciprocity & density of the behavioral transition graph.

RECIP_SQL = """
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
de AS (SELECT DISTINCT a, b FROM steps WHERE b IS NOT NULL AND a <> b),
nodes AS (
    SELECT COUNT(*) AS n FROM (
        SELECT a AS x FROM de UNION SELECT b FROM de
    ) t
),
mutual AS (
    SELECT COUNT(*) AS m FROM de x
    WHERE EXISTS (SELECT 1 FROM de y WHERE y.a = x.b AND y.b = x.a)
),
cnt AS (SELECT COUNT(*) AS e FROM de)
SELECT CAST(nodes.n AS BIGINT) AS n_nodes,
       CAST(cnt.e AS BIGINT) AS n_edges,
       CAST(mutual.m AS BIGINT) AS n_reciprocated,
       CAST(CAST(mutual.m AS HUGEINT) * 1000000 // cnt.e AS BIGINT)
           AS reciprocity_ppm,
       CAST(CAST(cnt.e AS HUGEINT) * 1000000
            // (CAST(nodes.n AS HUGEINT) * (nodes.n - 1)) AS BIGINT)
           AS density_ppm
FROM nodes CROSS JOIN mutual CROSS JOIN cnt
"""


@register("graph_reciprocity_report", oracle=RECIP_SQL, covers=["J1", "A2"])
def q_graph_reciprocity_report(spark, sf_dir):
    """Directed-graph reciprocity and density over the event-type
    transition graph: the share of edges whose reverse also exists
    (semi-join on the swapped key) and edges over n(n-1), both in
    truncating ppm — the two shape numbers a directed-network report
    opens with."""
    from prosnet_prefect_pipelines_spark.model import read_events

    ev = read_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    steps = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    de = steps.distinct()
    nodes = (
        de.select(F.col("a").alias("x"))
        .union(de.select(F.col("b").alias("x")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rev = de.select(F.col("b").alias("a"), F.col("a").alias("b"))
    mutual = de.join(rev, ["a", "b"], "left_semi").agg(
        F.count(F.lit(1)).alias("m")
    )
    cnt = de.agg(F.count(F.lit(1)).alias("e"))
    return (
        nodes.crossJoin(mutual)
        .crossJoin(cnt)
        .select(
            F.col("n").cast("long").alias("n_nodes"),
            F.col("e").cast("long").alias("n_edges"),
            F.col("m").cast("long").alias("n_reciprocated"),
            F.expr(
                "CAST(CAST(m AS DECIMAL(38,0)) * 1000000 div e AS BIGINT)"
            ).alias("reciprocity_ppm"),
            F.expr(
                "CAST(CAST(e AS DECIMAL(38,0)) * 1000000 div "
                "(CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"
            ).alias("density_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# hub-removal robustness.

ROBUST_SQL = f"""
WITH {_EDGES_SQL},
deg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
    ) t GROUP BY node
),
hub AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 1),
survivors AS (
    SELECT e.a, e.b FROM e
    WHERE e.a NOT IN (SELECT node FROM hub)
      AND e.b NOT IN (SELECT node FROM hub)
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS edges_before,
       CAST((SELECT COUNT(*) FROM survivors) AS BIGINT) AS edges_after,
       CAST((SELECT d FROM deg JOIN hub USING (node)) AS BIGINT) AS hub_degree,
       CAST((SELECT COUNT(*) FROM e) - (SELECT COUNT(*) FROM survivors)
            AS BIGINT) AS edges_lost
"""


@register("network_robustness_report", oracle=ROBUST_SQL, covers=["J7", "A2", "O6"])
def q_network_robustness_report(spark, sf_dir):
    """Targeted-attack robustness: remove the single highest-degree hub
    (deterministic tie-break) and report the edge loss — the first
    point of the percolation curve infrastructure analyses walk. Hub
    selection is a TakeOrdered top-1 broadcast into anti-join
    filters."""
    e = _edges(spark, sf_dir)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    hub = deg.orderBy(F.col("d").desc(), F.col("node")).limit(1)
    hub_a = hub.select(F.col("node").alias("a"))
    hub_b = hub.select(F.col("node").alias("b"))
    survivors = e.join(F.broadcast(hub_a), "a", "left_anti").join(
        F.broadcast(hub_b), "b", "left_anti"
    )
    before = e.count()
    after = survivors.count()
    hub_deg = hub.collect()[0].d
    return local_frame(
        spark,
        [(before, after, hub_deg, before - after)],
        "edges_before long, edges_after long, hub_degree long, edges_lost long",
    )


# ---------------------------------------------------------------------------
# Tukey IQR fences.

TUKEY_SQL = """
WITH pts AS (
    SELECT l_suppkey % 10 AS grp,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS v
    FROM lineitem
),
r AS (
    SELECT grp, v,
           row_number() OVER (PARTITION BY grp ORDER BY v, v) AS rn,
           COUNT(*) OVER (PARTITION BY grp) AS n
    FROM pts
),
q AS (
    -- nearest-rank quartiles: q1 at ceil(n/4), q3 at ceil(3n/4)
    SELECT grp,
           MAX(CASE WHEN rn = (n + 3) // 4 THEN v END) AS q1,
           MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS q3,
           MAX(n) AS n
    FROM r GROUP BY grp
),
flagged AS (
    -- fences scaled x2 so 1.5*IQR stays integral:
    -- outlier iff 2v < 2q1 - 3(q3-q1) or 2v > 2q3 + 3(q3-q1)
    SELECT p.grp, q.n, q.q1, q.q3,
           CASE WHEN 2 * p.v < 2 * q.q1 - 3 * (q.q3 - q.q1)
                  OR 2 * p.v > 2 * q.q3 + 3 * (q.q3 - q.q1)
                THEN 1 ELSE 0 END AS is_out
    FROM pts p JOIN q ON q.grp = p.grp
)
SELECT CAST(grp AS BIGINT) AS grp, CAST(n AS BIGINT) AS n,
       CAST(q1 AS BIGINT) AS q1_cents, CAST(q3 AS BIGINT) AS q3_cents,
       CAST(SUM(is_out) AS BIGINT) AS n_outliers
FROM flagged GROUP BY grp, n, q1, q3
"""


@register("tukey_outlier_fences", oracle=TUKEY_SQL, covers=["A2", "O1"])
def q_tukey_outlier_fences(spark, sf_dir):
    """Tukey box-plot fences, exactly: nearest-rank quartiles per group
    and outliers beyond 1.5*IQR — with every comparison doubled so the
    half-integer fence arithmetic never leaves integers (the third
    classic outlier rule next to the exact 3-sigma and MAD queries).
    One per-group rank window + a stats join-back."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = li.select(
        (F.col("l_suppkey") % 10).alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    w = Window.partitionBy("grp").orderBy("v", "v")
    wn = Window.partitionBy("grp")
    r = pts.select(
        "grp",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    q = r.groupBy("grp").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("v"))
        ).alias("q1"),
        F.max(
            F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("v"))
        ).alias("q3"),
        F.max("n").alias("n"),
    )
    flagged = pts.join(q, "grp").select(
        "grp",
        "n",
        "q1",
        "q3",
        F.when(
            (2 * F.col("v") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1")))
            | (2 * F.col("v") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))),
            1,
        )
        .otherwise(0)
        .alias("is_out"),
    )
    return flagged.groupBy("grp", "n", "q1", "q3").agg(
        F.sum("is_out").cast("long").alias("n_outliers")
    ).select(
        F.col("grp").cast("long").alias("grp"),
        F.col("n").cast("long").alias("n"),
        F.col("q1").cast("long").alias("q1_cents"),
        F.col("q3").cast("long").alias("q3_cents"),
        "n_outliers",
    )


# ---------------------------------------------------------------------------
# popularity-fallback recommender.

RECO_SQL = """
WITH purchases AS (
    SELECT DISTINCT o.o_custkey AS cust, c.c_mktsegment AS segment,
           p.p_brand AS brand
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
),
pop AS (
    SELECT segment, brand, COUNT(*) AS n_buyers,
           row_number() OVER (PARTITION BY segment
                              ORDER BY COUNT(*) DESC, brand) AS rnk
    FROM purchases GROUP BY segment, brand
),
candidates AS (SELECT segment, brand, n_buyers, rnk FROM pop WHERE rnk <= 8),
reco AS (
    SELECT u.cust, c.brand, c.rnk,
           row_number() OVER (PARTITION BY u.cust ORDER BY c.rnk) AS pick
    FROM (SELECT DISTINCT cust, segment FROM purchases) u
    JOIN candidates c USING (segment)
    WHERE NOT EXISTS (
        SELECT 1 FROM purchases p
        WHERE p.cust = u.cust AND p.brand = c.brand)
)
SELECT cust, brand, CAST(pick AS BIGINT) AS pick
FROM reco WHERE pick <= 3
"""


@register("popularity_recommender", oracle=RECO_SQL, covers=["J7", "O6", "A1"])
def q_popularity_recommender(spark, sf_dir):
    """Popularity-fallback recommendations: each customer gets the top
    3 brands popular in their market segment that they have NOT yet
    bought — the cold-start baseline every recommender backstops with.
    Segment popularity is a bounded candidate table (top-8 per
    segment, broadcast); the already-bought exclusion is an anti join
    on (customer, brand)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    purchases = (
        orders.join(cust, cust["c_custkey"] == orders["o_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(part), part["p_partkey"] == li["l_partkey"])
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("c_mktsegment").alias("segment"),
            F.col("p_brand").alias("brand"),
        )
        .distinct()
    )
    wp = Window.partitionBy("segment").orderBy(
        F.col("n_buyers").desc(), F.col("brand")
    )
    pop = (
        purchases.groupBy("segment", "brand")
        .agg(F.count(F.lit(1)).alias("n_buyers"))
        .withColumn("rnk", F.row_number().over(wp))
        .filter(F.col("rnk") <= 8)
    )
    users = purchases.select("cust", "segment").distinct()
    cand = users.join(F.broadcast(pop), "segment")
    unbought = cand.join(
        purchases.select("cust", "brand"), ["cust", "brand"], "left_anti"
    )
    wr = Window.partitionBy("cust").orderBy("rnk")
    return (
        unbought.withColumn("pick", F.row_number().over(wr))
        .filter(F.col("pick") <= 3)
        .select("cust", "brand", F.col("pick").cast("long").alias("pick"))
    )
