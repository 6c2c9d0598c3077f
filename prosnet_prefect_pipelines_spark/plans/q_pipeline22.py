"""Pipeline batch 22 (north-star extension): Borůvka minimum spanning
forest (rows-only — MST has no SQL-expressible twin; pytest verifies
against a driver Kruskal), 2D skyline via one window, the ranking
window-function suite, and an FK referential-integrity audit.

Determinism: MST edge weights are made unique by composing the edge id
into the weight; the skyline and integrity audits are pure integer
algebra.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.operators import graph as G
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame


def mst_edges(spark, sf_dir):
    """Weighted graph over 300 nodes from orders; weights made UNIQUE
    (w = base * 100000 + orderkey % 100000) so the MSF is unambiguous."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.select(
            (F.col("o_custkey") % 300).alias("src"),
            ((F.col("o_custkey") + F.col("o_orderkey")) % 300).alias("dst"),
            (
                (F.col("o_orderkey") % 997) * 100000 + F.col("o_orderkey") % 100000
            ).alias("w"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )


@register("mst_boruvka", oracle=None, covers=["J9", "J5"])
def q_mst_boruvka(spark, sf_dir):
    """Borůvka minimum spanning forest: per-component min outgoing edge
    (one keyed min_by), component merge via connected components over
    the COMPONENT graph (component-sized work), relabel, repeat —
    components at least halve per round, so <= log2(V) rounds. No
    SQL-expressible oracle (Kruskal/Prim are sequential); equivalence
    vs a driver Kruskal is pytest-enforced, and the driver records the
    rows-only check."""
    return G.mst_boruvka(mst_edges(spark, sf_dir)).orderBy("w")


SKYLINE_SQL = """
WITH pts AS (
    SELECT s_suppkey, s_nationkey,
           CAST(s_suppkey % 701 AS BIGINT) AS cost,
           CAST(round(s_acctbal * 100, 0) AS BIGINT) AS neg_quality
    FROM supplier
),
ranked AS (
    SELECT *, MIN(neg_quality) OVER (
        ORDER BY cost, neg_quality, s_suppkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_before
    FROM pts
)
SELECT s_suppkey, cost, neg_quality
FROM ranked
WHERE best_before IS NULL OR neg_quality < best_before
"""


@register("skyline_2d", oracle=SKYLINE_SQL, covers=["O1", "A2"])
def q_skyline_2d(spark, sf_dir):
    """2D skyline (Pareto frontier: minimize cost AND neg_quality) via
    the sort + running-min identity: after ordering by cost, a point is
    dominated iff some earlier point had a lower second coordinate —
    ONE window pass instead of the quadratic NOT EXISTS self-join
    (which is the oracle's formulation at verification scale; this
    window IS the identity, both yield the frontier).

    Scale shape: a point dominated within ANY subset is dominated
    globally (skyline-of-skylines = skyline, the same superset
    reduction as top-k), so an Arrow-batched local prune shrinks the
    input before the one global ordering — the final window sorts the
    surviving candidates, not the table."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    pts = sup.select(
        "s_suppkey",
        (F.col("s_suppkey") % 701).cast("long").alias("cost"),
        F.round(F.col("s_acctbal") * 100, 0).cast("long").alias("neg_quality"),
    )

    def _local_skyline(batches):
        for pdf in batches:
            pdf = pdf.sort_values(["cost", "neg_quality", "s_suppkey"])
            best = pdf["neg_quality"].cummin().shift(1)
            keep = best.isna() | (pdf["neg_quality"] < best)
            yield pdf[keep]

    pruned = pts.mapInPandas(_local_skyline, pts.schema)
    w = (
        Window.orderBy("cost", "neg_quality", "s_suppkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = pruned.withColumn("best_before", F.min("neg_quality").over(w))
    return ranked.filter(
        F.col("best_before").isNull() | (F.col("neg_quality") < F.col("best_before"))
    ).select("s_suppkey", "cost", "neg_quality")


# percent_rank/cume_dist emitted as exact integer micro units (rank
# arithmetic, no float round()): round(x, 6) diverges between engines
# when the true value sits on a .5 ulp boundary (observed at sf0.1 —
# Spark HALF_UP on the decimal repr vs DuckDB rounding the binary)
WINDOW_SUITE_SQL = """
SELECT c_custkey,
       c_nationkey,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       CAST(CASE WHEN n > 1 THEN (rnk - 1) * 1000000 // (n - 1) ELSE 0 END
            AS BIGINT) AS pct_rank_micro,
       CAST(cnt * 1000000 // n AS BIGINT) AS cume_micro,
       CAST(dense_rank() OVER w AS BIGINT) AS drank
FROM (
    SELECT c_custkey, c_acctbal, c_nationkey,
           rank() OVER w AS rnk,
           count(*) OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal, c_custkey
                          RANGE UNBOUNDED PRECEDING) AS cnt,
           count(*) OVER (PARTITION BY c_nationkey) AS n
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
) t
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


@register("window_rank_suite", oracle=WINDOW_SUITE_SQL, covers=["O1", "A2"])
def q_window_rank_suite(spark, sf_dir):
    """The ranking window-function suite (ntile / percent_rank /
    cume_dist / dense_rank) in one keyed window pass — quartile
    assignment and distributional position per customer within their
    nation; all four functions share a single sort."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_nationkey")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized = cust.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.rank().over(w).alias("rnk"),
        F.count(F.lit(1)).over(wcum).alias("cnt"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.dense_rank().over(w).cast("long").alias("drank"),
    )
    return sized.select(
        "c_custkey",
        "c_nationkey",
        "quartile",
        F.expr(
            "CAST(CASE WHEN n > 1 THEN (rnk - 1) * 1000000 div (n - 1)"
            " ELSE 0 END AS BIGINT)"
        ).alias("pct_rank_micro"),
        F.expr("CAST(cnt * 1000000 div n AS BIGINT)").alias("cume_micro"),
        "drank",
    )


FK_AUDIT_SQL = """
SELECT 'lineitem->orders' AS fk,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS orphans,
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child
UNION ALL
SELECT 'orders->customer' AS fk,
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS orphans,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_child
UNION ALL
SELECT 'lineitem->part' AS fk,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey)) AS BIGINT) AS orphans,
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child
"""


@register("fk_integrity_audit", oracle=FK_AUDIT_SQL, covers=["J7", "A2"])
def q_fk_integrity_audit(spark, sf_dir):
    """Referential-integrity audit: orphan counts for three foreign-key
    edges of the star schema, each ONE anti-join + count (the left side
    streams, the key side broadcasts when dimension-sized) — the
    pre-ingest gate that catches partial loads."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")

    def audit(name, child, child_key, parent, parent_key):
        orphans = child.join(
            parent.select(F.col(parent_key).alias(child_key)).distinct(),
            on=child_key,
            how="left_anti",
        ).count()
        n = child.count()
        return (name, orphans, n)

    rows = [
        audit("lineitem->orders", li, "l_orderkey", orders, "o_orderkey"),
        audit("orders->customer", orders, "o_custkey", cust, "c_custkey"),
        audit("lineitem->part", li, "l_partkey", part, "p_partkey"),
    ]
    return (
        local_frame(li.sparkSession, rows, "fk string, orphans long, n_child long")
    )
