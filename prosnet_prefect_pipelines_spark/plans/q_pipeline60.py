"""Pipeline batch 60: drift monitoring + shard rebalance planning —

- ``psi_drift``: Population Stability Index between the first and
  second half of the events stream over fixed-width value buckets —
  THE standard production-ML input-drift alarm. Laplace-smoothed
  bucket shares (exact rational -> identical doubles), per-bucket
  terms (p-q)*ln(p/q) 6-dp rounded, total summed as scaled integers.
- ``consistent_hash_moves``: the migration matrix of growing a
  consistent-hash ring from 8 to 10 nodes — which keys move where,
  and how many stay put. Ring positions and key fractions use the
  portable 48-bit md5 hash (bit-identical across engines), assignment
  is "first node clockwise" with wraparound.

Scale notes: PSI is one narrow bucket tag + two keyed counts (map-side
combinable; bucket table is tiny). The ring assignment is keys x
n_nodes with the node table broadcast (nodes are O(10..1000) however
big the key set); the migration matrix is one keyed count.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators.sampling import portable_fraction
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_curation import _frac_sql
from prosnet_prefect_pipelines_spark.session import local_frame

N_BUCKETS = 10
BUCKET_W = 50.0
SPLIT_TS = "2024-01-16 00:00:00"

PSI_SQL = f"""
WITH tagged AS (
    SELECT CASE WHEN ts < TIMESTAMP '{SPLIT_TS}' THEN 'a' ELSE 'b' END AS period,
           least(CAST(floor(value / {BUCKET_W}) AS BIGINT), {N_BUCKETS - 1}) AS bucket
    FROM events WHERE value IS NOT NULL AND value >= 0
),
buckets AS (SELECT CAST(b AS BIGINT) AS bucket FROM generate_series(0, {N_BUCKETS - 1}) t(b)),
counts AS (
    SELECT b.bucket,
           CAST(COALESCE(SUM(CASE WHEN t.period = 'a' THEN 1 END), 0) AS BIGINT) AS n_a,
           CAST(COALESCE(SUM(CASE WHEN t.period = 'b' THEN 1 END), 0) AS BIGINT) AS n_b
    FROM buckets b LEFT JOIN tagged t ON t.bucket = b.bucket
    GROUP BY b.bucket
),
tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM counts),
terms AS (
    SELECT c.bucket, c.n_a, c.n_b,
           CAST(round(round(
               ((c.n_a + 1) / CAST(t.ta + {N_BUCKETS} AS DOUBLE)
                - (c.n_b + 1) / CAST(t.tb + {N_BUCKETS} AS DOUBLE))
               * ln(((c.n_a + 1) / CAST(t.ta + {N_BUCKETS} AS DOUBLE))
                    / ((c.n_b + 1) / CAST(t.tb + {N_BUCKETS} AS DOUBLE))), 6)
               * 1000000, 0) AS BIGINT) AS t6
    FROM counts c CROSS JOIN tot t
)
SELECT bucket, n_a, n_b,
       t6 / 1000000.0 AS psi_term,
       CAST(SUM(t6) OVER () AS BIGINT) / 1000000.0 AS psi_total
FROM terms
"""


@register("psi_drift", oracle=PSI_SQL, covers=["A2", "J2"])
def q_psi_drift(spark, sf_dir):
    """PSI input-drift report: first vs second half of January over 10
    fixed-width value buckets, Laplace-smoothed. Narrow bucket tag +
    one keyed count; the 10-row bucket spine left-joins the counts so
    empty buckets still contribute their smoothed term."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    tagged = events.filter(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    ).select(
        F.when(F.col("ts") < F.lit(SPLIT_TS).cast("timestamp"), "a")
        .otherwise("b")
        .alias("period"),
        F.least(
            F.floor(F.col("value") / BUCKET_W).cast("long"),
            F.lit(N_BUCKETS - 1).cast("long"),
        ).alias("bucket"),
    )
    buckets = spark.range(N_BUCKETS).select(F.col("id").alias("bucket"))
    counts = (
        buckets.join(tagged, "bucket", "left")
        .groupBy("bucket")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("period") == "a", 1)), F.lit(0)
            ).cast("long").alias("n_a"),
            F.coalesce(
                F.sum(F.when(F.col("period") == "b", 1)), F.lit(0)
            ).cast("long").alias("n_b"),
        )
    )
    tot = counts.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    p = (F.col("n_a") + 1) / (F.col("ta") + N_BUCKETS).cast("double")
    q = (F.col("n_b") + 1) / (F.col("tb") + N_BUCKETS).cast("double")
    t6 = F.round(F.round((p - q) * F.log(p / q), 6) * 1_000_000, 0).cast("long")
    from pyspark.sql.window import Window

    terms = counts.crossJoin(F.broadcast(tot)).select(
        "bucket", "n_a", "n_b", t6.alias("t6")
    )
    w = Window.partitionBy()
    return terms.select(
        "bucket",
        "n_a",
        "n_b",
        (F.col("t6") / F.lit(1_000_000.0)).alias("psi_term"),
        (F.sum("t6").over(w).cast("long") / F.lit(1_000_000.0)).alias("psi_total"),
    )


OLD_NODES = [f"n{i}" for i in range(8)]
NEW_NODES = [f"n{i}" for i in range(10)]


def _nodes_sql(names: list[str]) -> str:
    rows = ", ".join(f"('{n}')" for n in names)
    return (
        f"SELECT name, {_frac_sql('name', '#ring')} AS pos "
        f"FROM (VALUES {rows}) v(name)"
    )


def _assign_sql(nodes_cte: str, out: str) -> str:
    return f"""
{out}_min AS (
    SELECT k.doc_id, k.frac,
           COALESCE(MIN(CASE WHEN n.pos >= k.frac THEN n.pos END), MIN(n.pos))
               AS chosen
    FROM keys k CROSS JOIN {nodes_cte} n
    GROUP BY k.doc_id, k.frac
),
{out} AS (
    SELECT m.doc_id, n.name
    FROM {out}_min m JOIN {nodes_cte} n ON n.pos = m.chosen
)"""


RING_SQL = f"""
WITH keys AS (
    SELECT doc_id, {_frac_sql('doc_id', '#key')} AS frac FROM documents
),
old_nodes AS ({_nodes_sql(OLD_NODES)}),
new_nodes AS ({_nodes_sql(NEW_NODES)}),
{_assign_sql('old_nodes', 'old_assign')},
{_assign_sql('new_nodes', 'new_assign')}
SELECT o.name AS old_node, n.name AS new_node,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       (o.name <> n.name) AS moved
FROM old_assign o JOIN new_assign n ON o.doc_id = n.doc_id
GROUP BY o.name, n.name
"""


def _assign_spark(keys, nodes):
    chosen = (
        keys.crossJoin(F.broadcast(nodes))
        .groupBy("doc_id", "frac")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("pos") >= F.col("frac"), F.col("pos"))),
                F.min("pos"),
            ).alias("chosen")
        )
    )
    return chosen.join(
        F.broadcast(nodes), F.col("pos") == F.col("chosen")
    ).select("doc_id", "name")


@register("consistent_hash_moves", oracle=RING_SQL, covers=["A2", "J1"])
def q_consistent_hash_moves(spark, sf_dir):
    """Consistent-hash rebalance plan: migration matrix of growing the
    ring 8 -> 10 nodes. Node tables are literal+broadcast (O(nodes)
    however big the key set); assignment is first-clockwise with
    wraparound via min-over-candidates; one keyed count at the end.
    Only keys landing in the new nodes' arcs move — the property the
    report demonstrates vs naive modulo."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    keys = docs.select(
        "doc_id", portable_fraction(F.col("doc_id"), "#key").alias("frac")
    )

    def nodes_df(names):
        df = local_frame(spark, [(n,) for n in names], "name string")
        return df.select(
            "name", portable_fraction(F.col("name"), "#ring").alias("pos")
        )

    old = _assign_spark(keys, nodes_df(OLD_NODES)).withColumnRenamed(
        "name", "old_node"
    )
    new = _assign_spark(keys, nodes_df(NEW_NODES)).withColumnRenamed(
        "name", "new_node"
    )
    return (
        old.join(new, "doc_id")
        .groupBy("old_node", "new_node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
        .withColumn("moved", F.col("old_node") != F.col("new_node"))
    )
