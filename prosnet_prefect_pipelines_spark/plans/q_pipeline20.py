"""Pipeline batch 20 (north-star extension): classic TPC-H queries
through the PURE SQL API (spark.sql over registered temp views — the
other half of the engine's user surface), plus ORC and CSV sink
round-trips completing the storage-format matrix.

The TPC-H trio (Q3 shipping priority, Q5 local supplier volume, Q10
returned items) exercises 3-6-way selective joins where Catalyst's
join reordering, filter pushdown, and broadcast selection do the
planning — no DataFrame hints. Revenue accumulates in exact BIGINT
cent-percent units and becomes a double only in ONE final division, so
aggregation order can never flip a bit between engines (the DECIMAL->
DOUBLE cast it replaced diverged in the last ulp at sf0.1).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.streaming.staging import scratch_root


def _register_views(spark, sf_dir, tables):
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


TPCH_Q3 = """
SELECT l.l_orderkey,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS DOUBLE)
           / 10000.0 AS revenue,
       strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS orderdate,
       o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1996-03-15'
  AND l.l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

# Spark twin: identical algebra; date_format replaces strftime
TPCH_Q3_SPARK = TPCH_Q3.replace(
    "strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d')",
    "date_format(o.o_orderdate, 'yyyy-MM-dd')",
)


@register("sql_tpch_q3", oracle=TPCH_Q3, covers=["J1", "A2", "O1", "F16"])
def q_sql_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping priority) through the pure SQL API: a 3-way
    selective join where Catalyst orders the joins, pushes the
    segment/date filters into the scans, and broadcasts the filtered
    customer side — the no-hints plan a SQL-first user gets.
    orderBy+limit compiles to TakeOrdered."""
    _register_views(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(TPCH_Q3_SPARK)


TPCH_Q5 = """
SELECT n.n_name,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS DOUBLE)
           / 10000.0 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
"""


@register("sql_tpch_q5", oracle=TPCH_Q5, covers=["J1", "A2", "F16"])
def q_sql_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): a 6-way join with a
    region-pruned dimension chain — nation/region broadcast, the
    customer-supplier co-nation predicate rides the join, and only the
    date-windowed orders slice shuffles. Pure SQL surface."""
    _register_views(
        spark, sf_dir, ["customer", "orders", "lineitem", "supplier", "nation", "region"]
    )
    return spark.sql(TPCH_Q5)


TPCH_Q10 = """
SELECT c.c_custkey, c.c_name,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS DOUBLE)
           / 10000.0 AS revenue,
       n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("sql_tpch_q10", oracle=TPCH_Q10, covers=["J1", "A2", "O1", "F16"])
def q_sql_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned items): 4-way join, returnflag + date-window
    filters pushed to the scans, top-20 customers via TakeOrdered.
    Pure SQL surface — same text runs on both engines."""
    _register_views(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    return spark.sql(TPCH_Q10)


# --- ORC / CSV sink round-trips ----------------------------------------------------------

_FMT_AGG_SQL = """
SELECT n_regionkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(n_name) AS first_name
FROM nation GROUP BY n_regionkey
"""


def _roundtrip(spark, sf_dir, fmt: str):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = os.path.join(scratch_root(spark), f"nation_{fmt}")
    nation.write.mode("overwrite").format(fmt).save(out)
    back = spark.read.format(fmt).load(out)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"), F.min("n_name").alias("first_name")
    )


@register("orc_sink_roundtrip", oracle=_FMT_AGG_SQL, covers=["K3"])
def q_orc_roundtrip(spark, sf_dir):
    """ORC write -> read -> aggregate round-trip: the columnar-format
    matrix beyond parquet (ORC shares the vectorized reader, predicate
    pushdown, and column pruning paths). The oracle aggregates the
    source table directly — any serialization loss would hash-diverge."""
    return _roundtrip(spark, sf_dir, "orc")


@register("csv_sink_roundtrip", oracle=_FMT_AGG_SQL, covers=["K3"])
def q_csv_roundtrip(spark, sf_dir):
    """CSV write -> schema-preserving read -> aggregate round-trip
    (header + explicit schema on the way back in; CSV is the interchange
    format the reference's TSV sources live in)."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = os.path.join(scratch_root(spark), "nation_csv")
    nation.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(nation.schema).option("header", True).csv(out)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"), F.min("n_name").alias("first_name")
    )
