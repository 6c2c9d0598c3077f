"""Pipeline batch 53: schema-profiling classics —

- ``fd_audit``: functional-dependency validation: for each claimed FD
  X -> Y, the number of X values mapping to more than one Y (0 =
  the FD holds). Claims cover a true key FD (o_orderkey ->
  o_orderdate), a through-join FD (l_orderkey -> o_custkey), and a
  deliberately false one (l_partkey -> l_suppkey) so the audit's
  negative path is exercised. Per claim: one (X, Y) distinct + one
  X-keyed count — the standard profile-then-assert loop.
- ``candidate_key_profile``: candidate-key discovery by uniqueness
  ratio: for column combinations of the lineitem table, distinct
  combinations / rows in ppm, and whether the combination is a key
  (ratio = 1e6). The profiler output that feeds dedup-key and
  bucketing decisions.

Scale notes: each claim/combination is one distinct + one aggregate,
all keyed — the profiler fans out a handful of independent
aggregations and unions 1-row results.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

FD_SQL = """
WITH fd1 AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS v FROM (
        SELECT o_orderkey FROM (
            SELECT DISTINCT o_orderkey, o_orderdate FROM orders
        ) GROUP BY o_orderkey HAVING COUNT(*) > 1
    )
),
fd2 AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS v FROM (
        SELECT l_orderkey FROM (
            SELECT DISTINCT l.l_orderkey, o.o_custkey
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        ) GROUP BY l_orderkey HAVING COUNT(*) > 1
    )
),
fd3 AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS v FROM (
        SELECT l_partkey FROM (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        ) GROUP BY l_partkey HAVING COUNT(*) > 1
    )
)
SELECT 'o_orderkey->o_orderdate' AS fd, v AS violating_keys, v = 0 AS holds FROM fd1
UNION ALL
SELECT 'l_orderkey->o_custkey', v, v = 0 FROM fd2
UNION ALL
SELECT 'l_partkey->l_suppkey', v, v = 0 FROM fd3
"""


@register("fd_audit", oracle=FD_SQL, covers=["A1", "A2", "J1"])
def q_fd_audit(spark, sf_dir):
    """FD validation: violating-key counts for three claimed
    dependencies (true key FD, through-join FD, and a deliberately
    false claim). Each claim is one distinct-pairs pass + one keyed
    count — map-side combined, no windows."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def violations(pairs, xcol):
        return (
            pairs.distinct()
            .groupBy(xcol)
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .agg(F.count(F.lit(1)).cast("long").alias("v"))
        )

    def claim(name, vdf):
        return vdf.select(
            F.lit(name).alias("fd"),
            F.col("v").alias("violating_keys"),
            (F.col("v") == 0).alias("holds"),
        )

    fd1 = claim(
        "o_orderkey->o_orderdate",
        violations(o.select("o_orderkey", "o_orderdate"), "o_orderkey"),
    )
    fd2 = claim(
        "l_orderkey->o_custkey",
        violations(
            li.join(o, li.l_orderkey == o.o_orderkey).select(
                "l_orderkey", "o_custkey"
            ),
            "l_orderkey",
        ),
    )
    fd3 = claim(
        "l_partkey->l_suppkey",
        violations(li.select("l_partkey", "l_suppkey"), "l_partkey"),
    )
    return fd1.unionAll(fd2).unionAll(fd3)


_COMBOS = [
    ("l_orderkey", ["l_orderkey"]),
    ("l_orderkey+l_linenumber", ["l_orderkey", "l_linenumber"]),
    ("l_orderkey+l_linenumber+l_partkey", ["l_orderkey", "l_linenumber", "l_partkey"]),
    ("l_partkey+l_suppkey", ["l_partkey", "l_suppkey"]),
]


def _combo_sql(name, cols):
    cl = ", ".join(cols)
    return f"""
    SELECT '{name}' AS combo,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM (SELECT DISTINCT {cl} FROM lineitem))
                AS BIGINT) AS n_distinct
    FROM lineitem
    """


KEY_PROFILE_SQL = (
    "WITH combos AS ("
    + " UNION ALL ".join(_combo_sql(n, c) for n, c in _COMBOS)
    + """)
SELECT combo, n_rows, n_distinct,
       CAST(CAST(n_distinct AS HUGEINT) * 1000000 // n_rows AS BIGINT)
           AS uniqueness_ppm,
       n_distinct = n_rows AS is_key
FROM combos
"""
)


@register("candidate_key_profile", oracle=KEY_PROFILE_SQL, covers=["A1", "A2"])
def q_candidate_key_profile(spark, sf_dir):
    """Candidate-key discovery: uniqueness ratio (ppm) for column
    combinations of the fact table, flagging true keys. One
    distinct-count per combination — the profiling pass that decides
    dedup keys and bucketing columns. (The synthetic feed's duplicated
    (orderkey, linenumber) pairs surface here as a non-key — the same
    fact the encoding advisor had to tie-break around.)"""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_rows = li.count()
    outs = []
    for name, cols in _COMBOS:
        nd = li.select(*cols).distinct().count()
        outs.append((name, n_rows, nd))
    df = local_frame(spark, outs, "combo string, n_rows long, n_distinct long")
    return df.select(
        "combo",
        "n_rows",
        "n_distinct",
        F.expr(
            "CAST(CAST(n_distinct AS DECIMAL(38,0)) * 1000000 div n_rows AS BIGINT)"
        ).alias("uniqueness_ppm"),
        (F.col("n_distinct") == F.col("n_rows")).alias("is_key"),
    )
