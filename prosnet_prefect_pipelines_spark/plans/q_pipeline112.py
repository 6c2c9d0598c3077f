"""Pipeline batch 112 (north-star extension): covariate balance &
ordinal effect sizes — the standardized-mean-difference balance
panel, quantile treatment-effect gaps at the deciles, and Cliff's
delta. The pre-causal-analysis diagnostics (is the comparison
balanced? where in the distribution does the effect live? how big is
it ordinally?) that complete batch 105's classifier metrics and
batch 110's distribution distances.

Groups: X = order values (cents) of orders with any returned
lineitem, Y = the rest (for QTE/Cliff); the SMD panel balances order
value across customer regions.

Exactness conventions:
- SMD uses exact HUGEINT/DECIMAL(38,0) power sums for means and
  sample variances (one double expression per group);
- QTE quantiles are nearest-rank ceil(p*n) picks off the
  distinct-value cumulative table under the natural value order — no
  interpolation, no per-row window;
- Cliff's delta counts win/loss pairs through the prefix identity
  wins = sum_v c1_v * cc2lt_v (never a pair join) and classifies
  magnitude against the Romano 6-dp literal thresholds.

Scale notes: one orders-lineitem (or orders-dims) aggregation, then
|V|-bounded cumulations — the batch-96/110 shape. The decile dim is
a 9-row broadcast.

Ref semantics: SURVEY §2 A2/O1/J1 compositions; no reference
counterpart (extensions X-SMD .. X-CLIFFS).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# labeled distinct-value table (X = returned, Y = kept), batch-110 shape
_VALS_SQL = """
labeled AS (
    SELECT o.o_orderkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS x,
           MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS y
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
),
vals AS (
    SELECT x, SUM(y) AS c1, SUM(1 - y) AS c2 FROM labeled GROUP BY x
),
tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM vals)
"""


def _vals(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_returnflag"
    )
    labeled = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "x")
        .agg(F.max((F.col("l_returnflag") == "R").cast("int")).alias("y"))
    )
    return labeled.groupBy("x").agg(
        F.sum("y").alias("c1"), F.sum(1 - F.col("y")).alias("c2")
    )


# ---------------------------------------------------------------------------
# 1. SMD covariate-balance panel per region.

SMD_SQL = """
WITH base AS (
    SELECT r.r_name AS grp,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS x
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
),
g AS (
    SELECT grp, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s1,
           SUM(CAST(x AS HUGEINT) * x) AS s2
    FROM base GROUP BY grp
),
tot AS (SELECT SUM(n) AS nt, SUM(s1) AS st1, SUM(s2) AS st2 FROM g),
d AS (
    SELECT grp, n,
           CAST(s1 AS DOUBLE) / n AS mg,
           (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)
               AS vg,
           CAST(st1 - s1 AS DOUBLE) / (nt - n) AS mr,
           (CAST(st2 - s2 AS DOUBLE)
            - CAST(st1 - s1 AS DOUBLE) * (st1 - s1) / (nt - n))
               / (nt - n - 1) AS vr
    FROM g CROSS JOIN tot
)
SELECT grp, CAST(n AS BIGINT) AS n_orders,
       round(mg / 100.0, 6) AS group_mean_dollars_6,
       round((mg - mr) / sqrt(NULLIF((vg + vr) / 2.0, 0)), 6) AS smd_6,
       round(vg / NULLIF(vr, 0), 6) AS variance_ratio_6,
       abs((mg - mr) / sqrt(NULLIF((vg + vr) / 2.0, 0))) > 0.1
           AS imbalanced_01
FROM d
"""


@register("smd_balance_panel", oracle=SMD_SQL, covers=["J1", "A2"])
def q_smd_balance_panel(spark, sf_dir):
    """Covariate-balance panel: per region, the standardized mean
    difference of order value against the pooled rest
    (m_g - m_rest)/sqrt((v_g + v_rest)/2), the variance ratio, and
    the |SMD| > 0.1 imbalance flag — the table every causal analysis
    prints before trusting a comparison. Exact power sums; dims
    broadcast; 5-row output.

    Ref semantics: SURVEY §2 J1/A2 (extension X-SMD)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_regionkey"
    )
    r = spark.read.parquet(f"{sf_dir}/region.parquet").select(
        "r_regionkey", "r_name"
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    g = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec(F.col("x"))).alias("s1"),
            F.sum(dec(F.col("x")) * F.col("x")).alias("s2"),
        )
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.sum("s1").alias("st1"),
        F.sum("s2").alias("st2"),
    )
    j = g.crossJoin(F.broadcast(tot))
    mg = F.col("s1").cast("double") / F.col("n")
    vg = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ) / (F.col("n") - 1)
    rs1 = (F.col("st1") - F.col("s1")).cast("double")
    mr = rs1 / (F.col("nt") - F.col("n"))
    vr = (
        (F.col("st2") - F.col("s2")).cast("double")
        - rs1 * (F.col("st1") - F.col("s1")) / (F.col("nt") - F.col("n"))
    ) / (F.col("nt") - F.col("n") - 1)
    smd = (mg - mr) / F.sqrt(F.nullif((vg + vr) / 2.0, F.lit(0.0)))
    return j.select(
        F.col("grp"),
        F.col("n").cast("long").alias("n_orders"),
        F.round(mg / 100.0, 6).alias("group_mean_dollars_6"),
        F.round(smd, 6).alias("smd_6"),
        F.round(vg / F.nullif(vr, F.lit(0.0)), 6).alias("variance_ratio_6"),
        (F.abs(smd) > 0.1).alias("imbalanced_01"),
    )


# ---------------------------------------------------------------------------
# 2. Quantile treatment-effect gaps at the deciles.

QTE_SQL = (
    "WITH "
    + _VALS_SQL
    + """,
cum AS (
    SELECT x,
           SUM(c1) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cc1,
           SUM(c2) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cc2
    FROM vals
),
dims(d) AS (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9)),
q AS (
    SELECT d,
           MIN(CASE WHEN cc1 * 10 >= d * n1 THEN x END) AS qx,
           MIN(CASE WHEN cc2 * 10 >= d * n2 THEN x END) AS qy
    FROM cum CROSS JOIN dims CROSS JOIN tot
    GROUP BY d
)
SELECT CAST(d AS BIGINT) AS decile,
       CAST(qx AS BIGINT) AS q_returned_cents,
       CAST(qy AS BIGINT) AS q_kept_cents,
       round(CAST(qx - qy AS DOUBLE) / 100.0, 6) AS qte_gap_dollars_6
FROM q
"""
)


@register("qte_decile_gaps", oracle=QTE_SQL, covers=["A2", "O1", "J4"])
def q_qte_decile_gaps(spark, sf_dir):
    """Quantile treatment-effect gaps: at each decile p = d/10, the
    nearest-rank quantile of returned vs kept order values
    (q_p = min x with 10*cum >= d*n — the exact integer form of
    ceil(p*n), no floating multiplication) and their gap — showing
    WHERE in the distribution the two groups differ. One cumulative
    window over the |V| table fanned across the 9-row decile dim.

    Ref semantics: SURVEY §2 A2/O1/J4 (extension X-QTE)."""
    from prosnet_prefect_pipelines_spark.operators.distrank import (
        prefix_sums,
    )

    vals = _vals(spark, sf_dir)
    tot = vals.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    # both cumulations in one distributed two-pass layout (r11: the
    # distinct-value table is value-cardinality — it grows with the
    # corpus, so the single-partition window was a latent scale cliff)
    cum = prefix_sums(
        vals, [F.col("x").asc()], {"cc1": F.col("c1"), "cc2": F.col("c2")}
    )
    cum = cum.select("x", "cc1", "cc2")
    dims = local_frame(spark, [(d,) for d in range(1, 10)], "d long")
    j = cum.crossJoin(F.broadcast(dims)).crossJoin(F.broadcast(tot))
    q = j.groupBy("d").agg(
        F.min(
            F.when(F.col("cc1") * 10 >= F.col("d") * F.col("n1"), F.col("x"))
        ).alias("qx"),
        F.min(
            F.when(F.col("cc2") * 10 >= F.col("d") * F.col("n2"), F.col("x"))
        ).alias("qy"),
    )
    return q.select(
        F.col("d").cast("long").alias("decile"),
        F.col("qx").cast("long").alias("q_returned_cents"),
        F.col("qy").cast("long").alias("q_kept_cents"),
        F.round((F.col("qx") - F.col("qy")).cast("double") / 100.0, 6).alias(
            "qte_gap_dollars_6"
        ),
    )


# ---------------------------------------------------------------------------
# 3. Cliff's delta ordinal effect size.

CLIFFS_SQL = (
    "WITH "
    + _VALS_SQL
    + """,
cum AS (
    SELECT x, c1, c2,
           COALESCE(SUM(c2) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING), 0) AS lt2,
           SUM(c2) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS le2
    FROM vals
),
pairs AS (
    SELECT SUM(CAST(c1 AS HUGEINT) * lt2) AS wins,
           SUM(CAST(c1 AS HUGEINT) * (n2 - le2)) AS losses
    FROM cum CROSS JOIN tot
)
SELECT CAST(wins AS BIGINT) AS wins, CAST(losses AS BIGINT) AS losses,
       round(CAST(wins - losses AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * n2), 6) AS cliffs_delta_6,
       CASE WHEN abs(CAST(wins - losses AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) * n2)) < 0.147 THEN 'negligible'
            WHEN abs(CAST(wins - losses AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) * n2)) < 0.33 THEN 'small'
            WHEN abs(CAST(wins - losses AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) * n2)) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM pairs CROSS JOIN tot
"""
)


@register("cliffs_delta_returns", oracle=CLIFFS_SQL, covers=["A2", "O1"])
def q_cliffs_delta_returns(spark, sf_dir):
    """Cliff's delta = (P(X>Y) - P(X<Y)) between returned and kept
    order values — the ordinal effect size behind the Mann-Whitney U
    — with win/loss pair counts from the prefix identity
    wins = sum_v c1_v * (#Y strictly below v) (never a pair join) and
    the Romano magnitude thresholds (0.147/0.33/0.474) as literals.

    Ref semantics: SURVEY §2 A2/O1 (extension X-CLIFFS)."""
    from prosnet_prefect_pipelines_spark.operators.distrank import (
        prefix_sums,
    )

    vals = _vals(spark, sf_dir)
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    tot = vals.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    # the inclusive prefix le2 comes from the distributed two-pass
    # cumulation (r11: value-cardinality table, see qte above); the
    # strict prefix is the exact identity lt2 = le2 - c2 — no second
    # window, no COALESCE (le2 always exists)
    cum = prefix_sums(
        vals, [F.col("x").asc()], {"le2": F.col("c2")}
    )
    cum = cum.select(
        F.col("c1"),
        (F.col("le2") - F.col("c2")).alias("lt2"),
        F.col("le2"),
    )
    pairs = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(dec(F.col("c1")) * F.col("lt2")).alias("wins"),
        F.sum(dec(F.col("c1")) * (F.col("n2") - F.col("le2"))).alias("losses"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
    )
    delta = (F.col("wins") - F.col("losses")).cast("double") / (
        F.col("n1").cast("double") * F.col("n2")
    )
    return pairs.select(
        F.col("wins").cast("long").alias("wins"),
        F.col("losses").cast("long").alias("losses"),
        F.round(delta, 6).alias("cliffs_delta_6"),
        F.when(F.abs(delta) < 0.147, F.lit("negligible"))
        .when(F.abs(delta) < 0.33, F.lit("small"))
        .when(F.abs(delta) < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("magnitude"),
    )
