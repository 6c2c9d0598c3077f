"""Pipeline batch 75 (north-star extension): merchandising analytics &
classifier evaluation — ABC/XYZ inventory classes, fixed-threshold ROC
points, demand curves, return rates, and discount-effect analysis.

Exactness discipline: cumulative shares / rates in truncating ppm over
exact cents; the XYZ variability class uses the integer index of
dispersion (no sqrt); ROC confusion counts are pure integers."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# ---------------------------------------------------------------------------
# ABC / XYZ classification.

ABC_SQL = """
WITH rev AS (
    SELECT l_partkey % 100 AS grp,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents,
           COUNT(*) AS n,
           SUM(CAST(round(l_quantity) AS BIGINT)) AS sq,
           SUM(CAST(round(l_quantity) AS BIGINT)
               * CAST(round(l_quantity) AS BIGINT)) AS sqq
    FROM lineitem GROUP BY grp
),
tot AS (SELECT SUM(cents) AS t FROM rev),
ranked AS (
    SELECT r.grp, r.cents, r.n, r.sq, r.sqq,
           SUM(r.cents) OVER (ORDER BY r.cents DESC, r.grp
                              ROWS UNBOUNDED PRECEDING) AS cum_cents,
           t.t
    FROM rev r CROSS JOIN tot t
)
SELECT CAST(grp AS BIGINT) AS grp, CAST(cents AS BIGINT) AS cents,
       CAST(CAST(cum_cents AS HUGEINT) * 1000000 // t AS BIGINT) AS cum_share_ppm,
       CASE WHEN CAST(cum_cents AS HUGEINT) * 1000000 // t <= 800000 THEN 'A'
            WHEN CAST(cum_cents AS HUGEINT) * 1000000 // t <= 950000 THEN 'B'
            ELSE 'C' END AS abc_class,
       -- index of dispersion (variance-to-mean) in ppm: (n*sqq - sq^2)*1e6 // (n*sq)
       CAST((CAST(n AS HUGEINT) * sqq - CAST(sq AS HUGEINT) * sq)
            * 1000000 // (CAST(n AS HUGEINT) * sq) AS BIGINT) AS dispersion_ppm,
       CASE WHEN (CAST(n AS HUGEINT) * sqq - CAST(sq AS HUGEINT) * sq)
                 * 1000000 // (CAST(n AS HUGEINT) * sq) < 12000000 THEN 'X'
            WHEN (CAST(n AS HUGEINT) * sqq - CAST(sq AS HUGEINT) * sq)
                 * 1000000 // (CAST(n AS HUGEINT) * sq) < 15000000 THEN 'Y'
            ELSE 'Z' END AS xyz_class
FROM ranked
"""


@register("abc_xyz_classification", oracle=ABC_SQL, covers=["A2", "O1"])
def q_abc_xyz_classification(spark, sf_dir):
    """ABC/XYZ inventory classification: part groups Pareto-classed by
    cumulative revenue share (A <= 80%, B <= 95%, C rest) and by demand
    variability via the integer index of dispersion (variance/mean in
    ppm — the XYZ cut with no square root). The cumulative window runs
    over the bounded part-group dimension; revenue and dispersion come
    from one partial-aggregated pass."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = F.round(F.col("l_quantity")).cast("long")
    rev = li.groupBy((F.col("l_partkey") % 100).alias("grp")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sq"),
        F.sum(q * q).alias("sqq"),
    )
    tot = rev.agg(F.sum("cents").alias("t"))
    w = Window.orderBy(F.col("cents").desc(), F.col("grp")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = rev.join(F.broadcast(tot)).withColumn(
        "cum_cents", F.sum("cents").over(w)
    )
    share = "CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000 div t AS BIGINT)"
    disp = (
        "(CAST(n AS DECIMAL(38,0)) * sqq - CAST(sq AS DECIMAL(38,0)) * sq)"
        " * 1000000 div (CAST(n AS DECIMAL(38,0)) * sq)"
    )
    return ranked.select(
        F.col("grp").cast("long").alias("grp"),
        F.col("cents").cast("long").alias("cents"),
        F.expr(share).alias("cum_share_ppm"),
        F.expr(
            f"CASE WHEN {share} <= 800000 THEN 'A' "
            f"WHEN {share} <= 950000 THEN 'B' ELSE 'C' END"
        ).alias("abc_class"),
        F.expr(f"CAST({disp} AS BIGINT)").alias("dispersion_ppm"),
        F.expr(
            f"CASE WHEN {disp} < 12000000 THEN 'X' "
            f"WHEN {disp} < 15000000 THEN 'Y' ELSE 'Z' END"
        ).alias("xyz_class"),
    )


# ---------------------------------------------------------------------------
# ROC points at fixed thresholds for the en-marker classifier.

from prosnet_prefect_pipelines_spark.plans.q_text import lang_docs  # noqa: E402

_EN_MARKERS_SQL = None  # filled below from the operator's marker list


def _en_score_sql() -> str:
    from prosnet_prefect_pipelines_spark.operators.textstats import LANG_MARKERS

    in_list = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    return (
        "len(list_filter(string_split_regex(trim(text), '\\s+'),"
        f" t -> t IN ({in_list})))"
    )


def _roc_sql() -> str:
    from prosnet_prefect_pipelines_spark.plans.q_text import LANG_TEXT_CTE

    return f"""
WITH {LANG_TEXT_CTE},
scored AS (
    SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
           {_en_score_sql()} AS score
    FROM lang_docs
),
th AS (SELECT CAST(t.t AS BIGINT) AS thr FROM (VALUES (1), (2), (3), (5), (8)) t(t))
SELECT thr,
       CAST(SUM(CASE WHEN score >= thr AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN score >= thr AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN score < thr AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(SUM(CASE WHEN score < thr AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST(CAST(SUM(CASE WHEN score >= thr AND label = 1 THEN 1 ELSE 0 END) AS HUGEINT)
            * 1000000 // greatest(1, SUM(label)) AS BIGINT) AS tpr_ppm,
       CAST(CAST(SUM(CASE WHEN score >= thr AND label = 0 THEN 1 ELSE 0 END) AS HUGEINT)
            * 1000000 // greatest(1, SUM(1 - label)) AS BIGINT) AS fpr_ppm
FROM scored CROSS JOIN th
GROUP BY thr
"""


@register("roc_points_fixed", oracle=_roc_sql(), covers=["A2", "F13"])
def q_roc_points_fixed(spark, sf_dir):
    """ROC operating points for the English-marker score as an
    is-English classifier: confusion counts and TPR/FPR in truncating
    ppm at five fixed thresholds — the threshold-tuning table behind
    every binary quality gate. One scoring pass fanned across the tiny
    threshold dimension (broadcast cross join), one grouped rollup."""
    from prosnet_prefect_pipelines_spark.operators.textstats import LANG_MARKERS

    docs = lang_docs(spark, sf_dir)
    markers = LANG_MARKERS["en"]
    score = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda t: t.isin(*markers),
        )
    )
    scored = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        score.alias("score"),
    )
    th = local_frame(spark, [(1,), (2,), (3,), (5,), (8,)], "thr long")
    fan = scored.join(F.broadcast(th))
    return fan.groupBy("thr").agg(
        F.sum(F.when((F.col("score") >= F.col("thr")) & (F.col("label") == 1), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((F.col("score") >= F.col("thr")) & (F.col("label") == 0), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((F.col("score") < F.col("thr")) & (F.col("label") == 1), 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when((F.col("score") < F.col("thr")) & (F.col("label") == 0), 1).otherwise(0)).cast("long").alias("tn"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN score >= thr AND label = 1 THEN 1 ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000 div greatest(1, SUM(label)) AS BIGINT)"
        ).alias("tpr_ppm"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN score >= thr AND label = 0 THEN 1 ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000 div greatest(1, SUM(1 - label)) AS BIGINT)"
        ).alias("fpr_ppm"),
    )


# ---------------------------------------------------------------------------
# demand curve by price decile.

DEMAND_SQL = """
WITH pts AS (
    SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 1000000 AS price_bin,
           CAST(round(l_quantity) AS BIGINT) AS q,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
    FROM lineitem
)
SELECT CAST(price_bin AS BIGINT) AS price_bin,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(q) AS BIGINT) AS total_qty,
       CAST(CAST(SUM(q) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
           AS mean_qty_micro,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM pts GROUP BY price_bin
"""


@register("demand_curve_report", oracle=DEMAND_SQL, covers=["A2"])
def q_demand_curve_report(spark, sf_dir):
    """Demand curve: quantity volume and truncating mean quantity per
    $10k price band — the price-vs-volume table an elasticity model is
    fit on. One narrow binning pass + one grouped aggregation, exact
    integer bins and cents."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = li.select(
        F.expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT) div 1000000"
        ).alias("price_bin"),
        F.round(F.col("l_quantity")).cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return pts.groupBy("price_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("q").cast("long").alias("total_qty"),
        F.expr(
            "CAST(CAST(SUM(q) AS DECIMAL(38,0)) * 1000000 div COUNT(1) AS BIGINT)"
        ).alias("mean_qty_micro"),
        F.sum("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# return rate by brand.

RETURNS_SQL = """
SELECT p.p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returned,
       CAST(CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS HUGEINT)
            * 1000000 // COUNT(*) AS BIGINT) AS return_ppm,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R'
                     THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS returned_cents
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY p.p_brand
"""


@register("return_rate_by_brand", oracle=RETURNS_SQL, covers=["A2", "J1"])
def q_return_rate_by_brand(spark, sf_dir):
    """Return-rate league table: per brand, the share of lineitems
    flagged 'R' in truncating ppm plus the exact returned revenue — the
    merchandising quality report. Part dimension broadcast into the
    fact scan; one grouped rollup."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    j = li.join(F.broadcast(p), "l_partkey")
    ret = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    return j.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(ret).cast("long").alias("n_returned"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000 div COUNT(1) AS BIGINT)"
        ).alias("return_ppm"),
        F.sum(
            F.when(
                F.col("l_returnflag") == "R",
                F.round(F.col("l_extendedprice") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("returned_cents"),
    )


# ---------------------------------------------------------------------------
# discount-effect analysis.

DISCOUNT_SQL = """
WITH pts AS (
    SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
           CAST(round(l_quantity) AS BIGINT) AS q,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
    FROM lineitem
)
SELECT CAST(disc_pct AS BIGINT) AS disc_pct,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(CAST(SUM(q) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
           AS mean_qty_micro,
       CAST(CAST(SUM(cents) AS HUGEINT) // COUNT(*) AS BIGINT)
           AS mean_cents,
       CAST(SUM(cents * disc_pct) // 100 AS BIGINT) AS discount_given_cents
FROM pts GROUP BY disc_pct
"""


@register("discount_effect_report", oracle=DISCOUNT_SQL, covers=["A2"])
def q_discount_effect_report(spark, sf_dir):
    """Discount-effect curve: per discount percentage, mean quantity
    and line value plus the exact discount budget spent — the
    does-discount-move-volume table pricing teams read. One narrow
    pass, one grouped aggregation, everything integer."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = li.select(
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct"),
        F.round(F.col("l_quantity")).cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return pts.groupBy("disc_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.expr(
            "CAST(CAST(SUM(q) AS DECIMAL(38,0)) * 1000000 div COUNT(1) AS BIGINT)"
        ).alias("mean_qty_micro"),
        F.expr(
            "CAST(CAST(SUM(cents) AS DECIMAL(38,0)) div COUNT(1) AS BIGINT)"
        ).alias("mean_cents"),
        F.expr(
            "CAST(SUM(cents * disc_pct) div 100 AS BIGINT)"
        ).alias("discount_given_cents"),
    )
