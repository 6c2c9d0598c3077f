"""Pipeline batch 72 (north-star extension): experimentation and
engine-surface ops — CUPED variance-reduced A/B readout, language-ID
confusion matrix, parquet schema-evolution round-trip, dynamic
partition overwrite, and a strict-window funnel.

Exactness discipline: CUPED's theta and adjusted means are truncating
integer micro arithmetic over exact cents; confusion counts and funnel
steps are integer; the storage round-trips aggregate back to the same
oracle-checked totals."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.model import read_events
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# ---------------------------------------------------------------------------
# CUPED variance reduction: pre-period covariate adjustment.

# pre-period: before Jan 15; experiment period: Jan 15 onward.
CUPED_SQL = """
WITH ev AS (
    SELECT user_id,
           CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15' THEN 'pre' ELSE 'exp'
           END AS period,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
),
u AS (
    SELECT user_id,
           CAST(user_id % 2 AS INT) AS variant,
           SUM(CASE WHEN period = 'pre' THEN cents ELSE 0 END) AS x,
           SUM(CASE WHEN period = 'exp' THEN cents ELSE 0 END) AS y
    FROM ev GROUP BY user_id
),
s AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(x * y) AS HUGEINT) AS sxy, CAST(SUM(x * x) AS HUGEINT) AS sxx
    FROM u
),
th AS (
    SELECT n, sx,
           (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS theta_micro
    FROM s
),
adj AS (
    SELECT u.variant,
           CAST(u.y AS HUGEINT) * 1000000
             - th.theta_micro * (CAST(u.x AS HUGEINT) * th.n - th.sx) // th.n
               AS a_micro,
           CAST(u.y AS HUGEINT) * 1000000 AS y_micro,
           th.theta_micro
    FROM u CROSS JOIN th
)
SELECT CAST(variant AS INT) AS variant,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(y_micro) // COUNT(*) AS BIGINT) AS mean_y_micro,
       CAST(SUM(a_micro) // COUNT(*) AS BIGINT) AS mean_adj_micro,
       CAST(MIN(theta_micro) AS BIGINT) AS theta_micro
FROM adj GROUP BY variant
"""


@register("cuped_adjustment", oracle=CUPED_SQL, covers=["A2"])
def q_cuped_adjustment(spark, sf_dir):
    """CUPED variance-reduced experiment readout: per-user experiment
    revenue adjusted by the pre-period covariate, y' = y - θ(x - x̄)
    with θ = cov(x,y)/var(x), all in truncating integer micro-cents —
    the standard trick that shrinks A/B confidence intervals without
    bias (the adjustment's expectation is 0). θ comes from one pooled
    stats pass (broadcast single row); adjusted means are a second
    grouped pass."""
    ev = read_events(spark, sf_dir).filter(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    )
    split_us = 1705276800000000  # 2024-01-15T00:00:00Z in epoch micros
    u = (
        ev.select(
            "user_id",
            F.when(F.col("ts_us") < split_us, "pre").otherwise("exp").alias(
                "period"
            ),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("period") == "pre", F.col("cents")).otherwise(0))
            .alias("x"),
            F.sum(F.when(F.col("period") == "exp", F.col("cents")).otherwise(0))
            .alias("y"),
        )
        .select(
            "user_id", (F.col("user_id") % 2).cast("int").alias("variant"), "x", "y"
        )
    )
    d = "DECIMAL(38,0)"
    s = u.agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum("x").cast(d).alias("sx"),
        F.sum("y").cast(d).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(d).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(d).alias("sxx"),
    ).select(
        "n",
        "sx",
        F.expr(
            "(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
        ).alias("theta_micro"),
    )
    adj = u.join(F.broadcast(s)).select(
        "variant",
        F.expr(
            "CAST(y AS DECIMAL(38,0)) * 1000000"
            " - theta_micro * (CAST(x AS DECIMAL(38,0)) * n - sx) div n"
        ).alias("a_micro"),
        F.expr("CAST(y AS DECIMAL(38,0)) * 1000000").alias("y_micro"),
        "theta_micro",
    )
    return adj.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.expr("CAST(SUM(y_micro) div COUNT(1) AS BIGINT)").alias("mean_y_micro"),
        F.expr("CAST(SUM(a_micro) div COUNT(1) AS BIGINT)").alias("mean_adj_micro"),
        F.min("theta_micro").cast("long").alias("theta_micro"),
    ).select(
        F.col("variant").cast("int").alias("variant"),
        "n_users",
        "mean_y_micro",
        "mean_adj_micro",
        "theta_micro",
    )


# ---------------------------------------------------------------------------
# language-ID confusion matrix (composes text_lang_id's classifier).

from prosnet_prefect_pipelines_spark.plans.q_text import (  # noqa: E402
    LANG_ID_SQL,
    lang_docs,
)

CONFUSION_SQL = f"""
WITH pred AS ({LANG_ID_SQL.strip()}),
c AS (
    SELECT true_lang, detected_lang, COUNT(*) AS n
    FROM pred GROUP BY true_lang, detected_lang
),
tot AS (SELECT COUNT(*) AS t FROM pred)
SELECT true_lang, detected_lang, CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN true_lang = detected_lang THEN 1 ELSE 0 END AS INT)
           AS correct,
       CAST(CAST(n AS HUGEINT) * 1000000 // t AS BIGINT) AS share_ppm
FROM c CROSS JOIN tot
"""


@register("lang_id_confusion", oracle=CONFUSION_SQL, covers=["A2", "F13"])
def q_lang_id_confusion(spark, sf_dir):
    """Language-ID evaluation: the confusion matrix of the marker-
    stopword classifier against the labeled lang column, with ppm
    shares — the quality gate before trusting detected_lang for
    per-language corpus routing. Composes the oracled classifier;
    one grouped count over its output."""
    from prosnet_prefect_pipelines_spark.operators import textstats as T

    docs = lang_docs(spark, sf_dir)
    pred = docs.select(
        F.col("lang").alias("true_lang"),
        T.lang_id(F.col("text")).alias("detected_lang"),
    )
    c = pred.groupBy("true_lang", "detected_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = pred.agg(F.count(F.lit(1)).alias("t"))
    return c.join(F.broadcast(tot)).select(
        "true_lang",
        "detected_lang",
        F.col("n").cast("long").alias("n"),
        F.when(F.col("true_lang") == F.col("detected_lang"), 1)
        .otherwise(0)
        .cast("int")
        .alias("correct"),
        F.expr("CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div t AS BIGINT)").alias(
            "share_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# parquet schema-evolution round-trip (mergeSchema).

EVOLUTION_SQL = """
SELECT n_regionkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN n_nationkey < 13 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_batch1,
       CAST(SUM(CASE WHEN n_nationkey >= 13 THEN n_nationkey ELSE 0 END)
            AS BIGINT) AS extra_sum
FROM nation GROUP BY n_regionkey
"""


@register("schema_evolution_roundtrip", oracle=EVOLUTION_SQL, covers=["K3", "S9"])
def q_schema_evolution_roundtrip(spark, sf_dir):
    """Schema-evolution round-trip: batch 1 written WITHOUT the
    `extra` column, batch 2 written WITH it, read back under
    mergeSchema — old rows surface NULL for the added column (the
    additive-evolution contract a long-lived lakehouse table depends
    on). The oracle derives the same aggregate from the source rule, so
    any null-fill or row loss hash-diverges."""
    from prosnet_prefect_pipelines_spark.streaming.staging import scratch_root

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = os.path.join(scratch_root(spark), "nation_evolution")
    b1 = nation.filter(F.col("n_nationkey") < 13).select(
        "n_nationkey", "n_regionkey"
    )
    b2 = nation.filter(F.col("n_nationkey") >= 13).select(
        "n_nationkey",
        "n_regionkey",
        F.col("n_nationkey").cast("long").alias("extra"),
    )
    b1.write.mode("overwrite").parquet(f"{out}/b1")
    b2.write.mode("overwrite").parquet(f"{out}/b2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/b1", f"{out}/b2"
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("extra").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_batch1"),
        F.coalesce(F.sum("extra"), F.lit(0)).cast("long").alias("extra_sum"),
    )


# ---------------------------------------------------------------------------
# dynamic partition overwrite.

DYN_OVERWRITE_SQL = """
SELECT n_regionkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN n_regionkey = 2 THEN 100 + n_nationkey
                     ELSE n_nationkey END) AS BIGINT) AS key_sum
FROM nation GROUP BY n_regionkey
"""


@register("partition_overwrite_dynamic", oracle=DYN_OVERWRITE_SQL, covers=["K3"])
def q_partition_overwrite_dynamic(spark, sf_dir):
    """Dynamic partition overwrite: the full table is written
    partitioned by region, then ONLY region 2 is rewritten (keys
    shifted +100) in dynamic mode — untouched partitions must survive
    (static mode would truncate them). The read-back aggregate proves
    exactly one partition changed. The idempotent-backfill primitive of
    hive-layout tables."""
    from prosnet_prefect_pipelines_spark.streaming.staging import scratch_root

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = os.path.join(scratch_root(spark), "nation_dyn_overwrite")
    nation.select("n_nationkey", "n_regionkey").write.mode("overwrite").partitionBy(
        "n_regionkey"
    ).parquet(out)
    patch = (
        nation.filter(F.col("n_regionkey") == 2)
        .select((F.col("n_nationkey") + 100).alias("n_nationkey"), "n_regionkey")
    )
    patch.write.mode("overwrite").partitionBy("n_regionkey").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# strict-window funnel.

STRICT_FUNNEL_SQL = """
WITH ev AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
    WHERE user_id IS NOT NULL
),
s AS (SELECT user_id, MIN(ts_us) AS t0 FROM ev WHERE event_type = 'signup'
      GROUP BY user_id),
c AS (
    SELECT e.user_id, MIN(e.ts_us) AS t1
    FROM ev e JOIN s ON s.user_id = e.user_id
    WHERE e.event_type = 'click' AND e.ts_us >= s.t0
      AND e.ts_us - s.t0 <= 604800000000
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts_us) AS t2
    FROM ev e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts_us >= c.t1
      AND e.ts_us - c.t1 <= 604800000000
    GROUP BY e.user_id
)
SELECT 'signup' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM s
UNION ALL
SELECT 'click_within_7d', CAST(COUNT(*) AS BIGINT) FROM c
UNION ALL
SELECT 'purchase_within_7d', CAST(COUNT(*) AS BIGINT) FROM p
"""


@register("funnel_strict_windows", oracle=STRICT_FUNNEL_SQL, covers=["A2", "J1"])
def q_funnel_strict_windows(spark, sf_dir):
    """Strict-window funnel: signup -> first click within 7 days ->
    first purchase within 7 days OF THAT CLICK — each step's clock
    starts at the previous step's event (the loose funnel only needs
    order). Three min-aggregations chained through keyed joins; exact
    integer microsecond windows."""
    ev = read_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    week = 604_800_000_000
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t0"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(
            (F.col("ts_us") >= F.col("t0"))
            & (F.col("ts_us") - F.col("t0") <= week)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts_us") >= F.col("t1"))
            & (F.col("ts_us") - F.col("t1") <= week)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    rows = [
        ("signup", s.count()),
        ("click_within_7d", c.count()),
        ("purchase_within_7d", p.count()),
    ]
    return local_frame(spark, rows, "step string, n_users long")
