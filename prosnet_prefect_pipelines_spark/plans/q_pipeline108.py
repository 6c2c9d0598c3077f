"""Pipeline batch 108 (north-star extension): conformal prediction &
forecast scoring — split-conformal coverage, multi-level quantile
calibration, the Winkler interval score and per-group pinball loss.
The uncertainty-quantification kit a model pipeline runs after the
batch-105 accuracy metrics.

The "model" is deterministic: the calibration-split mean (or
quantile) of order value per order priority. The calibration/test
split reuses the engine's PORTABLE 48-bit md5 fraction
(operators/sampling.portable_fraction; DuckDB twin in q_curation) so
split membership matches digit-for-digit across engines.

Exactness conventions:
- split-conformal q-hat is the ceil((n_cal+1)*level)-th smallest
  nonconformity score under a DETERMINISTIC total order
  (score, orderkey) — nearest-rank selection via row_number, no
  interpolation;
- scores |x - mean| are doubles of exact integers (same value both
  engines); every mean-of-scores (Winkler, pinball) rounds per-row
  terms to 6 dp and sums scaled BIGINT micro-units;
- coverage shares divide exact counts once, 6 dp.

Scale notes: the split filter is a narrow scan-level predicate (no
shuffle); the 5-row model broadcasts; the one global nearest-rank
window runs over the calibration split only (documented cluster
alternative: materialize k-hat first and driver-inject it, or run
the batch-96 distinct-value cumulation). Group-quantile windows are
PARTITIONED by priority.

Ref semantics: SURVEY §2 A2/O1/O6 compositions; no reference
counterpart (extensions X-CONFORMAL .. X-PINBALL).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators.sampling import (
    portable_fraction,
)
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_curation import _frac_sql
from prosnet_prefect_pipelines_spark.session import local_frame

_SALT = "conf"

# calibration/test split + per-priority calibration-mean model
_BASE_SQL = f"""
base AS (
    SELECT o_orderkey AS k, o_orderpriority AS g,
           CAST(round(o_totalprice * 100) AS BIGINT) AS x,
           {_frac_sql('o_orderkey', _SALT)} < 0.5 AS is_cal
    FROM orders
),
model AS (
    SELECT g, SUM(CAST(x AS HUGEINT)) AS sg, COUNT(*) AS ng
    FROM base WHERE is_cal GROUP BY g
),
cal AS (
    SELECT b.k, abs(b.x - CAST(m.sg AS DOUBLE) / m.ng) AS score
    FROM base b JOIN model m ON b.g = m.g WHERE b.is_cal
),
caln AS (SELECT COUNT(*) AS nc FROM cal),
ranked AS (
    SELECT score, ROW_NUMBER() OVER (ORDER BY score, k) AS rn FROM cal
),
test AS (
    SELECT b.k, abs(b.x - CAST(m.sg AS DOUBLE) / m.ng) AS score
    FROM base b JOIN model m ON b.g = m.g WHERE NOT b.is_cal
)
"""


def _base(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
        (portable_fraction(F.col("o_orderkey"), _SALT) < 0.5).alias("is_cal"),
    )


def _split_model(spark, sf_dir):
    """Returns (base, model, cal_scores, test_scores)."""
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    b = _base(spark, sf_dir)
    model = (
        b.where("is_cal")
        .groupBy("g")
        .agg(F.sum(dec(F.col("x"))).alias("sg"), F.count(F.lit(1)).alias("ng"))
    )
    scored = b.join(F.broadcast(model), "g").withColumn(
        "score",
        F.abs(
            F.col("x") - F.col("sg").cast("double") / F.col("ng")
        ),
    )
    cal = scored.where("is_cal").select("k", "score")
    test = scored.where(~F.col("is_cal")).select("k", "score")
    return b, model, cal, test


def _ranked(cal):
    w = Window.orderBy(F.col("score"), F.col("k"))
    return cal.select(F.col("score"), F.row_number().over(w).alias("rn"))


# ---------------------------------------------------------------------------
# 1. Split-conformal coverage at the 90% level.

CONFORMAL_SQL = (
    "WITH "
    + _BASE_SQL
    + """,
khat AS (
    SELECT LEAST(CAST(ceil((nc + 1) * 0.9) AS BIGINT), nc) AS kk, nc
    FROM caln
),
qhat AS (
    SELECT r.score AS q FROM ranked r CROSS JOIN khat WHERE r.rn = khat.kk
)
SELECT (SELECT CAST(nc AS BIGINT) FROM caln) AS n_calibration,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       round((SELECT q FROM qhat), 6) AS q_hat_6,
       CAST(SUM(CASE WHEN score <= (SELECT q FROM qhat)
                     THEN 1 ELSE 0 END) AS BIGINT) AS covered,
       round(CAST(SUM(CASE WHEN score <= (SELECT q FROM qhat)
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
           AS coverage_6
FROM test
"""
)


@register("conformal_split_coverage", oracle=CONFORMAL_SQL, covers=["A2", "O1", "P7"])
def q_conformal_split_coverage(spark, sf_dir):
    """Split-conformal prediction audit at the 90% level: q-hat is
    the ceil((n_cal+1)*0.9)-th smallest |x - group-mean| calibration
    score under the deterministic (score, orderkey) order; test
    coverage counts |x - pred| <= q-hat. The finite-sample guarantee
    says coverage >= 0.9 in expectation — this measures it.

    Ref semantics: SURVEY §2 A2/O1 (extension X-CONFORMAL)."""
    _, _, cal, test = _split_model(spark, sf_dir)
    caln = cal.agg(F.count(F.lit(1)).alias("nc"))
    khat = caln.select(
        F.least(
            F.ceil((F.col("nc") + 1) * 0.9).cast("long"), F.col("nc")
        ).alias("kk"),
        F.col("nc"),
    )
    ranked = _ranked(cal)
    qhat = ranked.crossJoin(F.broadcast(khat)).where(
        F.col("rn") == F.col("kk")
    ).select(F.col("score").alias("q"), F.col("nc"))
    agg = test.crossJoin(F.broadcast(qhat)).agg(
        F.max("nc").alias("nc"),
        F.count(F.lit(1)).alias("nt"),
        F.max("q").alias("q"),
        F.sum((F.col("score") <= F.col("q")).cast("int")).alias("covered"),
    )
    return agg.select(
        F.col("nc").cast("long").alias("n_calibration"),
        F.col("nt").cast("long").alias("n_test"),
        F.round(F.col("q"), 6).alias("q_hat_6"),
        F.col("covered").cast("long").alias("covered"),
        F.round(F.col("covered").cast("double") / F.col("nt"), 6).alias(
            "coverage_6"
        ),
    )


# ---------------------------------------------------------------------------
# 2. Quantile calibration report across levels.

QCAL_SQL = (
    "WITH "
    + _BASE_SQL
    + """,
levels(lv) AS (VALUES (0.5), (0.75), (0.9), (0.95), (0.99)),
ks AS (
    SELECT lv, LEAST(CAST(ceil((nc + 1) * lv) AS BIGINT), nc) AS kk
    FROM levels CROSS JOIN caln
),
qs AS (
    SELECT ks.lv, r.score AS q
    FROM ks JOIN ranked r ON r.rn = ks.kk
),
tn AS (SELECT COUNT(*) AS nt FROM test)
SELECT qs.lv AS level,
       round(qs.q, 6) AS q_level_6,
       round(CAST((SELECT COUNT(*) FROM test WHERE test.score <= qs.q)
                  AS DOUBLE) / nt, 6) AS empirical_coverage_6
FROM qs CROSS JOIN tn
"""
)


@register("quantile_calibration_report", oracle=QCAL_SQL, covers=["A2", "O1", "J4"])
def q_quantile_calibration_report(spark, sf_dir):
    """Calibration curve across conformal levels {0.5, 0.75, 0.9,
    0.95, 0.99}: each level's nearest-rank calibration quantile and
    its empirical test coverage — a well-calibrated score has
    coverage tracking the level. One ranked pass over the calibration
    split fanned across the 5-row level dimension (J4).

    Ref semantics: SURVEY §2 A2/O1/J4 (extension X-QCALIB)."""
    _, _, cal, test = _split_model(spark, sf_dir)
    caln = cal.agg(F.count(F.lit(1)).alias("nc"))
    levels = local_frame(
        spark,
        [(0.5,), (0.75,), (0.9,), (0.95,), (0.99,)], "lv double"
    )
    ks = levels.crossJoin(F.broadcast(caln)).select(
        "lv",
        F.least(
            F.ceil((F.col("nc") + 1) * F.col("lv")).cast("long"), F.col("nc")
        ).alias("kk"),
    )
    ranked = _ranked(cal)
    qs = ks.join(F.broadcast(ranked), ks.kk == ranked.rn).select(
        "lv", F.col("score").alias("q")
    )
    tn = test.agg(F.count(F.lit(1)).alias("nt"))
    j = test.crossJoin(F.broadcast(qs))
    cov = (
        j.groupBy("lv", "q")
        .agg(F.sum((F.col("score") <= F.col("q")).cast("int")).alias("cv"))
        .crossJoin(F.broadcast(tn))
    )
    return cov.select(
        F.col("lv").alias("level"),
        F.round(F.col("q"), 6).alias("q_level_6"),
        F.round(F.col("cv").cast("double") / F.col("nt"), 6).alias(
            "empirical_coverage_6"
        ),
    )


# ---------------------------------------------------------------------------
# 3. Winkler interval score at alpha = 0.2.

WINKLER_SQL = (
    "WITH "
    + _BASE_SQL
    + """,
khat AS (
    SELECT LEAST(CAST(ceil((nc + 1) * 0.8) AS BIGINT), nc) AS kk FROM caln
),
qhat AS (
    SELECT r.score AS q FROM ranked r CROSS JOIN khat WHERE r.rn = khat.kk
),
terms AS (
    SELECT CASE WHEN score <= q THEN 0
                WHEN score > q THEN 1 END AS outside,
           CAST(round(round(2.0 * q
                            + 10.0 * GREATEST(score - q, 0.0), 6)
                      * 1000000, 0) AS BIGINT) AS t6
    FROM test CROSS JOIN qhat
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
       round((SELECT q FROM qhat), 6) AS half_width_6,
       CAST(SUM(outside) AS BIGINT) AS n_outside,
       round(CAST(SUM(t6) AS BIGINT) / 1000000.0 / COUNT(*), 6)
           AS mean_winkler_6
FROM terms
"""
)


@register("winkler_interval_score", oracle=WINKLER_SQL, covers=["A2", "O1"])
def q_winkler_interval_score(spark, sf_dir):
    """Winkler score of the symmetric conformal interval
    [pred - q, pred + q] at alpha = 0.2 (q = the 80% calibration
    quantile): per test order, width 2q plus (2/alpha) = 10 times the
    overshoot |x - pred| - q when outside — since the interval is
    symmetric around pred, the overshoot is GREATEST(score - q, 0).
    Per-row scores round to 6 dp and sum as scaled micro-units.

    Ref semantics: SURVEY §2 A2/O1 (extension X-WINKLER)."""
    _, _, cal, test = _split_model(spark, sf_dir)
    caln = cal.agg(F.count(F.lit(1)).alias("nc"))
    khat = caln.select(
        F.least(
            F.ceil((F.col("nc") + 1) * 0.8).cast("long"), F.col("nc")
        ).alias("kk")
    )
    ranked = _ranked(cal)
    qhat = ranked.crossJoin(F.broadcast(khat)).where(
        F.col("rn") == F.col("kk")
    ).select(F.col("score").alias("q"))
    t6 = F.round(
        F.round(
            2.0 * F.col("q")
            + 10.0 * F.greatest(F.col("score") - F.col("q"), F.lit(0.0)),
            6,
        )
        * 1000000,
        0,
    ).cast("long")
    agg = test.crossJoin(F.broadcast(qhat)).agg(
        F.count(F.lit(1)).alias("nt"),
        F.max("q").alias("q"),
        F.sum((F.col("score") > F.col("q")).cast("int")).alias("n_outside"),
        F.sum(t6).alias("s6"),
    )
    return agg.select(
        F.col("nt").cast("long").alias("n_test"),
        F.round(F.col("q"), 6).alias("half_width_6"),
        F.col("n_outside").cast("long").alias("n_outside"),
        F.round(F.col("s6") / 1000000.0 / F.col("nt"), 6).alias(
            "mean_winkler_6"
        ),
    )


# ---------------------------------------------------------------------------
# 4. Pinball (quantile) loss of the per-priority q90 forecast.

PINBALL_SQL = f"""
WITH base AS (
    SELECT o_orderkey AS k, o_orderpriority AS g,
           CAST(round(o_totalprice * 100) AS BIGINT) AS x,
           {_frac_sql('o_orderkey', _SALT)} < 0.5 AS is_cal
    FROM orders
),
granked AS (
    SELECT g, x,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY x, k) AS rn,
           COUNT(*) OVER (PARTITION BY g) AS ng
    FROM base WHERE is_cal
),
q90 AS (
    SELECT g, CAST(x AS BIGINT) AS q
    FROM granked
    WHERE rn = LEAST(CAST(ceil(ng * 0.9) AS BIGINT), ng)
),
terms AS (
    SELECT b.g, q.q,
           CAST(round(round(GREATEST(0.9 * (b.x - q.q),
                                     0.1 * (q.q - b.x)), 6)
                      * 1000000, 0) AS BIGINT) AS t6
    FROM base b JOIN q90 q ON b.g = q.g WHERE NOT b.is_cal
)
SELECT g AS o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(MIN(q) AS BIGINT) AS q90_cents,
       round(CAST(SUM(t6) AS BIGINT) / 1000000.0 / COUNT(*), 6)
           AS mean_pinball_6
FROM terms
GROUP BY g
"""


@register("pinball_loss_q90", oracle=PINBALL_SQL, covers=["A2", "O1", "O6"])
def q_pinball_loss_q90(spark, sf_dir):
    """Pinball (quantile) loss at tau = 0.9 of the per-priority
    calibration q90 forecast on the test split: loss =
    max(0.9*(x - q), 0.1*(q - x)) — the proper scoring rule for
    quantile forecasts. The group-quantile window is PARTITIONED by
    priority (nearest-rank ceil(ng*0.9), deterministic (x, orderkey)
    tie-break); per-row losses sum as scaled micro-units.

    Ref semantics: SURVEY §2 A2/O1/O6 (extension X-PINBALL)."""
    b = _base(spark, sf_dir)
    wg = Window.partitionBy("g").orderBy(F.col("x"), F.col("k"))
    cg = Window.partitionBy("g")
    granked = (
        b.where("is_cal")
        .select("g", "x", "k")
        .withColumn("rn", F.row_number().over(wg))
        .withColumn("ng", F.count(F.lit(1)).over(cg))
    )
    q90 = granked.where(
        F.col("rn")
        == F.least(F.ceil(F.col("ng") * 0.9).cast("long"), F.col("ng"))
    ).select("g", F.col("x").cast("long").alias("q"))
    t6 = F.round(
        F.round(
            F.greatest(
                0.9 * (F.col("x") - F.col("q")),
                0.1 * (F.col("q") - F.col("x")),
            ),
            6,
        )
        * 1000000,
        0,
    ).cast("long")
    test = b.where(~F.col("is_cal")).join(F.broadcast(q90), "g")
    return (
        test.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("nt"),
            F.min("q").alias("q90"),
            F.sum(t6).alias("s6"),
        )
        .select(
            F.col("g").alias("o_orderpriority"),
            F.col("nt").cast("long").alias("n_test"),
            F.col("q90").cast("long").alias("q90_cents"),
            F.round(F.col("s6") / 1000000.0 / F.col("nt"), 6).alias(
                "mean_pinball_6"
            ),
        )
    )
