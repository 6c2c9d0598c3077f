"""Pipeline batch 101 (north-star extension): STREAMING exact
statistics — the batch-95/99 sufficient-statistics discipline run
through real Structured Streaming. Each query's streaming stage
aggregates ONLY commutative-monoid sufficient statistics (counts,
power sums, cell counts — exactly what incremental state updates can
maintain); the final statistic is computed batch-side on the tiny
memory-sink table, so the streaming answer hash-matches the batch
DuckDB oracle bit-for-bit (the Dataflow-model claim).

Exactness conventions:
- events.value scales to integer CENTI units (round(value*100), <=
  56,021 in this corpus): v^4 sums stay inside DECIMAL(38,0)/HUGEINT
  past 1e12 rows with NO mean shift, which matters because a
  streaming pass cannot two-pass a data-dependent shift;
- every statistic reuses a batch-9x formula shape verbatim
  (moments: batch 99; kappa: batch 98; trend: batch 97;
  point-biserial: batch 97), so the one double expression per
  statistic is identical across Spark-streaming, Spark-batch and
  DuckDB.

Scale notes: streaming state is one row per (group) — 5 event types /
4 cells / <=7 buckets / 1 global row. File-source partitioning and
map-side partial aggregation carry the fact-table work; the memory
sink holds only the state rows (a production sink swaps in
foreachBatch-upsert, K2 semantics, transformations unchanged).

Ref semantics: SURVEY §2 T1/T2 + A2 compositions; no reference
counterpart (extensions X-STREAM-MOMENTS .. X-STREAM-PBIS).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_stream import _events_stream
from prosnet_prefect_pipelines_spark.streaming.tuning import run_available_now

_V2 = "CAST(round(value * 100) AS BIGINT)"


def _v2_col():
    return F.round(F.col("value") * 100).cast("long")


def _dec(c):
    return c.cast("decimal(38,0)")


# ---------------------------------------------------------------------------
# 1. Streaming per-type moments (skewness & kurtosis).

STREAM_MOMENTS_SQL = f"""
WITH v AS (
    SELECT event_type, {_V2} AS x FROM events WHERE value IS NOT NULL
),
sums AS (
    SELECT event_type, COUNT(*) AS n,
           SUM(CAST(x AS HUGEINT)) AS s1,
           SUM(CAST(x AS HUGEINT) * x) AS s2,
           SUM(CAST(x AS HUGEINT) * x * x) AS s3,
           SUM(CAST(x AS HUGEINT) * x * x * x) AS s4
    FROM v GROUP BY event_type
),
d AS (
    SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
           CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
           CAST(s3 AS DOUBLE) AS s3d, CAST(s4 AS DOUBLE) AS s4d
    FROM sums
),
mom AS (
    SELECT event_type, n,
           nd * s2d - s1d * s1d AS m2,
           nd * nd * s3d - 3.0 * nd * s1d * s2d
             + 2.0 * s1d * s1d * s1d AS m3,
           nd * nd * nd * s4d - 4.0 * nd * nd * s1d * s3d
             + 6.0 * nd * s1d * s1d * s2d
             - 3.0 * s1d * s1d * s1d * s1d AS m4
    FROM d
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
       round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
FROM mom ORDER BY event_type
"""


@register("stream_moments_by_type", oracle=STREAM_MOMENTS_SQL, covers=["T1", "A2"])
def q_stream_moments_by_type(spark, sf_dir):
    """Per-event-type skewness/kurtosis where the STREAMING stage
    maintains only the five per-type power sums (n, s1..s4 — the
    commutative-monoid state an incremental engine keeps) and the
    moment ratios are computed batch-side on the 5-row sink table with
    batch 99's exact n-power-cancelling double shape.

    Ref semantics: SURVEY §2 T1/A2 (extension X-STREAM-MOMENTS)."""
    ev = _events_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    x = _v2_col()
    sums = ev.select("event_type", x.alias("x")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(F.col("x"))).alias("s1"),
        F.sum(_dec(F.col("x")) * F.col("x")).alias("s2"),
        F.sum(_dec(F.col("x")) * F.col("x") * F.col("x")).alias("s3"),
        F.sum(_dec(F.col("x")) * F.col("x") * F.col("x") * F.col("x")).alias(
            "s4"
        ),
    )
    q = run_available_now(sums, sink="memory", name="moments", output_mode="complete")
    out = spark.table(q.name)
    n = F.col("n")
    d = out.select(
        "event_type",
        n,
        n.cast("double").alias("nd"),
        F.col("s1").cast("double").alias("s1d"),
        F.col("s2").cast("double").alias("s2d"),
        F.col("s3").cast("double").alias("s3d"),
        F.col("s4").cast("double").alias("s4d"),
    )
    nd, s1d, s2d, s3d, s4d = (
        F.col(c) for c in ("nd", "s1d", "s2d", "s3d", "s4d")
    )
    mom = d.select(
        "event_type",
        n,
        (nd * s2d - s1d * s1d).alias("m2"),
        (
            nd * nd * s3d
            - F.lit(3.0) * nd * s1d * s2d
            + F.lit(2.0) * s1d * s1d * s1d
        ).alias("m3"),
        (
            nd * nd * nd * s4d
            - F.lit(4.0) * nd * nd * s1d * s3d
            + F.lit(6.0) * nd * s1d * s1d * s2d
            - F.lit(3.0) * s1d * s1d * s1d * s1d
        ).alias("m4"),
    )
    m2 = F.col("m2")
    return mom.select(
        "event_type",
        n.cast("long").alias("n"),
        F.round(F.col("m3") / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        F.round(F.col("m4") / (m2 * m2) - F.lit(3.0), 6).alias(
            "excess_kurtosis"
        ),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# 2. Streaming Cohen's kappa on derived labels.

STREAM_KAPPA_SQL = """
WITH v AS (
    SELECT CASE WHEN event_type IN ('click', 'purchase')
               THEN 1 ELSE 0 END AS ra,
           CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS rb
    FROM events WHERE value IS NOT NULL
),
cells AS (
    SELECT SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS a,
           SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS b,
           SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS c,
           SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS d,
           COUNT(*) AS n
    FROM v
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
       round(CAST(n * (a + d)
                  - ((a + b) * (a + c) + (c + d) * (b + d)) AS DOUBLE)
             / CAST(n * n
                    - ((a + b) * (a + c) + (c + d) * (b + d)) AS DOUBLE), 6)
           AS kappa
FROM cells
"""


@register("stream_kappa_2x2", oracle=STREAM_KAPPA_SQL, covers=["T1", "A2"])
def q_stream_kappa_2x2(spark, sf_dir):
    """Cohen's kappa between an engaged-event label and a high-value
    label, with the four 2x2 cells maintained as STREAMING state (one
    global row) and batch 98's single exact-integer kappa division
    applied to the sink table.

    Ref semantics: SURVEY §2 T1/A2 (extension X-STREAM-KAPPA)."""
    ev = _events_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    v = ev.select(
        F.col("event_type").isin("click", "purchase").cast("int").alias("ra"),
        (F.col("value") > 50.0).cast("int").alias("rb"),
    )
    cells = v.agg(
        F.sum(((F.col("ra") == 1) & (F.col("rb") == 1)).cast("long")).alias("a"),
        F.sum(((F.col("ra") == 1) & (F.col("rb") == 0)).cast("long")).alias("b"),
        F.sum(((F.col("ra") == 0) & (F.col("rb") == 1)).cast("long")).alias("c"),
        F.sum(((F.col("ra") == 0) & (F.col("rb") == 0)).cast("long")).alias("d"),
        F.count(F.lit(1)).alias("n"),
    )
    q = run_available_now(cells, sink="memory", name="kappa", output_mode="complete")
    out = spark.table(q.name)
    pe_num = (F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) + (
        F.col("c") + F.col("d")
    ) * (F.col("b") + F.col("d"))
    return out.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.col("d").cast("long").alias("d"),
        F.round(
            (F.col("n") * (F.col("a") + F.col("d")) - pe_num).cast("double")
            / (F.col("n") * F.col("n") - pe_num).cast("double"),
            6,
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# 3. Streaming Cochran–Armitage trend of purchase share by value bucket.

STREAM_COCHRAN_SQL = """
WITH v AS (
    SELECT CAST(ceil(value / 100.0) AS INT) AS s,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS r
    FROM events WHERE value IS NOT NULL
),
grp AS (SELECT s, COUNT(*) AS ni, SUM(r) AS ri FROM v GROUP BY s),
tot AS (
    SELECT SUM(ni) AS n, SUM(ri) AS rr,
           SUM(CAST(s AS HUGEINT) * ri) AS sr,
           SUM(CAST(s AS HUGEINT) * ni) AS sn,
           SUM(CAST(s AS HUGEINT) * s * ni) AS s2n
    FROM grp
)
SELECT CAST(n AS BIGINT) AS n, CAST(rr AS BIGINT) AS positives,
       CAST(sr * n - rr * sn AS BIGINT) AS t_num,
       round(CAST(sr * n - rr * sn AS DOUBLE)
             / sqrt(CAST(rr * (n - rr) AS DOUBLE)
                    * CAST(n * s2n - sn * sn AS DOUBLE)
                    / CAST(n AS DOUBLE)), 6) AS z
FROM tot
"""


@register(
    "stream_cochran_trend", oracle=STREAM_COCHRAN_SQL, covers=["T1", "A2"]
)
def q_stream_cochran_trend(spark, sf_dir):
    """Cochran–Armitage trend of the purchase share across value
    buckets where the STREAMING state is the per-bucket (n_i, r_i)
    pair table (<= 7 rows); the exact trend statistic (batch 97's
    DECIMAL-routed form) runs batch-side on the sink.

    Ref semantics: SURVEY §2 T1/A2 (extension X-STREAM-TREND)."""
    ev = _events_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    v = ev.select(
        F.ceil(F.col("value") / 100.0).cast("int").alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("r"),
    )
    grp = v.groupBy("s").agg(
        F.count(F.lit(1)).alias("ni"), F.sum("r").alias("ri")
    )
    q = run_available_now(grp, sink="memory", name="cochran", output_mode="complete")
    out = spark.table(q.name)
    tot = out.agg(
        F.sum("ni").alias("n"),
        F.sum("ri").alias("rr"),
        F.sum(_dec(F.col("s")) * F.col("ri")).alias("sr"),
        F.sum(_dec(F.col("s")) * F.col("ni")).alias("sn"),
        F.sum(_dec(F.col("s")) * F.col("s") * F.col("ni")).alias("s2n"),
    )
    t_num = F.col("sr") * F.col("n") - F.col("rr") * F.col("sn")
    z = t_num.cast("double") / F.sqrt(
        (_dec(F.col("rr")) * (F.col("n") - F.col("rr"))).cast("double")
        * (F.col("n") * F.col("s2n") - F.col("sn") * F.col("sn")).cast(
            "double"
        )
        / F.col("n").cast("double")
    )
    return tot.select(
        F.col("n").cast("long").alias("n"),
        F.col("rr").cast("long").alias("positives"),
        t_num.cast("long").alias("t_num"),
        F.round(z, 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# 4. Streaming point-biserial: click indicator vs event value.

STREAM_PBIS_SQL = f"""
WITH v AS (
    SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g,
           {_V2} AS x
    FROM events WHERE value IS NOT NULL
),
agg AS (
    SELECT SUM(g) AS n1, COUNT(*) - SUM(g) AS n0, COUNT(*) AS n,
           SUM(CASE WHEN g = 1 THEN CAST(x AS HUGEINT) ELSE 0 END) AS s1,
           SUM(CASE WHEN g = 0 THEN CAST(x AS HUGEINT) ELSE 0 END) AS s0,
           SUM(CAST(x AS HUGEINT) * x) AS q,
           SUM(CAST(x AS HUGEINT)) AS s
    FROM v
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
       round(CAST(s1 * n0 - s0 * n1 AS DOUBLE)
             / sqrt(CAST(n1 * n0 AS DOUBLE))
             / sqrt(CAST(n * q - s * s AS DOUBLE)), 6) AS r_pb
FROM agg
"""


@register("stream_pbiserial", oracle=STREAM_PBIS_SQL, covers=["T1", "A2"])
def q_stream_pbiserial(spark, sf_dir):
    """Point-biserial correlation of the click indicator with event
    value (centi units) where the STREAMING state is the single row of
    exact sums (n1, n0, s1, s0, q, s); batch 97's integer-radicand
    double shape runs on the sink.

    Ref semantics: SURVEY §2 T1/A2 (extension X-STREAM-PBIS)."""
    ev = _events_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    v = ev.select(
        (F.col("event_type") == "click").cast("int").alias("g"),
        _v2_col().alias("x"),
    )
    agg = v.agg(
        F.sum("g").alias("n1"),
        (F.count(F.lit(1)) - F.sum("g")).alias("n0"),
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("g") == 1, _dec(F.col("x"))).otherwise(F.lit(0))
        ).alias("s1"),
        F.sum(
            F.when(F.col("g") == 0, _dec(F.col("x"))).otherwise(F.lit(0))
        ).alias("s0"),
        F.sum(_dec(F.col("x")) * F.col("x")).alias("q"),
        F.sum(_dec(F.col("x"))).alias("s"),
    )
    q = run_available_now(agg, sink="memory", name="pbis", output_mode="complete")
    out = spark.table(q.name)
    d = F.col("s1") * F.col("n0") - F.col("s0") * F.col("n1")
    var_num = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    r_pb = (
        d.cast("double")
        / F.sqrt((_dec(F.col("n1")) * F.col("n0")).cast("double"))
        / F.sqrt(var_num.cast("double"))
    )
    return out.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n0").cast("long").alias("n0"),
        F.round(r_pb, 6).alias("r_pb"),
    )
