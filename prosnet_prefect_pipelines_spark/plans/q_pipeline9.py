"""Training-data pipeline queries, batch 9 (north-star extension):
streaming session windows, backfill planning, and data-contract checks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_streaming import SESSION_SQL

# ---------------------------------------------------------------------------
# streaming session windows (gap-based, real Structured Streaming)


@register("stream_session_window", oracle=SESSION_SQL, covers=["T1", "T3"])
def q_stream_session_window(spark, sf_dir):
    """Gap-based sessionization via REAL Structured Streaming
    (``F.session_window``, 15-minute inactivity gap): session state is
    per (user, open session) and closes at the watermark — bounded by
    concurrent activity, not history. Must hash-match the batch
    lag/cumsum oracle bit-for-bit (the Dataflow-model claim, again)."""
    from prosnet_prefect_pipelines_spark.plans.q_stream import _events_stream
    from prosnet_prefect_pipelines_spark.streaming.tuning import run_available_now

    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("event_time", "1 hour")
        .groupBy(
            F.session_window("event_time", "15 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
    )
    q = run_available_now(agg, sink="memory", name="sess", output_mode="complete")
    out = spark.table(q.name)
    return out.select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("session_start"),
        "n_events",
        "total_value",
    )


# ---------------------------------------------------------------------------
# backfill planning (missing-partition detection)

BACKFILL_SQL = """
WITH expected AS (
    SELECT CAST(d AS DATE) AS day
    FROM generate_series(DATE '2024-01-01', DATE '2024-01-31',
                         INTERVAL 1 DAY) t(d)
),
present AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day
    FROM events
    WHERE dayofmonth(CAST(ts AS DATE)) % 6 <> 2  -- synthetic ingestion gaps
      AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-31'
),
missing AS (
    SELECT e.day FROM expected e LEFT JOIN present p ON p.day = e.day
    WHERE p.day IS NULL
)
SELECT CAST(strftime(day, '%Y-%m-%d') AS VARCHAR) AS missing_day FROM missing
"""


@register("backfill_plan", oracle=BACKFILL_SQL, covers=["J7", "T1"])
def q_backfill_plan(spark, sf_dir):
    """X-BACKFILL: missing-partition detection — expected daily calendar
    anti-joined with partitions actually present (a day-of-month bite
    simulates ingestion gaps). The plan is metadata-scale: `present` reduces to
    distinct days before the anti-join, so a year's backfill audit over
    100 TB touches ~365 rows after the scan's partial distinct."""
    from prosnet_prefect_pipelines_spark.plans.q_streaming import read_events

    ev = read_events(spark, sf_dir)
    day = F.date_format(F.timestamp_micros(F.col("ts_us")), "yyyy-MM-dd")
    present = (
        ev.select(day.alias("day"))
        .filter(
            (F.dayofmonth(F.to_date("day")) % 6 != 2)
            & F.col("day").between("2024-01-01", "2024-01-31")
        )
        .distinct()
    )
    expected = spark.sql(
        "SELECT date_format(d, 'yyyy-MM-dd') AS day "
        "FROM (SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-31', "
        "INTERVAL 1 DAY)) AS d)"
    )
    return expected.join(present, on="day", how="left_anti").select(
        F.col("day").alias("missing_day")
    )


# ---------------------------------------------------------------------------
# data-contract validation

CONTRACT_SQL = """
SELECT 'o_orderkey_not_null' AS rule,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations
FROM orders
UNION ALL
SELECT 'o_orderkey_unique',
       CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
FROM (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY o_orderkey) t
WHERE c > 1
UNION ALL
SELECT 'o_totalprice_positive',
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_orderstatus_in_domain',
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)
            AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_orderdate_in_range',
       CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                       OR o_orderdate >= TIMESTAMP '1999-01-01'
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
"""


@register("data_contract_check", oracle=CONTRACT_SQL, covers=["A2", "P7"])
def q_data_contract_check(spark, sf_dir):
    """X-CONTRACT: declarative data-contract validation — not-null,
    uniqueness, range, and domain rules over the orders feed, one
    violations row per rule (all zero on healthy TPC-H data; the rules
    still execute their full counting paths). Every rule is a
    map-side-combined conditional aggregate; uniqueness is the only
    keyed shuffle. The report a pipeline gates deploys on."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nn = orders.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_violations")
    ).select(F.lit("o_orderkey_not_null").alias("rule"), "n_violations")
    uniq = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("long").alias("n_violations"))
        .select(F.lit("o_orderkey_unique").alias("rule"), "n_violations")
    )
    pos = orders.agg(
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_violations")
    ).select(F.lit("o_totalprice_positive").alias("rule"), "n_violations")
    dom = orders.agg(
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_violations")
    ).select(F.lit("o_orderstatus_in_domain").alias("rule"), "n_violations")
    rng = orders.agg(
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp_ntz"))
                | (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_violations")
    ).select(F.lit("o_orderdate_in_range").alias("rule"), "n_violations")
    return nn.unionByName(uniq).unionByName(pos).unionByName(dom).unionByName(rng)
