"""Pipeline batch 68 (north-star extension): reporting and data-
engineering ops — month-over-month growth, per-state dwell times, 2-D
histogram binning, fact-table reconciliation, and a fixed-width file
round-trip.

Exactness discipline: growth in truncating basis points over exact cent
revenues; dwell in integer microseconds; reconciliation deltas in exact
cents; fixed-width encode/decode is pure string arithmetic."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.model import read_events
from prosnet_prefect_pipelines_spark.plans.catalog import register

# ---------------------------------------------------------------------------
# month-over-month growth per nation, exact basis points.

MOM_SQL = """
WITH rev AS (
    SELECT c.c_nationkey AS nation,
           strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
           SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_nationkey, month
),
w AS (
    SELECT nation, month, cents,
           lag(cents) OVER (PARTITION BY nation ORDER BY month) AS prev_cents
    FROM rev
)
SELECT CAST(nation AS BIGINT) AS nation, month,
       CAST(cents AS BIGINT) AS cents,
       CAST(prev_cents AS BIGINT) AS prev_cents,
       CAST(CASE WHEN prev_cents > 0
                 THEN CAST((cents - prev_cents) AS HUGEINT) * 10000 // prev_cents
            END AS BIGINT) AS growth_bps
FROM w
"""


@register("mom_growth_report", oracle=MOM_SQL, covers=["A2", "J1", "O1"])
def q_mom_growth_report(spark, sf_dir):
    """Month-over-month revenue growth per nation in truncating basis
    points over exact cent totals — the period-over-period report every
    finance dashboard renders. One keyed rollup + a per-nation lag
    window over the (nation, month) series (months per nation are
    bounded — the window sort is tiny and parallel by nation)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_nationkey").alias("nation")
    )
    rev = (
        orders.select(
            "o_custkey",
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            ),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .join(F.broadcast(cust), "o_custkey")
        .groupBy("nation", "month")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("nation").orderBy("month")
    return rev.withColumn("prev_cents", F.lag("cents").over(w)).select(
        F.col("nation").cast("long").alias("nation"),
        "month",
        F.col("cents").cast("long").alias("cents"),
        F.col("prev_cents").cast("long").alias("prev_cents"),
        F.expr(
            "CAST(CASE WHEN prev_cents > 0 THEN "
            "CAST((cents - prev_cents) AS DECIMAL(38,0)) * 10000 div prev_cents "
            "END AS BIGINT)"
        ).alias("growth_bps"),
    )


# ---------------------------------------------------------------------------
# per-state dwell time: how long users sit in each event_type state.

DWELL_SQL = """
WITH ev AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
    FROM events WHERE user_id IS NOT NULL
),
steps AS (
    SELECT user_id, event_type,
           lead(ts_us) OVER (PARTITION BY user_id
                             ORDER BY ts_us, event_id) - ts_us AS dwell_us
    FROM ev
)
SELECT event_type AS state,
       CAST(COUNT(dwell_us) AS BIGINT) AS n_stays,
       CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us,
       CAST(CAST(SUM(dwell_us) AS HUGEINT) // COUNT(dwell_us) AS BIGINT)
           AS mean_dwell_us,
       CAST(MAX(dwell_us) AS BIGINT) AS max_dwell_us
FROM steps WHERE dwell_us IS NOT NULL
GROUP BY event_type
"""


@register("state_dwell_times", oracle=DWELL_SQL, covers=["A2", "O1"])
def q_state_dwell_times(spark, sf_dir):
    """Per-state dwell time: for each event, the time until the user's
    NEXT event is attributed to the current event's type — the
    state-residency profile (how long after a view/click/error does the
    user act again). One user-keyed lead() window, one state rollup,
    exact integer microseconds; terminal events (no successor) drop
    out."""
    ev = read_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    steps = ev.select(
        F.col("event_type").alias("state"),
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("dwell_us"),
    ).filter(F.col("dwell_us").isNotNull())
    return steps.groupBy("state").agg(
        F.count("dwell_us").cast("long").alias("n_stays"),
        F.sum("dwell_us").cast("long").alias("total_dwell_us"),
        F.expr(
            "CAST(CAST(SUM(dwell_us) AS DECIMAL(38,0)) div COUNT(dwell_us) AS BIGINT)"
        ).alias("mean_dwell_us"),
        F.max("dwell_us").cast("long").alias("max_dwell_us"),
    )


# ---------------------------------------------------------------------------
# 2-D histogram binning (quantity x price heat map).

HIST2D_SQL = """
WITH pts AS (
    SELECT CAST(round(l_quantity) AS BIGINT) AS q,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
    FROM lineitem
)
SELECT CAST((q - 1) // 10 AS BIGINT) AS q_bin,
       CAST(cents // 1000000 AS BIGINT) AS price_bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM pts GROUP BY q_bin, price_bin
"""


@register("hist2d_bins", oracle=HIST2D_SQL, covers=["A2"])
def q_hist2d_bins(spark, sf_dir):
    """2-D histogram: (quantity decile-bin x price 10k-cent-bin) counts
    and mass — the heat-map binning every scatter-density plot needs,
    as one narrow pass + one grouped aggregation over exact integer bin
    ids (truncating division; bin edges identical in every engine)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = li.select(
        F.round(F.col("l_quantity")).cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return pts.select(
        F.expr("CAST((q - 1) div 10 AS BIGINT)").alias("q_bin"),
        F.expr("CAST(cents div 1000000 AS BIGINT)").alias("price_bin"),
        "cents",
    ).groupBy("q_bin", "price_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# fact-table reconciliation: lineitem rollup vs order headers.

RECON_SQL = """
WITH li AS (
    SELECT l_orderkey,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS li_cents,
           COUNT(*) AS n_lines
    FROM lineitem GROUP BY l_orderkey
),
o AS (
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
    FROM orders
),
j AS (
    SELECT o.o_orderkey, o.o_cents, li.li_cents, li.n_lines
    FROM o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
)
SELECT CASE WHEN li_cents IS NULL THEN 'no_lines'
            WHEN li_cents = o_cents THEN 'exact'
            WHEN abs(li_cents - o_cents) * 100 <= o_cents THEN 'within_1pct'
            ELSE 'mismatch' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(abs(COALESCE(li_cents, 0) - o_cents)) AS BIGINT)
           AS total_abs_delta_cents,
       CAST(MAX(abs(COALESCE(li_cents, 0) - o_cents)) AS BIGINT)
           AS max_abs_delta_cents
FROM j GROUP BY status
"""


@register("reconciliation_report", oracle=RECON_SQL, covers=["A2", "J2", "P7"])
def q_reconciliation_report(spark, sf_dir):
    """Fact-vs-header reconciliation: every order's lineitem rollup
    compared to its header total in exact cents, classified
    exact / within-1% (cross-multiplied — no float tolerance) /
    mismatch / no-lines — the dual-bookkeeping audit a warehouse runs
    after every load. One rollup + one keyed left join + a 4-row
    classification aggregate."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("c").alias("li_cents"), F.count(F.lit(1)).alias("n_lines"))
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
    )
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"], "left")
    status = (
        F.when(F.col("li_cents").isNull(), "no_lines")
        .when(F.col("li_cents") == F.col("o_cents"), "exact")
        .when(
            F.abs(F.col("li_cents") - F.col("o_cents")) * 100 <= F.col("o_cents"),
            "within_1pct",
        )
        .otherwise("mismatch")
    )
    delta = F.abs(F.coalesce(F.col("li_cents"), F.lit(0)) - F.col("o_cents"))
    return j.select(status.alias("status"), delta.alias("d")).groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("d").cast("long").alias("total_abs_delta_cents"),
        F.max("d").cast("long").alias("max_abs_delta_cents"),
    )


# ---------------------------------------------------------------------------
# fixed-width file round-trip (the mainframe-interchange format).

FIXED_WIDTH_AGG_SQL = """
SELECT n_regionkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(n_name) AS first_name,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation GROUP BY n_regionkey
"""


@register("fixed_width_roundtrip", oracle=FIXED_WIDTH_AGG_SQL, covers=["K3", "S4"])
def q_fixed_width_roundtrip(spark, sf_dir):
    """Fixed-width layout round-trip: nation encoded as 4+25+4-char
    padded records (rpad — the COBOL/mainframe interchange layout),
    written as text, read back by substring slicing with trim — then
    aggregated; the oracle aggregates the source directly, so any
    encode/decode loss hash-diverges. Both directions are pure column
    expressions over the distributed text source (no driver I/O)."""
    from prosnet_prefect_pipelines_spark.streaming.staging import scratch_root

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    line = F.concat(
        F.rpad(F.col("n_nationkey").cast("string"), 4, " "),
        F.rpad(F.col("n_name"), 25, " "),
        F.rpad(F.col("n_regionkey").cast("string"), 4, " "),
    )
    out = os.path.join(scratch_root(spark), "nation_fixed_width")
    nation.select(line.alias("value")).write.mode("overwrite").text(out)
    back = spark.read.text(out).select(
        F.trim(F.substring("value", 1, 4)).cast("int").alias("n_nationkey"),
        F.trim(F.substring("value", 5, 25)).alias("n_name"),
        F.trim(F.substring("value", 30, 4)).cast("int").alias("n_regionkey"),
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("n_name").alias("first_name"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
    )
