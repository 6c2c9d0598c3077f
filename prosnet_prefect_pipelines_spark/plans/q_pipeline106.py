"""Pipeline batch 106 (north-star extension): STREAMING model &
data monitoring — the batch-105 classifier-evaluation statistics run
through real Structured Streaming, plus a streaming PSI drift
monitor. The production shape: a scoring service emits (score,
outcome) events; the monitor maintains ONLY commutative cell counts
as streaming state and computes AUC / confusion metrics / Brier /
PSI batch-side on the tiny sink table, hash-matching the batch
DuckDB oracle bit-for-bit (the batch-101 Dataflow-model discipline).

The monitored model here is LINE-granular (score = lineitem discount
in integer percent, label = that line returned) so the streaming
stage needs exactly ONE stateful aggregation — Structured Streaming
does not chain stateful aggregations in complete mode, and a
per-order pre-aggregation would hold |orders| state; the line-level
twin keeps state at <= 11 score cells / 4 confusion cells / 14
drift buckets regardless of data volume.

Exactness: identical to batches 101/105 — integer cell counts, the
doubled-rank AUC identity, integer s-scale Brier, 9-dp scaled
nano-unit PSI terms.

Scale notes: file-source partitioning carries the fact work;
map-side partial aggregation feeds per-cell state; the memory sink
holds only the cells (production swaps in foreachBatch upsert, K2
semantics, transformations unchanged).

Ref semantics: SURVEY §2 T1/T2 + A2 compositions; no reference
counterpart (extensions X-STREAM-AUC .. X-STREAM-PSI).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_stream import _events_stream
from prosnet_prefect_pipelines_spark.streaming.tuning import run_available_now


def _lineitem_stream(spark, sf_dir):
    """readStream over the lineitem table (symlink-staged directory,
    explicit schema) — the _events_stream pattern on the fact table."""
    from prosnet_prefect_pipelines_spark.streaming.staging import symlink_stage

    path = f"{sf_dir}/lineitem.parquet"
    stage = symlink_stage(path, "lineitem")
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(stage)


# line-level score cells: s = discount in integer percent (0..10),
# pos = returned lines in the cell
_CELLS_SQL = """
cells AS (
    SELECT CAST(round(l_discount * 100) AS BIGINT) AS s,
           COUNT(*) AS c,
           SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
    FROM lineitem GROUP BY 1
),
tot AS (SELECT SUM(c) AS n, SUM(pos) AS p FROM cells)
"""


def _stream_cells(spark, sf_dir):
    """The ONE stateful streaming aggregation: 11 score-cell rows."""
    li = _lineitem_stream(spark, sf_dir)
    agg = li.groupBy(
        F.round(F.col("l_discount") * 100).cast("long").alias("s")
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum((F.col("l_returnflag") == "R").cast("int")).alias("pos"),
    )
    q = run_available_now(agg, sink="memory", name="mon_cells", output_mode="complete")
    return spark.table(q.name)


# ---------------------------------------------------------------------------
# 1. Streaming exact AUC from score-cell state.

STREAM_AUC_SQL = (
    "WITH "
    + _CELLS_SQL
    + """,
cum AS (
    SELECT s, c, pos,
           COALESCE(SUM(c) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS cum_lt
    FROM cells
),
r1 AS (
    SELECT SUM(CAST(pos AS HUGEINT) * (2 * cum_lt + c + 1)) AS r1x2 FROM cum
)
SELECT CAST(p AS BIGINT) AS n_pos, CAST(n - p AS BIGINT) AS n_neg,
       round(CAST(r1x2 - CAST(p AS HUGEINT) * (p + 1) AS DOUBLE)
             / (2.0 * CAST(p AS DOUBLE) * (n - p)), 6) AS auc_6
FROM r1 CROSS JOIN tot
"""
)


@register("stream_auc_cells", oracle=STREAM_AUC_SQL, covers=["T1", "A2", "O1"])
def q_stream_auc_cells(spark, sf_dir):
    """Streaming exact AUC: the streaming stage maintains only the 11
    score-cell (count, positives) rows; the tie-averaged doubled-rank
    identity runs batch-side on the sink table and hash-matches the
    batch oracle — live model-quality monitoring with O(|scores|)
    state.

    Ref semantics: SURVEY §2 T1/A2 (extension X-STREAM-AUC)."""
    cells = _stream_cells(spark, sf_dir)
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = cells.withColumn(
        "cum_lt", F.coalesce(F.sum("c").over(w), F.lit(0))
    )
    agg = cum.agg(
        F.sum(dec(F.col("pos")) * (2 * F.col("cum_lt") + F.col("c") + 1)).alias(
            "r1x2"
        ),
        F.sum("c").alias("n"),
        F.sum("pos").alias("p"),
    )
    num = (F.col("r1x2") - dec(F.col("p")) * (F.col("p") + 1)).cast("double")
    return agg.select(
        F.col("p").cast("long").alias("n_pos"),
        (F.col("n") - F.col("p")).cast("long").alias("n_neg"),
        F.round(
            num
            / (
                2.0
                * F.col("p").cast("double")
                * (F.col("n") - F.col("p")).cast("double")
            ),
            6,
        ).alias("auc_6"),
    )


# ---------------------------------------------------------------------------
# 2. Streaming threshold confusion -> MCC / F1.

STREAM_CONFUSION_SQL = (
    "WITH "
    + _CELLS_SQL
    + """,
cm AS (
    SELECT SUM(CASE WHEN s >= 5 THEN pos ELSE 0 END) AS tp,
           SUM(CASE WHEN s >= 5 THEN c - pos ELSE 0 END) AS fp,
           SUM(CASE WHEN s < 5 THEN pos ELSE 0 END) AS fn,
           SUM(CASE WHEN s < 5 THEN c - pos ELSE 0 END) AS tn
    FROM cells
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       round(2.0 * tp / NULLIF(2.0 * tp + fp + fn, 0), 6) AS f1_6,
       round(CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn
                  AS DOUBLE)
             / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                    * (tn + fp) * (tn + fn)), 6) AS mcc_6
FROM cm
"""
)


@register("stream_threshold_confusion", oracle=STREAM_CONFUSION_SQL, covers=["T1", "A2"])
def q_stream_threshold_confusion(spark, sf_dir):
    """Streaming confusion monitor: the same 11-cell state folds to
    the s >= 5 confusion matrix batch-side (cells are sufficient for
    EVERY threshold — one state table serves the whole ROC), with F1
    and Matthews correlation.

    Ref semantics: SURVEY §2 T1/A2 (extension X-STREAM-CONF)."""
    cells = _stream_cells(spark, sf_dir)
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    hi = F.col("s") >= 5
    cm = cells.agg(
        F.sum(F.when(hi, F.col("pos")).otherwise(0)).alias("tp"),
        F.sum(F.when(hi, F.col("c") - F.col("pos")).otherwise(0)).alias("fp"),
        F.sum(F.when(~hi, F.col("pos")).otherwise(0)).alias("fn"),
        F.sum(F.when(~hi, F.col("c") - F.col("pos")).otherwise(0)).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    return cm.select(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        F.round(
            2.0 * tp / F.nullif((2 * tp + fp + fn).cast("double"), F.lit(0.0)),
            6,
        ).alias("f1_6"),
        F.round(
            (dec(tp) * tn - dec(fp) * fn).cast("double")
            / F.sqrt(
                (tp + fp).cast("double") * (tp + fn) * (tn + fp) * (tn + fn)
            ),
            6,
        ).alias("mcc_6"),
    )


# ---------------------------------------------------------------------------
# 3. Streaming PSI drift monitor on the events stream.

# value buckets: 7 fixed edges in CENTI units; periods split at the
# corpus midpoint (2024-01-16 in the synthetic events corpus)
_PSI_SPLIT_US = "1705363200000000"

STREAM_PSI_SQL = f"""
WITH v AS (
    SELECT CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < {_PSI_SPLIT_US}
                THEN 0 ELSE 1 END AS period,
           LEAST(6, CAST(round(value * 100) AS BIGINT) // 100000) AS bucket
    FROM events WHERE value IS NOT NULL
),
cells AS (
    SELECT period, bucket, COUNT(*) AS c FROM v GROUP BY 1, 2
),
tots AS (
    SELECT period, SUM(c) AS n FROM cells GROUP BY period
),
pair AS (
    SELECT r.bucket,
           CAST(r.c AS DOUBLE) / rn.n AS pr,
           CAST(COALESCE(cur.c, 0) AS DOUBLE) / cn.n AS pc
    FROM (SELECT bucket, c FROM cells WHERE period = 0) r
    LEFT JOIN (SELECT bucket, c FROM cells WHERE period = 1) cur
           ON r.bucket = cur.bucket
    CROSS JOIN (SELECT n FROM tots WHERE period = 0) rn
    CROSS JOIN (SELECT n FROM tots WHERE period = 1) cn
),
terms AS (
    SELECT CAST(round(round((pc - pr) * ln(GREATEST(pc, 0.0001)
                                           / GREATEST(pr, 0.0001)), 9)
                      * 1000000000, 0) AS BIGINT) AS t9
    FROM pair
)
SELECT (SELECT CAST(n AS BIGINT) FROM tots WHERE period = 0) AS n_reference,
       (SELECT CAST(n AS BIGINT) FROM tots WHERE period = 1) AS n_current,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pair) AS n_buckets,
       round(CAST(SUM(t9) AS BIGINT) / 1000000000.0, 6) AS psi_6
FROM terms
"""


@register("stream_psi_buckets", oracle=STREAM_PSI_SQL, covers=["T1", "A2", "J2"])
def q_stream_psi_buckets(spark, sf_dir):
    """Streaming PSI drift monitor: the streaming stage maintains one
    count per (period, value-bucket) — <= 14 state rows — and the
    Population Stability Index sum((pc - pr) * ln(pc/pr)) computes
    batch-side with 0.0001-floored ratios (the industry convention
    for empty cells) and 9-dp scaled nano-unit terms.

    Ref semantics: SURVEY §2 T1/A2/J2 (extension X-STREAM-PSI)."""
    ev = _events_stream(spark, sf_dir)
    split_us = int(_PSI_SPLIT_US)
    agg = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            F.when(F.col("ts_us") < split_us, 0).otherwise(1).alias("period"),
            F.least(
                F.lit(6),
                F.floor(
                    F.round(F.col("value") * 100).cast("long") / 100000
                ).cast("long"),
            ).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    q = run_available_now(agg, sink="memory", name="psi_cells", output_mode="complete")
    cells = spark.table(q.name)
    # reference-binned pivot: one row per bucket seen in the REFERENCE
    # period (no self-join of the memory-sink table — conflicting
    # attribute references)
    byb = cells.groupBy("bucket").agg(
        F.sum(F.when(F.col("period") == 0, F.col("c"))).alias("cr"),
        F.coalesce(
            F.sum(F.when(F.col("period") == 1, F.col("c"))), F.lit(0)
        ).alias("cc"),
    ).where(F.col("cr").isNotNull())
    tots = cells.agg(
        F.sum(F.when(F.col("period") == 0, F.col("c"))).alias("nr"),
        F.sum(F.when(F.col("period") == 1, F.col("c"))).alias("nc"),
    )
    pair = byb.crossJoin(F.broadcast(tots)).select(
        F.col("nr"),
        F.col("nc"),
        (F.col("cr").cast("double") / F.col("nr")).alias("pr"),
        (F.col("cc").cast("double") / F.col("nc")).alias("pc"),
    )
    t9 = F.round(
        F.round(
            (F.col("pc") - F.col("pr"))
            * F.log(
                F.greatest(F.col("pc"), F.lit(0.0001))
                / F.greatest(F.col("pr"), F.lit(0.0001))
            ),
            9,
        )
        * 1000000000,
        0,
    ).cast("long")
    terms = pair.agg(
        F.max("nr").alias("nr"),
        F.max("nc").alias("nc"),
        F.sum(t9).alias("s9"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    return terms.select(
        F.col("nr").cast("long").alias("n_reference"),
        F.col("nc").cast("long").alias("n_current"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.round(F.col("s9") / 1000000000.0, 6).alias("psi_6"),
    )


# ---------------------------------------------------------------------------
# 4. Streaming Brier monitor from the same score-cell state.

STREAM_BRIER_SQL = (
    "WITH "
    + _CELLS_SQL
    + """
SELECT CAST(n AS BIGINT) AS n_lines,
       round(CAST((SELECT SUM(CAST(pos AS HUGEINT) * (s - 10) * (s - 10)
                              + CAST(c - pos AS HUGEINT) * s * s)
                   FROM cells) AS DOUBLE) / (100.0 * n), 6) AS brier_6,
       round(CAST(CAST(p AS HUGEINT) * (n - p) AS DOUBLE)
             / (CAST(n AS DOUBLE) * n), 6) AS uncertainty_6,
       round(CAST((SELECT SUM(CAST(pos AS HUGEINT) * (s - 10) * (s - 10)
                              + CAST(c - pos AS HUGEINT) * s * s)
                   FROM cells) AS DOUBLE) / (100.0 * n)
             - CAST(CAST(p AS HUGEINT) * (n - p) AS DOUBLE)
               / (CAST(n AS DOUBLE) * n), 6) AS skill_vs_base_6
FROM tot
"""
)


@register("stream_brier_monitor", oracle=STREAM_BRIER_SQL, covers=["T1", "A2"])
def q_stream_brier_monitor(spark, sf_dir):
    """Streaming Brier monitor: score (p = s/10) quality from the
    same 11-cell state — the integer s-scale expansion
    (p-y)^2 = (s-10y)^2/100 — plus the climatology baseline
    (uncertainty) and the skill differential (negative = the model
    beats always-predict-the-base-rate).

    Ref semantics: SURVEY §2 T1/A2 (extension X-STREAM-BRIER)."""
    cells = _stream_cells(spark, sf_dir)
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    agg = cells.agg(
        F.sum("c").alias("n"),
        F.sum("pos").alias("p"),
        F.sum(
            dec(F.col("pos")) * (F.col("s") - 10) * (F.col("s") - 10)
            + dec(F.col("c") - F.col("pos")) * F.col("s") * F.col("s")
        ).alias("bnum"),
    )
    nd = F.col("n").cast("double")
    brier = F.col("bnum").cast("double") / (100.0 * F.col("n"))
    unc = (dec(F.col("p")) * (F.col("n") - F.col("p"))).cast("double") / (
        nd * nd
    )
    return agg.select(
        F.col("n").cast("long").alias("n_lines"),
        F.round(brier, 6).alias("brier_6"),
        F.round(unc, 6).alias("uncertainty_6"),
        F.round(brier - unc, 6).alias("skill_vs_base_6"),
    )
