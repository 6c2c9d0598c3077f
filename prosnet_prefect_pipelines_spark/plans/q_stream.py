"""True Structured Streaming queries in the catalog (X-STREAM).

The batch windowing queries (q_streaming.py) compute the same algebra
eagerly; these run the REAL streaming machinery — ``readStream`` file
source, ``withWatermark``, ``F.window`` aggregation, ``availableNow``
trigger, memory sink — and still hash-match the DuckDB oracle, proving
the streaming plans produce the exact batch answers (the Dataflow-model
claim Structured Streaming is built on).

Scale notes: complete-output memory sink is the bounded-replay testing
shape; a production deployment swaps the sink for foreachBatch-upsert
(sinks.upsert_foreach_partition, K2 semantics) with checkpointing and
append mode, leaving every transformation identical. File-source
streaming partitions by input file; watermark state is per (window, key)
— both scale horizontally.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_streaming import (
    SLIDING_SQL,
    TUMBLING_SQL,
    US_HOUR,
)
from prosnet_prefect_pipelines_spark.streaming.tuning import run_available_now


def _events_stream(spark, sf_dir):
    """readStream twin of model.read_events (explicit schema, nanos long)."""
    from prosnet_prefect_pipelines_spark.streaming.staging import symlink_stage

    path = f"{sf_dir}/events.parquet"
    # the file-stream source requires a DIRECTORY; stage one containing a
    # symlink to the (read-only) single-file table — content-keyed and
    # user-private (see streaming/staging.py)
    stage = symlink_stage(path, "events")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(stage)
    from pyspark.sql.types import LongType

    if isinstance(schema["ts"].dataType, LongType):
        ts_us = F.expr("ts div 1000").cast("long")
        ts_ns = F.col("ts").cast("long")
    else:
        # TIMESTAMP(MICROS) schema: NTZ->LTZ is identity under the pinned
        # UTC session timezone, so unix_micros == DuckDB epoch_us.
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
        ts_ns = ts_us * F.lit(1000)
    return (
        stream.withColumn("ts_ns", ts_ns)
        .withColumn("ts_us", ts_us)
        # event-time column for watermarking (microsecond precision —
        # matches DuckDB's parquet ns->us truncation)
        .withColumn("event_time", F.timestamp_micros(ts_us))
        .drop("ts")
    )


@register("stream_tumbling_window", oracle=TUMBLING_SQL, covers=["T1"])
def q_stream_tumbling(spark, sf_dir):
    """Tumbling 1-hour windows via real Structured Streaming: readStream ->
    withWatermark -> F.window -> availableNow -> memory sink; hash-matches
    the batch oracle bit-for-bit."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )
    q = run_available_now(agg, sink="memory", name="tumble", output_mode="complete")
    return spark.table(q.name).select(
        (F.unix_micros(F.col("w.start"))).alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


@register("stream_sliding_window", oracle=SLIDING_SQL, covers=["T1"])
def q_stream_sliding(spark, sf_dir):
    """Sliding 1-hour/30-minute windows via Structured Streaming — Spark's
    built-in window expansion, checked against the explicit explode-based
    batch oracle."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("event_time", "1 hour")
        .groupBy(
            F.window("event_time", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )
    q = run_available_now(agg, sink="memory", name="slide", output_mode="complete")
    return spark.table(q.name).select(
        (F.unix_micros(F.col("w.start"))).alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


STREAM_JOIN_SQL = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       epoch_us(v.ts) AS view_us, epoch_us(p.ts) AS purchase_us
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


@register("stream_stream_join", oracle=STREAM_JOIN_SQL, covers=["T1", "J1"])
def q_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join (view -> purchase attribution within
    1 hour): both sides are watermarked streams; the time-range join
    condition bounds each side's state to the interval plus watermark
    delay, so state is evicted as event time advances — the canonical
    Structured Streaming join shape. With a bounded availableNow replay
    the emitted matches equal the batch interval join exactly."""
    ev = _events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("event_time").alias("view_time"),
            F.col("ts_us").alias("view_us"),
        )
        .withWatermark("view_time", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("event_time").alias("purchase_time"),
            F.col("ts_us").alias("purchase_us"),
        )
        .withWatermark("purchase_time", "2 hours")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND purchase_time >= view_time "
            "AND purchase_time <= view_time + interval 1 hour"
        ),
    )
    q = run_available_now(joined, sink="memory", name="ssjoin")
    return spark.table(q.name).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_us",
        "purchase_us",
    )


STATEFUL_UPSERT_SQL = """
SELECT user_id, event_id, event_type, ts_us FROM (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
           row_number() OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events
) t WHERE rn = 1
"""


@register("stream_foreach_batch_upsert", oracle=STATEFUL_UPSERT_SQL, covers=["T2", "K2", "K1"])
def q_stream_foreach_batch_upsert(spark, sf_dir):
    """The production streaming sink shape: every micro-batch flows
    through foreachBatch into the K2 foreachPartition upsert client
    (get-or-create collection + batched idempotent import), read back
    with last-write-wins per user — the full readStream -> foreachBatch
    -> upsert -> replay loop that replaces the reference's daily cron,
    hash-matched against the batch dedup oracle."""
    import shutil

    from prosnet_prefect_pipelines_spark.sinks import (
        LocalJsonUpsertClient,
        upsert_foreach_partition,
    )
    from prosnet_prefect_pipelines_spark.streaming.incremental import upsert_dedup
    from prosnet_prefect_pipelines_spark.streaming.staging import (
        private_stage_dir,
    )

    out_dir = private_stage_dir("feb_upsert")
    shutil.rmtree(out_dir, ignore_errors=True)
    ev = _events_stream(spark, sf_dir)

    def handle(batch_df, batch_id):
        upsert_foreach_partition(
            batch_df.select("user_id", "event_id", "event_type", "ts_us"),
            lambda: LocalJsonUpsertClient(out_dir),
            batch_size=500,
        )

    run_available_now(ev, sink=handle, name="feb_upsert")
    docs = spark.read.schema(
        "user_id long, event_id long, event_type string, ts_us long"
    ).json(out_dir)
    return upsert_dedup(docs, ["user_id"], "ts_us", "event_id").select(
        "user_id", "event_id", "event_type", "ts_us"
    )


@register("stream_stateful_upsert", oracle=STATEFUL_UPSERT_SQL, covers=["T2", "K2"])
def q_stream_stateful_upsert(spark, sf_dir):
    """Last-write-wins upsert state per user via applyInPandasWithState
    (custom stateful operator; update mode). With a bounded availableNow
    replay the final state equals the batch row_number()-dedup oracle."""
    from prosnet_prefect_pipelines_spark.streaming.stateful import last_write_wins_state

    ev = _events_stream(spark, sf_dir)
    winners = last_write_wins_state(ev)
    q = run_available_now(winners, sink="memory", name="lww", output_mode="update")
    out = spark.table(q.name)
    # update-mode sinks append one row per key per batch that changed it;
    # collapse to the final winner (same policy, idempotent)
    from prosnet_prefect_pipelines_spark.streaming.incremental import upsert_dedup

    return upsert_dedup(out, ["user_id"], "ts_us", "event_id").select(
        "user_id", "event_id", "event_type", "ts_us"
    )


_ = US_HOUR  # shared constant re-exported for tests


STREAM_DEDUP_SQL = "SELECT DISTINCT user_id, event_type FROM events"


@register("stream_dedup_keys", oracle=STREAM_DEDUP_SQL, covers=["T2", "O3"])
def q_stream_dedup_keys(spark, sf_dir):
    """Streaming deduplication: readStream -> watermark ->
    dropDuplicates on (user_id, event_type) -> append sink. Only the
    dedup keys are emitted (which duplicate carried them is
    batch-order-dependent), so the result is exactly the batch DISTINCT.
    State here is one entry per distinct key pair, partitioned by key —
    the unbounded-stream variant swaps in dropDuplicatesWithinWatermark
    to bound state by event time at the cost of at-least-once keys."""
    ev = _events_stream(spark, sf_dir)
    dd = (
        ev.withWatermark("event_time", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    q = run_available_now(dd, sink="memory", name="sdedup")
    return spark.table(q.name).select("user_id", "event_type")
