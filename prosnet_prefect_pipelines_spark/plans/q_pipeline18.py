"""Pipeline batch 18 (north-star extension): stream-static dimension
join (real Structured Streaming), Spark 4 VARIANT JSON extraction,
higher-order-function array statistics, max_by argmax without a window,
and a multiplicative BOM rollup — each hash-matched against a DuckDB
twin.

Determinism: array stats and BOM quantities are pure integer
arithmetic; the argmax ordinal is a composite integer; the streaming
query drains availableNow and must equal the batch algebra exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# --- stream-static join ------------------------------------------------------------------

STREAM_STATIC_SQL = """
WITH dim AS (
    SELECT * FROM (VALUES ('view', 'passive'), ('click', 'active'),
                          ('purchase', 'active'), ('signup', 'active'),
                          ('logout', 'passive')) d(event_type, category)
)
SELECT category,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events JOIN dim USING (event_type)
GROUP BY category
"""


@register("stream_static_join", oracle=STREAM_STATIC_SQL, covers=["T1", "J1"])
def q_stream_static_join(spark, sf_dir):
    """Stream-static enrichment: the event stream joins a static
    dimension (broadcast — static side never re-scans per batch beyond
    its cached frame) before a streaming aggregation; drained with
    availableNow, the result must equal the batch algebra bit-for-bit.
    The production shape for slowly-changing lookup tables in streams."""
    from prosnet_prefect_pipelines_spark.plans.q_stream import _events_stream
    from prosnet_prefect_pipelines_spark.streaming.tuning import run_available_now

    ev = _events_stream(spark, sf_dir)
    dim = local_frame(
        spark,
        [("view", "passive"), ("click", "active"), ("purchase", "active"),
         ("signup", "active"), ("logout", "passive")],
        "event_type string, category string",
    )
    agg = (
        ev.join(F.broadcast(dim), on="event_type")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )
    q = run_available_now(agg, sink="memory", name="sstatic", output_mode="complete")
    out = spark.table(q.name)
    return out.select("category", "n", "total_value")


# --- Spark 4 VARIANT JSON extraction -----------------------------------------------------

VARIANT_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN 1 ELSE 0 END
           AS has_k
FROM events
"""


@register("variant_json_extract", oracle=VARIANT_SQL, covers=["F21", "P4"])
def q_variant_json_extract(spark, sf_dir):
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` paths — the open-table-format answer to schemaless
    columns (variant decode is columnar and pushdown-friendly, unlike
    repeated get_json_object string parses)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.when(k.isNotNull(), 1).otherwise(0).cast("int").alias("has_k"),
    )


# --- higher-order-function array statistics ----------------------------------------------

ROW_STATS_SQL = """
WITH scaled AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS s
    FROM embeddings
)
SELECT vec_id,
       CAST(list_sum(s) AS BIGINT) AS sum_scaled,
       CAST(list_min(s) AS BIGINT) AS min_scaled,
       CAST(list_max(s) AS BIGINT) AS max_scaled,
       CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS sumsq_scaled
FROM scaled
"""


@register("embedding_row_stats", oracle=ROW_STATS_SQL, covers=["P2", "P7"])
def q_embedding_row_stats(spark, sf_dir):
    """Per-row array statistics via higher-order functions (transform /
    aggregate / array_min / array_max) — JVM-side lambda evaluation
    inside whole-stage codegen, zero Python, zero explode (no row
    multiplication): the narrow-pass shape for feature sanity checks
    over billions of vectors. Values integer-scaled so the fold is
    exact."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    s = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000000, 0).cast("long")
    )
    scaled = emb.select("vec_id", s.alias("s"))
    zero = F.lit(0).cast("long")
    return scaled.select(
        "vec_id",
        F.aggregate("s", zero, lambda acc, x: acc + x).alias("sum_scaled"),
        F.array_min("s").alias("min_scaled"),
        F.array_max("s").alias("max_scaled"),
        F.aggregate("s", zero, lambda acc, x: acc + x * x).alias("sumsq_scaled"),
    )


# --- argmax via max_by (no window) -------------------------------------------------------

LATEST_EVENT_SQL = """
WITH keyed AS (
    SELECT user_id, event_id, event_type,
           date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts) * 1000000
               + event_id AS ord
    FROM events
)
SELECT user_id,
       arg_max(event_id, ord) AS last_event_id,
       arg_max(event_type, ord) AS last_event_type,
       CAST(MAX(ord) AS BIGINT) AS last_ord
FROM keyed GROUP BY user_id
"""


@register("latest_event_max_by", oracle=LATEST_EVENT_SQL, covers=["O6", "A2"])
def q_latest_event_max_by(spark, sf_dir):
    """Per-user latest event via ``max_by`` over a composite integer
    ordinal (microseconds * 1e6 + event_id — unique, so the argmax is
    total) — ONE partial-aggregable pass instead of the window-sort
    plan: no per-group sort, map-side combine keeps only one candidate
    row per group per partition. The argmax idiom for 'current state
    per key' at 100 TB."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base_us = F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp"))
    ord_ = (
        (F.unix_micros(F.col("ts").cast("timestamp")) - base_us) * 1000000
        + F.col("event_id")
    ).alias("ord")
    keyed = ev.select("user_id", "event_id", "event_type", ord_)
    return keyed.groupBy("user_id").agg(
        F.max_by("event_id", "ord").alias("last_event_id"),
        F.max_by("event_type", "ord").alias("last_event_type"),
        F.max("ord").alias("last_ord"),
    )


# --- multiplicative BOM rollup -----------------------------------------------------------

BOM_SQL = """
WITH RECURSIVE bom AS (
    SELECT p_partkey AS child, p_partkey // 4 AS parent,
           CAST(p_partkey % 3 + 1 AS BIGINT) AS qty
    FROM part WHERE p_partkey > 0
),
up AS (
    SELECT child AS part, parent AS anc, qty AS path_qty, 1 AS depth FROM bom
    UNION ALL
    SELECT u.part, b.parent, u.path_qty * b.qty, u.depth + 1
    FROM up u JOIN bom b ON u.anc = b.child
    WHERE u.anc > 0
)
SELECT part, CAST(MAX(depth) AS BIGINT) AS depth,
       CAST(arg_max(path_qty, depth) AS BIGINT) AS root_qty
FROM up GROUP BY part
"""


@register("bom_rollup", oracle=BOM_SQL, covers=["J5", "A2"])
def q_bom_rollup(spark, sf_dir):
    """Bill-of-materials rollup: each part's total multiplied quantity
    up its assembly chain (path PRODUCT of per-edge quantities to the
    root) — the multiplicative cousin of transitive closure. Iterative
    frontier joins multiply quantities hop by hop (depth-bounded, state
    lineage-truncated); quantities stay integral so path products are
    exact in both engines."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    bom = part.filter(F.col("p_partkey") > 0).select(
        F.col("p_partkey").alias("child"),
        F.expr("p_partkey div 4").alias("parent"),
        (F.col("p_partkey") % 3 + 1).cast("long").alias("qty"),
    )
    # frontier: (part, anc, path_qty, depth); climb until anc == 0
    cur = bom.select(
        F.col("child").alias("part"),
        F.col("parent").alias("anc"),
        F.col("qty").alias("path_qty"),
        F.lit(1).alias("depth"),
    )
    done = cur.filter(F.col("anc") == 0)
    frontier = cur.filter(F.col("anc") > 0)
    # depth bound: parent = child div 4 quarters the key each hop, so
    # ceil(log4(max_key)) hops suffice at any sf (64 covers 2^128 keys)
    for _ in range(64):
        if frontier.limit(1).count() == 0:
            break
        f = frontier.select(
            "part",
            F.col("anc").alias("_join_child"),
            F.col("path_qty").alias("_pq"),
            F.col("depth").alias("_d"),
        )
        step = (
            f.join(bom, f["_join_child"] == bom["child"])
            .select(
                "part",
                F.col("parent").alias("anc"),
                (F.col("_pq") * F.col("qty")).alias("path_qty"),
                (F.col("_d") + 1).alias("depth"),
            )
        ).localCheckpoint(eager=False)
        done = done.unionByName(step.filter(F.col("anc") == 0))
        frontier = step.filter(F.col("anc") > 0)
    return done.groupBy("part").agg(
        F.max("depth").cast("long").alias("depth"),
        F.max_by("path_qty", "depth").cast("long").alias("root_qty"),
    )
