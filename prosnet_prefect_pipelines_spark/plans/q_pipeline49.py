"""Pipeline batch 49: bitemporal correctness + relational geometry —

- ``bitemporal_asof``: the bitemporal (valid-time x transaction-time)
  as-of query — "what did we BELIEVE at transaction time T the state
  valid at V was?" Corrections arrive late (transaction time =
  event time + a derived ingestion lag), so the answer at T can
  differ from today's answer: the query returns, per user, the
  newest valid_ts <= V among rows RECORDED by T, alongside the
  eventual (lag-free) answer and a superseded flag. One keyed window
  after two filters; the difference column is the audit a regulated
  warehouse needs.
- ``point_in_polygon``: point-in-convex-polygon by the cross-product
  winding test, entirely in integer arithmetic: the polygon's 8
  integer vertices broadcast as edges; a point is inside iff every
  edge cross product has the same sign (boundary counts as inside).
  The relational form of the classic geo predicate — per point, one
  broadcast join over 8 edge rows + one aggregation; no floats, no
  geo library.

Scale notes: bitemporal is filter + one user-keyed argmax (the
min-struct election pattern); the polygon test is a narrow broadcast
fan-out of exactly |edges| rows per point with a map-side-combined
min/max reduction.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

_US_HOUR = 3_600_000_000

BITEMPORAL_SQL = f"""
WITH ev AS (
    SELECT user_id, event_id, epoch_us(ts) AS valid_us,
           epoch_us(ts) + (event_id % 5) * {_US_HOUR} AS tx_us,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
),
anchor AS (
    SELECT CAST((MIN(valid_us) + MAX(valid_us)) // 2 AS BIGINT) AS v,
           CAST((MIN(valid_us) + MAX(valid_us)) // 2 + 2 * {_US_HOUR} AS BIGINT) AS t
    FROM ev
),
known AS (
    SELECT e.user_id,
           MIN(((a.v - e.valid_us) // 1000000) * 10000000 + e.event_id) AS k
    FROM ev e, anchor a
    WHERE e.valid_us <= a.v AND e.tx_us <= a.t
    GROUP BY e.user_id
),
eventual AS (
    SELECT e.user_id,
           MIN(((a.v - e.valid_us) // 1000000) * 10000000 + e.event_id) AS k
    FROM ev e, anchor a
    WHERE e.valid_us <= a.v
    GROUP BY e.user_id
)
SELECT k.user_id,
       CAST(k.k % 10000000 AS BIGINT) AS believed_event,
       kb.cents AS believed_cents,
       CAST(ev2.k % 10000000 AS BIGINT) AS eventual_event,
       eb.cents AS eventual_cents,
       k.k <> ev2.k AS superseded
FROM known k
JOIN eventual ev2 ON ev2.user_id = k.user_id
JOIN ev kb ON kb.event_id = k.k % 10000000
JOIN ev eb ON eb.event_id = ev2.k % 10000000
"""


@register("bitemporal_asof", oracle=BITEMPORAL_SQL, covers=["T2", "J1", "O6"])
def q_bitemporal_asof(spark, sf_dir):
    """Bitemporal as-of: believed-state (rows recorded by transaction
    time T) vs eventual-state (all rows) for valid time V, per user —
    superseded = a late-arriving correction changed history. The
    per-user argmax-valid election is one map-side-combined MIN over a
    (valid-gap << 24 | event_id) key (the encoded-argmax pattern);
    the two elections share the filtered scan."""
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("valid_us"),
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                + (F.col("event_id") % 5) * _US_HOUR
            ).alias("tx_us"),
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        )
        .localCheckpoint(eager=False)  # both elections + two lookups
    )
    anchor = ev.agg(
        F.expr("CAST((MIN(valid_us) + MAX(valid_us)) div 2 AS BIGINT)").alias("v"),
        F.expr(
            f"CAST((MIN(valid_us) + MAX(valid_us)) div 2 + 2 * {_US_HOUR} AS BIGINT)"
        ).alias("t"),
    )
    base = ev.crossJoin(F.broadcast(anchor))
    # gap scaled to SECONDS before encoding (microsecond gaps overflow
    # BIGINT when shifted); same-second ties break by event_id — the
    # same granularity rule on both engines
    key = F.expr("((v - valid_us) div 1000000) * 10000000 + event_id")

    known = (
        base.filter((F.col("valid_us") <= F.col("v")) & (F.col("tx_us") <= F.col("t")))
        .groupBy("user_id")
        .agg(F.min(key).alias("k"))
    )
    eventual = (
        base.filter(F.col("valid_us") <= F.col("v"))
        .groupBy("user_id")
        .agg(F.min(key).alias("k2"))
    )
    kb = ev.select(F.col("event_id").alias("be"), F.col("cents").alias("believed_cents"))
    eb = ev.select(F.col("event_id").alias("ee"), F.col("cents").alias("eventual_cents"))
    return (
        known.join(eventual, "user_id")
        .select(
            "user_id",
            F.expr("CAST(k % 10000000 AS BIGINT)").alias("believed_event"),
            F.expr("CAST(k2 % 10000000 AS BIGINT)").alias("eventual_event"),
            (F.col("k") != F.col("k2")).alias("superseded"),
        )
        .join(kb, F.col("believed_event") == F.col("be"))
        .join(eb, F.col("eventual_event") == F.col("ee"))
        .select(
            "user_id",
            "believed_event",
            "believed_cents",
            "eventual_event",
            "eventual_cents",
            "superseded",
        )
    )


# convex octagon, integer vertices, counter-clockwise
_POLY = [(8, 0), (16, 4), (20, 12), (16, 20), (8, 24), (0, 20), (-4, 12), (0, 4)]
_EDGES = [
    (ax, ay, bx, by)
    for (ax, ay), (bx, by) in zip(_POLY, _POLY[1:] + _POLY[:1])
]

_EDGES_SQL = " UNION ALL ".join(
    f"SELECT {i} AS eid, {ax} AS ax, {ay} AS ay, {bx} AS bx, {by} AS by_"
    for i, (ax, ay, bx, by) in enumerate(_EDGES)
)

PIP_SQL = f"""
WITH pts AS (
    SELECT event_id,
           CAST(event_id % 29 - 6 AS BIGINT) AS x,
           CAST((event_id * 7) % 31 - 3 AS BIGINT) AS y
    FROM events WHERE event_id % 10 = 0
),
edges AS ({_EDGES_SQL}),
crossed AS (
    SELECT p.event_id, p.x, p.y,
           MIN((e.bx - e.ax) * (p.y - e.ay) - (e.by_ - e.ay) * (p.x - e.ax))
               AS min_cross,
           MAX((e.bx - e.ax) * (p.y - e.ay) - (e.by_ - e.ay) * (p.x - e.ax))
               AS max_cross
    FROM pts p CROSS JOIN edges e
    GROUP BY p.event_id, p.x, p.y
)
SELECT event_id, x, y,
       (min_cross >= 0 OR max_cross <= 0) AS inside
FROM crossed
"""


@register("point_in_polygon", oracle=PIP_SQL, covers=["J4", "A2"])
def q_point_in_polygon(spark, sf_dir):
    """Point-in-convex-polygon: integer cross-product winding — a point
    is inside iff every edge cross product shares a sign (boundary
    inclusive). The 8-edge table broadcasts; per point it's an 8-row
    fan-out reduced by one map-side MIN/MAX pair — exact integers,
    no geometry library, no floats."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.filter(F.col("event_id") % 10 == 0).select(
        "event_id",
        F.expr("CAST(event_id % 29 - 6 AS BIGINT)").alias("x"),
        F.expr("CAST((event_id * 7) % 31 - 3 AS BIGINT)").alias("y"),
    )
    edges = local_frame(
        spark,
        [(i, ax, ay, bx, by) for i, (ax, ay, bx, by) in enumerate(_EDGES)],
        "eid int, ax long, ay long, bx long, by_ long",
    )
    cross = (F.col("bx") - F.col("ax")) * (F.col("y") - F.col("ay")) - (
        F.col("by_") - F.col("ay")
    ) * (F.col("x") - F.col("ax"))
    crossed = (
        pts.crossJoin(F.broadcast(edges))
        .select("event_id", "x", "y", cross.alias("c"))
        .groupBy("event_id", "x", "y")
        .agg(F.min("c").alias("min_cross"), F.max("c").alias("max_cross"))
    )
    return crossed.select(
        "event_id",
        "x",
        "y",
        ((F.col("min_cross") >= 0) | (F.col("max_cross") <= 0)).alias("inside"),
    )
