"""Pipeline batch 82 (north-star extension): incremental-processing
depth — mergeable-aggregate equivalence, CDC tombstone compaction,
identity stitching, manifest time travel, and late-arrival accounting.

The correctness machinery OF incremental pipelines: proofs that partial
states merge to the full answer, that changelog compaction lands on the
live set, that identity graphs stitch, that snapshots diff, and that
out-of-orderness is measured before watermarks are tuned."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.model import read_events
from prosnet_prefect_pipelines_spark.plans.catalog import register

# ---------------------------------------------------------------------------
# mergeable-aggregate equivalence: full vs partition-merged state.

INC_EQ_SQL = """
WITH full_ AS (
    SELECT c_nationkey AS nation, COUNT(*) AS n,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY nation
),
p1 AS (
    SELECT c_nationkey AS nation, COUNT(*) AS n,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE CAST(o.o_orderdate AS DATE) < DATE '1996-01-01'
    GROUP BY nation
),
p2 AS (
    SELECT c_nationkey AS nation, COUNT(*) AS n,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
    GROUP BY nation
),
merged AS (
    SELECT nation, SUM(n) AS n, SUM(cents) AS cents
    FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2) t
    GROUP BY nation
)
SELECT f.nation AS nation, CAST(f.n AS BIGINT) AS n_full,
       CAST(m.n AS BIGINT) AS n_merged,
       CAST(f.cents AS BIGINT) AS cents_full,
       CAST(m.cents AS BIGINT) AS cents_merged,
       CAST(CASE WHEN f.n = m.n AND f.cents = m.cents THEN 1 ELSE 0 END AS INT)
           AS states_merge_exactly
FROM full_ f JOIN merged m ON m.nation = f.nation
"""


@register("incremental_agg_equivalence", oracle=INC_EQ_SQL, covers=["A2", "T2"])
def q_incremental_agg_equivalence(spark, sf_dir):
    """Mergeable-aggregate proof: the per-nation count/sum state
    computed directly over the full fact table versus as the MERGE of
    two date-partition subaggregates — bit-equal everywhere (flagged
    per row), the property that makes incremental backfills and
    streaming state sound. The incremental path is how the 100 TB
    version actually runs: only new partitions aggregate, states
    merge."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nation"),
    )
    base = orders.join(F.broadcast(cust), "o_custkey").select(
        "nation",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.to_date("o_orderdate").alias("d"),
    )
    cut = F.lit("1996-01-01").cast("date")

    def agg(df):
        return df.groupBy("nation").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
        )

    full_ = agg(base)
    merged = (
        agg(base.filter(F.col("d") < cut))
        .unionAll(agg(base.filter(F.col("d") >= cut)))
        .groupBy("nation")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    )
    f = full_.select(
        "nation", F.col("n").alias("n_full"), F.col("cents").alias("cents_full")
    )
    m = merged.select(
        "nation", F.col("n").alias("n_merged"), F.col("cents").alias("cents_merged")
    )
    return f.join(m, "nation").select(
        "nation",
        F.col("n_full").cast("long").alias("n_full"),
        F.col("n_merged").cast("long").alias("n_merged"),
        F.col("cents_full").cast("long").alias("cents_full"),
        F.col("cents_merged").cast("long").alias("cents_merged"),
        F.when(
            (F.col("n_full") == F.col("n_merged"))
            & (F.col("cents_full") == F.col("cents_merged")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("states_merge_exactly"),
    )


# ---------------------------------------------------------------------------
# CDC tombstone compaction.

TOMBSTONE_SQL = """
WITH log_ AS (
    -- synthetic changelog over order keys: version = linenumber,
    -- op D for every 7th version else U
    SELECT l_orderkey AS key, l_linenumber AS version,
           CASE WHEN (l_orderkey + l_linenumber) % 7 = 0 THEN 'D' ELSE 'U' END
               AS op,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS payload_cents
    FROM lineitem
),
latest AS (
    SELECT key, op, payload_cents FROM (
        SELECT *, row_number() OVER (
            PARTITION BY key ORDER BY version DESC, payload_cents DESC
        ) AS rn
        FROM log_
    ) t WHERE rn = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstones,
       CAST(SUM(CASE WHEN op = 'U' THEN payload_cents ELSE 0 END) AS BIGINT)
           AS live_cents
FROM latest
"""


@register("cdc_tombstone_compaction", oracle=TOMBSTONE_SQL, covers=["T2", "O6"])
def q_cdc_tombstone_compaction(spark, sf_dir):
    """Changelog compaction with tombstones: the highest-version entry
    per key wins (deterministic tie-break); keys whose last op is a
    delete become tombstones and leave the live set — the compaction
    semantics of every log-structured table format. One per-key
    argmax window + a summary rollup (live/tombstone counts + live
    checksum)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    log_ = li.select(
        F.col("l_orderkey").alias("key"),
        F.col("l_linenumber").alias("version"),
        F.when((F.col("l_orderkey") + F.col("l_linenumber")) % 7 == 0, "D")
        .otherwise("U")
        .alias("op"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("payload_cents"),
    )
    w = Window.partitionBy("key").orderBy(
        F.col("version").desc(), F.col("payload_cents").desc()
    )
    latest = (
        log_.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return latest.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
        .cast("long")
        .alias("n_live"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .cast("long")
        .alias("n_tombstones"),
        F.sum(F.when(F.col("op") == "U", F.col("payload_cents")).otherwise(0))
        .cast("long")
        .alias("live_cents"),
    )


# ---------------------------------------------------------------------------
# identity stitching via connected components.

STITCH_SQL = """
WITH RECURSIVE users AS (
    SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
),
edges AS (
    SELECT user_id AS a, 1000 + user_id % 7 AS b FROM users
    UNION ALL
    SELECT user_id AS a, 2000 + user_id % 11 AS b FROM users
),
und AS (
    SELECT a, b FROM edges UNION SELECT b, a FROM edges
    UNION SELECT a, a FROM edges UNION SELECT b, b FROM edges
),
reach AS (
    SELECT a, b FROM und
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b
),
lbl AS (SELECT a AS node, MIN(b) AS lbl FROM reach GROUP BY a)
SELECT CAST(lbl AS BIGINT) AS canonical_id,
       CAST(COUNT(*) AS BIGINT) AS n_ids,
       CAST(SUM(CASE WHEN node < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_users
FROM lbl GROUP BY lbl
"""


@register("identity_stitching", oracle=STITCH_SQL, covers=["J9", "A2"])
def q_identity_stitching(spark, sf_dir):
    """Identity stitching: users linked through shared device and email
    ids (disjoint id spaces) collapse into canonical identities via
    connected components — the cross-device identity graph every CDP
    resolves. The engine runs its distributed components operator; the
    oracle unrolls min-label propagation to the fixpoint this graph's
    diameter needs."""
    from prosnet_prefect_pipelines_spark.operators.graph import (
        connected_components,
    )

    ev = read_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    users = ev.select("user_id").distinct()
    edges = users.select(
        F.col("user_id").alias("src"),
        (1000 + F.col("user_id") % 7).alias("dst"),
    ).unionAll(
        users.select(
            F.col("user_id").alias("src"),
            (2000 + F.col("user_id") % 11).alias("dst"),
        )
    )
    cc = connected_components(edges)
    return cc.groupBy(F.col("comp").alias("canonical_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_ids"),
        F.sum(F.when(F.col("node") < 1000, 1).otherwise(0))
        .cast("long")
        .alias("n_users"),
    ).select(
        F.col("canonical_id").cast("long").alias("canonical_id"),
        "n_ids",
        "n_users",
    )


# ---------------------------------------------------------------------------
# manifest time travel.

TIME_TRAVEL_SQL = """
WITH v1 AS (SELECT COUNT(*) AS n, SUM(n_nationkey) AS ks FROM nation
            WHERE n_nationkey < 15),
v2 AS (SELECT COUNT(*) AS n, SUM(n_nationkey) AS ks FROM nation)
SELECT CAST(v1.n AS BIGINT) AS v1_rows, CAST(v2.n AS BIGINT) AS v2_rows,
       CAST(v2.n - v1.n AS BIGINT) AS rows_added,
       CAST(CAST(v1.ks AS BIGINT) AS BIGINT) AS v1_key_sum,
       CAST(CAST(v2.ks AS BIGINT) AS BIGINT) AS v2_key_sum
FROM v1 CROSS JOIN v2
"""


@register("manifest_time_travel_diff", oracle=TIME_TRAVEL_SQL, covers=["K3", "T2"])
def q_manifest_time_travel_diff(spark, sf_dir):
    """Snapshot time travel on the manifest table format: commit v1
    (keys < 15), commit v2 (the rest), then read BOTH snapshot versions
    back through their manifests and diff — old snapshots stay exactly
    readable after new commits (the lakehouse audit/rollback
    primitive). Commits move one manifest file each; data files are
    immutable."""
    import shutil

    from prosnet_prefect_pipelines_spark.streaming.staging import scratch_root
    from prosnet_prefect_pipelines_spark.sinks import (
        manifest_commit,
        read_snapshot,
    )

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    path = os.path.join(scratch_root(spark), "nation_timetravel")
    shutil.rmtree(path, ignore_errors=True)
    manifest_commit(nation.filter(F.col("n_nationkey") < 15), path)
    manifest_commit(nation.filter(F.col("n_nationkey") >= 15), path)
    v1 = read_snapshot(spark, path, version=1).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_nationkey").alias("ks")
    )
    v2 = read_snapshot(spark, path, version=2).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_nationkey").alias("ks")
    )
    a = v1.select(F.col("n").alias("v1_rows"), F.col("ks").alias("v1_key_sum"))
    b = v2.select(F.col("n").alias("v2_rows"), F.col("ks").alias("v2_key_sum"))
    return a.crossJoin(b).select(
        F.col("v1_rows").cast("long").alias("v1_rows"),
        F.col("v2_rows").cast("long").alias("v2_rows"),
        (F.col("v2_rows") - F.col("v1_rows")).cast("long").alias("rows_added"),
        F.col("v1_key_sum").cast("long").alias("v1_key_sum"),
        F.col("v2_key_sum").cast("long").alias("v2_key_sum"),
    )


# ---------------------------------------------------------------------------
# late-arrival accounting.

LATE_SQL = """
WITH ev AS (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
    WHERE user_id IS NOT NULL
),
arr AS (
    -- arrival order proxy: event_id; an event is LATE if its event time
    -- precedes the event time of the previously-arrived event
    SELECT user_id,
           ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY event_id)
               AS dt
    FROM ev
)
SELECT CAST(COUNT(dt) AS BIGINT) AS n_arrivals,
       CAST(SUM(CASE WHEN dt < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(CAST(SUM(CASE WHEN dt < 0 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
            // COUNT(dt) AS BIGINT) AS late_ppm,
       CAST(MAX(CASE WHEN dt < 0 THEN -dt END) AS BIGINT) AS max_lateness_us
FROM arr
"""


@register("late_arrival_accounting", oracle=LATE_SQL, covers=["T1", "A2"])
def q_late_arrival_accounting(spark, sf_dir):
    """Late-arrival accounting: with arrival order proxied by event id,
    an event is LATE when its event time steps backward relative to the
    previous arrival — the out-of-orderness measurement that sizes a
    stream's watermark delay BEFORE any data is dropped. One per-user
    lag window + a summary rollup; max observed lateness in exact
    microseconds is the watermark lower bound."""
    ev = read_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("event_id")
    arr = ev.select(
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("dt")
    )
    return arr.agg(
        F.count("dt").cast("long").alias("n_arrivals"),
        F.sum(F.when(F.col("dt") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN dt < 0 THEN 1 ELSE 0 END) AS DECIMAL(38,0))"
            " * 1000000 div COUNT(dt) AS BIGINT)"
        ).alias("late_ppm"),
        F.max(F.when(F.col("dt") < 0, -F.col("dt"))).cast("long").alias(
            "max_lateness_us"
        ),
    )
