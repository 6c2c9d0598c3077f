"""Pipeline batch 69 (north-star extension): privacy & compliance ops —
deletion-impact (right-to-erasure) cascades, deterministic
pseudonymization, quasi-identifier generalization levels, a consent
partition audit, and DP contribution bounding. (k-anonymity and
l-diversity audits already live in batches 10 and 14.)

The privacy tier a data platform runs before sharing or training on
user-adjacent data. Exactness discipline: group sizes and diversity are
integer counts; pseudonyms are portable md5 surrogates (bit-identical
in every engine); generalization bands are truncating integer division."""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# ---------------------------------------------------------------------------
# deletion-impact cascade (right-to-erasure planning).

DELETE_SQL = """
WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 101 = 0),
c AS (SELECT COUNT(*) AS total FROM customer),
o AS (SELECT COUNT(*) AS total FROM orders),
l AS (SELECT COUNT(*) AS total FROM lineitem),
dc AS (SELECT COUNT(*) AS n FROM del),
do_ AS (
    SELECT COUNT(*) AS n FROM orders o
    WHERE EXISTS (SELECT 1 FROM del d WHERE d.c_custkey = o.o_custkey)
),
dl AS (
    SELECT COUNT(*) AS n FROM lineitem li
    WHERE EXISTS (
        SELECT 1 FROM orders o JOIN del d ON d.c_custkey = o.o_custkey
        WHERE o.o_orderkey = li.l_orderkey)
)
SELECT 'customer' AS tbl, CAST(dc.n AS BIGINT) AS n_affected,
       CAST(c.total AS BIGINT) AS n_total,
       CAST(CAST(dc.n AS HUGEINT) * 1000000 // c.total AS BIGINT) AS share_ppm
FROM dc, c
UNION ALL
SELECT 'orders', CAST(do_.n AS BIGINT), CAST(o.total AS BIGINT),
       CAST(CAST(do_.n AS HUGEINT) * 1000000 // o.total AS BIGINT)
FROM do_, o
UNION ALL
SELECT 'lineitem', CAST(dl.n AS BIGINT), CAST(l.total AS BIGINT),
       CAST(CAST(dl.n AS HUGEINT) * 1000000 // l.total AS BIGINT)
FROM dl, l
"""


@register("deletion_impact_report", oracle=DELETE_SQL, covers=["J7", "A2"])
def q_deletion_impact_report(spark, sf_dir):
    """Right-to-erasure impact plan: a deletion cohort (every 101st
    customer) cascaded through the foreign-key chain customer -> orders
    -> lineitem, reporting affected row counts and ppm share per table
    BEFORE any destructive write — the dry-run report a GDPR deletion
    job emits. The cohort and its order keys ride broadcast semi-joins;
    the fact tables are never shuffled."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    del_c = cust.filter(F.col("c_custkey") % 101 == 0).select(
        F.col("c_custkey").alias("o_custkey")
    )
    del_orders = orders.join(F.broadcast(del_c), "o_custkey")
    del_okeys = del_orders.select(F.col("o_orderkey").alias("l_orderkey"))
    rows = []
    for tbl, total_df, affected_df in (
        ("customer", cust, del_c),
        ("orders", orders, del_orders),
        ("lineitem", li, li.join(F.broadcast(del_okeys), "l_orderkey")),
    ):
        t = total_df.count()
        n = affected_df.count()
        rows.append((tbl, n, t, n * 1_000_000 // t))
    return local_frame(
        spark,
        rows, "tbl string, n_affected long, n_total long, share_ppm long"
    )


# ---------------------------------------------------------------------------
# deterministic pseudonymization with referential consistency.

PSEUDO_SQL = """
WITH ck AS (
    SELECT c_custkey,
           substr(md5('pseud:' || CAST(c_custkey AS VARCHAR)), 1, 16) AS surrogate
    FROM customer
),
ok AS (
    SELECT o_custkey,
           substr(md5('pseud:' || CAST(o_custkey AS VARCHAR)), 1, 16) AS surrogate
    FROM orders
),
raw_join AS (
    SELECT COUNT(*) AS n FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
),
pseudo_join AS (
    SELECT COUNT(*) AS n FROM ok JOIN ck ON ck.surrogate = ok.surrogate
),
collisions AS (
    SELECT COUNT(*) AS n FROM (
        SELECT surrogate FROM ck GROUP BY surrogate HAVING COUNT(*) > 1
    ) t
)
SELECT CAST(r.n AS BIGINT) AS n_join_raw,
       CAST(p.n AS BIGINT) AS n_join_pseudo,
       CAST(c.n AS BIGINT) AS n_surrogate_collisions,
       CAST(CASE WHEN r.n = p.n AND c.n = 0 THEN 1 ELSE 0 END AS INT)
           AS referentially_consistent
FROM raw_join r, pseudo_join p, collisions c
"""


@register("pseudonymize_consistent", oracle=PSEUDO_SQL, covers=["F15", "J1"])
def q_pseudonymize_consistent(spark, sf_dir):
    """Deterministic pseudonymization audit: customer keys replaced by
    salted-md5 surrogates in BOTH tables, then the pseudonymized join
    re-counted against the raw join — equal counts + zero surrogate
    collisions proves referential integrity survives the masking (the
    property that lets downstream analytics run on de-identified
    data). Pure per-row hashing; the verification joins are keyed."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sur = lambda c: F.substring(  # noqa: E731
        F.md5(F.concat(F.lit("pseud:"), c.cast("string"))), 1, 16
    )
    ck = cust.select(sur(F.col("c_custkey")).alias("surrogate"))
    ok = orders.select(sur(F.col("o_custkey")).alias("surrogate"))
    n_raw = (
        orders.join(
            cust, cust["c_custkey"] == orders["o_custkey"]
        ).count()
    )
    n_pseudo = ok.join(ck, "surrogate").count()
    n_coll = (
        ck.groupBy("surrogate")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    ok_flag = 1 if (n_raw == n_pseudo and n_coll == 0) else 0
    return local_frame(
        spark,
        [(n_raw, n_pseudo, n_coll, ok_flag)],
        "n_join_raw long, n_join_pseudo long, n_surrogate_collisions long,"
        " referentially_consistent int",
    )


# ---------------------------------------------------------------------------
# quasi-identifier generalization levels.

GENERALIZE_SQL = """
WITH lvl AS (
    SELECT 'L0_exact_cents' AS level, c_nationkey AS nation,
           CAST(round(c_acctbal * 100) AS BIGINT) AS band
    FROM customer
    UNION ALL
    SELECT 'L1_100_dollars', c_nationkey,
           CAST(round(c_acctbal * 100) AS BIGINT) // 10000
    FROM customer
    UNION ALL
    SELECT 'L2_1000_dollars', c_nationkey,
           CAST(round(c_acctbal * 100) AS BIGINT) // 100000
    FROM customer
),
g AS (
    SELECT level, nation, band, COUNT(*) AS k
    FROM lvl GROUP BY level, nation, band
)
SELECT level,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_groups_under_k5,
       CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
           AS n_rows_under_k5
FROM g GROUP BY level
"""


@register("generalization_levels", oracle=GENERALIZE_SQL, covers=["A2", "O5"])
def q_generalization_levels(spark, sf_dir):
    """Quasi-identifier generalization ladder: the (nation, balance)
    QI evaluated at three coarseness levels (exact cents / $100 bands /
    $1000 bands), reporting group counts and k<5 exposure at each — the
    curve an anonymization pipeline walks down until the k-anonymity
    target holds. One 3x union fanout + two grouped aggregations; bands
    are truncating integer division."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    lvls = [
        cust.select(
            F.lit("L0_exact_cents").alias("level"),
            F.col("c_nationkey").alias("nation"),
            cents.alias("band"),
        ),
        cust.select(
            F.lit("L1_100_dollars").alias("level"),
            F.col("c_nationkey").alias("nation"),
            F.expr(
                "CAST(round(c_acctbal * 100) AS BIGINT) div 10000"
            ).alias("band"),
        ),
        cust.select(
            F.lit("L2_1000_dollars").alias("level"),
            F.col("c_nationkey").alias("nation"),
            F.expr(
                "CAST(round(c_acctbal * 100) AS BIGINT) div 100000"
            ).alias("band"),
        ),
    ]
    lvl = lvls[0].unionAll(lvls[1]).unionAll(lvls[2])
    g = lvl.groupBy("level", "nation", "band").agg(F.count(F.lit(1)).alias("k"))
    return g.groupBy("level").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("k").cast("long").alias("min_k"),
        F.sum(F.when(F.col("k") < 5, 1).otherwise(0))
        .cast("long")
        .alias("n_groups_under_k5"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("long")
        .alias("n_rows_under_k5"),
    )


# ---------------------------------------------------------------------------
# consent partition audit.

CONSENT_SQL = """
WITH ev AS (
    SELECT event_type,
           CASE WHEN user_id % 10 < 7 THEN 1 ELSE 0 END AS consented
    FROM events WHERE user_id IS NOT NULL
),
g AS (
    SELECT event_type, consented, COUNT(*) AS n FROM ev
    GROUP BY event_type, consented
),
t AS (SELECT event_type, SUM(n) AS tot FROM g GROUP BY event_type)
SELECT g.event_type, CAST(g.consented AS INT) AS consented,
       CAST(g.n AS BIGINT) AS n,
       CAST(CAST(g.n AS HUGEINT) * 1000000 // t.tot AS BIGINT) AS share_ppm
FROM g JOIN t USING (event_type)
"""


@register("consent_partition_report", oracle=CONSENT_SQL, covers=["A2", "P1"])
def q_consent_partition_report(spark, sf_dir):
    """Consent partition audit: event volume split by the user's
    consent flag (deterministic stand-in: user_id % 10 < 7) per event
    type, with ppm shares — the filter report a training pipeline emits
    before excluding non-consented traffic. One grouped count + a
    per-type total joined back; the consent predicate is a pure row
    expression, so it pushes into the scan at scale."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("user_id").isNotNull()
    )
    g = ev.select(
        "event_type",
        F.when(F.col("user_id") % 10 < 7, 1).otherwise(0).alias("consented"),
    ).groupBy("event_type", "consented").agg(F.count(F.lit(1)).alias("n"))
    t = g.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return g.join(F.broadcast(t), "event_type").select(
        "event_type",
        F.col("consented").cast("int").alias("consented"),
        F.col("n").cast("long").alias("n"),
        F.expr("CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div tot AS BIGINT)").alias(
            "share_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# DP preparation: per-user contribution bounding report.

CONTRIB_SQL = """
WITH per_user AS (
    SELECT event_type, user_id, COUNT(*) AS c
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type, user_id
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(MAX(c) AS BIGINT) AS l1_sensitivity,
       CAST(SUM(CASE WHEN c > 5 THEN c - 5 ELSE 0 END) AS BIGINT)
           AS clipped_at_5,
       CAST(CAST(SUM(CASE WHEN c > 5 THEN c - 5 ELSE 0 END) AS HUGEINT)
            * 1000000 // SUM(c) AS BIGINT) AS clip_loss_ppm
FROM per_user GROUP BY event_type
"""


@register("contribution_bounding_report", oracle=CONTRIB_SQL, covers=["A2"])
def q_contribution_bounding_report(spark, sf_dir):
    """Differential-privacy preparation: per event type, the maximum
    single-user contribution (the L1 sensitivity a DP count mechanism
    must calibrate noise to) and the exact event mass lost if
    contributions were clipped at 5 per user — the bias-vs-noise
    trade-off report that decides the clip bound BEFORE adding any
    noise (the noise itself is out of engine scope: nondeterministic by
    definition). One (type, user)-keyed count + one type rollup."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("user_id").isNotNull()
    )
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("c").cast("long").alias("n_events"),
        F.max("c").cast("long").alias("l1_sensitivity"),
        F.sum(F.when(F.col("c") > 5, F.col("c") - 5).otherwise(0))
        .cast("long")
        .alias("clipped_at_5"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN c > 5 THEN c - 5 ELSE 0 END) AS DECIMAL(38,0))"
            " * 1000000 div SUM(c) AS BIGINT)"
        ).alias("clip_loss_ppm"),
    )
