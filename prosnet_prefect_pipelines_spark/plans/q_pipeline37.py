"""Pipeline batch 37: governance views and session similarity —

- ``rls_masked_view``: fine-grained access control as a plan rewrite
  (the Lakeguard/row-level-security shape, SIGMOD 2025 in PAPERS.md):
  a policy table maps roles to allowed market segments; the secured
  view semi-joins rows against the caller's policy AND masks the
  sensitive balance column unless the role carries the privilege.
  Enforcement is relational — a broadcast semi-join + a CASE mask —
  so it composes with pushdown and costs one small join, not a UDF
  wall.
- ``session_similarity_topk``: top-k most similar user sessions by
  Jaccard over event-type 3-grams (the interactive-session similarity
  search theme, EDBT 2020): per-user shingle sets, an inverted-index
  self-join on shared shingles (candidates only where overlap exists,
  never all user pairs), exact Jaccard in ppm, row_number top-3 per
  user.

Scale notes: the policy table is tiny (broadcast); masking is a
narrow projection. Session similarity moves only shingle postings;
candidate pairs are bounded by co-occurrence (sum over shingles of
df(s)^2, the inverted-index bound), and the per-user top-k is a
keyed window, not a global sort.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame, memo_fixture

_ROLE = "analyst_eu"

_POLICY = [
    # (role, segment, see_balance)
    ("analyst_eu", "BUILDING", False),
    ("analyst_eu", "AUTOMOBILE", False),
    ("risk_officer", "BUILDING", True),
    ("risk_officer", "AUTOMOBILE", True),
    ("risk_officer", "MACHINERY", True),
    ("risk_officer", "HOUSEHOLD", True),
    ("risk_officer", "FURNITURE", True),
]

_POLICY_SQL = " UNION ALL ".join(
    f"SELECT '{r}' AS role, '{s}' AS segment, {str(b).upper()} AS see_balance"
    for r, s, b in _POLICY
)

RLS_SQL = f"""
WITH policy AS ({_POLICY_SQL}),
me AS (SELECT * FROM policy WHERE role = '{_ROLE}')
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       CASE WHEN me.see_balance THEN CAST(ROUND(c.c_acctbal * 100) AS BIGINT)
            ELSE NULL END AS acctbal_cents,
       me.role
FROM customer c JOIN me ON me.segment = c.c_mktsegment
"""


@register("rls_masked_view", oracle=RLS_SQL, covers=["P6", "J4", "P7"])
def q_rls_masked_view(spark, sf_dir):
    """Row- and column-level security as a relational rewrite: rows
    restricted to the caller's policy segments (broadcast inner join on
    the policy table), balance masked to NULL unless the policy grants
    it. The secured view is a plan fragment — Catalyst pushes the
    segment filter into the scan and the mask is one CASE projection;
    no per-row callback, no enforcement UDF."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    policy = local_frame(
        spark,
        _POLICY, "role string, segment string, see_balance boolean"
    ).filter(F.col("role") == _ROLE)
    return cust.join(
        F.broadcast(policy), cust.c_mktsegment == policy.segment
    ).select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.when(
            F.col("see_balance"),
            F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"),
        ).alias("acctbal_cents"),
        "role",
    )


_TOPK = 3

SESSION_SIM_SQL = f"""
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type, 2) OVER w AS t2,
           lag(event_type, 1) OVER w AS t1
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
shingles AS (
    SELECT DISTINCT user_id, t2 || '>' || t1 || '>' || event_type AS sh
    FROM seq WHERE t2 IS NOT NULL
),
sizes AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY user_id),
inter AS (
    SELECT a.user_id AS u, b.user_id AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.user_id < b.user_id
    GROUP BY a.user_id, b.user_id
),
scored AS (
    SELECT u, v, c,
           CAST(CAST(c AS HUGEINT) * 1000000 // (sa.n + sb.n - c) AS BIGINT)
               AS jaccard_ppm
    FROM inter JOIN sizes sa ON sa.user_id = u JOIN sizes sb ON sb.user_id = v
),
sym AS (
    SELECT u AS user_id, v AS other, jaccard_ppm FROM scored
    UNION ALL
    SELECT v AS user_id, u AS other, jaccard_ppm FROM scored
),
ranked AS (
    SELECT user_id, other, jaccard_ppm,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY jaccard_ppm DESC, other) AS rn
    FROM sym
)
SELECT user_id, other, jaccard_ppm, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_TOPK}
"""


# opt r12 (VERDICT r11 issue 1): the event-type enum is session-invariant
# per dataset — memoize the one distinct scan per (app_id, sf_dir) so
# repeated plan constructions launch NO Spark job (the old code ran a
# full-column distinct scan of events at every DataFrame construction,
# blocking the driver — at 100 TB an extra corpus pass per plan build).
# Reset by reset_memo_fixtures, so bench repeat-cold passes still pay it.
def _event_types(ev, sf_dir: str) -> list[str]:
    return memo_fixture(
        ev.sparkSession, ("event_types", sf_dir),
        lambda: sorted(r[0] for r in ev.select("event_type").distinct().collect()),
    )


@register("session_similarity_topk", oracle=SESSION_SIM_SQL, covers=["J1", "A1", "O6"])
def q_session_similarity_topk(spark, sf_dir):
    """Top-3 most similar user sessions by exact Jaccard over
    event-type 3-gram shingle sets. Inverted-index candidate
    generation: the self-join runs on the SHINGLE key, so user pairs
    materialize only where sessions actually share a pattern (the
    EDBT-2020 interactive-session search shape); similarity is exact
    integer ppm; the final top-k is a per-user window."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # opt r11 (guide §2.3/§8 — shuffle keys and metadata, decide on
    # lightweight proxies): the shingle vocabulary is bounded by the
    # event_type ENUM (|E|^3 3-grams — a schema property, not a data-size
    # property; |E|=5 here, 125 possible shingles), so each user's
    # shingle SET fits in a 2-long bitmask. With per-posting masks the
    # intersection count is bit_count(maskA & maskB), the sizes are
    # bit_count(mask), and the FIRST-WITNESS filter (emit a pair only at
    # its minimum common code) keeps exactly one emission per candidate
    # pair; the inverted-index candidate generation (never all user
    # pairs) is unchanged.
    etypes = _event_types(ev, sf_dir)
    n_e = len(etypes)
    ncodes = n_e**3
    if ncodes > 128:
        raise ValueError(
            f"session_similarity_topk: {n_e}^3 shingle codes exceed the "
            "128-bit mask design bound — widen the masks"
        )
    et_arr = F.array(*[F.lit(t) for t in etypes])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type", 2).over(w).alias("t2"),
        F.lag("event_type", 1).over(w).alias("t1"),
    ).filter(F.col("t2").isNotNull())

    def _idx(c):
        return F.array_position(et_arr, c) - 1

    # dense shingle code 0..|E|^3-1 — a bijection with the t2>t1>et
    # string (enum labels carry no '>'), so DISTINCT is unchanged
    code = (_idx(F.col("t2")) * n_e + _idx(F.col("t1"))) * n_e + _idx(
        F.col("event_type")
    )
    # hashpartitioning(user_id) from the lag window satisfies the
    # (user_id, code) clustering: distinct and the mask rollup add no
    # exchange
    pc = seq.select("user_id", code.cast("int").alias("code")).distinct()
    one = F.lit(1).cast("long")
    masks = pc.groupBy("user_id").agg(
        F.bit_or(
            F.when(F.col("code") < 64, F.expr("shiftleft(CAST(1 AS BIGINT), code)"))
            .otherwise(one * 0)
        ).alias("m0"),
        F.bit_or(
            F.when(F.col("code") >= 64, F.expr("shiftleft(CAST(1 AS BIGINT), code - 64)"))
            .otherwise(one * 0)
        ).alias("m1"),
    )
    # opt r12: the posting list (user_id, code, m0, m1) used to be
    # pc JOIN masks — a second corpus window pass plus a join. The mask
    # already encodes the user's exact code set, so explode its set bits
    # instead (vocab-bounded ≤128-element scan per user): one corpus
    # window pass total, no join, same (user_id, code) posting rows.
    postings = masks.select(
        "user_id",
        "m0",
        "m1",
        F.explode(
            F.expr(
                f"filter(sequence(0, {ncodes - 1}), c -> IF(c < 64,"
                " shiftright(m0, c), shiftright(m1, c - 64)) % 2 != 0)"
            )
        ).alias("code"),
    )
    # opt r12 (VERDICT r11 issue 2, guide §2.5 — skew/synthetic keys):
    # the code key has at most |E|^3 = 125 distinct values, so a
    # repartition("code") caps the self-join at 125 active partitions
    # regardless of cluster width, and a hot 3-gram's posting list
    # self-joins O(df^2) inside ONE task. Salt each posting with a
    # deterministic block id within its code and enumerate block PAIRS
    # (i <= j, the triangle): a pair of users sharing `code` meets in
    # exactly one (code, i, j) bucket, so candidates are unchanged while
    # the key space grows to ncodes * nb*(nb+1)/2 and a hot code's
    # quadratic pair work splits across nb*(nb+1)/2 tasks. nb scales
    # with parallelism (~20 keys per shuffle slot, guide §2.5's 20-100x
    # rule), so wider clusters get more blocks, not a local constant.
    par = spark.sparkContext.defaultParallelism
    nb_blocks = 1
    while ncodes * nb_blocks * (nb_blocks + 1) // 2 < 20 * par and nb_blocks < 64:
        nb_blocks += 1
    post = postings.withColumn(
        "blk", F.pmod(F.xxhash64("user_id", "code"), F.lit(nb_blocks)).cast("int")
    ).localCheckpoint(eager=False)  # both join sides read this
    # left member of block pair (i, j): i = own block, j >= i;
    # right member: j = own block, i <= j. A cross-block pair meets
    # once with the smaller-block user on the left; a same-block pair
    # meets twice, deduped by the user_id order filter below.
    a = post.withColumn(
        "jb", F.explode(F.expr(f"sequence(blk, {nb_blocks - 1})"))
    ).alias("a")
    b = post.withColumn("ib", F.explode(F.expr("sequence(0, blk)"))).alias("b")
    # explicit hash partitioning on the salted join key (user-specified
    # repartition is exempt from AQE coalescing, which would otherwise
    # coalesce the ~10 MB posting table to one partition by input size,
    # blind to the pair explosion — measured 15.7 s single-task -> ~3 s
    # at sf0.1 in r11). Both sides repartition by their own key triple
    # in join-key order so the join reuses the exchanges.
    a = a.repartition(par, "code", "blk", "jb")
    b = b.repartition(par, "code", "ib", "blk")
    # first-witness: keep the emission only at the pair's minimum common
    # code (no common bit strictly below `code`), so each candidate pair
    # survives exactly once and carries both masks
    witness = F.expr(
        "IF(a.code < 64,"
        " ((a.m0 & b.m0) & ~ shiftleft(CAST(-1 AS BIGINT), a.code)) = 0,"
        " (a.m0 & b.m0) = 0 AND"
        " ((a.m1 & b.m1) & ~ shiftleft(CAST(-1 AS BIGINT), a.code - 64)) = 0)"
    )
    pairs = a.join(
        b,
        (F.col("a.code") == F.col("b.code"))
        & (F.col("a.blk") == F.col("b.ib"))
        & (F.col("a.jb") == F.col("b.blk"))
        & (
            (F.col("a.blk") != F.col("b.blk"))
            | (F.col("a.user_id") < F.col("b.user_id"))
        )
        & witness,
    )
    c_expr = (
        F.bit_count(F.col("a.m0").bitwiseAND(F.col("b.m0")))
        + F.bit_count(F.col("a.m1").bitwiseAND(F.col("b.m1")))
    ).cast("long")
    na = F.bit_count(F.col("a.m0")) + F.bit_count(F.col("a.m1"))
    nb = F.bit_count(F.col("b.m0")) + F.bit_count(F.col("b.m1"))
    scored = (
        pairs.select(
            # cross-block pairs arrive in block order, not user order —
            # canonicalize (masks, counts and witness are symmetric)
            F.least(F.col("a.user_id"), F.col("b.user_id")).alias("u"),
            F.greatest(F.col("a.user_id"), F.col("b.user_id")).alias("v"),
            c_expr.alias("c"),
            (na + nb).cast("long").alias("nsum"),
        )
        .select(
            "u",
            "v",
            "c",
            F.expr(
                "CAST(CAST(c AS DECIMAL(38,0)) * 1000000 div (nsum - c) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        # both sym branches read this — without the pin the UNION
        # replans the whole inverted-index self-join twice
        # (opt r11: plan halved, 56 -> 34 nodes; scored is pair-sized)
        .localCheckpoint(eager=False)
    )
    sym = scored.select(
        F.col("u").alias("user_id"), F.col("v").alias("other"), "jaccard_ppm"
    ).unionAll(
        scored.select(
            F.col("v").alias("user_id"), F.col("u").alias("other"), "jaccard_ppm"
        )
    )
    wr = Window.partitionBy("user_id").orderBy(F.col("jaccard_ppm").desc(), "other")
    return (
        sym.select(
            "user_id", "other", "jaccard_ppm", F.row_number().over(wr).alias("rn")
        )
        .filter(F.col("rn") <= _TOPK)
        .select("user_id", "other", "jaccard_ppm", F.col("rn").cast("long").alias("rn"))
    )
