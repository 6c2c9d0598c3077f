"""Training-data pipeline queries, batch 10 (north-star extension):
k-anonymity auditing and deletion-neighborhood fuzzy joins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame, memo_fixture

# ---------------------------------------------------------------------------
# k-anonymity audit

_KANON_K = 5

KANON_SQL = f"""
WITH quasi AS (
    SELECT c_nationkey AS nat, c_mktsegment AS seg,
           CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket
    FROM customer
),
groups AS (
    SELECT nat, seg, bal_bucket, COUNT(*) AS n
    FROM quasi GROUP BY nat, seg, bal_bucket
)
SELECT nat, seg, bal_bucket, CAST(n AS BIGINT) AS group_size
FROM groups WHERE n < {_KANON_K}
"""


@register("k_anonymity_audit", oracle=KANON_SQL, covers=["A2", "P7"])
def q_k_anonymity_audit(spark, sf_dir):
    """X-KANON: k-anonymity audit over the quasi-identifier tuple
    (nation, segment, balance bucket) — groups smaller than k=5 are the
    re-identification risks a privacy review flags before a dataset
    release. One keyed aggregation; the report is group-cardinality
    sized. (The remediation — generalize or suppress — is a second
    pass over just the flagged tuples.)"""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    quasi = cust.select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    )
    return (
        quasi.groupBy("nat", "seg", "bal_bucket")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < _KANON_K)
        .select("nat", "seg", "bal_bucket", F.col("group_size").cast("long"))
    )


# ---------------------------------------------------------------------------
# deletion-neighborhood fuzzy join (edit distance <= 1, linear)

FUZZY_SQL = """
WITH clean AS (
    SELECT c_custkey AS id, substr(c_name, 10, 9) AS key FROM customer
),
dirty AS (
    SELECT c_custkey + 900000 AS id,
           CASE WHEN c_custkey % 3 = 0
                THEN substr(substr(c_name, 10, 9), 1, 4)
                     || substr(substr(c_name, 10, 9), 6)      -- delete char 5
                WHEN c_custkey % 3 = 1
                THEN substr(substr(c_name, 10, 9), 1, 6) || 'X'
                     || substr(substr(c_name, 10, 9), 8)      -- substitute char 7
                ELSE substr(c_name, 10, 9) END AS key,        -- unchanged
           c_custkey AS true_id
    FROM customer
),
-- deletion neighborhood: the string itself + every 1-deletion variant,
-- tagged by deleted position (0 = intact)
cv AS (
    SELECT id, key, p,
           CASE WHEN p = 0 THEN key
                ELSE substr(key, 1, p - 1) || substr(key, p + 1) END AS variant
    FROM clean, unnest(generate_series(0, 9)) t(p)
    WHERE p <= length(key)
),
dv AS (
    SELECT id, key, true_id, p,
           CASE WHEN p = 0 THEN key
                ELSE substr(key, 1, p - 1) || substr(key, p + 1) END AS variant
    FROM dirty, unnest(generate_series(0, 9)) t(p)
    WHERE p <= length(key)
),
cand AS (
    SELECT DISTINCT c.id AS clean_id, d.id AS dirty_id, d.true_id,
           c.key AS ckey, d.key AS dkey
    FROM cv c JOIN dv d ON c.variant = d.variant
)
SELECT clean_id, dirty_id, clean_id = true_id AS is_true_match
FROM cand
WHERE levenshtein(ckey, dkey) <= 1
"""


@register("fuzzy_join_ed1", oracle=FUZZY_SQL, covers=["J1", "J9"])
def q_fuzzy_join_ed1(spark, sf_dir):
    """X-QGRAM-JOIN: edit-distance<=1 join via deletion neighborhoods —
    each key emits itself + its len 1-deletion variants; two keys within
    one edit share a variant, so candidates come from a plain equi-join
    on the variant (linear x (len+1) row inflation, never a cross join)
    and the exact levenshtein check runs only on candidates. The
    scalable fuzzy-matching primitive under typo-tolerant entity
    resolution.

    fan_out (session.py): the local single-row-group customer scan
    otherwise runs the whole variant explode + candidate join +
    levenshtein pass on ONE task (measured 3.3 s warm single-task at
    sf0.1); the 15k-row shuffle is the documented cheap insurance for
    expression-heavy map work on coarse file layouts — at cluster scale
    the table arrives in many row groups and the helper is a no-op-cost
    guard, not a corpus-sized shuffle."""
    from prosnet_prefect_pipelines_spark.session import fan_out

    cust = fan_out(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    k = F.col("c_custkey")
    key9 = F.expr("substr(c_name, 10, 9)")
    clean = cust.select(k.alias("id"), key9.alias("key"))
    dirty = cust.select(
        (k + 900000).alias("id"),
        F.when(
            k % 3 == 0,
            F.expr(
                "substr(substr(c_name, 10, 9), 1, 4) || substr(substr(c_name, 10, 9), 6)"
            ),
        )
        .when(
            k % 3 == 1,
            F.expr(
                "substr(substr(c_name, 10, 9), 1, 6) || 'X' || substr(substr(c_name, 10, 9), 8)"
            ),
        )
        .otherwise(key9)
        .alias("key"),
        k.alias("true_id"),
    )

    def variants(df):
        pos = F.explode(F.sequence(F.lit(0), F.length("key"))).alias("p")
        out = df.select("*", pos)
        return out.select(
            "*",
            F.when(F.col("p") == 0, F.col("key"))
            .otherwise(
                F.concat(
                    F.expr("substr(key, 1, p - 1)"), F.expr("substr(key, p + 1)")
                )
            )
            .alias("variant"),
        )

    cv = variants(clean).select(
        F.col("id").alias("clean_id"), F.col("key").alias("ckey"), "variant"
    )
    dv = variants(dirty).select(
        F.col("id").alias("dirty_id"),
        F.col("key").alias("dkey"),
        "true_id",
        "variant",
    )
    cand = (
        cv.join(dv, on="variant")
        .select("clean_id", "dirty_id", "true_id", "ckey", "dkey")
        .distinct()
    )
    return cand.filter(F.levenshtein("ckey", "dkey") <= 1).select(
        "clean_id", "dirty_id", (F.col("clean_id") == F.col("true_id")).alias("is_true_match")
    )


# ---------------------------------------------------------------------------
# concurrency profile (sweep line over session intervals)

SWEEP_SQL = """
WITH sessions AS (
    SELECT user_id,
           epoch_us(ts) AS start_us,
           epoch_us(ts) + (1 + event_id % 50) * 60000000 AS end_us
    FROM events WHERE event_type = 'view'
),
deltas AS (
    SELECT start_us AS t, 1 AS d FROM sessions
    UNION ALL
    SELECT end_us AS t, -1 AS d FROM sessions
),
folded AS (SELECT t, SUM(d) AS d FROM deltas GROUP BY t),
swept AS (
    SELECT t, SUM(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS concurrent
    FROM folded
)
SELECT CAST(t // 3600000000 AS BIGINT) AS hour_bucket,
       CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent
FROM swept GROUP BY t // 3600000000
"""


@register("concurrency_profile", oracle=SWEEP_SQL, covers=["A2", "O1"])
def q_concurrency_profile(spark, sf_dir):
    """X-SWEEP: peak concurrent sessions per hour — the TWO-PHASE
    partitioned sweep, not a global ordered pass: (1) fold +1/-1
    boundary deltas per timestamp (keyed agg), run the prefix sum
    WITHIN each hour bucket (keyed window — parallel across buckets),
    (2) carry concurrency across buckets with one cumulative sum over
    the per-bucket totals — a frame with one row per hour
    (metadata-scale at any corpus size; a year is 8784 rows), the only
    place a global order appears. peak(bucket) = carry_in + max inner
    prefix. Interval ends derive deterministically from event ids."""
    from pyspark.sql.window import Window

    from prosnet_prefect_pipelines_spark.plans.q_streaming import read_events

    ev = read_events(spark, sf_dir).filter(F.col("event_type") == "view")
    sessions = ev.select(
        F.col("ts_us").alias("start_us"),
        (F.col("ts_us") + (1 + F.col("event_id") % 50) * 60000000).alias("end_us"),
    )
    deltas = sessions.select(F.col("start_us").alias("t"), F.lit(1).alias("d")).unionByName(
        sessions.select(F.col("end_us").alias("t"), F.lit(-1).alias("d"))
    )
    folded = deltas.groupBy("t").agg(F.sum("d").alias("d")).withColumn(
        "hour_bucket", F.expr("t div 3600000000")
    )
    w_inner = (
        Window.partitionBy("hour_bucket").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inner = folded.select(
        "hour_bucket", "d", F.sum("d").over(w_inner).alias("inner_run")
    )
    per_bucket = inner.groupBy("hour_bucket").agg(
        F.sum("d").alias("bucket_total"), F.max("inner_run").alias("inner_peak")
    )
    # cross-bucket carry on the distributed prefix-sum protocol (r12):
    # hour buckets are calendar-bounded, but the lazy distrank form
    # costs nothing extra and leaves NO unpartitioned stage keyed by
    # the bucket at all — carry_in = inclusive prefix minus own total,
    # exactly the old exclusive frame
    from prosnet_prefect_pipelines_spark.operators.distrank import (
        prefix_sums,
    )

    cum = prefix_sums(
        per_bucket,
        [F.col("hour_bucket").asc()],
        {"_carry_inc": F.col("bucket_total")},
    )
    return cum.select(
        "hour_bucket",
        (F.col("_carry_inc") - F.col("bucket_total") + F.col("inner_peak"))
        .cast("long")
        .alias("peak_concurrent"),
    )


# ---------------------------------------------------------------------------
# manifest-snapshot sink roundtrip (atomic commits + time travel)

MANIFEST_SQL = """
WITH b1 AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 3 = 0),
b2 AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 3 = 1)
SELECT 1 AS snapshot, CAST(b1.n AS BIGINT) AS n_rows FROM b1
UNION ALL
SELECT 2 AS snapshot, CAST(b1.n + b2.n AS BIGINT) AS n_rows FROM b1, b2
"""


@register("manifest_snapshot_roundtrip", oracle=MANIFEST_SQL, covers=["K3", "T2"])
def q_manifest_snapshot_roundtrip(spark, sf_dir):
    """X-MANIFEST: atomic snapshot commits (the Iceberg/Delta primitive,
    minimal): two batches commit under manifest versions 1 and 2; time
    travel reads each manifest and must see exactly the rows that
    snapshot published — half-written data is structurally invisible
    because readers resolve manifests, never directory trees. The
    oracle derives the expected per-snapshot counts from the batch
    split."""
    import hashlib
    import shutil

    from prosnet_prefect_pipelines_spark.sinks import manifest_commit, read_snapshot

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    table = "/tmp/spark_graft_manifest_" + hashlib.sha256(
        sf_dir.encode()
    ).hexdigest()[:10]
    shutil.rmtree(table, ignore_errors=True)
    manifest_commit(docs.filter(F.col("doc_id") % 3 == 0), table)
    manifest_commit(docs.filter(F.col("doc_id") % 3 == 1), table)
    s1 = read_snapshot(spark, table, 1).count()
    s2 = read_snapshot(spark, table, 2).count()
    return local_frame(
        spark,
        [(1, s1), (2, s2)], "snapshot int, n_rows long"
    )


# ---------------------------------------------------------------------------
# targeted deletion (right-to-be-forgotten) with verification

FORGET_SQL = """
WITH dels AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
kept AS (
    SELECT d.* FROM documents d LEFT JOIN dels ON dels.doc_id = d.doc_id
    WHERE dels.doc_id IS NULL
)
SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_before,
       CAST((SELECT COUNT(*) FROM dels) AS BIGINT) AS n_deleted,
       CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_after,
       CAST((SELECT COUNT(*) FROM kept k JOIN dels ON dels.doc_id = k.doc_id)
            AS BIGINT) AS n_residual
"""


@register("forget_keys", oracle=FORGET_SQL, covers=["J7", "A2"])
def q_forget_keys(spark, sf_dir):
    """X-FORGET: targeted key deletion (right-to-be-forgotten) with
    built-in verification: anti-join the deletion list out, then prove
    zero residuals with a semi-join count — the audit artifact a
    compliance process files. One shuffle each way (zero when the
    corpus is bucketed by the key); at 100 TB pair with
    `manifest_commit` so the delete publishes as one atomic snapshot."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dels = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id")
    kept = docs.join(dels, on="doc_id", how="left_anti")
    residual = kept.join(dels, on="doc_id", how="left_semi")
    return (
        docs.agg(F.count(F.lit(1)).alias("n_before"))
        .join(dels.agg(F.count(F.lit(1)).alias("n_deleted")))
        .join(kept.agg(F.count(F.lit(1)).alias("n_after")))
        .join(residual.agg(F.count(F.lit(1)).alias("n_residual")))
        .select(
            F.col("n_before").cast("long").alias("n_before"),
            F.col("n_deleted").cast("long").alias("n_deleted"),
            F.col("n_after").cast("long").alias("n_after"),
            F.col("n_residual").cast("long").alias("n_residual"),
        )
    )


# ---------------------------------------------------------------------------
# CMS join-cardinality estimation (AGMS-style inner product)

from prosnet_prefect_pipelines_spark.operators import sketch as SK  # noqa: E402

_CMS_H1 = (
    "list_sum(list_transform(generate_series(1, 12), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(CAST(k AS VARCHAR) || '#cms1'), i, 1)) - 1 AS BIGINT)"
    " * CAST(power(16, 12 - i) AS BIGINT)))"
)
_CMS_H2 = _CMS_H1.replace("#cms1", "#cms2")

JOIN_CARD_SQL = f"""
WITH a AS (SELECT l_partkey AS k FROM lineitem),
b AS (SELECT p_partkey AS k FROM part WHERE p_size < 25)
, ah AS (SELECT k, {_CMS_H1} AS h1, {_CMS_H2} AS h2 FROM a)
, bh AS (SELECT k, {_CMS_H1} AS h1, {_CMS_H2} AS h2 FROM b)
, acms AS (
    SELECT d, (h1 + d * h2) % {SK.CMS_W} AS bucket, COUNT(*) AS ca
    FROM ah, generate_series(0, {SK.CMS_D - 1}) t(d) GROUP BY 1, 2
)
, bcms AS (
    SELECT d, (h1 + d * h2) % {SK.CMS_W} AS bucket, COUNT(*) AS cb
    FROM bh, generate_series(0, {SK.CMS_D - 1}) t(d) GROUP BY 1, 2
)
, ip AS (
    SELECT a.d, SUM(a.ca * b.cb) AS ip
    FROM acms a JOIN bcms b ON b.d = a.d AND b.bucket = a.bucket
    GROUP BY a.d
)
, est AS (SELECT CAST(MIN(ip) AS BIGINT) AS join_card_estimate FROM ip)
, act AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS join_card_actual
    FROM a JOIN b ON b.k = a.k
)
SELECT est.join_card_estimate, act.join_card_actual FROM est, act
"""


@register("join_cardinality_estimate", oracle=JOIN_CARD_SQL, covers=["A2", "J1"])
def q_join_cardinality_estimate(spark, sf_dir):
    """X-JOIN-CARD: AGMS-style join-size estimation off two 4 KB CMS
    summaries — bucket-wise inner product per hash row, MIN of the d
    upper bounds — next to the exact join count it predicts. The
    optimizer-tier primitive: choose broadcast vs shuffle vs
    pre-aggregation BEFORE paying for the join, from sketches that
    merge incrementally as data arrives."""
    from prosnet_prefect_pipelines_spark.session import fan_out

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    # the CMS hash is hex-parse-heavy per row and the local fact scan is
    # 3 row groups (7.9 s warm on 3 tasks -> ~2 s fanned); the fanned
    # frame is the single key column, so the shuffle is as narrow as a
    # shuffle gets — on a cluster the scan already arrives wide and this
    # is one cheap extra exchange of 8-byte keys
    a = fan_out(lineitem.select(F.col("l_partkey").alias("k")))
    b = part.filter(F.col("p_size") < 25).select(F.col("p_partkey").alias("k"))
    est = SK.cms_join_cardinality(SK.cms_build(a, "k"), SK.cms_build(b, "k"))
    act = a.join(b, on="k").agg(F.count(F.lit(1)).alias("join_card_actual"))
    return est.join(act).select(
        "join_card_estimate", F.col("join_card_actual").cast("long")
    )


# ---------------------------------------------------------------------------
# IVF-PQ asymmetric-distance top-k (the composed quantized-search path)

from prosnet_prefect_pipelines_spark.operators.similarity import ivf_pq_topk  # noqa: E402
from prosnet_prefect_pipelines_spark.plans.q_pipeline4 import (  # noqa: E402
    _PQ_SUB,
    _PQ_SUBDIM,
    _pq_subspace_sql,
)

_DOT64 = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _ivfpq_cos64(a: str, b: str) -> str:
    d = _DOT64.format(a=a, b=b)
    na = _DOT64.format(a=a, b=a)
    nb = _DOT64.format(a=b, b=b)
    return f"({d}) / (sqrt({na}) * sqrt({nb}))"


def _adc_sql(s: int, qcells: str = "cells") -> str:
    lo = s * _PQ_SUBDIM
    dot_q_cw = (
        f"list_reduce(list_transform(generate_series(1, {_PQ_SUBDIM}), "
        f"i -> CAST(q.embedding[{lo} + i] AS DOUBLE) * CAST(cb.cv[i] AS DOUBLE)), "
        "(x, y) -> x + y)"
    )
    norm2_cw = (
        "list_reduce(list_transform(cb.cv, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), "
        "(x, y) -> x + y)"
    )
    return f"""adc{s} AS (
    SELECT cq.id AS qid, o.id AS xid,
           CAST(round(({dot_q_cw}) * 1000000000.0) AS BIGINT) AS d_scaled,
           CAST(round(({norm2_cw}) * 1000000000.0) AS BIGINT) AS n2_scaled
    FROM embeddings q
    JOIN {qcells} cq ON cq.id = q.vec_id
    JOIN cells cx ON cx.cell = cq.cell AND cx.id <> cq.id
    JOIN out{s} o ON o.id = cx.id
    JOIN c{s}1 cb ON cb.cid = o.code
)"""


# shared CTE prefix: trainer replay + coarse cells + ADC scoring up to
# the `scored` frame — IVFPQ_SQL ranks it directly; PQ_RERANK_SQL (r12)
# widens to a candidate pool and re-ranks by exact cosine
_IVFPQ_CTES = (
    "WITH "
    + ",".join(_pq_subspace_sql(s) for s in range(_PQ_SUB))
    + f""",
coarse AS (
    SELECT vec_id AS cid, embedding AS cv
    FROM embeddings ORDER BY vec_id LIMIT 4
),
cells AS MATERIALIZED (
    SELECT id, cell FROM (
        SELECT e.vec_id AS id, c.cid AS cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_ivfpq_cos64('e.embedding', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN coarse c
    ) t WHERE rn = 1
),
"""
    + ",".join(_adc_sql(s) for s in range(_PQ_SUB))
    + f""",
pairs AS (
    SELECT qid, xid, SUM(d_scaled) AS ds, SUM(n2_scaled) AS ns
    FROM ({" UNION ALL ".join(f"SELECT * FROM adc{s}" for s in range(_PQ_SUB))}) u
    GROUP BY qid, xid
),
qn AS (
    SELECT vec_id AS qid, sqrt({_DOT64.format(a='embedding', b='embedding')}) AS qn
    FROM embeddings
),
scored AS (
    SELECT p.qid, p.xid,
           round((p.ds / 1000000000.0)
                 / (qn.qn * sqrt(p.ns / 1000000000.0)), 6) AS adc_cos
    FROM pairs p JOIN qn ON qn.qid = p.qid
)
"""
)

IVFPQ_SQL = (
    _IVFPQ_CTES
    + """
SELECT qid, xid, adc_cos FROM (
    SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY adc_cos DESC, xid) AS rn
    FROM scored
) t WHERE rn <= 3
"""
)


@register("ann_ivf_pq_topk", oracle=IVFPQ_SQL, covers=["O6", "J1", "O1"])
def q_ann_ivf_pq_topk(spark, sf_dir):
    """X-ANN-IVFPQ: the composed quantized-search scale path — IVF
    coarse cells bound candidates, PQ codes replace vectors, ADC scores
    cos(q, x̂) from per-subspace codeword dots (integer-scaled sums, so
    both engines agree bit-for-bit). After encoding, no candidate
    vector is ever read again — the property that makes billion-vector
    search feasible."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_pq_topk(
        emb, "vec_id", "embedding", dim=64,
        n_sub=_PQ_SUB, n_cells_coarse=4, n_cells_code=4, k=3,
        index=_pq_batch_index(spark, sf_dir),
    )


# the batch PQ queries (ADC top-k, two-stage rerank, nprobe=2) share
# ONE maintained index per (session, dataset) — the batch-115
# memoized-serving-structure pattern: in production the encoded index
# is a maintained artifact, so rebuilding it inside every query was
# measurement artifact, not workload (saved ~2.5-3 s warm per query;
# oracle hashes unchanged because the index is a pure function of the
# frozen inputs)
def _pq_batch_index(spark, sf_dir):
    return memo_fixture(
        spark, ("pq_batch_index", sf_dir), lambda: _build_pq_batch_index(spark, sf_dir)
    )


def _build_pq_batch_index(spark, sf_dir):
    from prosnet_prefect_pipelines_spark.operators.similarity import pq_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    xcodes, assign, cbs = pq_index(
        emb, "vec_id", "embedding", 64,
        n_sub=_PQ_SUB, n_cells_coarse=4, n_cells_code=4,
    )
    # the assembled index is checkpointed too, so the whole memoized
    # tuple is sweep-protected (assign and cbs already are checkpoints)
    return xcodes.localCheckpoint(eager=True), assign, cbs


# ADC candidate pool width the exact pass re-ranks. Default CHOSEN BY
# MEASUREMENT (r13 pool sweep, artifacts/sweep_rerank_pool_r13.jsonl +
# SCALE.md table): on the adversarial i.i.d. corpus, widening the pool
# 10 -> 50 took recall@3 from 90666 -> 276666 ppm (3.05x) for
# +0.41 s serving wall at sf0.1 (1.09 -> 1.50 s), while the nprobe
# dial alone bought only +12%; pool 50 -> 100 adds another 1.3x for
# +0.68 s — diminishing. The exact stage is a |queries| x pool keyed
# join, so at 100 TB its cost stays negligible next to the ADC scan —
# pool=50 is the recall-per-second knee and ships as the default; the
# recall-twin queries re-measure it every round.
_RERANK_POOL = 50

# shared exact-rerank tail over any CTE stack that ends in `scored`
# (qid, xid, adc_cos): pool by ADC, re-rank the pool by exact cosine
_RERANK_TAIL_SQL = f""",
rerank_cand AS (
    SELECT qid, xid FROM (
        SELECT *, row_number() OVER (
            PARTITION BY qid ORDER BY adc_cos DESC, xid) AS rn
        FROM scored
    ) t WHERE rn <= {_RERANK_POOL}
),
rerank_exact AS (
    SELECT c.qid, c.xid,
           round({_ivfpq_cos64('q.embedding', 'x.embedding')}, 6) AS cos
    FROM rerank_cand c
    JOIN embeddings q ON q.vec_id = c.qid
    JOIN embeddings x ON x.vec_id = c.xid
)
SELECT qid, xid, cos FROM (
    SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY cos DESC, xid) AS rn
    FROM rerank_exact
) t WHERE rn <= 3
"""

PQ_RERANK_SQL = _IVFPQ_CTES + _RERANK_TAIL_SQL


def _exact_top3(cand, emb, by):
    """(..., qid, xid) candidates -> the same rows plus ``cos``, their
    exact cosine on the original vectors (a keyed join per side, never
    a corpus pass), top-3 per ``by``."""
    from prosnet_prefect_pipelines_spark.operators.similarity import (
        cosine,
        top_k,
        vector_rows,
    )

    qv = vector_rows(emb, "vec_id", "embedding", ("qid", "_qv", "_qn"))
    xv = vector_rows(emb, "vec_id", "embedding", ("xid", "_xv", "_xn"))
    exact = cand.join(qv, on="qid").join(xv, on="xid").select(
        *cand.columns,
        cosine(
            F.col("_qv"), F.col("_xv"), na=F.col("_qn"), nb=F.col("_xn")
        ).alias("cos"),
    )
    return top_k(exact, by, "cos", "xid", 3)


def _rerank_exact_topk(spark, sf_dir, nprobe: int = 1, pool: int | None = None):
    """Shared two-stage retrieval body: ADC candidate pool of width
    ``pool`` from the memoized batch index at the given ``nprobe``,
    re-ranked by exact cosine on the original vectors (the only place
    raw vectors are read after encoding — a |queries| x pool keyed
    join, never a corpus pass), exact top-3 out."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cand = ivf_pq_topk(
        emb, "vec_id", "embedding", dim=64,
        n_sub=_PQ_SUB, n_cells_coarse=4, n_cells_code=4,
        k=pool or _RERANK_POOL, nprobe=nprobe,
        index=_pq_batch_index(spark, sf_dir),
    ).select("qid", "xid")
    return _exact_top3(cand, emb, "qid").select("qid", "xid", "cos")


@register("pq_rerank_topk", oracle=PQ_RERANK_SQL, covers=["O6", "J1", "O1"])
def q_pq_rerank_topk(spark, sf_dir):
    """X-PQ-RERANK (r12; pool widened by the r13 measured sweep): the
    two-stage retrieval pattern every production quantized server runs
    — a WIDE candidate pool ranked by cheap integer ADC over codes
    (stage 1: LUT scoring, top-_RERANK_POOL per query), then exact
    cosine on the ORIGINAL vectors for just that pool (stage 2: the
    only place raw vectors are read after encoding — a |queries| x
    pool keyed join, never a corpus pass). Recovers most of the
    quantization loss pq_recall_report measures on the pure-ADC path
    at pool exact cosines per query (measured: 276666 ppm at pool=50
    vs 90666 at the r12 pool=10 — the sweep table in SCALE.md).
    Stage-1 plan is ivf_pq_topk's (broadcast codebook LUT, positional
    codes, size-gated index join); stage 2 is two keyed joins against
    the vector table."""
    return _rerank_exact_topk(spark, sf_dir, nprobe=1)


# nprobe=2 variant: the query side keeps its TWO nearest coarse cells
# (the coverage dial); the index side stays in its rank-1 home cell, so
# a candidate pair still appears exactly once per subspace
_IVFPQ_NPROBE2_CTES = (
    "WITH "
    + ",".join(_pq_subspace_sql(s) for s in range(_PQ_SUB))
    + f""",
coarse AS (
    SELECT vec_id AS cid, embedding AS cv
    FROM embeddings ORDER BY vec_id LIMIT 4
),
cells AS MATERIALIZED (
    SELECT id, cell FROM (
        SELECT e.vec_id AS id, c.cid AS cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_ivfpq_cos64('e.embedding', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN coarse c
    ) t WHERE rn = 1
),
qcells2 AS MATERIALIZED (
    SELECT id, cell FROM (
        SELECT e.vec_id AS id, c.cid AS cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_ivfpq_cos64('e.embedding', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN coarse c
    ) t WHERE rn <= 2
),
"""
    + ",".join(_adc_sql(s, qcells="qcells2") for s in range(_PQ_SUB))
    + f""",
pairs AS (
    SELECT qid, xid, SUM(d_scaled) AS ds, SUM(n2_scaled) AS ns
    FROM ({" UNION ALL ".join(f"SELECT * FROM adc{s}" for s in range(_PQ_SUB))}) u
    GROUP BY qid, xid
),
qn AS (
    SELECT vec_id AS qid, sqrt({_DOT64.format(a='embedding', b='embedding')}) AS qn
    FROM embeddings
),
scored AS (
    SELECT p.qid, p.xid,
           round((p.ds / 1000000000.0)
                 / (qn.qn * sqrt(p.ns / 1000000000.0)), 6) AS adc_cos
    FROM pairs p JOIN qn ON qn.qid = p.qid
)
"""
)

IVFPQ_NPROBE2_SQL = (
    _IVFPQ_NPROBE2_CTES
    + """
SELECT qid, xid, adc_cos FROM (
    SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY adc_cos DESC, xid) AS rn
    FROM scored
) t WHERE rn <= 3
"""
)


@register("ann_ivf_pq_nprobe2", oracle=IVFPQ_NPROBE2_SQL,
          covers=["O6", "J1", "O1"])
def q_ann_ivf_pq_nprobe2(spark, sf_dir):
    """The nprobe dial, exercised (r12): identical IVF-PQ LUT ADC path
    but each QUERY probes its two nearest coarse cells — candidate
    volume doubles, coverage misses halve-ish, and the recall gauge
    twin (pq_recall_nprobe2_report) measures exactly what the second
    probe buys. The index side stays home-cell-only, so candidates
    stay unique and the maintained structure is unchanged — nprobe is
    a pure QUERY-TIME knob, which is why it is the first lever a
    serving operator turns."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_pq_topk(
        emb, "vec_id", "embedding", dim=64,
        n_sub=_PQ_SUB, n_cells_coarse=4, n_cells_code=4, k=3, nprobe=2,
        index=_pq_batch_index(spark, sf_dir),
    )


PQ_RECALL_NPROBE2_SQL = f"""
WITH exact_pairs AS (
    SELECT x.vec_id AS qid, y.vec_id AS xid,
           round({_ivfpq_cos64('x.embedding', 'y.embedding')}, 6) AS cos
    FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id
),
exact_topk AS (
    SELECT qid, xid FROM (
        SELECT qid, xid,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, xid) AS rn
        FROM exact_pairs
    ) t WHERE rn <= 3
),
approx_topk AS (SELECT qid, xid FROM ({IVFPQ_NPROBE2_SQL.strip()}) a)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN a.xid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit,
       CAST(SUM(CASE WHEN a.xid IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS recall_ppm
FROM exact_topk e
LEFT JOIN approx_topk a ON e.qid = a.qid AND e.xid = a.xid
"""


@register("pq_recall_nprobe2_report", oracle=PQ_RECALL_NPROBE2_SQL,
          covers=["O6", "A2"])
def q_pq_recall_nprobe2_report(spark, sf_dir):
    """Recall@3 of the nprobe=2 ADC path vs exact brute force — the
    third point on the recall dial next to pq_recall_report (nprobe=1)
    and pq_rerank_recall_report (nprobe=1 + exact rerank): coverage
    gained by probing one more cell, measured instead of assumed.

    Measured finding (sf0.01): 30000 ppm vs nprobe=1's 32000 — FLAT.
    On this corpus the second probe's candidates enter with
    quantization-inflated ADC scores and displace true neighbors from
    the top-3 as fast as coverage adds them: with 4-codeword-per-
    subspace codebooks the within-pool RANKING error dominates, so
    nprobe only pays when paired with the exact rerank stage (which
    eliminates that error by construction — pq_rerank_recall_report's
    8.6x at the measured pool=50 default). This is precisely why
    production servers tune (nprobe, rerank-pool) TOGETHER, and why
    these gauges exist as queries rather than assumptions."""
    from prosnet_prefect_pipelines_spark.operators.similarity import (
        cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk(emb, "vec_id", "embedding", k=3, dim=64).select(
        F.col("id").alias("qid"), F.col("neighbor").alias("xid")
    )
    approx = q_ann_ivf_pq_nprobe2(spark, sf_dir).select(
        F.col("qid").alias("a_qid"), F.col("xid").alias("a_xid")
    )
    joined = exact.join(
        approx,
        (exact["qid"] == approx["a_qid"]) & (exact["xid"] == approx["a_xid"]),
        "left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.when(F.col("a_xid").isNotNull(), 1).otherwise(0)).alias(
            "n_hit"
        ),
        F.expr(
            "CAST(sum(CASE WHEN a_xid IS NOT NULL THEN 1 ELSE 0 END) * 1000000"
            " div count(1) AS BIGINT)"
        ).alias("recall_ppm"),
    )


# the composed production configuration (r13, closing the r10 verdict's
# item 4): nprobe=2 coverage AND the exact rerank stage together — the
# two dials that were each measured alone and each found insufficient
# (nprobe-alone FLAT at 30000 ppm because quantization-inflated scores
# displace true neighbors; rerank-alone capped by the unprobed cell's
# coverage misses — 90666 ppm at the r12 pool=10, 276666 at pool=50)
PQ_RERANK_NPROBE2_SQL = _IVFPQ_NPROBE2_CTES + _RERANK_TAIL_SQL


@register("pq_rerank_nprobe2_topk", oracle=PQ_RERANK_NPROBE2_SQL,
          covers=["O6", "J1", "O1"])
def q_pq_rerank_nprobe2_topk(spark, sf_dir):
    """The production serving configuration: both dials composed.
    Stage 1 probes each query's TWO nearest coarse cells (coverage:
    the true neighbor's cell is in the pool ~2x as often) and pools
    the ADC top-_RERANK_POOL; stage 2 re-ranks that pool by exact
    cosine
    (eliminating the within-pool quantization ranking error that made
    nprobe-alone flat). Same maintained index, same |queries| x pool
    exact stage — the second probe only widens the cheap integer ADC
    scan, which is why production servers tune (nprobe, rerank-pool)
    together and ship exactly this shape."""
    return _rerank_exact_topk(spark, sf_dir, nprobe=2)


PQ_RERANK_NPROBE2_RECALL_SQL = f"""
WITH exact_pairs AS (
    SELECT x.vec_id AS qid, y.vec_id AS xid,
           round({_ivfpq_cos64('x.embedding', 'y.embedding')}, 6) AS cos
    FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id
),
exact_topk AS (
    SELECT qid, xid FROM (
        SELECT qid, xid,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, xid) AS rn
        FROM exact_pairs
    ) t WHERE rn <= 3
),
approx_topk AS (SELECT qid, xid FROM ({PQ_RERANK_NPROBE2_SQL.strip()}) a)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN a.xid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit,
       CAST(SUM(CASE WHEN a.xid IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS recall_ppm
FROM exact_topk e
LEFT JOIN approx_topk a ON e.qid = a.qid AND e.xid = a.xid
"""


@register("pq_rerank_nprobe2_recall_report",
          oracle=PQ_RERANK_NPROBE2_RECALL_SQL, covers=["O6", "A2"])
def q_pq_rerank_nprobe2_recall_report(spark, sf_dir):
    """Recall@3 of the composed (nprobe=2 + exact rerank) path — the
    final point on the measured recall grid: 32000 ppm pure ADC,
    30000 nprobe=2-alone, then at the r13 measured default pool=50:
    276666 rerank-alone and 314666 composed (at the r12 pool=10 the
    same ordering held: 90666 -> 101333; at pool=100 the composition
    reaches 472666 — SCALE.md table). The delta over
    pq_rerank_recall_report is exactly the coverage the second probe
    recovers once the rerank stage has removed the ranking error that
    masked it — the measured justification for shipping the dials
    together."""
    from prosnet_prefect_pipelines_spark.operators.similarity import (
        cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk(emb, "vec_id", "embedding", k=3, dim=64).select(
        F.col("id").alias("qid"), F.col("neighbor").alias("xid")
    )
    approx = q_pq_rerank_nprobe2_topk(spark, sf_dir).select(
        F.col("qid").alias("a_qid"), F.col("xid").alias("a_xid")
    )
    joined = exact.join(
        approx,
        (exact["qid"] == approx["a_qid"]) & (exact["xid"] == approx["a_xid"]),
        "left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.when(F.col("a_xid").isNotNull(), 1).otherwise(0)).alias(
            "n_hit"
        ),
        F.expr(
            "CAST(sum(CASE WHEN a_xid IS NOT NULL THEN 1 ELSE 0 END) * 1000000"
            " div count(1) AS BIGINT)"
        ).alias("recall_ppm"),
    )


PQ_RECALL_SQL = f"""
WITH exact_pairs AS (
    SELECT x.vec_id AS qid, y.vec_id AS xid,
           round({_ivfpq_cos64('x.embedding', 'y.embedding')}, 6) AS cos
    FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id
),
exact_topk AS (
    SELECT qid, xid FROM (
        SELECT qid, xid,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, xid) AS rn
        FROM exact_pairs
    ) t WHERE rn <= 3
),
approx_topk AS (SELECT qid, xid FROM ({IVFPQ_SQL.strip()}) a)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN a.xid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit,
       CAST(SUM(CASE WHEN a.xid IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS recall_ppm
FROM exact_topk e
LEFT JOIN approx_topk a ON e.qid = a.qid AND e.xid = a.xid
"""


@register("pq_recall_report", oracle=PQ_RECALL_SQL, covers=["O6", "A2"])
def q_pq_recall_report(spark, sf_dir):
    """Recall instrumentation for the QUANTIZED serving tier (r12 —
    the quality gauge next to the LUT speed fix): exact brute-force
    cosine top-3 left-joined against the IVF-PQ ADC top-3, recall in
    integer ppm. This is the dial for (n_sub, n_cells_code, nprobe):
    the quantization loss the 14x candidate-scoring speedup and ~30x
    byte shrink pay for is MEASURED every round, not assumed — the
    same discipline ann_recall_report applies to the LSH tier. At
    deployment scale the exact side runs on a sampled query panel
    (brute force is the verification tier); both sides here compose
    already-oracled queries, one keyed join + one count.

    Measured context (sf0.01): 32000 ppm — like ann_recall_report's
    19%, this corpus is i.i.d. random vectors (the adversarial case:
    nearest neighbors sit near 90 deg) probed with nprobe=1 over 4
    coarse cells, so COVERAGE misses dominate; real clustered
    embeddings + production nprobe/cells lift this steeply, and the
    rerank twin (pq_rerank_recall_report: 276666 ppm at the measured
    pool=50 default, 8.6x) shows the within-pool ranking error
    separately."""
    from prosnet_prefect_pipelines_spark.operators.similarity import (
        cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk(emb, "vec_id", "embedding", k=3, dim=64).select(
        F.col("id").alias("qid"), F.col("neighbor").alias("xid")
    )
    approx = q_ann_ivf_pq_topk(spark, sf_dir).select(
        F.col("qid").alias("a_qid"), F.col("xid").alias("a_xid")
    )
    joined = exact.join(
        approx,
        (exact["qid"] == approx["a_qid"]) & (exact["xid"] == approx["a_xid"]),
        "left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.when(F.col("a_xid").isNotNull(), 1).otherwise(0)).alias(
            "n_hit"
        ),
        F.expr(
            "CAST(sum(CASE WHEN a_xid IS NOT NULL THEN 1 ELSE 0 END) * 1000000"
            " div count(1) AS BIGINT)"
        ).alias("recall_ppm"),
    )


PQ_RERANK_RECALL_SQL = f"""
WITH exact_pairs AS (
    SELECT x.vec_id AS qid, y.vec_id AS xid,
           round({_ivfpq_cos64('x.embedding', 'y.embedding')}, 6) AS cos
    FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id
),
exact_topk AS (
    SELECT qid, xid FROM (
        SELECT qid, xid,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, xid) AS rn
        FROM exact_pairs
    ) t WHERE rn <= 3
),
approx_topk AS (SELECT qid, xid FROM ({PQ_RERANK_SQL.strip()}) a)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN a.xid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit,
       CAST(SUM(CASE WHEN a.xid IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS recall_ppm
FROM exact_topk e
LEFT JOIN approx_topk a ON e.qid = a.qid AND e.xid = a.xid
"""


@register("pq_rerank_recall_report", oracle=PQ_RERANK_RECALL_SQL,
          covers=["O6", "A2"])
def q_pq_rerank_recall_report(spark, sf_dir):
    """Recall recovery of the two-stage pattern, measured next to the
    pure-ADC gauge: exact brute-force top-3 left-joined against the
    rerank top-3. Misses that remain are COVERAGE misses (the true
    neighbor's cell was never probed / it fell outside the ADC top-10
    pool) — the quantization RANKING error inside the pool is gone by
    construction, so the gap between this number and
    pq_recall_report's is exactly what 10 exact cosines per query buy,
    and the residual is the nprobe/pool dial."""
    from prosnet_prefect_pipelines_spark.operators.similarity import (
        cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk(emb, "vec_id", "embedding", k=3, dim=64).select(
        F.col("id").alias("qid"), F.col("neighbor").alias("xid")
    )
    approx = q_pq_rerank_topk(spark, sf_dir).select(
        F.col("qid").alias("a_qid"), F.col("xid").alias("a_xid")
    )
    joined = exact.join(
        approx,
        (exact["qid"] == approx["a_qid"]) & (exact["xid"] == approx["a_xid"]),
        "left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.when(F.col("a_xid").isNotNull(), 1).otherwise(0)).alias(
            "n_hit"
        ),
        F.expr(
            "CAST(sum(CASE WHEN a_xid IS NOT NULL THEN 1 ELSE 0 END) * 1000000"
            " div count(1) AS BIGINT)"
        ).alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# closed-form regression / correlation from exact sums

OLS_SQL = """
WITH pts AS (
    SELECT event_type,
           epoch_us(ts) // 3600000000 AS x,
           CAST(round(value * 1000000) AS BIGINT) AS y
    FROM events
),
sums AS (
    SELECT event_type,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx,
           CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(x * y) AS HUGEINT) AS sxy,
           CAST(SUM(x * x) AS HUGEINT) AS sxx
    FROM pts GROUP BY event_type
)
SELECT event_type,
       CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
           AS slope_micro_per_hour,
       CAST((sy * sxx - sx * sxy) // (n * sxx - sx * sx) AS BIGINT)
           AS intercept_micro
FROM sums
"""


@register("ols_trend", oracle=OLS_SQL, covers=["A2"])
def q_ols_trend(spark, sf_dir):
    """X-OLS: per-group least-squares trend from the five classic sums —
    slope = (nSxy - SxSy)/(nSxx - Sx^2) over (hour index, micro-scaled
    value), all sums exact integers (DECIMAL accumulators), the division
    a truncating `div`. One map-side-combined aggregation per group; the
    closed form is why OLS scales where iterative fitters don't."""
    from prosnet_prefect_pipelines_spark.plans.q_streaming import read_events

    ev = read_events(spark, sf_dir)
    pts = ev.select(
        "event_type",
        F.expr("ts_us div 3600000000").alias("x"),
        F.round(F.col("value") * 1000000).cast("long").alias("y"),
    )
    # operands cast to DECIMAL BEFORE products — overflow insurance at
    # 100 TB row counts (see pearson_corr)
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    sums = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
    )
    return sums.select(
        "event_type",
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000 AS DECIMAL(38,0)) div (n * sxx - sx * sx)"
        ).alias("slope_micro_per_hour"),
        F.expr(
            "CAST(sy * sxx - sx * sxy AS DECIMAL(38,0)) div (n * sxx - sx * sx)"
        ).alias("intercept_micro"),
    )


CORR_SQL = """
WITH pts AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS HUGEINT) AS x,
           CAST(round(value * 1000000) AS HUGEINT) AS y
    FROM events
),
sums AS (
    SELECT event_type,
           CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM pts GROUP BY event_type
)
SELECT event_type,
       CAST(FLOOR(
           CAST(n * sxy - sx * sy AS DOUBLE)
           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
           / sqrt(CAST(n * syy - sy * sy AS DOUBLE))
           * 1000000) AS BIGINT) AS pearson_micro
FROM sums
"""


@register("pearson_corr", oracle=CORR_SQL, covers=["A2"])
def q_pearson_corr(spark, sf_dir):
    """X-CORR: per-group Pearson correlation from the six exact sums —
    numerator and variances are exact integers (DECIMAL accumulators),
    the final sqrt/divide chain is deterministic single IEEE ops, and
    FLOOR-scaling pins the surface. Same one-aggregation scale shape as
    X-OLS (closed forms beat iterative fitters at 100 TB)."""
    from prosnet_prefect_pipelines_spark.plans.q_streaming import read_events

    ev = read_events(spark, sf_dir)
    pts = ev.select(
        "event_type",
        F.expr("ts_us div 3600000000").alias("x"),
        F.round(F.col("value") * 1000000).cast("long").alias("y"),
    )
    # operands cast to DECIMAL BEFORE the product: y ~ 1e8 squared
    # overflows BIGINT long before the sum would
    yd = F.col("y").cast("decimal(38,0)")
    xd = F.col("x").cast("decimal(38,0)")
    sums = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
    )
    return sums.select(
        "event_type",
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
            / F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
            * 1000000
        )
        .cast("long")
        .alias("pearson_micro"),
    )


# ---------------------------------------------------------------------------
# recall-SLO autotuner (r13 stretch): close the loop the rebalance
# planner opened — pick (nprobe, rerank-pool) from MEASURED recall
# gauges, not guesswork

# the candidate grid the tuner evaluates in one pass (a VALUES inline
# table both engines cross-join against the shared scored frame)
_AUTOTUNE_CONFIGS = [(1, 10), (1, 50), (2, 10), (2, 50)]
_AUTOTUNE_SLO_PPM = 250_000
# cost model: one ADC candidate = n_sub LUT reads+adds; one exact
# rerank cosine = dim mul-adds + norms ~ 32x that at dim=64/n_sub=4.
# Deterministic integer weights so both engines agree bit-for-bit.
_AUTOTUNE_EXACT_WEIGHT = 32


def _adc_rank_sql(s: int) -> str:
    """_adc_sql against the rank-carrying probe table ``qcells2r``:
    each candidate keeps the rank of its home cell among the query's
    probed cells (1 = home probe, 2 = second probe), so one scored
    frame serves every nprobe config."""
    lo = s * _PQ_SUBDIM
    dot_q_cw = (
        f"list_reduce(list_transform(generate_series(1, {_PQ_SUBDIM}), "
        f"i -> CAST(q.embedding[{lo} + i] AS DOUBLE) * CAST(cb.cv[i] AS DOUBLE)), "
        "(x, y) -> x + y)"
    )
    norm2_cw = (
        "list_reduce(list_transform(cb.cv, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), "
        "(x, y) -> x + y)"
    )
    return f"""adcr{s} AS (
    SELECT cq.id AS qid, o.id AS xid, cq.qrank AS qrank,
           CAST(round(({dot_q_cw}) * 1000000000.0) AS BIGINT) AS d_scaled,
           CAST(round(({norm2_cw}) * 1000000000.0) AS BIGINT) AS n2_scaled
    FROM embeddings q
    JOIN qcells2r cq ON cq.id = q.vec_id
    JOIN cells cx ON cx.cell = cq.cell AND cx.id <> cq.id
    JOIN out{s} o ON o.id = cx.id
    JOIN c{s}1 cb ON cb.cid = o.code
)"""


AUTOTUNE_SQL = (
    "WITH "
    + ",".join(_pq_subspace_sql(s) for s in range(_PQ_SUB))
    + f""",
coarse AS (
    SELECT vec_id AS cid, embedding AS cv
    FROM embeddings ORDER BY vec_id LIMIT 4
),
cells AS MATERIALIZED (
    SELECT id, cell FROM (
        SELECT e.vec_id AS id, c.cid AS cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_ivfpq_cos64('e.embedding', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN coarse c
    ) t WHERE rn = 1
),
qcells2r AS MATERIALIZED (
    SELECT id, cell, rn AS qrank FROM (
        SELECT e.vec_id AS id, c.cid AS cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_ivfpq_cos64('e.embedding', 'c.cv')}, 6) DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN coarse c
    ) t WHERE rn <= 2
),
"""
    + ",".join(_adc_rank_sql(s) for s in range(_PQ_SUB))
    + f""",
pairsr AS (
    SELECT qid, xid, MIN(qrank) AS qrank,
           SUM(d_scaled) AS ds, SUM(n2_scaled) AS ns
    FROM ({" UNION ALL ".join(f"SELECT * FROM adcr{s}" for s in range(_PQ_SUB))}) u
    GROUP BY qid, xid
),
qn AS (
    SELECT vec_id AS qid, sqrt({_DOT64.format(a='embedding', b='embedding')}) AS qn
    FROM embeddings
),
scoredr AS (
    SELECT p.qid, p.xid, p.qrank,
           round((p.ds / 1000000000.0)
                 / (qn.qn * sqrt(p.ns / 1000000000.0)), 6) AS adc_cos
    FROM pairsr p JOIN qn ON qn.qid = p.qid
),
configs AS (
    SELECT * FROM (VALUES {", ".join(f"({np}, {pool})" for np, pool in _AUTOTUNE_CONFIGS)}) t(np, pool)
),
cand_all AS (
    SELECT c.np, c.pool, s.qid, s.xid, s.adc_cos
    FROM scoredr s JOIN configs c ON s.qrank <= c.np
),
adc_counts AS (
    SELECT np, pool, CAST(COUNT(*) AS BIGINT) AS adc_rows
    FROM cand_all GROUP BY np, pool
),
pooled AS (
    SELECT np, pool, qid, xid FROM (
        SELECT *, row_number() OVER (
            PARTITION BY np, pool, qid ORDER BY adc_cos DESC, xid) AS rn
        FROM cand_all
    ) t WHERE rn <= pool
),
rerank_counts AS (
    SELECT np, pool, CAST(COUNT(*) AS BIGINT) AS rerank_rows
    FROM pooled GROUP BY np, pool
),
reranked AS (
    SELECT p.np, p.pool, p.qid, p.xid,
           round({_ivfpq_cos64('q.embedding', 'x.embedding')}, 6) AS cos
    FROM pooled p
    JOIN embeddings q ON q.vec_id = p.qid
    JOIN embeddings x ON x.vec_id = p.xid
),
approx3 AS (
    SELECT np, pool, qid, xid FROM (
        SELECT *, row_number() OVER (
            PARTITION BY np, pool, qid ORDER BY cos DESC, xid) AS rn
        FROM reranked
    ) t WHERE rn <= 3
),
exact_pairs AS (
    SELECT x.vec_id AS qid, y.vec_id AS xid,
           round({_ivfpq_cos64('x.embedding', 'y.embedding')}, 6) AS cos
    FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id
),
exact_topk AS (
    SELECT qid, xid FROM (
        SELECT qid, xid,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, xid) AS rn
        FROM exact_pairs
    ) t WHERE rn <= 3
),
recall AS (
    SELECT c.np, c.pool,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.xid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit
    FROM exact_topk e CROSS JOIN configs c
    LEFT JOIN approx3 a
        ON a.np = c.np AND a.pool = c.pool
       AND a.qid = e.qid AND a.xid = e.xid
    GROUP BY c.np, c.pool
),
report AS (
    SELECT r.np, r.pool, ac.adc_rows, rc.rerank_rows,
           CAST(r.n_hit * 1000000 // r.n_exact AS BIGINT) AS recall_ppm,
           CAST(ac.adc_rows + {_AUTOTUNE_EXACT_WEIGHT} * rc.rerank_rows
                AS BIGINT) AS cost_units,
           (r.n_hit * 1000000 // r.n_exact) >= {_AUTOTUNE_SLO_PPM}
               AS meets_slo
    FROM recall r
    JOIN adc_counts ac ON ac.np = r.np AND ac.pool = r.pool
    JOIN rerank_counts rc ON rc.np = r.np AND rc.pool = r.pool
)
SELECT CAST(np AS INTEGER) AS nprobe, CAST(pool AS INTEGER) AS pool,
       adc_rows, rerank_rows, recall_ppm, cost_units, meets_slo,
       row_number() OVER (
           ORDER BY meets_slo DESC,
                    CASE WHEN meets_slo THEN cost_units
                         ELSE -recall_ppm END,
                    np, pool) = 1 AS chosen
FROM report
"""
)


@register("ann_autotune_plan", oracle=AUTOTUNE_SQL,
          covers=["O6", "A2", "J4"])
def q_ann_autotune_plan(spark, sf_dir):
    """X-ANN-AUTOTUNE (r13 stretch): the recall-SLO autotuner — the
    serving-config loop-closer next to ann_rebalance_plan's centroid
    loop. One pass scores the ADC candidates ONCE with each
    candidate's probe rank attached (a candidate's home cell is rank 1
    or 2 among the query's nearest cells), then evaluates the whole
    (nprobe, pool) grid from that shared frame: per config, the ADC
    pool, the exact rerank of just that pool, recall@3 vs brute force,
    an analytic cost (adc_rows + 32 * rerank_rows — LUT reads vs
    full-dim cosines), and a deterministic choice: the cheapest config
    meeting the 250000 ppm SLO, else max recall.
    At 100 TB the exact side runs on a sampled query panel (this is
    the gauge tier, same as the recall reports) while the chosen
    (nprobe, pool) feeds the serving path directly — configuration by
    measurement, like the rebalance planner's split/merge decisions.
    The choice window orders a CONFIG-GRID table (4 rows, inline
    VALUES) — bounded cardinality by construction."""
    from pyspark.sql.window import Window

    from prosnet_prefect_pipelines_spark.operators.similarity import (
        adc_cos_lut,
        cosine_topk,
        ivf_assign,
        norm as _norm,
        pq_codebook_array,
        pq_index_side,
        pq_query_lut,
        top_k,
    )
    from prosnet_prefect_pipelines_spark.session import fan_out

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    xcodes, assign, cbs = _pq_batch_index(spark, sf_dir)

    # query side with probe rank: ivf_assign(rank_limit=2) keeps each
    # query's two nearest cells tagged cell_rank 1/2
    qside = ivf_assign(emb, "vec_id", "embedding", n_cells=4, rank_limit=2)
    qarr = (
        fan_out(qside)
        .crossJoin(F.broadcast(pq_codebook_array(cbs)))
        .select(
            F.col("id").alias("qid"),
            "cell",
            F.col("cell_rank").alias("qrank"),
            _norm(F.col("v")).alias("qn"),
            pq_query_lut(F.col("v"), F.col("_cbarr"), 64, _PQ_SUB).alias(
                "_qlut"
            ),
        )
    )
    # same size-gated index join as ivf_pq_topk
    xside = pq_index_side(xcodes, assign.count(), _PQ_SUB)
    scored = (
        qarr.join(xside, on="cell")
        .filter(F.col("qid") != F.col("xid"))
        .select("qid", "xid", "qrank", adc_cos_lut(_PQ_SUB).alias("adc_cos"))
    )

    configs = local_frame(spark, _AUTOTUNE_CONFIGS, "np int, pool int")
    cand_all = scored.join(
        F.broadcast(configs), F.col("qrank") <= F.col("np")
    ).select("np", "pool", "qid", "xid", "adc_cos")
    adc_counts = cand_all.groupBy("np", "pool").agg(
        F.count(F.lit(1)).cast("long").alias("adc_rows")
    )
    pooled = top_k(
        cand_all, ["np", "pool", "qid"], "adc_cos", "xid", F.col("pool")
    ).select("np", "pool", "qid", "xid")
    rerank_counts = pooled.groupBy("np", "pool").agg(
        F.count(F.lit(1)).cast("long").alias("rerank_rows")
    )
    approx3 = (
        _exact_top3(pooled, emb, ["np", "pool", "qid"])
        .select(
            F.col("np").alias("a_np"),
            F.col("pool").alias("a_pool"),
            F.col("qid").alias("a_qid"),
            F.col("xid").alias("a_xid"),
        )
    )
    exact = cosine_topk(emb, "vec_id", "embedding", k=3, dim=64).select(
        F.col("id").alias("qid"), F.col("neighbor").alias("xid")
    )
    recall = (
        exact.crossJoin(F.broadcast(configs))
        .join(
            approx3,
            (F.col("np") == F.col("a_np"))
            & (F.col("pool") == F.col("a_pool"))
            & (F.col("qid") == F.col("a_qid"))
            & (F.col("xid") == F.col("a_xid")),
            "left",
        )
        .groupBy("np", "pool")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.when(F.col("a_xid").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hit"),
        )
    )
    report = (
        recall.join(adc_counts, on=["np", "pool"])
        .join(rerank_counts, on=["np", "pool"])
        .select(
            "np",
            "pool",
            "adc_rows",
            "rerank_rows",
            F.expr("CAST(n_hit * 1000000 div n_exact AS BIGINT)").alias(
                "recall_ppm"
            ),
            (
                F.col("adc_rows")
                + F.lit(_AUTOTUNE_EXACT_WEIGHT) * F.col("rerank_rows")
            )
            .cast("long")
            .alias("cost_units"),
            F.expr(
                f"(n_hit * 1000000 div n_exact) >= {_AUTOTUNE_SLO_PPM}"
            ).alias("meets_slo"),
        )
    )
    # config-grid choice window: 4 inline-VALUES rows — bounded
    # cardinality by construction (audit class: config table)
    wchoice = Window.orderBy(
        F.col("meets_slo").desc(),
        F.when(F.col("meets_slo"), F.col("cost_units")).otherwise(
            -F.col("recall_ppm")
        ),
        F.col("np"),
        F.col("pool"),
    )
    return report.select(
        F.col("np").cast("int").alias("nprobe"),
        F.col("pool").cast("int").alias("pool"),
        "adc_rows",
        "rerank_rows",
        "recall_ppm",
        "cost_units",
        "meets_slo",
        (F.row_number().over(wchoice) == 1).alias("chosen"),
    )
