"""Training-data pipeline queries, batch 6 (north-star extension):
blocked record-linkage scoring, small-file compaction planning, and
per-group winsorization.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import sampling as SA
from prosnet_prefect_pipelines_spark.operators.aggregates import exact_quantiles
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# ---------------------------------------------------------------------------
# blocked record linkage (Fellegi-Sunter-shaped integer scoring)

LINKAGE_SQL = """
WITH clean AS (
    SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
           c_mktsegment AS seg
    FROM customer
),
dirty AS (
    SELECT c_custkey + 500000 AS id,
           CASE WHEN c_custkey % 4 = 0
                THEN substr(c_name, 1, length(c_name) - 1) || 'X'
                ELSE c_name END AS name,
           c_nationkey AS nat,
           CASE WHEN c_custkey % 5 = 0 THEN 'OTHER' ELSE c_mktsegment END AS seg,
           c_custkey AS true_id
    FROM customer
),
pairs AS (
    SELECT a.id AS clean_id, b.id AS dirty_id, b.true_id,
           CASE WHEN a.name = b.name THEN 40 ELSE 0 END
         + CASE WHEN a.name <> b.name AND levenshtein(a.name, b.name) <= 2
                THEN 25 ELSE 0 END
         + CASE WHEN a.seg = b.seg THEN 15 ELSE 0 END
         + CASE WHEN a.nat = b.nat THEN 10 ELSE 0 END AS score
    FROM clean a JOIN dirty b
      ON a.nat = b.nat AND substr(a.name, 10, 7) = substr(b.name, 10, 7)
)
SELECT clean_id, dirty_id, CAST(score AS BIGINT) AS score,
       clean_id = true_id AS is_true_match
FROM pairs WHERE score >= 50
"""


@register("record_linkage", oracle=LINKAGE_SQL, covers=["J9", "J1", "P3"])
def q_record_linkage(spark, sf_dir):
    """X-LINKAGE: blocked record-linkage scoring — the prosopographical
    core task (same person, two registries) industrialized: block on
    (nation, 7-digit id-prefix of the name — chosen to DISCRIMINATE:
    a constant-prefix key degenerates every block to its nation and the
    join goes quadratic) so candidate pairs stay near-linear, score
    with integer field-agreement weights (exact name / edit-distance<=2
    / segment / nation), threshold into match candidates. Levenshtein
    runs ONLY inside blocks — never all-pairs."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    clean = cust.select(
        k.alias("id"), F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"), F.col("c_mktsegment").alias("seg"),
    )
    dirty = cust.select(
        (k + 500000).alias("id"),
        F.when(
            k % 4 == 0,
            F.concat(F.expr("substr(c_name, 1, length(c_name) - 1)"), F.lit("X")),
        ).otherwise(F.col("c_name")).alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.when(k % 5 == 0, F.lit("OTHER")).otherwise(F.col("c_mktsegment")).alias("seg"),
        k.alias("true_id"),
    )
    a, b = clean.alias("a"), dirty.alias("b")
    pairs = a.join(
        b,
        (F.col("a.nat") == F.col("b.nat"))
        & (F.expr("substr(a.name, 10, 7)") == F.expr("substr(b.name, 10, 7)")),
    )
    score = (
        F.when(F.col("a.name") == F.col("b.name"), 40).otherwise(0)
        + F.when(
            (F.col("a.name") != F.col("b.name"))
            & (F.levenshtein(F.col("a.name"), F.col("b.name")) <= 2),
            25,
        ).otherwise(0)
        + F.when(F.col("a.seg") == F.col("b.seg"), 15).otherwise(0)
        + F.lit(10)  # nat always agrees inside the block
    )
    return (
        pairs.select(
            F.col("a.id").alias("clean_id"),
            F.col("b.id").alias("dirty_id"),
            score.cast("long").alias("score"),
            (F.col("a.id") == F.col("b.true_id")).alias("is_true_match"),
        )
        .filter(F.col("score") >= 50)
    )


# ---------------------------------------------------------------------------
# small-file compaction planning

_TARGET_KB = 64

COMPACTION_SQL = f"""
WITH files AS (
    SELECT source, doc_id % 40 AS file_id,
           SUM(n_chars) AS size_b
    FROM documents GROUP BY source, doc_id % 40
),
laid AS (
    SELECT source, file_id, size_b,
           COALESCE(SUM(size_b) OVER (
               PARTITION BY source ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_b
    FROM files
)
SELECT source, CAST(file_id AS BIGINT) AS file_id,
       CAST(size_b AS BIGINT) AS size_b,
       CAST(before_b // {_TARGET_KB * 1024} AS BIGINT) AS compact_group
FROM laid
"""


@register("compaction_plan", oracle=COMPACTION_SQL, covers=["O1", "A2"])
def q_compaction_plan(spark, sf_dir):
    """X-COMPACT: small-file compaction planning — the 100 TB hygiene
    job object stores force on every pipeline: per partition (source),
    lay files out in id order and cut into ~64 KB target groups (the
    pack_greedy machinery applied to file statistics). Planning is
    metadata-scale: one window keyed by partition, never touching data
    bytes."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    files = docs.groupBy(
        "source", (F.col("doc_id") % 40).alias("file_id")
    ).agg(F.sum("n_chars").alias("size_b"))
    packed = SA.pack_greedy(
        files, "source", "file_id", "size_b", budget=_TARGET_KB * 1024,
        bin_col="compact_group",
    )
    return packed.select(
        "source",
        F.col("file_id").cast("long").alias("file_id"),
        F.col("size_b").cast("long").alias("size_b"),
        F.col("compact_group").cast("long").alias("compact_group"),
    )


# ---------------------------------------------------------------------------
# winsorization (outlier clipping at exact per-group quantiles)

WINSOR_SQL = """
WITH ranked AS (
    SELECT event_id, event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
bounds AS (
    SELECT event_type,
           MIN(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT) THEN value END) AS lo,
           MIN(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN value END) AS hi
    FROM ranked GROUP BY event_type
)
SELECT r.event_id, r.event_type,
       round(CASE WHEN r.value < b.lo THEN b.lo
                  WHEN r.value > b.hi THEN b.hi
                  ELSE r.value END, 6) AS clipped
FROM ranked r JOIN bounds b ON r.event_type = b.event_type
"""


@register("winsorize_values", oracle=WINSOR_SQL, covers=["O1", "J1"])
def q_winsorize_values(spark, sf_dir):
    """X-WINSOR: clip values to the exact per-group [p05, p95]
    nearest-rank quantiles — the outlier-capping normalization before
    training-statistic aggregation. Quantile bounds come from the exact
    tier (verification scale; swap approx_quantiles' t-digest at
    100 TB) and broadcast-join back onto the events."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = exact_quantiles(events, "event_type", "value", "event_id", [0.05, 0.95])
    bounds = q.groupBy("event_type").agg(
        F.min(F.when(F.col("p") == 0.05, F.col("quantile"))).alias("lo"),
        F.min(F.when(F.col("p") == 0.95, F.col("quantile"))).alias("hi"),
    )
    return events.join(F.broadcast(bounds), on="event_type").select(
        "event_id",
        "event_type",
        F.round(
            F.when(F.col("value") < F.col("lo"), F.col("lo"))
            .when(F.col("value") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("value")),
            6,
        ).alias("clipped"),
    )


# ---------------------------------------------------------------------------
# BPE trainer + segmenter (rows-only: the merge loop is inherently
# sequential — each merge depends on the previous — so no SQL twin
# exists; pytest carries golden-value checks instead)

from prosnet_prefect_pipelines_spark.operators import lm as LM  # noqa: E402

_BPE_MERGES = 30


@register("bpe_vocab", oracle=None, covers=["A2"])
def q_bpe_vocab(spark, sf_dir):
    """X-BPE: byte-pair-encoding merge table over the documents corpus —
    distributed word-count aggregation + driver merge loop over the
    dimension-sized vocab (the standard trainer shape). Deterministic:
    max-count pair, lexical tie-break; the driver's rows-only check
    still pins row count + schema, and tests/test_pipeline6.py pins the
    values on a golden corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = LM.bpe_train(docs, "text", n_merges=_BPE_MERGES)
    return local_frame(
        spark,
        [(r, l, rt, c) for r, l, rt, c in merges],
        "rank int, left string, right string, pair_count long",
    )


@register("bpe_segment", oracle=None, covers=["P2"])
def q_bpe_segment(spark, sf_dir):
    """X-BPE segmentation: apply the learned merge table to every doc via
    Arrow-batched mapInPandas (per-word sequential rank-order merges —
    the documented UDF slow path, exactly where relational ops can't
    express the semantics)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = LM.bpe_train(docs, "text", n_merges=_BPE_MERGES)
    return LM.bpe_segment(docs, "doc_id", "text", merges)
