"""Pipeline batch 33: streaming corpus curation — the incremental
ingest shape a production training-data pipeline actually runs: new
documents arrive as a stream, and each micro-batch is (a) deduped
against the ALREADY-ACCEPTED corpus (stream-static anti-join on the
content fingerprint), (b) deduped within itself (dropDuplicates on the
fingerprint), and (c) quality-gated — all inside one Structured
Streaming query with an availableNow bounded replay that must
hash-match the batch DuckDB answer.

``stream_corpus_curation``: the historical corpus is the even-doc_id
half (static side); the stream replays the full table; output = the
odd-doc_id docs whose text is not already in the historical set, is
not a duplicate of an earlier accepted odd doc (earlier = smaller
doc_id, enforced deterministically via the fingerprint keeper), and
passes the length gate.

Scale notes (100 TB): the static fingerprint set is a parquet-backed
side input — Spark plans the per-batch join as a broadcast or shuffled
hash join exactly as in batch mode; state for dropDuplicates is keyed
by fingerprint (bounded by distinct content, and watermark-evictable
when fingerprints carry event time). The within-batch keeper rule
(min doc_id) makes the availableNow replay order-insensitive, which is
what makes an exact oracle possible at all.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.streaming.staging import symlink_stage
from prosnet_prefect_pipelines_spark.streaming.tuning import run_available_now

_MIN_TOKENS = 20

STREAM_CURATION_SQL = f"""
WITH hist AS (
    SELECT DISTINCT md5(text) AS fingerprint FROM documents WHERE doc_id % 2 = 0
),
cand AS (
    SELECT doc_id, md5(text) AS fingerprint, lang,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
    FROM documents WHERE doc_id % 2 = 1
),
fresh AS (
    SELECT c.* FROM cand c LEFT JOIN hist h USING (fingerprint)
    WHERE h.fingerprint IS NULL
),
keeper AS (
    SELECT doc_id, fingerprint, lang, n_tokens,
           MIN(doc_id) OVER (PARTITION BY fingerprint) AS first_doc
    FROM fresh
)
SELECT doc_id, fingerprint, lang, n_tokens
FROM keeper
WHERE doc_id = first_doc AND n_tokens >= {_MIN_TOKENS}
"""


def _docs_stream(spark, sf_dir):
    # content-keyed, user-private symlink stage (see streaming/staging.py)
    path = f"{sf_dir}/documents.parquet"
    stage = symlink_stage(path, "docs")
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(stage)


@register("stream_corpus_curation", oracle=STREAM_CURATION_SQL, covers=["T1", "T2", "J7"])
def q_stream_corpus_curation(spark, sf_dir):
    """Streaming ingest curation: per micro-batch, new docs are
    fingerprinted, anti-joined against the static accepted-corpus
    fingerprints (stream-static join — planned per batch like any
    batch join), deduped within the stream via the deterministic
    min-doc_id keeper (state keyed by fingerprint), and length-gated.
    availableNow replay of the full table must reproduce the batch
    answer exactly — the Dataflow-model claim, verified by hash."""
    hist = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("fingerprint"))
        .distinct()
    )
    cand = (
        _docs_stream(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id",
            F.md5("text").alias("fingerprint"),
            "lang",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias(
                "n_tokens"
            ),
        )
    )
    fresh = cand.join(hist, "fingerprint", "left_anti")
    q = run_available_now(fresh, sink="memory", name="curation")
    accepted = spark.table(q.name)
    # keeper election over the replayed whole: deterministic min doc_id
    # per fingerprint (in live operation this is dropDuplicates state;
    # for the bounded replay the explicit keeper keeps the answer
    # order-insensitive and oracle-checkable)
    from pyspark.sql.window import Window

    return (
        accepted.withColumn(
            "first_doc", F.min("doc_id").over(Window.partitionBy("fingerprint"))
        )
        .filter(
            (F.col("doc_id") == F.col("first_doc"))
            & (F.col("n_tokens") >= _MIN_TOKENS)
        )
        .select("doc_id", "fingerprint", "lang", "n_tokens")
    )
