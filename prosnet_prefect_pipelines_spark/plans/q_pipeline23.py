"""Pipeline batch 23 (north-star extension): join-key skew report,
sentence-level text statistics, and a grouped Pandas aggregation
(``applyInPandas`` — the cogroup/UDAF API surface) — each hash-matched
against a DuckDB twin.

Determinism: skew ratios are integer ppm; sentence stats are integer
counts; the pandas median replicates the even-count mean-of-middles
definition DuckDB uses, on integer cents.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register

# --- join-key skew report ----------------------------------------------------------------

KEY_SKEW_SQL = """
WITH counts AS (
    SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_suppkey
),
stats AS (
    SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM counts
),
ranked AS (
    SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rn FROM counts
)
SELECT key, n,
       CAST(n * 1000000 // (total // n_keys) AS BIGINT) AS x_mean_ppm,
       CAST(n * 1000000 // total AS BIGINT) AS share_ppm
FROM ranked CROSS JOIN stats
WHERE rn <= 10
"""


@register("key_skew_report", oracle=KEY_SKEW_SQL, covers=["A2", "O1"])
def q_key_skew_report(spark, sf_dir):
    """Join-key skew report: the 10 hottest keys with their multiple of
    the mean key size and share of all rows (integer ppm) — the
    planning query that decides whether a join needs salting or AQE
    skew hints BEFORE it runs. One keyed count + a broadcast scalar;
    top-10 via per-partition heaps."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    counts = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = counts.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    top = counts.orderBy(F.col("n").desc(), "key").limit(10)
    return top.crossJoin(F.broadcast(stats)).select(
        "key",
        "n",
        F.expr("n * 1000000 div (total div n_keys)").alias("x_mean_ppm"),
        F.expr("n * 1000000 div total").alias("share_ppm"),
    )


# --- sentence-level statistics -----------------------------------------------------------

SENTENCE_SQL = """
WITH sents AS (
    SELECT doc_id, trim(s.sent) AS sent
    FROM documents,
         LATERAL (SELECT unnest(string_split_regex(text, '[.!?]+')) AS sent) s
    WHERE trim(s.sent) <> ''
),
stats AS (
    SELECT doc_id, sent,
           CAST(length(sent) - length(replace(sent, ' ', '')) + 1 AS BIGINT) AS n_words
    FROM sents
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_sentences,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(MAX(n_words) AS BIGINT) AS max_sentence_words
FROM stats GROUP BY doc_id
"""


@register("sentence_stats", oracle=SENTENCE_SQL, covers=["P2", "A2"])
def q_sentence_stats(spark, sf_dir):
    """Sentence segmentation (split on terminal punctuation) +
    per-document sentence statistics — the NLP preprocessing layer
    between document- and token-level quality signals. One explode +
    one doc-keyed aggregation; pure Column expressions."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sents = docs.select(
        "doc_id", F.explode(F.split("text", r"[.!?]+")).alias("raw")
    ).select("doc_id", F.trim("raw").alias("sent")).filter(F.col("sent") != "")
    t = F.col("sent")
    n_words = (F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1).cast("long")
    return (
        sents.select("doc_id", n_words.alias("n_words"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum("n_words").alias("n_words"),
            F.max("n_words").alias("max_sentence_words"),
        )
    )


# --- grouped pandas aggregation ----------------------------------------------------------

PANDAS_MEDIAN_SQL = """
WITH cents AS (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(median(v), 6) AS median_cents
FROM cents GROUP BY event_type
"""


@register("pandas_group_median", oracle=PANDAS_MEDIAN_SQL, covers=["A2"])
def q_pandas_group_median(spark, sf_dir):
    """Grouped custom aggregation through ``applyInPandas`` (the
    Arrow-batched UDAF surface): per event type, the exact median of
    integer cents — pandas' even-count mean-of-middles matches DuckDB's
    ``median`` definition. The group key partitions the shuffle; each
    group is one Arrow batch in, one row out. For medians the pure-SQL
    nearest-rank path (value_quantiles) is faster — this query pins the
    API contract (schema, grouping, determinism) custom UDAFs rely on."""
    import pandas as pd

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("v")
    )

    def med(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(pdf)],
                "median_cents": [round(float(pdf["v"].median()), 6)],
            }
        )

    return cents.groupBy("event_type").applyInPandas(
        med, "event_type string, n long, median_cents double"
    )


# --- recursive CTE (Spark 4 parity) ------------------------------------------------------

# the SAME text runs on Spark 4 (WITH RECURSIVE landed in 4.0) and
# DuckDB: ancestor chain depth over the quartering part hierarchy;
# floor(x/4) instead of integer division (spelled differently per
# engine), exact for these magnitudes
RECURSIVE_CTE_SQL = """
WITH RECURSIVE lv AS (
    SELECT p_partkey AS part,
           CAST(floor(p_partkey / 4) AS BIGINT) AS anc,
           CAST(1 AS BIGINT) AS depth
    FROM part WHERE p_partkey > 0
    UNION ALL
    SELECT part, CAST(floor(anc / 4) AS BIGINT), depth + 1
    FROM lv WHERE anc > 0
)
SELECT part, CAST(MAX(depth) AS BIGINT) AS depth
FROM lv GROUP BY part
"""


@register("sql_recursive_cte", oracle=RECURSIVE_CTE_SQL, covers=["J5"])
def q_sql_recursive_cte(spark, sf_dir):
    """Recursive CTE through Spark 4's native WITH RECURSIVE — the SAME
    SQL text executes on both engines (hierarchy depth over the
    quartering part tree). Spark plans the recursion as an iterative
    union under the hood; for deep or huge closures the DataFrame-side
    fixpoints (transitive_closure, bom_rollup) with explicit
    checkpointing remain the scale path, but SQL-first users now get
    the standard surface."""
    spark.read.parquet(f"{sf_dir}/part.parquet").createOrReplaceTempView("part")
    return spark.sql(RECURSIVE_CTE_SQL)


# --- Python DataSource V2 write path -----------------------------------------------------

PYDS_WRITE_SQL = """
SELECT n_regionkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(n_name) AS first_name
FROM nation GROUP BY n_regionkey
"""


@register("python_datasource_write", oracle=PYDS_WRITE_SQL, covers=["K3", "S6"])
def q_python_datasource_write(spark, sf_dir):
    """Round-trip through a CUSTOM Python DataSource WRITER (the V2
    write surface — per-task JSONL part files + commit messages,
    idempotent under speculative retries) and back in via the JSON
    reader — the write half of the custom-connector story whose read
    half is the paginated_rest source."""
    import shutil
    import os

    from prosnet_prefect_pipelines_spark.sources.rest_datasource import (
        JsonlSinkDataSource,
    )

    spark.dataSource.register(JsonlSinkDataSource)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    # namespace by session so concurrent runs (pytest + sweep) can't race
    # each other's rmtree/read on the same scratch dir; atexit-cleaned
    from prosnet_prefect_pipelines_spark.streaming.staging import scratch_root

    out = os.path.join(scratch_root(spark), "nation_pyds")
    shutil.rmtree(out, ignore_errors=True)
    nation.write.format("jsonl_sink").option("path", out).mode("append").save()
    back = spark.read.schema(nation.schema).json(out)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"), F.min("n_name").alias("first_name")
    )


# --- corrupt-record audit ----------------------------------------------------------------

JSON_CORRUPT_SQL = """
SELECT CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_corrupt,
       CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_valid
FROM nation
"""


@register("json_corrupt_audit", oracle=JSON_CORRUPT_SQL, covers=["P7", "S6"])
def q_json_corrupt_audit(spark, sf_dir):
    """Robust ingestion audit: a JSONL feed with planted malformed rows
    (every 5th record truncated) read in PERMISSIVE mode — corrupt rows
    land in the _corrupt_record column instead of failing the job, and
    the audit counts both classes. The oracle derives the same counts
    from the corruption rule."""
    import os
    import shutil

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    line = F.when(
        F.col("n_nationkey") % 5 == 0,
        F.concat(F.lit('{"oops": '), F.col("n_name")),  # unclosed, bad token
    ).otherwise(F.to_json(F.struct("n_nationkey", "n_name", "n_regionkey")))
    from prosnet_prefect_pipelines_spark.streaming.staging import scratch_root

    out = os.path.join(scratch_root(spark), "nation_corrupt")
    shutil.rmtree(out, ignore_errors=True)
    nation.select(line.alias("value")).write.mode("overwrite").text(out)
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    # count() over DATA columns: Spark disallows queries that reference
    # ONLY the corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN);
    # corrupt rows parse with null data columns, so count(n_name) is the
    # valid-row count and the difference the corrupt count
    return back.agg(
        (F.count(F.lit(1)) - F.count("n_name")).cast("long").alias("n_corrupt"),
        F.count("n_name").cast("long").alias("n_valid"),
    )
