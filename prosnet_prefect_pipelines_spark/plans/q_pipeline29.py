"""Pipeline batch 29: the three PySpark 4 API surfaces the engine had
not yet exercised, each as a first-class oracle-checked query —

- ``udtf_doc_chunks``: a Python UDTF (``@udtf`` + ``LATERAL``) doing
  RAG-style overlapping chunking (16-token windows, stride 12). UDTFs
  are the sanctioned one-row-to-many Python escape hatch in Spark 4;
  the chunker is the canonical use (tokenizers/splitters whose logic
  is genuinely imperative).
- ``arrow_doc_stats``: ``mapInArrow`` — the Arrow-native batch API one
  level below pandas UDFs (no pandas conversion at all). Per-doc
  char/token stats computed with ``pyarrow.compute`` kernels on raw
  RecordBatches.
- ``observed_metrics``: the ``Observation`` API — audit metrics
  (row count, exact cents total, min/max shipdate) piggybacked on a
  single pass, no second scan. The engine's freshness/volume
  validation hook for pipeline runs.

Scale notes (100 TB):
- the UDTF and mapInArrow passes are narrow per-partition maps — zero
  shuffles; Python cost is batched (Arrow transfer), not per-row
  pickling. Chunk explosion multiplies rows ~n_toks/stride ×, the same
  fan-out a relational posexplode chunker pays.
- ``observe`` aggregates ride the existing action's partial
  aggregation — metrics are commutative aggregates merged on the
  driver; the pattern costs nothing extra at any scale and replaces a
  second full scan for audit counters.

Exactness: stats and metrics are integers (counts, cents, micro
units); chunk text is deterministic string slicing — all
hash-identical to the DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

_WIN = 16
_STRIDE = 12

UDTF_CHUNKS_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
)
SELECT t.doc_id, g.i AS chunk_id,
       CAST(g.i * {_STRIDE} AS BIGINT) AS start_tok,
       array_to_string(list_slice(t.toks, g.i * {_STRIDE} + 1,
                                  g.i * {_STRIDE} + {_WIN}), ' ') AS chunk,
       CAST(len(list_slice(t.toks, g.i * {_STRIDE} + 1,
                           g.i * {_STRIDE} + {_WIN})) AS BIGINT) AS n_tokens
FROM t, LATERAL (
    SELECT UNNEST(generate_series(0, (len(t.toks) - 1) // {_STRIDE})) AS i
) g
"""


@register("udtf_doc_chunks", oracle=UDTF_CHUNKS_SQL, covers=["P2", "O2"])
def q_udtf_doc_chunks(spark, sf_dir):
    """Python UDTF chunker joined LATERAL-style: overlapping 16-token
    windows at stride 12 (RAG retrieval chunking — consecutive chunks
    share a 4-token overlap so no boundary context is lost). The UDTF
    runs per-partition with Arrow batch transfer (zero shuffles, rows
    fan out ~n_toks/stride x); compare ``doc_chunking`` (q_pipeline4)
    which is the pure-relational non-overlapping variant — same engine,
    two chunking tiers."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id: bigint, start_tok: bigint, chunk: string, n_tokens: bigint")
    class ChunkDoc:
        def eval(self, text: str):
            toks = text.split()
            if not toks:
                return
            i = 0
            while i * _STRIDE < len(toks):
                part = toks[i * _STRIDE : i * _STRIDE + _WIN]
                yield (i, i * _STRIDE, " ".join(part), len(part))
                i += 1

    spark.udtf.register("chunk_doc_udtf", ChunkDoc)
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        "SELECT d.doc_id, c.chunk_id, c.start_tok, c.chunk, c.n_tokens "
        "FROM _udtf_docs d, LATERAL chunk_doc_udtf(d.text) c"
    )


ARROW_STATS_SQL = """
WITH t AS (
    SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
    FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       toks[1] AS first_token,
       regexp_matches(text, '[0-9]') AS has_digit
FROM t
"""


@register("arrow_doc_stats", oracle=ARROW_STATS_SQL, covers=["P2", "A2"])
def q_arrow_doc_stats(spark, sf_dir):
    """mapInArrow doc stats: pyarrow.compute kernels over raw
    RecordBatches — the Arrow-native tier below pandas UDFs (no
    pandas/numpy materialization, no per-row Python). Narrow
    per-partition pass, zero shuffles; the same contract the multimodal
    decoders use, demonstrated on the text path."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(batches):
        for b in batches:
            doc_id = b.column(b.schema.get_field_index("doc_id"))
            text = b.column(b.schema.get_field_index("text"))
            toks = pc.split_pattern(text, " ")
            yield pa.record_batch(
                {
                    "doc_id": doc_id,
                    "n_chars": pc.utf8_length(text).cast(pa.int64()),
                    "n_tokens": pc.list_value_length(toks).cast(pa.int64()),
                    "first_token": pc.list_element(toks, 0),
                    "has_digit": pc.match_substring_regex(text, "[0-9]"),
                }
            )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return docs.mapInArrow(
        stats,
        "doc_id long, n_chars long, n_tokens long, first_token string, has_digit boolean",
    )


OBSERVED_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(MIN(l_shipdate) AS VARCHAR) AS min_shipdate,
       CAST(MAX(l_shipdate) AS VARCHAR) AS max_shipdate
FROM lineitem
"""


@register("observed_metrics", oracle=OBSERVED_SQL, covers=["A2", "K7"])
def q_observed_metrics(spark, sf_dir):
    """Observation-API audit metrics: row count, exact cents revenue,
    shipdate envelope — collected as a side effect of ONE pass over the
    fact table (observe() merges commutative partial aggregates on the
    driver during the action; no second scan). This is the volume/
    freshness validation hook a pipeline run report consumes. The
    returned 1-row DataFrame is rebuilt from the observed dict so the
    oracle can hash-check the metric values themselves."""
    from pyspark.sql import Observation

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    obs = Observation("lineitem_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")).alias(
            "total_cents"
        ),
        F.min("l_shipdate").cast("string").alias("min_shipdate"),
        F.max("l_shipdate").cast("string").alias("max_shipdate"),
    )
    observed.count()  # the action that populates the observation
    row = obs.get
    return local_frame(
        spark,
        [
            (
                int(row["n_rows"]),
                int(row["total_cents"]),
                row["min_shipdate"],
                row["max_shipdate"],
            )
        ],
        "n_rows long, total_cents long, min_shipdate string, max_shipdate string",
    )
