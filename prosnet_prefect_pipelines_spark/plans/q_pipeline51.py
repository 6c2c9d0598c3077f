"""Pipeline batch 51: diversity, rich-club structure, and
content-defined chunk dedup —

- ``type_diversity``: per-user Gini-Simpson diversity of event types,
  1 - sum(p_i^2), in exact ppm — the entropy-free diversity index
  (log-free, so cross-engine exact). The behavioral-diversity screen
  next to burstiness (batch 50).
- ``rich_club``: the rich-club coefficient phi(k) for a grid of degree
  thresholds — among nodes with degree > k, the realized fraction of
  possible edges, exact ppm. Rising phi(k) = elite interconnection;
  the structural complement of assortativity.
- ``cdc_chunk_dedup``: content-defined chunking dedup (the
  backup-system/restic technique, re-expressed relationally): chunk
  boundaries fall where the rolling token hash satisfies
  hash % 16 == 0 — so a single-token insertion only reshapes ONE
  chunk, unlike fixed-width lines — and chunks dedupe corpus-wide by
  content hash. Emits the storage report: total vs unique chunks and
  the dedup ratio in ppm.

Scale notes: diversity and rich-club are keyed aggregations (the
threshold grid is 4 literal rows); CDC chunking is a narrow
per-token pass (boundary flag -> running chunk id via a keyed window)
+ one chunk-hash groupBy — the same shapes as the line-dedup tier
with data-dependent boundaries.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_pipeline15 import _hash48, _hash48_sql
from prosnet_prefect_pipelines_spark.plans.q_pipeline28 import _GRAPH_SQL, _und_edges
from prosnet_prefect_pipelines_spark.session import local_frame

DIVERSITY_SQL = """
WITH per AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(1000000 - CAST(SUM(c * c) AS HUGEINT) * 1000000
            // (CAST(SUM(c) AS HUGEINT) * SUM(c)) AS BIGINT) AS diversity_ppm
FROM per GROUP BY user_id
"""


@register("type_diversity", oracle=DIVERSITY_SQL, covers=["A2", "A1"])
def q_type_diversity(spark, sf_dir):
    """Gini-Simpson diversity per user: 1 - sum((c_i/n)^2) in exact
    ppm (no logs, no floats) — 0 = single-type account, ->1 = evenly
    mixed. Two keyed aggregations, both map-side combined."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return per.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.expr(
            "CAST(1000000 - CAST(SUM(c * c) AS DECIMAL(38,0)) * 1000000"
            " div (CAST(SUM(c) AS DECIMAL(38,0)) * SUM(c)) AS BIGINT)"
        ).alias("diversity_ppm"),
    )


_KS = [2, 4, 8, 16]
_K_SQL = " UNION ALL ".join(f"SELECT {k} AS k" for k in _KS)

RICH_CLUB_SQL = (
    "WITH "
    + _GRAPH_SQL.strip()
    + f""",
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY src),
ks AS ({_K_SQL}),
club AS (
    SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_rich
    FROM ks LEFT JOIN deg ON deg.d > ks.k
    GROUP BY ks.k
),
rich_edges AS (
    SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS m
    FROM ks LEFT JOIN (
        SELECT e.a, e.b, da.d AS dda, db.d AS ddb
        FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
    ) x ON x.dda > ks.k AND x.ddb > ks.k
    GROUP BY ks.k
)
SELECT c.k, c.n_rich, r.m AS rich_edges,
       CAST(CASE WHEN c.n_rich >= 2
            THEN CAST(r.m AS HUGEINT) * 2 * 1000000
                 // (CAST(c.n_rich AS HUGEINT) * (c.n_rich - 1))
            ELSE 0 END AS BIGINT) AS phi_ppm
FROM club c JOIN rich_edges r ON r.k = c.k
"""
)


@register("rich_club", oracle=RICH_CLUB_SQL, covers=["J1", "A2", "J4"])
def q_rich_club(spark, sf_dir):
    """Rich-club coefficient phi(k) = 2m_k / (n_k (n_k - 1)) for degree
    thresholds k in {{2,4,8,16}} — realized edge fraction among the
    high-degree elite, exact ppm. The threshold grid is 4 literal rows
    joined by inequality against the small degree/edge tables (a
    deliberate tiny nested-loop, documented); counts combine
    map-side."""
    und = _und_edges(spark, sf_dir).localCheckpoint(eager=False)
    e = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    ks = local_frame(spark, [(k,) for k in _KS], "k int")
    club = (
        ks.join(deg, deg.d > ks.k, "left")
        .groupBy("k")
        .agg(F.count("node").cast("long").alias("n_rich"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("dda"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("ddb"))
    ed = e.join(da, "a").join(db, "b")
    rich_edges = (
        ks.join(ed, (ed.dda > ks.k) & (ed.ddb > ks.k), "left")
        .groupBy("k")
        .agg(F.count("a").cast("long").alias("m"))
    )
    return (
        club.join(rich_edges, "k")
        .select(
            "k",
            "n_rich",
            F.col("m").alias("rich_edges"),
            F.expr(
                "CAST(CASE WHEN n_rich >= 2 THEN CAST(m AS DECIMAL(38,0)) * 2"
                " * 1000000 div (CAST(n_rich AS DECIMAL(38,0)) * (n_rich - 1))"
                " ELSE 0 END AS BIGINT)"
            ).alias("phi_ppm"),
        )
    )


_CDC_MOD = 16

CDC_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
),
tok AS (
    SELECT t.doc_id, g.i AS p, t.toks[g.i] AS w,
           CASE WHEN {_hash48_sql("t.toks[g.i]", "cdc")} % {_CDC_MOD} = 0
                THEN 1 ELSE 0 END AS boundary
    FROM t, LATERAL (
        SELECT UNNEST(generate_series(1, len(t.toks))) AS i
    ) g
),
chunked AS (
    SELECT doc_id, p, w,
           SUM(boundary) OVER (PARTITION BY doc_id ORDER BY p
                               ROWS UNBOUNDED PRECEDING) AS chunk_id
    FROM tok
),
chunks AS (
    SELECT doc_id, chunk_id,
           {_hash48_sql("string_agg(w, ' ' ORDER BY p)", "chunkhash")} AS chash,
           CAST(COUNT(*) AS BIGINT) AS n_toks
    FROM chunked GROUP BY doc_id, chunk_id
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS total_chunks,
           CAST(COUNT(DISTINCT chash) AS BIGINT) AS unique_chunks,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens
    FROM chunks
)
SELECT total_chunks, unique_chunks, total_tokens,
       CAST(CAST(total_chunks - unique_chunks AS HUGEINT) * 1000000
            // total_chunks AS BIGINT) AS dedup_ppm
FROM agg
"""


@register("cdc_chunk_dedup", oracle=CDC_SQL, covers=["A1", "A2", "O1"])
def q_cdc_chunk_dedup(spark, sf_dir):
    """Content-defined chunking dedup: boundaries where the token hash
    % 16 == 0 (so edits reshape one chunk, not the whole tail — the
    CDC property fixed-width chunking lacks); chunks hash corpus-wide
    and the report gives total/unique chunks and the dedup ratio in
    ppm. Token pass + one keyed running-sum window (chunk ids) + one
    chunk groupBy + one global distinct-count."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    tok = (
        docs.select("doc_id", F.posexplode(toks).alias("_i", "w"))
        .select(
            "doc_id",
            (F.col("_i") + 1).alias("p"),
            "w",
            F.when(_hash48(F.col("w"), "cdc") % _CDC_MOD == 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("boundary"),
        )
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = tok.withColumn("chunk_id", F.sum("boundary").over(w_run))
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        _hash48(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ),
            "chunkhash",
        ).alias("chash"),
        F.count(F.lit(1)).cast("long").alias("n_toks"),
    )
    agg = chunks.agg(
        F.count(F.lit(1)).cast("long").alias("total_chunks"),
        F.countDistinct("chash").cast("long").alias("unique_chunks"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
    )
    return agg.select(
        "total_chunks",
        "unique_chunks",
        "total_tokens",
        F.expr(
            "CAST(CAST(total_chunks - unique_chunks AS DECIMAL(38,0)) * 1000000"
            " div total_chunks AS BIGINT)"
        ).alias("dedup_ppm"),
    )
