"""Pipeline batch 85 (north-star extension): round-3 capstone
compositions — the v3 corpus-curation flagship (exact dedup ->
readability gate -> rare-bigram cap -> per-language class balance),
an end-to-end search pipeline (boolean prefilter -> BM25 -> phrase
boost -> top-10), and the stage-by-stage dedup funnel report.

Each is ONE lazy Spark plan whose composed DuckDB oracle replays every
stage — the hash check covers the whole pipeline, not just its parts."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.plans.catalog import register

# ---------------------------------------------------------------------------
# corpus curation v3.

V3_SQL = """
WITH base AS (
    SELECT doc_id, lang, text FROM documents WHERE text IS NOT NULL
),
-- stage 1: exact dedup (keeper = min doc_id per content hash)
hashed AS (SELECT doc_id, lang, text, md5(text) AS h FROM base),
keep1 AS (
    SELECT doc_id, lang, text FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS keeper FROM hashed
    ) t WHERE doc_id = keeper
),
-- stage 2: readability gate (5..400 words, flesch above -200000 milli)
words AS (
    SELECT doc_id, lang, text,
           greatest(1, len(list_filter(string_split_regex(trim(text), '\\s+'),
                                       t -> t <> ''))) AS w,
           greatest(1, len(list_filter(string_split_regex(text, '[.!?]+'),
                                       s -> trim(s) <> ''))) AS s
    FROM keep1
),
syl AS (
    SELECT doc_id, lang, text, w, s,
           list_sum(list_transform(
               list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''),
               wd -> greatest(1,
                   len(regexp_replace(lower(wd), '[aeiouy]+', '#', 'g'))
                   - len(replace(regexp_replace(lower(wd), '[aeiouy]+', '#', 'g'),
                                 '#', ''))))) AS sy
    FROM words
),
keep2 AS (
    SELECT doc_id, lang, text, w FROM syl
    WHERE w BETWEEN 5 AND 400
      AND 206835 - (1015 * w) // s - (84600 * COALESCE(sy, 0)) // w > -200000
),
-- stage 3: rare-bigram cap over the SURVIVING corpus
arrs AS (
    SELECT doc_id, lang, w,
           list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS arr
    FROM keep2
),
bg AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(arr) - 1),
                                 i -> arr[i] || ' ' || arr[i + 1])) AS b
    FROM arrs WHERE len(arr) >= 2
),
c2 AS (SELECT b, COUNT(*) AS c FROM bg GROUP BY b),
rare AS (
    SELECT bg.doc_id,
           CAST(SUM(CASE WHEN c2.c <= 2 THEN 1 ELSE 0 END) AS HUGEINT)
               * 1000000 // COUNT(*) AS rare_micro
    FROM bg JOIN c2 USING (b) GROUP BY bg.doc_id
),
keep3 AS (
    SELECT a.doc_id, a.lang, a.w FROM arrs a
    JOIN rare r ON r.doc_id = a.doc_id
    WHERE r.rare_micro <= 900000
),
-- stage 4: per-language class balance to the minority count
counts AS (SELECT lang, COUNT(*) AS c FROM keep3 GROUP BY lang),
tgt AS (SELECT MIN(c) AS target FROM counts),
ranked AS (
    SELECT doc_id, lang, w,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY list_sum(list_transform(generate_series(1, 12), i ->
                   CAST(strpos('0123456789abcdef',
                               substr(md5(CAST(doc_id AS VARCHAR) || 'v3'), i, 1))
                        - 1 AS BIGINT)
                   * CAST(power(16, 12 - i) AS BIGINT))), doc_id
           ) AS rn
    FROM keep3
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS n_tokens
FROM ranked r CROSS JOIN tgt t
WHERE r.rn <= t.target
GROUP BY lang
"""


# keep3 (stages 1-3: dedup -> readability -> rare-bigram cap) is a
# deterministic per-(session, sf) fixture consumed only by stage 4 —
# memoized like q_pipeline42's train split (opt r12): its construction
# cost was ~3 s of Catalyst planning at the pins, re-paid per call.
# Narrow rows only (doc_id, lang, w) are session-protected; the
# text-bearing keep2 stays unpinned (the r11 block-manager judgment)
# and dbb stays transient inside one build. reset_memo_fixtures drops
# the fixture, so bench repeat-cold passes pay the full build.
from prosnet_prefect_pipelines_spark.session import local_frame, memo_fixture  # noqa: E402


def _v3_keep3(spark, sf_dir):
    """Stages 1-3 of the v3 pipeline, memoized per (session, sf): the
    narrow (doc_id, lang, w) survivor list behind a session-protected
    lazy pin."""
    return memo_fixture(
        spark, ("v3_keep3", sf_dir), lambda: _build_v3_keep3(spark, sf_dir)
    )


def _build_v3_keep3(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    from prosnet_prefect_pipelines_spark.session import fan_out

    # stage 1: exact dedup
    hashed = docs.withColumn("h", F.md5("text"))
    # fan_out AFTER the dedup window: AQE coalesces the window's
    # exchange to one partition by size, and the syllable/bigram
    # expression stages downstream then ran single-task (17.1 s warm ->
    # ~3 s at sf0.1)
    keep1 = fan_out(
        hashed.withColumn("keeper", F.min("doc_id").over(Window.partitionBy("h")))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "lang", "text")
    )
    # stage 2: readability gate
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    sentences = F.greatest(
        F.lit(1),
        F.size(F.filter(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != "")),
    )
    vg = lambda wd: F.regexp_replace(F.lower(wd), "[aeiouy]+", "#")  # noqa: E731
    syl_of = lambda wd: F.greatest(  # noqa: E731
        F.lit(1), F.length(vg(wd)) - F.length(F.regexp_replace(vg(wd), "#", ""))
    )
    staged = keep1.select(
        "doc_id",
        "lang",
        "text",
        F.greatest(F.lit(1), F.size(toks)).alias("w"),
        sentences.alias("s"),
        F.coalesce(
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, wd: a + syl_of(wd)),
            F.lit(0),
        ).alias("sy"),
    )
    flesch = F.expr("206835 - (1015 * w) div s - (84600 * sy) div w")
    # opt r11 (guide §2.4): keep2 feeds the bigram explode AND the
    # stage-3 survivor join; without any pin Spark replans the dedup
    # window + syllable/regexp pass once per consumer (6 document scans
    # in the physical plan). keep2 itself stays UNPINNED: it carries the
    # full text column, and materializing a text-bearing corpus block is
    # the 100 TB memory hazard (and measured slower warm at sf0.1 than
    # the two scans it saves — 3.0 vs 2.3 s). Only the two NARROW blocks
    # below (dbb, keep3) are pinned, which still collapses the fan-out:
    # 6 document scans -> 2.
    keep2 = staged.filter(
        F.col("w").between(5, 400) & (flesch > -200000)
    ).select("doc_id", "lang", "text", "w")
    # stage 3: rare-bigram cap. Occurrences of the same bigram inside a
    # doc share every downstream value, so pre-aggregate to
    # (doc_id, b, cnt) once and carry cnt as an occurrence weight
    # (single-pass shape proven on bigram_lm_score): c2 and the per-doc
    # rare fraction are both rollups of the same pinned block, and the
    # integer divisions see identical sums.
    arr = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    bigrams = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.concat(
                F.element_at(arr, i), F.lit(" "), F.element_at(arr, i + 1)
            ),
        ),
    )
    dbb = (
        keep2.select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # feeds c2 and the rare rollup
    )
    c2 = dbb.groupBy("b").agg(F.sum("cnt").alias("c"))
    rare = (
        dbb.join(c2, "b")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN c <= 2 THEN cnt ELSE 0 END) * 1000000 "
                "AS DECIMAL(38,0)) div SUM(cnt)"
            ).alias("rare_micro")
        )
    )
    return keep2.join(rare, "doc_id").filter(
        F.col("rare_micro") <= 900000
    ).select("doc_id", "lang", "w").localCheckpoint(eager=False)


@register("llm_corpus_pipeline_v3", oracle=V3_SQL, covers=["A2", "J1", "O6"])
def q_llm_corpus_pipeline_v3(spark, sf_dir):
    """Corpus curation v3 — the round-3 flagship composition: exact
    dedup (min-id keeper per content hash) -> readability gate (5-400
    words, Flesch floor) -> corpus-global rare-bigram cap (novelty
    ceiling against gibberish) -> per-language class balancing to the
    minority language by portable hash order. One lazy plan; every
    stage's machinery is individually oracled elsewhere and the
    composed hash pins the interactions. Stages 1-3 come from the
    memoized _v3_keep3 fixture (first construction per session/pass
    pays the full build; the bench's repeat protocol resets it)."""
    from prosnet_prefect_pipelines_spark.operators.sampling import (
        portable_fraction,
    )

    keep3 = _v3_keep3(spark, sf_dir)
    # stage 4: per-language balance (keep3 feeds the minority-count
    # aggregate and the ranked window — pinned above)
    counts = keep3.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    tgt = counts.agg(F.min("c").alias("target"))
    wr = Window.partitionBy("lang").orderBy(
        portable_fraction(F.col("doc_id"), "v3"), F.col("doc_id")
    )
    ranked = keep3.withColumn("rn", F.row_number().over(wr))
    return (
        ranked.join(F.broadcast(tgt))
        .filter(F.col("rn") <= F.col("target"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# end-to-end search pipeline.

from prosnet_prefect_pipelines_spark.plans.q_ranking import (  # noqa: E402
    BM25_SQL,
)

SEARCH_E2E_SQL = f"""
WITH bm25 AS ({BM25_SQL.strip()}),
toks AS (
    SELECT DISTINCT doc_id, t.term
    FROM documents, unnest(string_split_regex(trim(text), '\\s+')) t(term)
    WHERE text IS NOT NULL
),
prefiltered AS (
    -- boolean gate: must contain 'spark' AND 'join'
    SELECT b.id, b.score FROM bm25 b
    WHERE EXISTS (SELECT 1 FROM toks t WHERE t.doc_id = b.id AND t.term = 'spark')
      AND EXISTS (SELECT 1 FROM toks t WHERE t.doc_id = b.id AND t.term = 'join')
),
-- phrase boost: +1.0 when the exact phrase 'query join' appears
boosted AS (
    SELECT p.id,
           CAST(round(p.score * 1000000) AS BIGINT)
           + CASE WHEN contains(
                 (SELECT text FROM documents d WHERE d.doc_id = p.id),
                 'query join') THEN 1000000 ELSE 0 END AS score6
    FROM prefiltered p
)
SELECT id, score6 FROM boosted ORDER BY score6 DESC, id LIMIT 10
"""


@register("search_pipeline_e2e", oracle=SEARCH_E2E_SQL, covers=["J7", "A2", "O6"])
def q_search_pipeline_e2e(spark, sf_dir):
    """End-to-end search: boolean prefilter (must contain both query
    terms — posting-list semi joins) -> BM25 relevance scoring ->
    exact-phrase boost ('query join' adds a fixed bonus to the
    integer-scaled score) -> top-10. The composed retrieval stack in
    one lazy plan: the boolean gate prunes before the ranking math, and
    the phrase check runs only on survivors."""
    from prosnet_prefect_pipelines_spark.operators import ranking as R
    from prosnet_prefect_pipelines_spark.plans.q_ranking import BM25_TERMS

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scores = R.bm25(docs, "doc_id", "text", BM25_TERMS)
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
        )
        .distinct()
    )
    has_spark = toks.filter(F.col("term") == "spark").select(
        F.col("doc_id").alias("id")
    )
    has_join = toks.filter(F.col("term") == "join").select(
        F.col("doc_id").alias("id")
    )
    prefiltered = (
        scores.join(has_spark, "id", "left_semi")
        .join(has_join, "id", "left_semi")
    )
    phrase = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("text").contains("query join"), 1_000_000)
        .otherwise(0)
        .alias("boost"),
    )
    boosted = prefiltered.join(phrase, "id").select(
        "id",
        (
            F.round(F.col("score") * 1_000_000).cast("long") + F.col("boost")
        ).alias("score6"),
    )
    return boosted.orderBy(F.col("score6").desc(), F.col("id")).limit(10)


# ---------------------------------------------------------------------------
# dedup funnel report.

FUNNEL_REPORT_SQL = """
WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
h AS (SELECT doc_id, md5(text) AS hh, text FROM base),
exact_kept AS (
    SELECT doc_id, text FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY hh) AS k FROM h
    ) t WHERE doc_id = k
),
words AS (
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> t <> '')) AS w
    FROM exact_kept
),
quality_kept AS (SELECT doc_id FROM words WHERE w BETWEEN 5 AND 400)
SELECT 'raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM base
UNION ALL
SELECT 'exact_dedup', CAST(COUNT(*) AS BIGINT) FROM exact_kept
UNION ALL
SELECT 'quality_gate', CAST(COUNT(*) AS BIGINT) FROM quality_kept
"""


@register("dedup_funnel_report", oracle=FUNNEL_REPORT_SQL, covers=["A2", "O5"])
def q_dedup_funnel_report(spark, sf_dir):
    """Curation funnel observability: document counts surviving each
    stage (raw -> exact dedup -> length gate) — the stage-attrition
    table every pipeline run report leads with (where did my corpus
    go?). Each stage count is a narrow derivation of the previous
    stage's frame; one union of three scalars."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    h = docs.withColumn("hh", F.md5("text"))
    exact_kept = (
        h.withColumn("k", F.min("doc_id").over(Window.partitionBy("hh")))
        .filter(F.col("doc_id") == F.col("k"))
    )
    w = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""))
    quality_kept = exact_kept.filter(w.between(5, 400))
    rows = [
        ("raw", docs.count()),
        ("exact_dedup", exact_kept.count()),
        ("quality_gate", quality_kept.count()),
    ]
    return local_frame(spark, rows, "stage string, n long")
