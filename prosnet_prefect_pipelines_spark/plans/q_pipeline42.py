"""Pipeline batch 42: ``llm_corpus_pipeline_v2`` — the second-generation
flagship composite. v1 (q_curation.llm_corpus_pipeline) is the 2022
recipe: doc-level dedup -> quality -> decontaminate -> sample -> pack.
v2 is the 2024 recipe, composing the round's new stages into ONE lazy
plan over the raw documents table:

  1. CCNet corpus-global line dedup (first-occurrence keeper) and
     per-doc text rebuild;
  2. Gopher-style shape gate on the DEDUPED text (>= 20 words);
  3. CCNet per-language LM tertiles on the surviving corpus — tail
     bucket dropped;
  4. leakage-proof group split on the deduped-content fingerprint —
     train split kept;
  5. data-constrained epoch expansion toward the largest source
     (capped at 2 epochs);
  6. epoch-varying deterministic training shuffle into 4 shard
     windows.

The emitted rows are the materialized training list a loader consumes:
(doc_id, lang, source, bucket, epoch, shard, pos). Every stage is the
SAME algebra as its stand-alone query (batches 27/31/34/35 + Gopher
26), so the composed DuckDB oracle is assembled from the same CTE
fragments — one hash checks the whole pipeline end to end.

Scale shape: one line-keyed shuffle (dedup keeper), one doc-keyed
rebuild, narrow gates, a token-keyed frequency join whose threshold
table broadcasts, a fingerprint-keyed cluster join, a tiny broadcast
epoch plan, and per-(epoch, shard) ranking windows. Nothing
materializes an intermediate corpus; lineage is one DAG.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_curation import _frac_sql
from prosnet_prefect_pipelines_spark.plans.q_pipeline26 import _LINE_TOKENS, _lines_df
from prosnet_prefect_pipelines_spark.session import memo_fixture

# the train-split block (stages 1-4) is a deterministic per-(session,
# sf) fixture: its three load-bearing pins cost ~3 x 1.1 s of Catalyst
# planning at EVERY construction (measured r11 — the query's dominant
# cost), so it is memoized like q_dedup.lsh_pairs / q_pipeline115's IVF
# index (opt r12, VERDICT r11 item 8). Narrow rows only (doc_id, lang,
# source, bucket) are session-protected; the text-bearing docs2 pin
# stays transient inside one construction. reset_memo_fixtures drops
# the fixture, so bench repeat-cold passes pay the full build.

# DuckDB twin of the epoch-varying shuffle hash (48-bit md5 prefix of
# doc_id || 'shuffle' || epoch)
_H = (
    "list_sum(list_transform(generate_series(1, 12), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(CAST(s.doc_id AS VARCHAR) || "
    "'shuffle' || CAST(g.e AS VARCHAR)), i, 1)) - 1 AS BIGINT)"
    " * CAST(power(16, 12 - i) AS BIGINT)))"
)

_MIN_WORDS = 20
_MAX_EPOCHS = 2
_SHARDS = 4

V2_SQL = f"""
WITH t0 AS (
    SELECT doc_id, lang, source, string_split_regex(trim(text), '\\s+') AS toks
    FROM documents
),
lines AS (
    SELECT t0.doc_id, g.i AS line_id,
           array_to_string(list_slice(t0.toks, g.i * {_LINE_TOKENS} + 1,
                                      g.i * {_LINE_TOKENS} + {_LINE_TOKENS}), ' ') AS line
    FROM t0, LATERAL (
        SELECT UNNEST(generate_series(0,
            CAST(ceil(len(t0.toks) / {_LINE_TOKENS}.0) AS BIGINT) - 1)) AS i
    ) g
),
keep AS (
    SELECT doc_id, line_id, line,
           row_number() OVER (PARTITION BY line ORDER BY doc_id, line_id) = 1
               AS is_first
    FROM lines
),
rebuilt AS (
    SELECT doc_id,
           string_agg(CASE WHEN is_first THEN line END, ' ' ORDER BY line_id)
               AS text
    FROM keep GROUP BY doc_id
    HAVING SUM(CASE WHEN is_first THEN 1 ELSE 0 END) > 0
),
docs2 AS (
    SELECT r.doc_id, t0.lang, t0.source, r.text,
           string_split_regex(trim(r.text), '\\s+') AS toks
    FROM rebuilt r JOIN t0 USING (doc_id)
    WHERE len(string_split_regex(trim(r.text), '\\s+')) >= {_MIN_WORDS}
),
tok2 AS (SELECT doc_id, lang, unnest(toks) AS token FROM docs2),
freq AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c FROM tok2 GROUP BY lang, token),
scored AS (
    SELECT t.doc_id, t.lang,
           CAST(CAST(SUM(f.c) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
               AS score_micro
    FROM tok2 t JOIN freq f ON t.lang = f.lang AND t.token = f.token
    GROUP BY t.doc_id, t.lang
),
dist AS (
    SELECT lang, score_micro, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM scored GROUP BY lang, score_micro
),
cum AS (
    SELECT lang, score_micro, cnt,
           SUM(cnt) OVER (PARTITION BY lang ORDER BY score_micro DESC
                          ROWS UNBOUNDED PRECEDING) AS cum_docs,
           SUM(cnt) OVER (PARTITION BY lang) AS n_docs
    FROM dist
),
thr AS (
    SELECT lang,
           MAX(CASE WHEN cum_docs * 3 >= n_docs THEN score_micro END) AS head_thr,
           MAX(CASE WHEN cum_docs * 3 >= 2 * n_docs THEN score_micro END) AS mid_thr
    FROM cum GROUP BY lang
),
bucketed AS (
    SELECT d.doc_id, d.lang, d.source, d.text,
           CASE WHEN s.score_micro >= t.head_thr THEN 'head'
                WHEN s.score_micro >= t.mid_thr THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM docs2 d JOIN scored s USING (doc_id) JOIN thr t ON t.lang = d.lang
),
kept AS (SELECT * FROM bucketed WHERE bucket <> 'tail'),
fp AS (SELECT doc_id, lang, source, bucket, md5(text) AS fingerprint FROM kept),
cl AS (SELECT fingerprint, MIN(doc_id) AS rep FROM fp GROUP BY fingerprint),
split AS (
    SELECT f.doc_id, f.lang, f.source, f.bucket
    FROM fp f JOIN cl c USING (fingerprint)
    WHERE {_frac_sql('c.rep', 'split')} >= 0.2
),
per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM split GROUP BY source),
mx AS (SELECT MAX(n_docs) AS m FROM per),
plan AS (
    SELECT source,
           least(CAST((m + n_docs - 1) // n_docs AS BIGINT), {_MAX_EPOCHS}) AS repeats
    FROM per, mx
),
expanded AS (
    SELECT s.doc_id, s.lang, s.source, s.bucket, g.e AS epoch,
           {_H} AS h
    FROM split s JOIN plan p USING (source),
    LATERAL (SELECT UNNEST(generate_series(1, p.repeats)) AS e) g
)
SELECT doc_id, lang, source, bucket, epoch,
       CAST(h % {_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY epoch, h % {_SHARDS} ORDER BY h // {_SHARDS}, doc_id
       ) AS BIGINT) AS pos
FROM expanded
"""


def _train_split(spark, sf_dir):
    """Stages 1-4 of the v2 pipeline (line dedup -> shape gate -> LM
    tertiles -> leakage-proof split), memoized per (session, sf): the
    narrow (doc_id, lang, source, bucket) train list behind a
    session-protected lazy pin. See the module-level note on why."""
    return memo_fixture(
        spark, ("train_split", sf_dir), lambda: _build_train_split(spark, sf_dir)
    )


def _build_train_split(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # 1. line dedup + rebuild
    lines = _lines_df(docs)
    keepers = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "line_id")).alias("first_at")
    )
    marked = lines.join(keepers, "line").select(
        "doc_id",
        "line_id",
        "line",
        (
            (F.col("doc_id") == F.col("first_at.doc_id"))
            & (F.col("line_id") == F.col("first_at.line_id"))
        ).alias("is_first"),
    )
    rebuilt = (
        marked.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("is_first"), F.struct("line_id", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("text"),
            F.sum(F.col("is_first").cast("long")).alias("_kept"),
        )
        .filter(F.col("_kept") > 0)
        .drop("_kept")
    )

    # 2. shape gate on the deduped text
    docs2 = (
        rebuilt.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .withColumn("toks", F.split(F.trim(F.col("text")), r"\s+"))
        .filter(F.size("toks") >= _MIN_WORDS)
        .localCheckpoint(eager=False)  # feeds scoring, thresholds and split
    )

    # 3. per-lang LM tertiles
    tok2 = docs2.select("doc_id", "lang", F.explode("toks").alias("token"))
    freq = tok2.groupBy("lang", "token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    scored = (
        tok2.join(freq, ["lang", "token"])
        .groupBy("doc_id", "lang")
        .agg(
            F.expr(
                "CAST(CAST(SUM(c) AS DECIMAL(38,0)) * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("score_micro")
        )
        .localCheckpoint(eager=False)
    )
    dist = scored.groupBy("lang", "score_micro").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.col("score_micro").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dist.select(
        "lang",
        "score_micro",
        F.sum("cnt").over(w_cum).alias("cum_docs"),
        F.sum("cnt").over(Window.partitionBy("lang")).alias("n_docs"),
    )
    thr = cum.groupBy("lang").agg(
        F.max(
            F.when(F.col("cum_docs") * 3 >= F.col("n_docs"), F.col("score_micro"))
        ).alias("head_thr"),
        F.max(
            F.when(F.col("cum_docs") * 3 >= 2 * F.col("n_docs"), F.col("score_micro"))
        ).alias("mid_thr"),
    )
    bucketed = (
        docs2.join(scored.drop("lang"), "doc_id")
        .join(F.broadcast(thr), "lang")
        .select(
            "doc_id",
            "lang",
            "source",
            "text",
            F.when(F.col("score_micro") >= F.col("head_thr"), F.lit("head"))
            .when(F.col("score_micro") >= F.col("mid_thr"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )
    kept = bucketed.filter(F.col("bucket") != "tail")

    # 4. leakage-proof train split on the deduped-content fingerprint
    fp = kept.select("doc_id", "lang", "source", "bucket", F.md5("text").alias("fingerprint"))
    cl = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("rep"))
    from prosnet_prefect_pipelines_spark.operators.sampling import portable_fraction

    return (
        fp.join(cl, "fingerprint")
        .filter(portable_fraction(F.col("rep"), "split") >= 0.2)
        .select("doc_id", "lang", "source", "bucket")
        .localCheckpoint(eager=False)  # feeds per-source plan and expansion
    )


@register("llm_corpus_pipeline_v2", oracle=V2_SQL, covers=["J9", "J1", "J7", "A2", "O1", "O6"])
def q_llm_corpus_pipeline_v2(spark, sf_dir):
    """The 2024 corpus pipeline as ONE lazy plan: CCNet line dedup ->
    shape gate -> per-lang LM tertiles (tail dropped) -> leakage-proof
    train split -> capped epoch expansion -> epoch-varying shard
    shuffle. Emits the materialized training list. Composed from the
    exact algebra of the stand-alone stage queries; the single value
    hash checks the whole DAG. Stages 1-4 come from the memoized
    _train_split fixture (first construction per session/pass pays the
    full build; the bench's repeat protocol resets it)."""
    split = _train_split(spark, sf_dir)

    # 5. capped epoch expansion
    per = split.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    mx = per.agg(F.max("n_docs").alias("m"))
    plan = per.crossJoin(F.broadcast(mx)).select(
        "source",
        F.least(
            F.expr("CAST((m + n_docs - 1) div n_docs AS BIGINT)"), F.lit(_MAX_EPOCHS)
        ).alias("repeats"),
    )
    expanded = split.join(F.broadcast(plan), "source").select(
        "doc_id",
        "lang",
        "source",
        "bucket",
        F.explode(
            F.sequence(F.lit(1).cast("long"), F.col("repeats").cast("long"))
        ).alias("epoch"),
    )

    # 6. epoch-varying shard shuffle
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("shuffle"),
                    F.col("epoch").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    shuffled = expanded.withColumn("h", h)
    w = Window.partitionBy("epoch", F.expr(f"h % {_SHARDS}")).orderBy(
        F.expr(f"h div {_SHARDS}"), "doc_id"
    )
    return shuffled.select(
        "doc_id",
        "lang",
        "source",
        "bucket",
        "epoch",
        F.expr(f"CAST(h % {_SHARDS} AS BIGINT)").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )
