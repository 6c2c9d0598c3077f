"""Training-data pipeline queries, batch 7 (north-star extension):
Count-Min heavy-hitter estimation, MAD robust outlier detection, and
embedding-centroid outlier mining (mislabel candidates).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import sketch as SK
from prosnet_prefect_pipelines_spark.operators.aggregates import exact_quantiles
from prosnet_prefect_pipelines_spark.operators.textstats import tokens
from prosnet_prefect_pipelines_spark.plans.catalog import register

# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters

_H1 = (
    "list_sum(list_transform(generate_series(1, 12), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(token || '#cms1'), i, 1)) - 1 AS BIGINT)"
    " * CAST(power(16, 12 - i) AS BIGINT)))"
)
_H2 = _H1.replace("#cms1", "#cms2")

CMS_SQL = f"""
WITH toks AS (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents
),
hashed AS (SELECT token, {_H1} AS h1, {_H2} AS h2 FROM toks),
positions AS (
    SELECT token, d, (h1 + d * h2) % {SK.CMS_W} AS bucket
    FROM hashed, generate_series(0, {SK.CMS_D - 1}) t(d)
),
cms AS (SELECT d, bucket, COUNT(*) AS c FROM positions GROUP BY d, bucket),
exact AS (SELECT token, COUNT(*) AS exact_c FROM toks GROUP BY token),
top AS (SELECT token, exact_c FROM exact ORDER BY exact_c DESC, token LIMIT 20),
probes AS (
    SELECT x.token, d2.d AS d, (x.h1 + d2.d * x.h2) % {SK.CMS_W} AS bucket
    FROM (SELECT DISTINCT token, h1, h2 FROM hashed) x,
         generate_series(0, {SK.CMS_D - 1}) d2(d)
),
est AS (
    SELECT p.token, MIN(c.c) AS cms_estimate
    FROM probes p JOIN cms c ON c.d = p.d AND c.bucket = p.bucket
    GROUP BY p.token
)
SELECT top.token, CAST(top.exact_c AS BIGINT) AS exact_c,
       CAST(est.cms_estimate AS BIGINT) AS cms_estimate
FROM top JOIN est ON top.token = est.token
"""


@register("cms_heavy_hitters", oracle=CMS_SQL, covers=["A2", "O1"])
def q_cms_heavy_hitters(spark, sf_dir):
    """X-CMS: Count-Min frequency estimates for the top-20 exact tokens —
    the 4 KB counter table summarizes the whole token stream in one
    map-side-combined aggregation, and estimates never undercount
    (min over hash rows; collisions only bias high). Register values are
    md5-derived, so the DuckDB twin rebuilds the identical sketch."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    cms = SK.cms_build(toks, "token").localCheckpoint(eager=False)
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_c"))
        .orderBy(F.col("exact_c").desc(), "token")
        .limit(20)
    )
    est = SK.cms_estimate(cms, top.select("token"), "token")
    return top.join(est, on="token").select(
        "token", F.col("exact_c").cast("long").alias("exact_c"), "cms_estimate"
    )


# ---------------------------------------------------------------------------
# MAD robust outliers

MAD_SQL = """
WITH ranked AS (
    SELECT event_type, value, event_id,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
med AS (
    SELECT event_type,
           MIN(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS med
    FROM ranked GROUP BY event_type
),
devs AS (
    SELECT r.event_type, abs(r.value - m.med) AS dev, r.event_id, m.med
    FROM ranked r JOIN med m ON r.event_type = m.event_type
),
dev_ranked AS (
    SELECT event_type, dev, med,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY dev, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM devs
),
mad AS (
    SELECT event_type, ANY_VALUE(med) AS med,
           MIN(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN dev END) AS mad
    FROM dev_ranked GROUP BY event_type
)
SELECT d.event_type,
       round(m.med, 6) AS med,
       round(m.mad, 6) AS mad,
       CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM devs d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type, m.med, m.mad
"""


@register("mad_outliers", oracle=MAD_SQL, covers=["O1", "A2"])
def q_mad_outliers(spark, sf_dir):
    """X-MAD: robust outlier counting via median absolute deviation —
    the data-quality gate that survives the outliers it hunts (unlike
    stddev). Exact nearest-rank medians (keyed window, per-group sort),
    deviations broadcast back, flag |x - med| > 3*MAD. At 100 TB swap
    the t-digest tier for the medians; the flagging pass is unchanged."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    med = (
        exact_quantiles(events, "event_type", "value", "event_id", [0.5])
        .select("event_type", F.col("quantile").alias("med"))
    )
    devs = events.join(F.broadcast(med), on="event_type").select(
        "event_type",
        "event_id",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    mad = (
        exact_quantiles(devs, "event_type", "dev", "event_id", [0.5])
        .select("event_type", F.col("quantile").alias("mad"))
    )
    return (
        devs.join(F.broadcast(mad), on="event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# embedding-centroid outliers (mislabel candidates)

_EMB_DOT = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _emb_cos(a: str, b: str) -> str:
    dot = _EMB_DOT.format(a=a, b=b)
    na = _EMB_DOT.format(a=a, b=a)
    nb = _EMB_DOT.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


EMB_OUTLIER_SQL = f"""
WITH v AS (SELECT vec_id AS id, label, embedding AS v FROM embeddings),
m AS (
    SELECT label, p.pos,
           CAST(SUM(CAST(round(CAST(v[p.pos] AS DOUBLE) * 1000000000.0)
                         AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000000000.0 AS m
    FROM v, generate_series(1, 64) p(pos)
    GROUP BY label, p.pos
),
cent AS (SELECT label, list(m ORDER BY pos) AS cv FROM m GROUP BY label),
scored AS (
    SELECT x.id, x.label, round({_emb_cos('x.v', 'c.cv')}, 6) AS ccos
    FROM v x JOIN cent c ON c.label = x.label
)
SELECT id, label, ccos FROM (
    SELECT *, row_number() OVER (PARTITION BY label ORDER BY ccos, id) AS rn
    FROM scored
) t WHERE rn <= 5
"""


@register("embedding_outliers", oracle=EMB_OUTLIER_SQL, covers=["O6", "A2"])
def q_embedding_outliers(spark, sf_dir):
    """X-EMB-OUTLIER: per-label centroid (integer-scaled exact mean, the
    k-means m-step), cosine of every member to its own centroid, keep
    the 5 least-similar per label — the mislabel/contamination candidate
    list a dataset audit starts from. Centroid agg shuffles labels x 64
    rows (corpus-size independent); scoring is a broadcast join."""
    from pyspark.sql.window import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = emb.select(F.col("vec_id").alias("id"), "label", F.col("embedding").alias("v"))
    comp = v.select(
        "label", F.posexplode(F.col("v")).alias("pos0", "x")
    ).groupBy("label", (F.col("pos0") + 1).alias("pos")).agg(
        (
            F.sum(F.round(F.col("x").cast("double") * 1e9).cast("long")).cast("double")
            / F.count(F.lit(1))
            / F.lit(1e9)
        ).alias("m")
    )
    cent = comp.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("pos"), F.col("m")))
        ).alias("_pm")
    ).select(
        "label",
        F.expr("transform(_pm, s -> s.m)").alias("cv"),
    )
    from prosnet_prefect_pipelines_spark.operators.similarity import cosine

    scored = v.join(F.broadcast(cent), on="label").select(
        "id", "label", cosine(F.col("v"), F.col("cv"), 64).alias("ccos")
    )
    # least similar first; a zero-norm member's NULL score sorts last,
    # as DuckDB's ORDER BY does in either direction
    w = Window.partitionBy("label").orderBy(
        F.col("ccos").asc_nulls_last(), F.col("id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .select("id", "label", "ccos")
    )


# ---------------------------------------------------------------------------
# multimodal audio: synthesize RIFF/PCM WAVs, decode, verify stats

from prosnet_prefect_pipelines_spark.operators import multimodal as MM  # noqa: E402

AUDIO_SQL = """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
sq AS (
    SELECT doc_id,
           list_transform(generate_series(0, 63),
                          i -> ((doc_id * 37 + i * 101) % 4001) - 2000) AS s
    FROM ids
)
SELECT doc_id AS id,
       CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(16 AS INT) AS bits,
       CAST(64 AS BIGINT) AS n_samples,
       CAST(FLOOR(sqrt(CAST(list_sum(list_transform(s, x -> x * x))
                            * 1000000 // 64 AS DOUBLE))) AS BIGINT) AS rms_milli,
       CAST(list_max(list_transform(s, x -> abs(x))) AS INT) AS peak
FROM sq
"""


@register("audio_pcm_stats", oracle=AUDIO_SQL, covers=["P2"])
def q_audio_pcm_stats(spark, sf_dir):
    """X-MM-AUDIO: real RIFF/PCM WAV containers synthesized per doc,
    parsed back by the Arrow-batched decoder (header fields + integer
    RMS/peak). The oracle never touches bytes: it derives the expected
    stats from the same closed-form signal — decode and derivation must
    agree exactly, which is the decoder's correctness proof."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 5 == 0
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "payload": [
                        MM.synth_wav_bytes(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    wavs = docs.select("doc_id").mapInPandas(synth, "id long, payload binary")
    return MM.decode_wav(wavs)
