"""Pipeline batch 43: dedup instrumentation + URL governance —

- ``minhash_recall_report``: the honesty report for the MinHash-LSH
  tier — exact 3-gram Jaccard >= 0.5 pairs are the ground truth, the
  banded-LSH verified pairs are the candidates; emits truth/found/
  missed counts and recall in ppm (precision is 1.0 by construction
  because candidates are exact-verified — stated, not hidden). The
  dedup twin of ``ann_recall_report``: banding trades recall for
  candidate volume, and this query MEASURES the trade instead of
  asserting it.
- ``domain_blocklist_filter``: UT1-style domain blocklisting: a URL is
  blocked when its host IS a blocklisted registered domain or any
  subdomain of one. The tiny blocklist broadcasts; the
  suffix-matching join is a deliberate broadcast nested-loop over a
  handful of rows (documented: at a million-entry blocklist you flip
  to the reversed-domain prefix-range join so it becomes a sorted
  range lookup).

Scale notes: the recall report reuses the memoized shared pair views
(q_dedup.lsh_pairs / ngram inverted index) — no new heavy stage; the
blocklist scan is a narrow pass + one broadcast.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import dedup as D
from prosnet_prefect_pipelines_spark.operators import web as W
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_dedup import (
    MINHASH_PAIR_CTES,
    corpus,
    lsh_pairs,
)
from prosnet_prefect_pipelines_spark.plans.q_pipeline2 import _EXPECTED_CTE, _spark_urls
from prosnet_prefect_pipelines_spark.session import local_frame

RECALL_SQL = f"""
WITH {MINHASH_PAIR_CTES},
truth AS (SELECT a, b FROM jac WHERE jaccard >= 0.5),
found AS (SELECT a, b FROM lsh_pairs),
hit AS (SELECT t.a, t.b FROM truth t JOIN found f ON f.a = t.a AND f.b = t.b)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS truth_pairs,
       CAST((SELECT COUNT(*) FROM found) AS BIGINT) AS found_pairs,
       CAST((SELECT COUNT(*) FROM truth) - (SELECT COUNT(*) FROM hit) AS BIGINT)
           AS missed_pairs,
       CAST(CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 1000000
            ELSE (SELECT COUNT(*) FROM hit) * 1000000
                 // (SELECT COUNT(*) FROM truth) END AS BIGINT) AS recall_ppm
"""


@register("minhash_recall_report", oracle=RECALL_SQL, covers=["J1", "A2"])
def q_minhash_recall_report(spark, sf_dir):
    """LSH banding recall vs exact Jaccard ground truth (>= 0.5): how
    many true near-dup pairs the 12-hash/4-band configuration actually
    surfaces. Both sides reuse the session-memoized shared views; the
    compare is two pair-keyed joins and four scalar counts."""
    truth = D.ngram_jaccard_pairs(
        corpus(spark, sf_dir), "id", "text", k=3, threshold=0.5
    ).select("a", "b")
    found = lsh_pairs(spark, sf_dir).select("a", "b")
    hit = truth.join(found, ["a", "b"])
    t = truth.agg(F.count(F.lit(1)).alias("truth_pairs"))
    f_ = found.agg(F.count(F.lit(1)).alias("found_pairs"))
    h = hit.agg(F.count(F.lit(1)).alias("hits"))
    return (
        t.crossJoin(f_)
        .crossJoin(h)
        .select(
            F.col("truth_pairs").cast("long").alias("truth_pairs"),
            F.col("found_pairs").cast("long").alias("found_pairs"),
            (F.col("truth_pairs") - F.col("hits")).cast("long").alias("missed_pairs"),
            F.expr(
                "CAST(CASE WHEN truth_pairs = 0 THEN 1000000"
                " ELSE hits * 1000000 div truth_pairs END AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


_BLOCKLIST = ["example0.com", "example3.com", "site2.org", "data5.io"]

_BL_SQL = " UNION ALL ".join(f"SELECT '{d}' AS d" for d in _BLOCKLIST)

BLOCKLIST_SQL = f"""
WITH {_EXPECTED_CTE},
bl AS ({_BL_SQL}),
matched AS (
    SELECT e.doc_id, e.host, MIN(b.d) AS matched_domain
    FROM expected e LEFT JOIN bl b
      ON e.host = b.d OR e.host LIKE '%.' || b.d
    GROUP BY e.doc_id, e.host
)
SELECT doc_id, coalesce(host, '') AS host,
       matched_domain IS NOT NULL AS blocked,
       matched_domain
FROM matched
"""


@register("domain_blocklist_filter", oracle=BLOCKLIST_SQL, covers=["P6", "J4", "P7"])
def q_domain_blocklist_filter(spark, sf_dir):
    """Domain blocklisting with subdomain semantics: host blocked iff
    it equals a listed registered domain or ends with '.'+domain. The
    blocklist broadcasts; the suffix match is a deliberate broadcast
    nested-loop over len(blocklist) rows per URL (at UT1 scale — ~1M
    domains — flip to the reversed-domain prefix-range join). Matched
    domain reported as MIN for determinism when nested lists overlap."""
    urls = _spark_urls(spark, sf_dir)
    host = F.lower(W.url_host(F.col("url")))
    hosts = urls.select("doc_id", "url", host.alias("host"))
    bl = local_frame(spark, [(d,) for d in _BLOCKLIST], "d string")
    joined = hosts.join(
        F.broadcast(bl),
        (F.col("host") == F.col("d"))
        | F.col("host").endswith(F.concat(F.lit("."), F.col("d"))),
        "left",
    )
    return joined.groupBy("doc_id", "host").agg(
        F.min("d").alias("matched_domain")
    ).select(
        "doc_id",
        F.coalesce("host", F.lit("")).alias("host"),
        F.col("matched_domain").isNotNull().alias("blocked"),
        "matched_domain",
    )


BLOCKLIST_PREFIX_SQL = f"""
WITH {{_EXPECTED_CTE}},
bl AS ({{_BL_SQL}}),
rbl AS (
    SELECT d, reverse(d) AS rd, substr(reverse(d), 1, 2) AS bucket FROM bl
),
rh AS (
    SELECT doc_id, host, reverse(host) AS rhost,
           substr(reverse(host), 1, 2) AS bucket
    FROM expected
),
matched AS (
    SELECT h.doc_id, h.host, MIN(r.d) AS matched_domain
    FROM rh h LEFT JOIN rbl r
      ON r.bucket = h.bucket
     AND (h.rhost = r.rd OR h.rhost LIKE r.rd || '.%')
    GROUP BY h.doc_id, h.host
)
SELECT doc_id, coalesce(host, '') AS host,
       matched_domain IS NOT NULL AS blocked,
       matched_domain
FROM matched
"""
BLOCKLIST_PREFIX_SQL = BLOCKLIST_PREFIX_SQL.replace("{_EXPECTED_CTE}", _EXPECTED_CTE).replace(
    "{_BL_SQL}", _BL_SQL
)


@register("domain_blocklist_prefix_join", oracle=BLOCKLIST_PREFIX_SQL, covers=["P6", "J1", "P7"])
def q_domain_blocklist_prefix_join(spark, sf_dir):
    """The SCALE tier of domain blocklisting — byte-identical output to
    ``domain_blocklist_filter``, different plan: hosts and blocklist
    domains are string-REVERSED so 'subdomain of d' becomes 'rhost has
    prefix rd.', and the join becomes an EQUI join on the reversed
    2-char prefix bucket plus a residual prefix test. With a
    million-entry blocklist the bucket key spreads it across the
    cluster and each host only meets its bucket's slice — no
    per-host scan of the whole list (the batch-43 BNLJ's limit). A
    regression-style test asserts both tiers agree row-for-row."""
    urls = _spark_urls(spark, sf_dir)
    host = F.lower(W.url_host(F.col("url")))
    rh = urls.select(
        "doc_id",
        host.alias("host"),
        F.reverse(host).alias("rhost"),
        F.substring(F.reverse(host), 1, 2).alias("bucket"),
    )
    bl = local_frame(spark, [(d,) for d in _BLOCKLIST], "d string").select(
        "d",
        F.reverse("d").alias("rd"),
        F.substring(F.reverse("d"), 1, 2).alias("bucket"),
    )
    rh_a, bl_a = rh.alias("rh"), bl.alias("bl")
    joined = rh_a.join(
        F.broadcast(bl_a),
        (F.col("rh.bucket") == F.col("bl.bucket"))
        & (
            (F.col("rh.rhost") == F.col("bl.rd"))
            | F.col("rh.rhost").startswith(F.concat(F.col("bl.rd"), F.lit(".")))
        ),
        "left",
    )
    return joined.groupBy("doc_id", "host").agg(
        F.min("d").alias("matched_domain")
    ).select(
        "doc_id",
        F.coalesce("host", F.lit("")).alias("host"),
        F.col("matched_domain").isNotNull().alias("blocked"),
        "matched_domain",
    )
