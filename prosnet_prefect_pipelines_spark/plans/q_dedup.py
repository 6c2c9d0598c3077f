"""Deduplication queries (north-star extension; BASELINE.json).

The corpus = documents ∪ exact copies (doc_id%10==0, +100000) ∪ near
copies with the last word dropped (doc_id%7==0, +200000), built
identically in both engines, so every strategy has real duplicates to
find. All four strategies run in `portable` hash mode (48-bit md5-prefix
ids — a per-row expression, identical in both engines) so the full
pipeline — shingles, minhashes, banding, verification — is checked
value-for-value against DuckDB; mode `fast` (xxhash64) shares every
line of downstream logic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import dedup as D
from prosnet_prefect_pipelines_spark.operators import graph as G
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import memo_fixture

CORPUS_CTE = """
corpus AS (
    SELECT doc_id AS id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 200000, regexp_replace(text, '\\s+\\S+$', '')
    FROM documents WHERE doc_id % 7 = 0
)
"""

SHINGLES_CTE = """
words AS (
    SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM corpus
),
shingles AS (
    SELECT DISTINCT id, shingle FROM words,
    LATERAL (
        SELECT unnest(
            CASE WHEN len(w) >= 3
                 THEN list_transform(generate_series(1, len(w) - 2),
                                     i -> array_to_string(w[i:i+2], ' '))
                 ELSE [array_to_string(w, ' ')] END
        ) AS shingle
    ) s
)
"""

JACCARD_CTE = """
sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY id),
inter AS (
    SELECT x.id AS a, y.id AS b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM shingles x JOIN shingles y ON x.shingle = y.shingle AND x.id < y.id
    GROUP BY x.id, y.id
),
jac AS (
    SELECT a, b, round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.a = sa.id
    JOIN sizes sb ON inter.b = sb.id
)
"""


def _memoized(name, spark, sf_dir, build):
    """Per-(session, sf) eager-localCheckpoint memo (session.memo_fixture).
    Eager, because a lazy memo's lineage still reads the inner
    checkpoints of ``minhash_lsh_pairs``/``jaccard_verify``, which are
    not protected: a sweep before its first execution dropped their
    blocks (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    return memo_fixture(
        spark, (name, sf_dir), lambda: build().localCheckpoint(eager=True)
    )


def corpus(spark, sf_dir):
    """Spark twin of CORPUS_CTE (memoized per session+sf, like
    tpch_graph.triples_from_tpch — six dedup queries share it)."""
    return _memoized("corpus", spark, sf_dir, lambda: _build_corpus(spark, sf_dir))


def lsh_pairs(spark, sf_dir):
    """Verified MinHash-LSH near-dup pairs (the `lsh_pairs` CTE), shared
    by the pair query and the end-to-end keeper assignment — the pair
    view is the expensive stage (shingle explode + K minhashes), so the
    cluster pass reuses it instead of recomputing."""
    return _memoized(
        "lsh_pairs", spark, sf_dir,
        lambda: D.minhash_lsh_pairs(
            corpus(spark, sf_dir), "id", "text",
            k=3, num_hashes=12, bands=4, threshold=0.5, hash_mode="portable",
        ),
    )


def _build_corpus(spark, sf_dir):
    from prosnet_prefect_pipelines_spark.session import fan_out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # fan_out: the 3-branch union of single-row-group scans is 3
    # partitions, which starves every downstream fingerprint/shingle
    # projection of cores; the memo pays this one small shuffle once
    # per (session, sf) and every dedup-family query inherits full
    # map-side parallelism (see session.fan_out).
    return fan_out(
        docs.select(F.col("doc_id").alias("id"), "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 200000).alias("id"),
                F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
            )
        ),
        spark,
    )


EXACT_SQL = f"""
WITH {CORPUS_CTE}
SELECT sha256(text) AS content_hash, min(id) AS keeper,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM corpus GROUP BY 1
"""


@register("dedup_exact", oracle=EXACT_SQL, covers=["O3", "O4"])
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy, min-id keeper — one shuffle on the
    content hash (never on full text)."""
    return D.exact_dedup(corpus(spark, sf_dir), "id", "text")


NGRAM_SQL = f"""
WITH {CORPUS_CTE}, {SHINGLES_CTE}, {JACCARD_CTE}
SELECT a, b, jaccard FROM jac WHERE jaccard >= 0.6
"""


@register("dedup_ngram_jaccard", oracle=NGRAM_SQL, covers=["J1"])
def q_dedup_ngram(spark, sf_dir):
    """Exact word-3-gram Jaccard pairs via shingle inverted-index self-join
    (no cross join; cost bounded by per-shingle document frequency)."""
    return D.ngram_jaccard_pairs(corpus(spark, sf_dir), "id", "text", k=3, threshold=0.6)


MINHASH_PAIR_CTES = f"""
{CORPUS_CTE}, {SHINGLES_CTE},
-- portable 48-bit md5-prefix shingle id (bit-identical to Spark's
-- conv(substring(md5(shingle),1,12),16,10))
sid_tbl AS (
    SELECT id,
           list_sum(list_transform(generate_series(1, 12),
               i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1 AS BIGINT)
                    * CAST(power(16, 12 - i) AS BIGINT))) AS sid
    FROM shingles
),
hashes AS (SELECT j, CAST(2*j+1 AS BIGINT) AS a, CAST(97*j+13 AS BIGINT) AS b
           FROM generate_series(0, 11) t(j)),
sigs AS (
    SELECT id, j, min((a * sid + b) % 2147483647) AS minhash
    FROM sid_tbl, hashes GROUP BY id, j
),
bands AS (
    SELECT id, CAST(j // 3 AS INT) AS band,
           string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY j) AS bucket
    FROM sigs GROUP BY id, band
),
cands AS (
    SELECT DISTINCT x.id AS a, y.id AS b
    FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
),
{JACCARD_CTE.strip().removeprefix(',').strip()},
lsh_pairs AS (
    SELECT c.a, c.b, j.jaccard
    FROM cands c JOIN jac j ON c.a = j.a AND c.b = j.b
    WHERE j.jaccard >= 0.5
)
"""

MINHASH_SQL = f"""
WITH {MINHASH_PAIR_CTES}
SELECT a, b, jaccard FROM lsh_pairs
"""


@register("dedup_minhash_lsh", oracle=MINHASH_SQL, covers=["J1", "A1"])
def q_dedup_minhash(spark, sf_dir):
    """MinHash(12) + LSH(4 bands x 3 rows) candidates, verified with exact
    Jaccard — the scale path for near-dup detection: candidate generation
    is linear; only bucket-colliding pairs pay verification."""
    return lsh_pairs(spark, sf_dir)


SIMHASH_SQL = f"""
WITH {CORPUS_CTE},
tok AS (
    SELECT id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM corpus
),
tid_tbl AS (
    SELECT id,
           list_sum(list_transform(generate_series(1, 12),
               i -> CAST(strpos('0123456789abcdef', substr(md5(token), i, 1)) - 1 AS BIGINT)
                    * CAST(power(16, 12 - i) AS BIGINT))) AS tid
    FROM tok
),
bits AS (SELECT h, CAST(31*h+7 AS BIGINT) AS a, CAST(113*h+41 AS BIGINT) AS b
         FROM generate_series(0, 15) t(h)),
per_bit AS (
    SELECT id, h, SUM(((tid * a + b) % 2147483647) % 2 * 2 - 1) AS s
    FROM tid_tbl, bits GROUP BY id, h
)
SELECT id, CAST(SUM(CASE WHEN s > 0 THEN 1 << h ELSE 0 END) AS BIGINT) AS simhash
FROM per_bit GROUP BY id
"""


@register("dedup_simhash", oracle=SIMHASH_SQL, covers=["A1"])
def q_dedup_simhash(spark, sf_dir):
    """16-bit SimHash signatures over tokens (with multiplicity): one
    explode + small bits cross-join + two aggregations; near-dup pairs are
    then Hamming-close signatures."""
    return D.simhash_signatures(corpus(spark, sf_dir), "id", "text", bits=16)


# -- end-to-end keeper assignment (pairs -> clusters -> keeper) -------------

COMPONENT_CTES = """
-- zero-padded ids make lexicographic min == numeric min, matching the
-- string-keyed connected-components operator
und AS (
    SELECT lpad(CAST(a AS VARCHAR), 12, '0') AS x,
           lpad(CAST(b AS VARCHAR), 12, '0') AS y
    FROM lsh_pairs
    UNION ALL
    SELECT lpad(CAST(b AS VARCHAR), 12, '0'),
           lpad(CAST(a AS VARCHAR), 12, '0')
    FROM lsh_pairs
),
reach(src, dst) AS (
    SELECT x, y FROM und
    UNION
    SELECT r.src, u.y FROM reach r JOIN und u ON r.dst = u.x
),
comps AS (
    SELECT CAST(src AS BIGINT) AS node_id,
           CAST(least(src, min(dst)) AS BIGINT) AS comp_id
    FROM reach GROUP BY src
)
"""

CLUSTERS_SQL = f"""
WITH RECURSIVE {MINHASH_PAIR_CTES}, {COMPONENT_CTES}
SELECT c.id, coalesce(m.comp_id, c.id) AS keeper,
       coalesce(m.comp_id, c.id) = c.id AS keep
FROM corpus c LEFT JOIN comps m ON c.id = m.node_id
"""


@register("dedup_clusters", oracle=CLUSTERS_SQL, covers=["J9", "O6"])
def q_dedup_clusters(spark, sf_dir):
    """End-to-end near-dup keeper assignment — the shape a training-data
    pipeline actually ships: MinHash-LSH candidate pairs -> connected
    components over the (sparse) duplicate graph -> keeper = min id per
    cluster; every corpus document gets a row, singletons keep themselves.
    Scale: candidate generation is linear in the corpus, the components
    fixpoint runs only on the duplicate graph (orders of magnitude smaller
    than the corpus), and the final keeper join is a left join against
    that small label table."""
    c = corpus(spark, sf_dir)
    pairs = lsh_pairs(spark, sf_dir)
    edges = pairs.select(
        F.lpad(F.col("a").cast("string"), 12, "0").alias("src"),
        F.lpad(F.col("b").cast("string"), 12, "0").alias("dst"),
    )
    comps = G.connected_components(edges).select(
        F.col("node").cast("bigint").alias("node_id"),
        F.col("comp").cast("bigint").alias("comp_id"),
    )
    return (
        c.select("id")
        .join(comps, F.col("id") == F.col("node_id"), "left")
        .select(
            "id",
            F.coalesce("comp_id", "id").alias("keeper"),
            (F.coalesce("comp_id", "id") == F.col("id")).alias("keep"),
        )
    )


# -- embedding-cosine near-dup (on the embeddings table) --------------------

EMB_DOT = """
list_reduce(
    list_transform(generate_series(1, 64),
                   i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),
    (x, y) -> x + y)
"""


def _emb_cos(a: str, b: str) -> str:
    return (
        f"({EMB_DOT.format(a=a, b=b)}) / "
        f"(sqrt({EMB_DOT.format(a=a, b=a)}) * sqrt({EMB_DOT.format(b=b, a=b)}))"
    )


EMB_COSINE_SQL = f"""
WITH planes AS (SELECT h FROM generate_series(0, 3) t(h)),
proj AS (
    SELECT e.vec_id, p.h,
           list_reduce(
               list_transform(generate_series(1, 64),
                              i -> CAST(e.embedding[i] AS DOUBLE)
                                   * (((p.h + 1) * ((i - 1) + 7) * 2654435761)
                                      % 2039 - 1019)),
               (x, y) -> x + y) AS pr
    FROM embeddings e, planes p
),
sig AS (
    SELECT vec_id,
           string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY h) AS bucket
    FROM proj GROUP BY vec_id
),
cand AS (
    SELECT x.vec_id AS a, y.vec_id AS b
    FROM sig x JOIN sig y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT a, b, round({_emb_cos('ex.embedding', 'ey.embedding')}, 6) AS cos
FROM cand
JOIN embeddings ex ON ex.vec_id = cand.a
JOIN embeddings ey ON ey.vec_id = cand.b
WHERE round({_emb_cos('ex.embedding', 'ey.embedding')}, 6) >= 0.35
"""


@register("dedup_embedding_cosine", oracle=EMB_COSINE_SQL, covers=["J1", "O6"])
def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs: random-hyperplane sign buckets
    generate candidates (linear cost), exact cosine verifies only the
    candidates — the 100 TB near-dup path for vector corpora. 4 planes /
    threshold 0.35 calibrated to the synthetic embeddings' similarity
    range (max pairwise cosine ~0.51)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return D.embedding_cosine_pairs(
        emb, "vec_id", "embedding", dim=64, threshold=0.35, planes=4, mode="lsh"
    )


INCREMENTAL_DEDUP_SQL = f"""
WITH {MINHASH_PAIR_CTES}
SELECT n.id, CAST(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM (SELECT id FROM corpus WHERE id % 3 = 0) n
LEFT JOIN (
    SELECT b AS id FROM lsh_pairs WHERE b % 3 = 0
    UNION
    SELECT a FROM lsh_pairs WHERE a % 3 = 0 AND b % 3 <> 0
) d ON d.id = n.id
"""


@register("dedup_incremental", oracle=INCREMENTAL_DEDUP_SQL, covers=["J7", "T2"])
def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup admission: the corpus is split into an
    existing store (id % 3 != 0) and a new batch (id % 3 == 0); a new
    document is admitted iff it has no MinHash-LSH-verified near-dup
    (jaccard >= 0.5) in the store or earlier (smaller-id, greedy) in
    its own batch.

    The production shape persists the store's band buckets (the
    signature store) so each batch only hashes its own documents and
    joins its buckets against the store — candidate generation stays
    linear in batch size, and admitted docs append their signatures.
    Here both sides recompute from the shared memoized pair frame
    (bounded test shape); the admission rule is identical.
    """
    p = lsh_pairs(spark, sf_dir)  # (a, b, jaccard), a < b
    new = corpus(spark, sf_dir).filter(F.col("id") % 3 == 0).select("id")
    drop_b = p.filter(F.col("b") % 3 == 0).select(F.col("b").alias("id"))
    drop_a = p.filter((F.col("a") % 3 == 0) & (F.col("b") % 3 != 0)).select(
        F.col("a").alias("id")
    )
    dropped = drop_b.unionByName(drop_a).distinct().withColumn("_d", F.lit(1))
    return new.join(dropped, "id", "left").select(
        "id", F.when(F.col("_d").isNull(), 1).otherwise(0).cast("int").alias("kept")
    )
