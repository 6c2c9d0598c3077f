"""Document deduplication at scale (BASELINE.json north-star extension).

Four strategies over a (id, text) corpus, all shuffle-conscious:

- exact:        hash-groupBy on sha256(text) — one shuffle on the hash
- ngram-jaccard: word-shingle inverted index self-join — shuffle on
                 shingle, pair aggregation on (a, b); exact but quadratic
                 in per-shingle document frequency
- minhash-lsh:  shingles -> K minhashes -> banded bucket join -> verify
                 candidates with exact Jaccard. Candidate generation is
                 linear in corpus size; only candidate pairs pay the
                 verification join. The 100 TB path.
- simhash:      b-bit signature from per-token hash bits — one explode +
                 two aggregations; near-dup = small Hamming distance

Hashing modes: ``portable`` derives integer ids from a 48-bit md5 prefix
(md5 is bit-identical in Spark and DuckDB -> oracle-checkable, and a pure
per-row expression — no vocabulary join, no global sort, nothing that
breaks at 100 TB); ``fast`` uses xxhash64 — cheaper per byte, not
oracle-comparable across engines. Both share all downstream logic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.session import local_frame

PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne), standard minhash modulus


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def word_shingles(text: Column, k: int = 3) -> Column:
    """Sliding word k-grams joined with single spaces."""
    toks = tokens(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")),
    ).otherwise(F.array(F.array_join(toks, " ")))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """-> (keeper, n_copies, content_hash): one row per distinct content,
    keeper = min id (deterministic)."""
    return (
        df.select(F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("id").alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )


def _word_shingles_arrow(k: int):
    """Arrow-batched shingler: identical output to ``word_shingles`` but
    3-5x faster measured — Python's C-speed str.split beats interpreted
    per-char regex splitting for this shape (equivalence pinned in
    tests)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def sh(texts):
        def f(t):
            toks = t.strip().split()
            if len(toks) >= k:
                return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
            return [" ".join(toks)]

        return texts.map(f)

    # set hints explicitly: `from __future__ import annotations` would turn
    # inline hints into unresolvable strings for pyspark's inference
    sh.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(sh, "array<string>")


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, mode: str = "arrow"
) -> DataFrame:
    """distinct (id, shingle) — the inverted-index input.

    mode='arrow' (default): pandas-UDF shingler; mode='expr': pure
    Column expressions (JVM-side; wins when whole-stage codegen is on
    and plans are re-executed warm).
    """
    if mode == "arrow":
        shingles = _word_shingles_arrow(k)(F.col(text_col))
    else:
        shingles = word_shingles(F.col(text_col), k)
    return (
        df.select(F.col(id_col).alias("id"), F.explode(shingles).alias("shingle"))
        .distinct()
    )


def ngram_contamination(
    train: DataFrame,
    train_id: str,
    train_text: str,
    evalset: DataFrame,
    eval_id: str,
    eval_text: str,
    k: int = 3,
    min_common: int = 1,
) -> DataFrame:
    """-> (train_id, eval_id, n_common): training documents sharing at
    least ``min_common`` distinct word k-grams with an eval document —
    the benchmark-decontamination pass of a training-data pipeline.

    Scale shape: the eval side is a benchmark (thousands of docs, not
    billions), so its shingle table is BROADCAST; the training corpus
    streams through a narrow hash-join probe — the 100 TB side is never
    shuffled. Count aggregation keys on (train, eval) pairs, which only
    exist for actual collisions.
    """
    tr = shingle_table(train, train_id, train_text, k)
    ev = shingle_table(evalset, eval_id, eval_text, k).withColumnRenamed(
        "id", "eval_id"
    )
    return (
        tr.join(F.broadcast(ev), on="shingle")
        .groupBy("id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
        .withColumnRenamed("id", "train_id")
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """-> (id, n_ngrams, n_distinct, dup_ngram_frac): the fraction of
    k-gram occurrences inside a document that are repeats of an earlier
    occurrence — the intra-document repetition quality signal
    (Gopher-style repetition filters threshold on it).

    One explode (k-grams WITH multiplicity) and two aggregations keyed
    by document — shuffle keys are (id, shingle) then id, so work is
    proportional to corpus token count and partitions by document.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("s"),
    )
    per = sh.groupBy("id", "s").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("id").agg(
        F.sum("c").alias("n_ngrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round((F.sum("c") - F.count(F.lit(1))) / F.sum("c"), 6).alias(
            "dup_ngram_frac"
        ),
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, threshold: float = 0.6
) -> DataFrame:
    """Exact Jaccard-similar pairs (a < b) via shingle inverted index.

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|), computed from the
    intersection counts of the shingle self-join — no cross join.
    """
    # materialize: sh feeds a self-join + the sizes agg — without a
    # checkpoint the whole corpus->shingle lineage recomputes per branch
    sh = shingle_table(df, id_col, text_col, k).localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), on="shingle")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n_shingles", "na"), on="a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n_shingles", "nb"), on="b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def portable_id(col: Column) -> Column:
    """Deterministic 48-bit integer id for a string: md5-prefix parse.

    md5 hex output is bit-identical across Spark and DuckDB, so the id —
    and every minhash/simhash derived from it — can be value-checked
    against an ANSI-SQL oracle while remaining a pure per-row expression
    (no vocabulary join, no global sort)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
    hash_mode: str = "portable",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """-> (id, m0..m{num_hashes-1}): every minhash in ONE aggregation pass.

    hash_j(s) = (a_j * sid + b_j) mod PRIME with fixed odd a_j / b_j,
    computed as ``num_hashes`` parallel ``min()`` aggregates over the
    shingle table — no K-fold row inflation: map-side partial aggregation
    reduces each partition to one row per id before the only shuffle, and
    the shuffle carries K columns instead of K rows per document (at
    K=12 that is a 12x cut in shuffled rows vs the explode-then-group
    shape). ``shingles``: optionally pass a (materialized) shingle_table
    to share the scan with other stages.
    """
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col, k)
    if hash_mode == "portable":
        sh = sh.select("id", portable_id(F.col("shingle")).alias("sid"))
    elif hash_mode == "fast":
        sh = sh.select("id", (F.abs(F.xxhash64("shingle")) % PRIME).alias("sid"))
    else:
        raise ValueError(hash_mode)
    aggs = [
        F.min((F.lit(2 * j + 1) * F.col("sid") + F.lit(97 * j + 13)) % PRIME).alias(
            f"m{j}"
        )
        for j in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    hash_mode: str = "portable",
    bucket_cap: int | None = None,
) -> DataFrame:
    """LSH candidate pairs verified with exact Jaccard (a < b, jaccard >= t).

    Bands of r = num_hashes/bands rows; docs sharing any band bucket are
    candidates. Verification keeps precision exact; recall is the usual
    1-(1-s^r)^b curve. Output = candidates ∩ {jaccard >= threshold}.

    ``bucket_cap`` is the hot-bucket skew guard, the same salting
    mechanism as ``embedding_cosine_pairs``: a duplicate FLOOD (n
    identical docs) collides in EVERY band, so the uncapped band
    self-join generates O(n²) candidates before verification. With a
    cap, any (band, bucket) group larger than the cap is salted into
    ceil(size/cap) sub-buckets by hash(id, band), bounding the join at
    ~size·cap/2 per band. The salt is BAND-DEPENDENT, so a flood pair
    split apart in one band gets a fresh co-salt chance in every other
    band: within a flood of n docs at n_sub = n/cap sub-buckets, a pair
    survives with p = 1-(1-cap/n)^bands instead of being missed
    deterministically (measured in scripts/stress_hot_bucket.py).
    Alternative at scale: run ``exact_dedup`` first, as
    ``dedup_funnel_report`` does, which removes the flood before LSH
    ever sees it.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sh = shingle_table(df, id_col, text_col, k).localCheckpoint(eager=False)
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes, hash_mode, shingles=sh)
    # band b's bucket = its r minhash columns joined in j order — a pure
    # projection off the wide signature row (the old (id, j) band
    # aggregation is gone with the narrow format)
    band_buckets = F.array(
        *[
            F.concat_ws(
                "_", *[F.col(f"m{b * r + i}").cast("string") for i in range(r)]
            )
            for b in range(bands)
        ]
    )
    band_sig = sig.select(
        "id", F.posexplode(band_buckets).alias("band", "bucket")
    )
    if bucket_cap is not None:
        sizes_b = band_sig.groupBy("band", "bucket").agg(F.count("*").alias("_bc"))
        n_sub = F.ceil(F.col("_bc") / F.lit(float(bucket_cap))).cast("long")
        # hash(id, band) salting (works for string ids too); the band in
        # the hash gives a pair split apart in one band an independent
        # co-salt chance in every other band
        band_sig = band_sig.join(sizes_b, on=["band", "bucket"]).select(
            "id",
            "band",
            F.concat(
                F.col("bucket"),
                F.lit(":"),
                F.pmod(
                    F.abs(F.xxhash64(F.col("id").cast("string"), F.col("band"))),
                    n_sub,
                ).cast("string"),
            ).alias("bucket"),
        )
    band_sig = band_sig.localCheckpoint(eager=False)  # self-joined below
    cands = (
        band_sig.alias("x")
        .join(band_sig.alias("y"), on=["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    return jaccard_verify(cands, sh, threshold)


def _jaccard_set_cap() -> int:
    """Per-id shingle-set size above which jaccard_verify falls back to
    the expansion join (env-overridable; 0 disables the array path
    entirely). The default bounds a collected array row at ~64k
    shingles (a few MB) — far above any real document in the fixtures,
    low enough that a pathological giant document can never materialize
    a multi-GB aggregation-buffer row (opt r12, guide §2.5/§5)."""
    import os

    return int(os.environ.get("SPARK_GRAFT_JACCARD_SET_CAP", "65536"))


def jaccard_verify(
    cands: DataFrame,
    sh: DataFrame,
    threshold: float,
    max_set_size: int | None = None,
) -> DataFrame:
    """(a, b) candidate pairs -> (a, b, jaccard) with EXACT shingle
    Jaccard >= threshold.

    Verify ONLY the candidates — this is the point of LSH: the exact
    Jaccard join is restricted to bucket-colliding pairs, never all
    pairs. ``sh`` is a (id, shingle) table covering every id that can
    appear in ``cands`` (either side); pair orientation is free (Jaccard
    is symmetric), so callers may pass (stream, static) pairs unsorted.

    Shape (opt r11, guide §2.3/§2.4): ``sh`` rows are distinct per
    (id, shingle), so the intersection is computed per PAIR with
    ``array_intersect`` over per-id shingle arrays instead of a
    (pair x shingle)-expanded equi-join: semi-filter ``sh`` to ids that
    actually appear in a candidate pair (broadcast semi — candidate ids
    are output-sized), one exchange to collect each surviving id's
    shingle set, then two joins that attach the sets to the pair list.
    The old form shuffled the full shingle table plus the expanded
    match rows three more times (intersection join, n_common rollup,
    two size joins); sizes now fall out of the same arrays for free.
    n_common/na/nb are identical integers, so the rounded Jaccard is
    bit-identical.

    Giant-document guard (opt r12, guide §2.5/§5): a pathological id
    with a huge shingle set would materialize its whole set as ONE
    aggregation-buffer row, and every candidate pair row would carry
    two such arrays — a row-size/skew hazard at 100 TB. Ids whose set
    size exceeds ``max_set_size`` therefore skip the array path: pairs
    touching a capped id are verified with the original expansion join
    (shingle-match count + size joins), which never builds a per-id
    row. The semi-filtered shingle table is repartitioned by id ONCE,
    so the size count and the array aggregation share a single
    exchange (ReusedExchange), and when no id exceeds the cap the
    oversize branch's inputs are runtime-empty and AQE eliminates its
    joins. Both branches compute the identical rounded Jaccard."""
    from pyspark.sql.window import Window

    if max_set_size is None:
        max_set_size = _jaccard_set_cap()
    # the pair list feeds three consumers (both sides of the id filter
    # and the final join) — pin it so the candidate lineage is not
    # replanned per consumer
    cands = cands.localCheckpoint(eager=False)
    ids = (
        cands.select(F.col("a").alias("id"))
        .union(cands.select(F.col("b").alias("id")))
        .distinct()
    )
    # one exchange of the candidate ids' shingle rows; the set-size
    # column comes from an unordered window over the SAME partitioning
    # (the window buffer spills where a collect_list buffer would OOM),
    # so the array aggregation and the oversize expansion hang off one
    # reused exchange
    part = (
        sh.join(ids, on="id", how="left_semi")
        .repartition("id")
        .withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("id"))
        )
    )
    # ONE aggregation for every id: a capped id's rows feed NULL into
    # collect_list (which skips nulls), so its buffer stays empty and
    # its true size still arrives via _n — no second sizes pass, no
    # broadcast split of the id list
    arrays = part.groupBy("id").agg(
        F.collect_list(
            F.when(F.col("_n") <= max_set_size, F.col("shingle"))
        ).alias("_ss"),
        F.max("_n").alias("_n"),
    )
    # same two attach joins as the unguarded path (an id absent from sh
    # drops its pairs here in both designs); sizes ride along so the
    # oversize pairs can be routed without touching sh again
    joined = cands.join(
        arrays.select(
            F.col("id").alias("a"),
            F.col("_ss").alias("_sa"),
            F.col("_n").alias("_na"),
        ),
        on="a",
    ).join(
        arrays.select(
            F.col("id").alias("b"),
            F.col("_ss").alias("_sb"),
            F.col("_n").alias("_nb"),
        ),
        on="b",
    )
    in_cap = (F.col("_na") <= max_set_size) & (F.col("_nb") <= max_set_size)
    small = (
        joined.filter(in_cap)
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("_sa") + F.size("_sb") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    # oversize branch: pairs touching a capped id are verified with the
    # pre-r11 expansion join (never builds a per-id row). Runtime-empty
    # unless some id exceeds the cap, in which case only those pairs
    # pay it; a LEFT join attaches n_common so a disjoint pair scores
    # 0.0 exactly like size(array_intersect) does.
    big_pairs = joined.filter(~in_cap).select("a", "b", "_na", "_nb")
    # distinct so a duplicate candidate row cannot double-count shingle
    # matches (the left join below re-attaches one n_common per row,
    # preserving the array branch's duplicate semantics)
    inter = (
        big_pairs.select("a", "b")
        .distinct()
        .join(part.select(F.col("id").alias("a"), "shingle"), on="a")
        .join(
            part.select(F.col("id").alias("b"), "shingle"),
            on=["b", "shingle"],
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_nc"))
    )
    oversize = (
        big_pairs.join(inter, on=["a", "b"], how="left")
        .withColumn("n_common", F.coalesce(F.col("_nc"), F.lit(0)))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("_na") + F.col("_nb") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return small.unionByName(oversize)


def minhash_band_buckets(
    text: Column, k: int = 3, num_hashes: int = 12, bands: int = 4
) -> Column:
    """array<string> of LSH band buckets for one document, as a PURE
    per-row expression — no explode, no groupBy, no shuffle.

    Same hash family and band layout as ``minhash_signatures`` +
    ``minhash_lsh_pairs`` (portable mode), so buckets computed here
    collide exactly with an index built by the aggregation path: the
    min over a document's shingle hashes is order- and
    multiplicity-insensitive, hence ``array_min(transform(...))`` over
    the raw shingle array equals the DISTINCT-shingle ``min()``
    aggregate. This is the map-side/streaming variant: a streaming doc
    is fingerprinted without any stateful aggregation, which is what
    makes a stream-static LSH probe legal in append mode (used by
    ``streaming/neardup.py``)."""
    return minhash_band_buckets_from_sids(
        shingle_sids(text, k), num_hashes, bands
    )


def shingle_sids(text: Column, k: int = 3) -> Column:
    """array<long> of portable shingle ids for one document (per-row)."""
    return F.transform(word_shingles(text, k), portable_id)


def minhash_band_buckets_from_sids(
    sids: Column, num_hashes: int = 12, bands: int = 4
) -> Column:
    """Band buckets from an ALREADY-COMPUTED shingle-id array.

    Callers on a hot path should project ``shingle_sids`` into its own
    column first and pass that attribute here (see
    ``streaming/neardup.py``): this Column embeds ``sids`` once per
    min-hash, so an inline sids expression is analyzed AND executed
    num_hashes times over — with the session's whole-stage-codegen-off
    policy there is no runtime subexpression elimination, which made
    the one-Column form pay 12x the md5 work (and a plan-analysis tax
    measured in tens of seconds at sf0.1). A projection barrier keeps
    the md5 pass single: post-SPARK-36718 CollapseProject refuses to
    inline a multi-referenced non-cheap alias."""
    assert num_hashes % bands == 0
    r = num_hashes // bands

    # closure factory, NOT `lambda s, j=j: ...` — a two-parameter lambda
    # makes PySpark pick the (element, index) arity of transform() and
    # bind j to the per-element INDEX column, silently collapsing all
    # num_hashes expressions into one index-dependent hash
    def _mh(j: int):
        return lambda s: (F.lit(2 * j + 1) * s + F.lit(97 * j + 13)) % F.lit(PRIME)

    mins = [F.array_min(F.transform(sids, _mh(j))) for j in range(num_hashes)]
    return F.array(
        *[
            F.concat_ws("_", *[mins[b * r + i].cast("string") for i in range(r)])
            for b in range(bands)
        ]
    )


def salted_band_index(
    band_sig: DataFrame, bucket_cap: int | None
) -> tuple[DataFrame, DataFrame]:
    """(salted index, bucket size table) for a PROBE-side LSH join.

    Splits every (band, bucket) group larger than ``bucket_cap`` into
    ceil(size/cap) sub-buckets by xxhash64(id, band) — the identical
    salting mechanism as ``minhash_lsh_pairs(bucket_cap=...)`` — and
    returns the per-(band, bucket) ``n_sub`` table the probe side needs
    to replicate each probe across ALL sub-buckets. Unlike the
    self-join case, probing every sub-bucket keeps recall EXACT: the
    cap buys parallelism (a duplicate-flood bucket becomes n_sub
    independently-joinable partitions instead of one straggler task),
    not candidate reduction, so an oracle never has to model the salt.
    With ``bucket_cap=None`` the index passes through with n_sub = 1."""
    if bucket_cap is None:
        sizes = (
            band_sig.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_bc"))
            .select("band", "bucket", F.lit(1).cast("long").alias("n_sub"))
        )
        return band_sig.withColumn(
            "bucket", F.concat(F.col("bucket"), F.lit(":0"))
        ), sizes
    sizes = band_sig.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_bc"))
    sizes = sizes.select(
        "band",
        "bucket",
        F.ceil(F.col("_bc") / F.lit(float(bucket_cap))).cast("long").alias("n_sub"),
    )
    salted = band_sig.join(sizes, on=["band", "bucket"]).select(
        "id",
        "band",
        F.concat(
            F.col("bucket"),
            F.lit(":"),
            F.pmod(
                F.abs(F.xxhash64(F.col("id").cast("string"), F.col("band"))),
                F.col("n_sub"),
            ).cast("string"),
        ).alias("bucket"),
    )
    return salted, sizes


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
    planes: int = 8,
    mode: str = "lsh",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos >= threshold).

    mode='lsh' (the 100 TB path): random-hyperplane sign buckets generate
    candidates — high-cosine pairs land in the same bucket with
    probability (1 - theta/pi)^planes — then ONLY candidates pay the
    exact-cosine verification, so precision is exact and cost is linear
    in corpus size + quadratic per bucket. mode='brute' verifies all
    pairs (exactness baseline; verification scale only).

    ``bucket_cap`` (lsh mode) is the hot-bucket skew guard
    (``similarity.cap_buckets``, shared with ``rhp_lsh_topk``). Pairs
    split across sub-buckets are missed — the standard LSH recall
    trade, measured in scripts/stress_ann.py.
    """
    from prosnet_prefect_pipelines_spark.operators import similarity as S

    vecs = S.vector_rows(df, id_col, vec_col)
    if mode == "lsh":
        sig = vecs.withColumn("bucket", S.rhp_signature(F.col("v"), dim, planes))
        if bucket_cap is not None:
            sig = S.cap_buckets(sig, bucket_cap)
        pairs = (
            sig.alias("x")
            .join(sig.alias("y"), on="bucket")
            .filter(F.col("x.id") < F.col("y.id"))
        )
    elif mode == "brute":
        pairs = (
            vecs.alias("x")
            .join(vecs.alias("y"), F.col("x.id") < F.col("y.id"))
        )
    else:
        raise ValueError(mode)
    return (
        pairs.select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            S.cosine(
                F.col("x.v"), F.col("y.v"), na=F.col("x.nv"), nb=F.col("y.nv")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16, hash_mode: str = "portable"
) -> DataFrame:
    """-> (id, simhash): b-bit SimHash over tokens (with multiplicity).

    bit_h(token) = ((tid * A_h + B_h) mod PRIME) mod 2; signature bit h is
    1 iff sum over tokens of (2*bit_h - 1) > 0. Fully relational: one
    token explode, a bits cross join (|bits| small), two aggregations.
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("token")
    )
    if hash_mode == "portable":
        tok = tok.select("id", portable_id(F.col("token")).alias("tid"))
    else:
        tok = tok.select("id", (F.abs(F.xxhash64("token")) % PRIME).alias("tid"))
    bits_rows = [(h, 31 * h + 7, 113 * h + 41) for h in range(bits)]
    bdf = local_frame(tok.sparkSession, bits_rows, "h int, a long, b long")
    per_bit = (
        tok.join(F.broadcast(bdf))
        .withColumn("sign", ((F.col("tid") * F.col("a") + F.col("b")) % PRIME % 2) * 2 - 1)
        .groupBy("id", "h")
        .agg(F.sum("sign").alias("s"))
    )
    return per_bit.groupBy("id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), h)")).otherwise(F.lit(0))
        ).alias("simhash")
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 4,
    iterations: int = 2,
    threshold: float = 0.4,
) -> DataFrame:
    """-> (id, cell, kept): SemDeDup — semantic deduplication by
    k-means clustering + within-cluster cosine pruning (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication").

    Vectors are assigned to their trained spherical-k-means cell
    (broadcast-centroid pass, no shuffle beyond the tiny training
    aggregations); within each cell every (a, b) pair with a.id < b.id
    and round(cos, 6) >= threshold marks b as a semantic duplicate;
    kept = 1 iff no smaller-id near-duplicate exists in the cell.

    Scale: the pair join is per-cell quadratic, so n_cells must grow
    with the corpus (n_cells ~ N / target_cell_size keeps cell sizes —
    and therefore per-cell work — constant; the SemDeDup paper uses
    k = 25k clusters for LAION-440M). Cells are shuffle keys, so the
    pair generation parallelizes across cells.
    """
    from prosnet_prefect_pipelines_spark.operators.similarity import (
        assign_cells,
        centroid_array,
        cosine,
        kmeans_centroids,
        norm,
        vector_rows,
    )

    # norms hoisted: one fold per vector / per centroid instead of re-
    # folding inside every cosine — 3x less fold work in assignment AND
    # pair scan
    cents = kmeans_centroids(
        df, id_col, vec_col, n_cells=n_cells, iterations=iterations
    ).withColumn("ncv", norm(F.col("cv")))
    vecs = vector_rows(df, id_col, vec_col)
    # per-row nearest centroid over the broadcast centroid array: no
    # corpus exchange for the assignment
    assign = assign_cells(vecs, centroid_array(cents)).select(
        "id", "v", "nv", "cell"
    )
    a = assign.select(
        F.col("id").alias("a_id"), F.col("v").alias("a_v"),
        F.col("nv").alias("a_n"), "cell",
    )
    b = assign.select(
        F.col("id").alias("b_id"), F.col("v").alias("b_v"),
        F.col("nv").alias("b_n"), "cell",
    )
    dups = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            cosine(F.col("a_v"), F.col("b_v"), na=F.col("a_n"), nb=F.col("b_n"))
            >= F.lit(threshold)
        )
        .select(F.col("b_id").alias("id"))
        .distinct()
    )
    return (
        assign.join(dups.withColumn("_dup", F.lit(1)), "id", "left")
        .select(
            "id",
            "cell",
            F.when(F.col("_dup").isNull(), 1).otherwise(0).cast("int").alias("kept"),
        )
    )


def containment_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Exact containment-similar pairs (a < b) via the shingle inverted
    index: containment = |A ∩ B| / min(|A|, |B|).

    One-sided Jaccard catches the sub-document duplication Jaccard
    misses — a short document fully embedded in a long one has high
    containment but low Jaccard (boilerplate pages, quoted articles,
    scraped mirrors with added chrome). Same plan shape as
    ``ngram_jaccard_pairs``: shingle table -> self-join on shingle ->
    per-pair intersection counts -> size join; pairs exist only for
    actual shingle collisions, never a cross join. Shuffle keys are the
    shingles (candidate gen) then the (a, b) pairs (scoring) — both
    linear in corpus token count at fixed duplication rate.
    """
    sh = shingle_table(df, id_col, text_col, k).localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), on="shingle")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n_shingles", "na"), on="a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n_shingles", "nb"), on="b")
        .withColumn(
            "containment",
            F.round(F.col("n_common") / F.least(F.col("na"), F.col("nb")), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "n_common", "containment")
    )


def dup_span_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """-> (id, n_spans, n_dup_spans, dup_span_frac): per document, the
    fraction of its word k-gram occurrences that also occur in at least
    one OTHER document — the cross-document exact-substring duplication
    signal (the k-gram granularity of Lee et al.'s "Deduplicating
    Training Data Makes Language Models Better" suffix-array pass).

    Plan: one explode to (id, span) with multiplicity, a (id, span)
    pre-aggregation (map-side combinable), then a span-partitioned
    count window attaching each span's holder-document count, and a
    final per-document rollup. The holder count is a WINDOW, not a
    groupBy+self-join: the earlier join formulation referenced the
    exploded `per` subtree twice and Catalyst planned it twice (no
    ReusedExchange fired — the two consumers needed different
    partitionings), so the corpus was exploded and pre-aggregated
    twice per run. The window keeps one subtree and one fewer
    exchange (3 vs 4); measured at sf0.1 warm it cut ~25-30% off the
    catalog's slowest warm query. Per-span row volume over the s
    exchange is identical to the join plan's, so hot-span skew
    exposure is unchanged; at 100 TB the (id, span) pre-aggregation
    bounds each window partition to the span's distinct-holder count.
    """
    # group on the 64-bit span fingerprint, not the span text: the
    # output never carries span strings, so shuffling 8-byte keys
    # instead of ~k-word strings shrinks the exchange payload
    # (collision odds ~2^-64 per pair — the xxhash64 convention)
    from pyspark.sql import Window

    spans = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("_raw"),
    ).select("id", F.xxhash64("_raw").alias("s"))
    per = spans.groupBy("id", "s").agg(F.count(F.lit(1)).alias("c"))
    per = per.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("s"))
    )
    return (
        per.groupBy("id")
        .agg(
            F.sum("c").alias("n_spans"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("c")).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
        .withColumn(
            "dup_span_frac",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6),
        )
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    shingle_k: int | None = None,
) -> DataFrame:
    """Exact word-level Jaccard pairs >= ``threshold`` via PREFIX
    FILTERING (the PPJoin/AllPairs candidate rule) — the scale path for
    set-similarity joins.

    The plain inverted index indexes EVERY token, so hot tokens ("the")
    produce quadratic bucket blow-ups. Prefix filtering orders tokens
    globally by ascending corpus frequency (rarest first) and indexes
    only each document's first ``|d| - ceil(t*|d|) + 1`` tokens: any
    pair with Jaccard >= t must share a token inside BOTH prefixes
    (pigeonhole on the overlap lower bound), so the candidate join
    touches the rare end of the vocabulary and hot tokens are almost
    never indexed. Verification then counts the full intersection for
    candidates only. Result is EXACT — identical to the full-index join
    (property: equivalence-tested against ``ngram_jaccard_pairs``-style
    brute force).

    Shuffles: token-frequency agg, per-doc rank window (keyed by doc),
    prefix self-join (keyed by rare tokens), verification joins (keyed
    by candidate pair) — all linear in corpus tokens + true candidates.
    """
    from pyspark.sql.window import Window

    elems = (
        word_shingles(F.col(text_col), shingle_k)
        if shingle_k is not None
        else tokens(F.col(text_col))
    )
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(elems).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    w = Window.partitionBy("id").orderBy("f", "tok")
    ranked = (
        toks.join(freq, on="tok")
        .join(sizes, on="id")
        .withColumn("_rn", F.row_number().over(w))
    )
    prefix = ranked.filter(
        F.col("_rn") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).select("id", "tok")
    cand = (
        prefix.alias("x")
        .join(prefix.alias("y"), on="tok")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    inter = (
        cand.join(toks.withColumnRenamed("id", "a").withColumnRenamed("tok", "t"), on="a")
        .join(toks.withColumnRenamed("id", "b").withColumnRenamed("tok", "t"), on=["b", "t"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n", "na"), on="a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n", "nb"), on="b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
