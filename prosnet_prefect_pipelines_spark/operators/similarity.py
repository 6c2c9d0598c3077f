"""Approximate-nearest-neighbor search over embedding columns
(north-star extension; BASELINE.json).

- ``cosine_topk``: brute-force all-pairs cosine top-k — the exactness
  baseline. O(n^2 d); fine for verification scale, the wrong shape at
  100 TB.
- ``rhp_lsh_topk``: random-hyperplane LSH — b-bit sign signatures bucket
  the vectors; top-k is computed within buckets only. Linear scan cost,
  shuffle on the bucket key; the scale path. Hyperplane coefficients are
  a fixed deterministic function of (plane, dimension) so both engines
  (and reruns) agree.
- ``nearest_centroids`` / ``assign_cells``: the one nearest-centroid
  selection — a per-row top-k over a broadcast centroid array, in the
  oracles' order — behind IVF assignment and probes, the k-means/PQ
  trainer (``pq_codebooks``, the one Lloyd's loop), the PQ encoder and
  SemDeDup.

All dot products run as ordered folds over the array (zip_with +
aggregate on the JVM), cast to double before multiplication. Every
score is ``cosine`` (or its ADC twins): rounded to 6 dp, NULL when
either norm is zero. Every neighbor list is ``top_k``: score DESC NULLS
LAST, ties by neighbor id — deterministic, engine-independent rankings
in which a zero-norm vector scores NULL and ranks last, as in the
DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ivf_pq_topk's candidate table carries actual codeword float vectors
# per corpus row (O(|corpus| x dim) bytes). Broadcasting it is the fast
# intra-node plan, but at 100 TB it would pin the whole index on the
# driver and every executor — so the broadcast is gated on estimated
# size and falls back to a shuffled cell equi-join above the threshold
# (same expressions, same values; only the physical join moves), the
# q_pipeline115 volume-threshold escalation pattern.
_PQ_BROADCAST_BYTES = 256 * 1024 * 1024


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Ordered-fold dot product: ((0 + a0*b0) + a1*b1) + ... — the sum
    order every engine (and the DuckDB oracles) reproduces exactly.

    With ``dim`` known, the fold is unrolled into a left-associative
    add chain — IDENTICAL IEEE operations in identical order (getItem
    replaces the zip_with element walk), but ~2x faster under
    interpreted eval because the HOF path allocates an intermediate
    array per row and dispatches a lambda per element. Pass dim=None
    for variable-length arrays (falls back to the HOF fold).

    Choosing: the unrolled chain costs ~2 s of Catalyst OPTIMIZATION
    per plan branch it appears in (measured r4: knn_join_batch spent
    2.7 s planning / 0.8 s executing with dim=64, 0.87 s total with the
    fold) — it only pays on FLAT plans whose pair volume makes
    execution dominate (>= ~10^8 element-evals through ONE projection,
    e.g. brute-force cosine_topk at scale). In iterative or
    multi-branch plans (k-means loops, LSH self-joins) the duplicated
    tree also inflates every optimizer pass — use the fold there.

    Divergence on malformed input: with ``dim`` set, getItem(i) yields
    NULL for any vector SHORTER than dim and the NULL propagates
    through the whole score (the row silently drops through downstream
    score filters); the HOF path instead folds over the actual zipped
    length and returns a number. Fixed-width corpora (every caller
    here) never see the difference; validate ``size(v) = dim``
    upstream before trusting the unrolled path on untrusted input.
    """
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + a.getItem(i).cast("double") * b.getItem(i).cast("double")
    return acc


def norm(a: Column, dim: int | None = None) -> Column:
    """L2 norm as an ordered fold; same ``dim`` unrolling, planning-cost
    and short-vector caveats as ``dot`` (see its docstring)."""
    if dim is None:
        return F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + a.getItem(i).cast("double") * a.getItem(i).cast("double")
    return F.sqrt(acc)


def vector_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    names: tuple[str, str, str] = ("id", "v", "nv"),
    dim: int | None = None,
) -> DataFrame:
    """-> (id, vector, norm) rows named ``names``: the shape
    ``assign_cells`` ranks and pair scores read, with the norm folded
    once per vector for ``cosine(na=, nb=)``."""
    i, v, n = names
    return df.select(
        F.col(id_col).alias(i), F.col(vec_col).alias(v),
        norm(F.col(vec_col), dim).alias(n),
    )


def _ratio6(num: Column, den: Column) -> Column:
    """round(num / den, 6), NULL where ``den`` is 0 (try_divide instead
    of an ANSI DIVIDE_BY_ZERO) — the DuckDB oracles' ``x / 0.0``."""
    return F.round(F.try_divide(num, den), 6)


def cosine(
    a: Column,
    b: Column,
    dim: int | None = None,
    *,
    na: Column | None = None,
    nb: Column | None = None,
) -> Column:
    """The package's one cosine score: round(dot(a, b) / (na * nb), 6),
    NULL when either norm is zero (``top_k`` ranks it last).

    ``na``/``nb`` default to ``norm(a, dim)``/``norm(b, dim)``. Callers
    scoring pairs pass norms hoisted to one fold per VECTOR instead of
    two per pair: the same fold + sqrt expressions in the same IEEE op
    order, so the score is bit-identical wherever they are evaluated."""
    na = norm(a, dim) if na is None else na
    nb = norm(b, dim) if nb is None else nb
    return _ratio6(dot(a, b, dim), na * nb)


def top_k(
    df: DataFrame, by: str | list[str], score: str, tie: str, k: int | Column
) -> DataFrame:
    """The package's one neighbor ranking: the best ``k`` rows per
    ``by`` in the oracles' order, ``score`` DESC NULLS LAST then
    ``tie`` ASC, with their rank as ``_rn`` (1 = best). ``k`` may be a
    column (one cut per row group, e.g. a config grid's pool width).

    A ``row_number`` filter, so an integer ``k`` plans as a
    ``WindowGroupLimit`` ahead of the window's exchange."""
    w = Window.partitionBy(by).orderBy(
        F.col(score).desc_nulls_last(), F.col(tie).asc()
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """-> (id, neighbor, cos): exact top-k neighbors per vector.

    cos rounded to 6 dp, rank ties broken by neighbor id.

    TEST/ORACLE TIER ONLY: the self-join is a cartesian product —
    O(n²d). Use ``rhp_lsh_topk`` (auto-scaled buckets) or ``ivf_topk``
    as the default ANN entry points at scale.
    """
    from prosnet_prefect_pipelines_spark.session import fan_out

    # the pair join is a nested-loop whose parallelism = LEFT-side
    # partitions; a single-row-group local parquet scan ran the whole
    # O(n^2 d) stage on ONE core (measured 17.6 s -> ~1 s at sf0.1 for
    # mutual_nn_pairs). The fan-out shuffle is |n| rows — nothing next
    # to the quadratic stage it parallelizes.
    left = vector_rows(fan_out(df), id_col, vec_col, ("id", "va", "na"), dim)
    right = vector_rows(df, id_col, vec_col, ("neighbor", "vb", "nb"), dim)
    pairs = left.join(right, F.col("id") != F.col("neighbor"))
    scored = pairs.select(
        "id",
        "neighbor",
        cosine(
            F.col("va"), F.col("vb"), dim, na=F.col("na"), nb=F.col("nb")
        ).alias("cos"),
    )
    return top_k(scored, "id", "cos", "neighbor", k).select("id", "neighbor", "cos")


def seed_centroids(df: DataFrame, id_col: str, vec_col: str, n: int) -> DataFrame:
    """-> (cid, cv, ncv): the ``n`` lowest-id vectors as centroids — the
    deterministic seed every IVF index and every Lloyd's run starts
    from, so both engines (and reruns) agree. ``ncv`` is the centroid's
    norm, folded once here instead of once per (vector, centroid)
    pair."""
    return (
        df.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cv"),
            norm(F.col(vec_col)).alias("ncv"),
        )
        .orderBy("cid")
        .limit(n)
    )


def centroid_array(cents: DataFrame, key: str | None = None) -> DataFrame:
    """(cid, cv, ncv) rows -> ONE row holding the whole centroid table
    as the array column ``_cents`` (one row per ``key`` value when
    given, e.g. one codebook per PQ subspace), for broadcasting into a
    (possibly streaming) per-row selection — stream-static joins
    against a broadcast 1-row frame are append-legal. Array order is
    pinned by cid for determinism, though ``nearest_centroids``
    re-ranks anyway. The table is tiny by construction, so it is
    coalesced to one partition first: the aggregate then needs no
    exchange of its own."""
    entries = F.array_sort(F.collect_list(F.struct("cid", "cv", "ncv"))).alias(
        "_cents"
    )
    one = cents.coalesce(1)
    return one.agg(entries) if key is None else one.groupBy(key).agg(entries)


def nearest_centroids(
    cents_arr: Column, vec: Column, nv: Column, k: int = 1
) -> Column:
    """The package's one centroid ranking: the top ``k`` entries of an
    array<struct<cid, cv, ncv>> (``centroid_array``) for one vector, as
    array<struct<score, _nt, cid>> best first.

    Order: score = ``cosine(vec, cv)`` DESC NULLS LAST, ties by cid
    ASC — the ``row_number() OVER (ORDER BY score DESC, cid)`` order of
    every DuckDB oracle. Spark compares struct fields in its one total
    order (NULL < -Inf < finite < +Inf < NaN, -0.0 = 0.0), so a
    descending sort of (score, ~cid, cid) is exactly that order
    reversed field by field: a NULL score (zero-norm vector or
    centroid) ranks last, a NaN score first, and the bitwise-NOT tie
    key turns cid ASC into a descending key without overflowing at
    LONG_MIN.

    A pure per-row expression over a carried array: no fan-out rows,
    no exchange, no window, legal in an append-mode streaming
    projection, and plan cost independent of the number of centroids.
    ``nv`` is the caller's hoisted ``norm(vec)``. For k = 1 the pick is
    ``array_max`` — the same order in O(cells) instead of a sort."""
    ranked = F.transform(
        cents_arr,
        lambda c: F.struct(
            cosine(vec, c["cv"], na=nv, nb=c["ncv"]).alias("score"),
            F.bitwise_not(c["cid"]).alias("_nt"),
            c["cid"].alias("cid"),
        ),
    )
    if k == 1:
        # array_compact keeps an empty/NULL centroid array empty
        return F.array_compact(F.array(F.array_max(ranked)))
    return F.slice(F.sort_array(ranked, asc=False), 1, k)


def assign_cells(
    vecs: DataFrame, carr: DataFrame, k: int = 1, key: str | None = None
) -> DataFrame:
    """(id, v, nv, ...) rows + a ``centroid_array`` frame -> the same
    rows, one per selected centroid, with ``cell`` (its cid),
    ``cell_rank`` (1 = nearest) and ``ccos`` (its rounded cosine).

    The centroid array is broadcast (crossJoin, or an equi-join on
    ``key`` for per-key tables such as PQ codebooks) and every row
    ranks it with ``nearest_centroids`` — a narrow per-row pass over the
    corpus, batch or streaming."""
    joined = (
        vecs.crossJoin(F.broadcast(carr))
        if key is None
        else vecs.join(F.broadcast(carr), on=key)
    )
    return joined.select(
        *vecs.columns,
        F.posexplode(
            nearest_centroids(F.col("_cents"), F.col("v"), F.col("nv"), k)
        ).alias("_r", "_c"),
    ).select(
        *vecs.columns,
        F.col("_c.cid").alias("cell"),
        (F.col("_r") + 1).alias("cell_rank"),
        F.col("_c.score").alias("ccos"),
    )


def rhp_coef(h: int, d: int) -> int:
    """Deterministic hyperplane coefficient, identical in any engine:
    coef(h, d) = (((h+1) * (d+7) * 2654435761) % 2039) - 1019.

    The multiplicative index mix matters: a LINEAR form like
    (h*31 + d*17) % 7 makes every plane a cyclic shift of one base
    pattern modulo a tiny modulus — only 7 effective hyperplanes exist,
    buckets plateau, and candidate counts revert to quadratic growth
    past ~20k vectors (measured in scripts/stress_ann.py). Knuth's
    multiplier over a 2039 prime gives planes that stay effectively
    independent out to the ~50 plane indexes auto_planes can request.
    """
    return ((h + 1) * (d + 7) * 2654435761) % 2039 - 1019


def rhp_signature(vec: Column, dim: int, planes: int = 8, offset: int = 0) -> Column:
    """Random-hyperplane sign signature as a bit string; coefficients
    from ``rhp_coef`` (fixed, engine-portable). ``offset`` shifts the
    global plane index so multiple hash tables draw disjoint
    hyperplane sets."""
    # HOF fold, NOT unrolled: signatures appear in several plan branches
    # (sizes agg + both self-join sides), and an unrolled planes*dim-node
    # tree duplicated across branches blows up Catalyst planning time —
    # measured 2x slower end-to-end than the compact fold despite cheaper
    # per-row eval (the signature pass is N rows, not N² pairs)
    bits = []
    for h in range(offset, offset + planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(rhp_coef(h, d)) for d in range(dim)]),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def auto_planes(n: int, target_bucket: int = 64, floor: int = 4) -> int:
    """Planes needed so the expected bucket holds ~``target_bucket``
    vectors: 2^planes buckets ≈ n / target_bucket, i.e. planes grows with
    log2(N) — the knob that keeps within-bucket self-joins from
    degenerating toward N²/2^planes as the corpus scales."""
    import math

    return max(floor, math.ceil(math.log2(max(n, 2) / target_bucket)))


def ivf_assign(
    df: DataFrame, id_col: str, vec_col: str, n_cells: int = 8, rank_limit: int = 1,
) -> DataFrame:
    """-> (id, v, nv, cell, cell_rank): each vector's ``rank_limit`` nearest
    centroids (rank 1 = the cell it lives in; ranks 2.. = probe cells).

    Centroids are ``seed_centroids`` (the ``n_cells`` vectors with the
    smallest ids) — a deterministic seed choice so both engines (and
    reruns) agree; production replaces this with k-means iterations
    (same assignment, run to convergence). Assignment is
    ``assign_cells``: the centroid table broadcast as one array row and
    ranked per vector by ``nearest_centroids`` (rounded cosine DESC
    NULLS LAST, cid ASC), so any ``rank_limit`` is a single narrow pass
    over the corpus — no shuffle, no window.

    Deliberately NOT dim-unrolled: the assignment expressions land in
    localCheckpointed / multi-branch consumer plans (ivf_topk, ivf_pq)
    where an unrolled tree multiplies Catalyst optimization cost (see
    ``dot``); the fold is the measured-faster total here.
    """
    vecs = vector_rows(df, id_col, vec_col)
    carr = centroid_array(seed_centroids(df, id_col, vec_col, n_cells))
    return assign_cells(vecs, carr, k=rank_limit).select(
        "id", "v", "nv", "cell", "cell_rank"
    )


def ivf_topk(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5, n_cells: int = 8,
    nprobe: int = 1, dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k with multi-probe: every
    vector is indexed in its nearest cell; each QUERY additionally probes
    its ``nprobe`` nearest cells, catching neighbors that fell just
    across a Voronoi boundary (the standard IVF recall lever).

    Output shape matches cosine_topk. Cost: assignment is linear
    (broadcast centroids); the candidate join shuffles on the cell key
    and each cell's block is |cell| x |probing queries| — with C cells of
    ~n/C vectors, total work is ~nprobe * n^2/C instead of n^2, and
    cells partition cleanly across executors.
    """
    assigned = ivf_assign(df, id_col, vec_col, n_cells, rank_limit=nprobe).localCheckpoint(
        eager=False
    )  # both join sides below; assignment is C folds/row
    db = assigned.filter(F.col("cell_rank") == 1)
    probes = assigned  # ranks 1..nprobe
    # a neighbor lives in exactly one cell and probe cells are distinct
    # per query, so each (id, neighbor) pair arises at most once — no dedup
    pairs = (
        probes.alias("x")
        .join(db.alias("y"), on="cell")
        .filter(F.col("x.id") != F.col("y.id"))
        .select(
            F.col("x.id").alias("id"),
            F.col("y.id").alias("neighbor"),
            cosine(
                F.col("x.v"), F.col("y.v"), dim, na=F.col("x.nv"), nb=F.col("y.nv")
            ).alias("cos"),
        )
    )
    return top_k(pairs, "id", "cos", "neighbor", k).select("id", "neighbor", "cos")


def rhp_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    planes: int | None = None,
    tables: int = 2,
    target_bucket: int = 64,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate top-k within random-hyperplane buckets — the 100 TB
    ANN path. Three scale levers (all deterministic, oracle-mirrorable):

    - ``planes=None`` sizes the signature to the corpus:
      planes ≈ log2(N / target_bucket), so bucket count GROWS with N and
      the within-bucket self-join stays ~N * target_bucket, not
      N²/2^planes (one count() scan to learn N; pass ``planes`` to skip).
    - ``tables`` independent hash tables (disjoint hyperplane sets,
      bucket keys prefixed by table id) recover the recall that more
      planes cost: a near-pair split by one table's cut collides in
      another. Candidate pairs are deduped before scoring.
    - ``bucket_cap`` bounds the worst bucket (skew guard): buckets
      larger than the cap are salted into ceil(size/cap) sub-buckets by
      ``id % n_sub``, capping any single join block at ~cap² instead of
      letting one hot bucket (near-duplicate floods, zero vectors) run
      quadratic. The size lookup joins on the same bucket key as the
      self-join — no extra shuffle stage. Requires a numeric id column
      (pre-hash string ids to long, e.g. xxhash64).

    Output shape matches cosine_topk; vectors in sparse buckets may get
    fewer than k neighbors (the recall/cost trade).
    """
    if planes is None:
        planes = auto_planes(df.count(), target_bucket)
    vecs = vector_rows(df, id_col, vec_col)
    per_table = [
        F.concat(
            F.lit(f"{t}:"),
            rhp_signature(F.col("v"), dim, planes, offset=t * planes),
        )
        for t in range(tables)
    ]
    # NOT checkpointed: the self-join's two sides canonicalize to the same
    # subplan, so the bucket Exchange is computed once and reused (AQE
    # ReuseExchange); a localCheckpoint here would materialize the exploded
    # corpus (tables x N rows WITH vectors) in the block manager — measured
    # 1.6x slower cold at sf0.1 and a memory hazard at 100 TB.
    sig = vecs.select(
        "id", "v", "nv", F.explode(F.array(*per_table)).alias("bucket")
    )

    if bucket_cap is not None:
        sig = cap_buckets(sig, bucket_cap)

    pairs = (
        sig.alias("x")
        .join(sig.alias("y"), on="bucket")
        .filter(F.col("x.id") != F.col("y.id"))
        # score BEFORE deduping collisions: the dot fold is map-side, so
        # duplicate pairs re-score cheaply, while deduping first would
        # shuffle both full vectors per candidate pair (2*dim doubles vs
        # one scalar). A pair colliding in several tables still lands as
        # one row — identical cos — after the dropDuplicates below.
        .select(
            F.col("x.id").alias("id"), F.col("y.id").alias("neighbor"),
            cosine(
                F.col("x.v"), F.col("y.v"), na=F.col("x.nv"), nb=F.col("y.nv")
            ).alias("cos"),
        )
        .dropDuplicates(["id", "neighbor"])
    )
    return top_k(pairs, "id", "cos", "neighbor", k).select("id", "neighbor", "cos")


def cap_buckets(sig: DataFrame, bucket_cap: int) -> DataFrame:
    """The LSH hot-bucket skew guard: every ``bucket`` holding more than
    ``bucket_cap`` rows is salted into ceil(size/cap) sub-buckets by
    ``pmod(id, n_sub)``, so one degenerate bucket (zero vectors, a
    near-duplicate flood) costs ~cap² join work per sub-bucket instead
    of running quadratic. The size lookup joins on the same bucket key
    as the self-join that follows — no extra shuffle stage. Needs a
    numeric ``id`` (pre-hash string ids, e.g. xxhash64)."""
    sizes = sig.groupBy("bucket").agg(F.count("*").alias("_bc"))
    n_sub = F.ceil(F.col("_bc") / F.lit(float(bucket_cap))).cast("long")
    return sig.join(sizes, on="bucket").select(
        *[c for c in sig.columns if c != "bucket"],
        F.concat(
            F.col("bucket"),
            F.lit(":"),
            F.pmod(F.col("id").cast("long"), n_sub).cast("string"),
        ).alias("bucket"),
    )


def ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    method: str = "auto",
    **kwargs,
) -> DataFrame:
    """THE default ANN entry point — routes to a scale-safe strategy.

    - 'auto' / 'lsh': random-hyperplane LSH with auto-scaled bucket
      count, multiple hash tables, and an optional bucket cap — linear
      candidate generation at any corpus size.
    - 'ivf': inverted-file with multi-probe — cell-partitioned search.
    - 'exact': brute-force all-pairs. TEST/ORACLE TIER ONLY — refuses to
      run without ``allow_quadratic=True`` so nobody cartesian-joins a
      100 TB corpus by accident.
    """
    if method in ("auto", "lsh"):
        return rhp_lsh_topk(df, id_col, vec_col, dim, k, **kwargs)
    if method == "ivf":
        return ivf_topk(df, id_col, vec_col, k, **kwargs)
    if method == "exact":
        if not kwargs.pop("allow_quadratic", False):
            raise ValueError(
                "method='exact' is O(n^2) — the verification tier, not a "
                "scale path; pass allow_quadratic=True to run it anyway"
            )
        return cosine_topk(df, id_col, vec_col, k)
    raise ValueError(f"unknown ANN method {method!r}")


def quantize_int8(
    df: DataFrame, id_col: str, vec_col: str, eps: float = 1e-12
) -> DataFrame:
    """-> (id, scale, q array<int>): symmetric per-vector int8
    quantization — scale = max|x| / 127, q_i = round(x_i / scale),
    so x_i ≈ q_i * scale. The embedding-compression step of a
    training-data pipeline (4x smaller than float32 on the wire and in
    shuffle files); pure Column expressions, no Python in the path.

    Deterministic: the scale is an exact elementwise max, the rounding
    is the engine's half-up — both mirrored in the DuckDB oracle.
    Zero vectors quantize to all-zero q with scale 0.
    """
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = (mx / F.lit(127.0)).alias("scale")
    q = F.transform(
        v,
        lambda x: F.when(mx > eps, F.round(x.cast("double") / (mx / 127.0)))
        .otherwise(F.lit(0.0))
        .cast("int"),
    ).alias("q")
    return df.select(F.col(id_col).alias("id"), scale, q)


def _by_sub(
    df: DataFrame, id_col: str, vec_col: str, dim: int | None, n_sub: int
) -> DataFrame:
    """-> (sub, id, v): each vector's ``n_sub`` equal subvectors as rows
    (the whole vector as sub 0 when ``n_sub`` is 1, so ``dim`` may be
    None there)."""
    if n_sub == 1:
        return df.select(
            F.lit(0).alias("sub"),
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
        )
    sub_dim = dim // n_sub
    if sub_dim * n_sub != dim:
        raise ValueError(f"dim {dim} must divide evenly into n_sub {n_sub}")
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias(
                            "v"
                        ),
                    )
                    for s in range(n_sub)
                ]
            )
        ).alias("_sl"),
    ).select(F.col("_sl.sub").alias("sub"), "id", F.col("_sl.v").alias("v"))


def kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
    iterations: int = 5,
) -> DataFrame:
    """-> (cid, cv): spherical k-means centroids — the production IVF
    trainer the seed-centroid shortcut stands in for. This is
    :func:`pq_codebooks`' Lloyd's loop with one subspace (see there)."""
    return pq_codebooks(
        df, id_col, vec_col, None, n_sub=1, n_cells=n_cells,
        iterations=iterations,
    ).select("cid", "cv")


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int = 4,
    n_cells: int = 4,
    iterations: int = 1,
) -> DataFrame:
    """Product quantization (spherical) -> (id, sub, code, scos): split
    each vector into ``n_sub`` subspaces, train the per-subspace
    codebooks (:func:`pq_codebooks`), assign each subvector to its
    nearest codeword (:func:`pq_encode_with`).

    The ANN compression path beyond int8: storage per vector drops to
    n_sub code bytes (+ shared codebooks), and asymmetric distance
    computation scans codes instead of floats. Codebooks are
    engine-exact (integer-scaled means), so codes — and any index built
    from them — are reproducible off-Spark.
    """
    return pq_encode_with(
        df, id_col, vec_col, dim,
        pq_codebooks(df, id_col, vec_col, dim, n_sub, n_cells, iterations),
        n_sub,
    )


def pq_encode_with(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    codebooks: DataFrame,
    n_sub: int,
) -> DataFrame:
    """Assign every vector's subvectors against ALREADY-TRAINED
    codebooks -> (id, sub, code, scos): all subspaces ride in ONE frame
    (one row per subvector) and each row picks its codeword with
    ``assign_cells`` over its own subspace's broadcast codebook array —
    one narrow corpus pass, no exchange of corpus rows."""
    vecs = _by_sub(df, id_col, vec_col, dim, n_sub).withColumn(
        "nv", norm(F.col("v"))
    )
    carr = centroid_array(
        codebooks.select("sub", "cid", "cv", norm(F.col("cv")).alias("ncv")),
        key="sub",
    )
    return assign_cells(vecs, carr, key="sub").select(
        "id", "sub", F.col("cell").alias("code"), F.col("ccos").alias("scos")
    )


def pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None,
    n_sub: int = 4,
    n_cells: int = 4,
    iterations: int = 1,
) -> DataFrame:
    """Per-subspace PQ codebooks -> (sub, cid, cv, cv_norm2) by spherical
    k-means — the package's one Lloyd's loop (``kmeans_centroids`` is
    this loop with ``n_sub`` 1). ``cv_norm2`` is pre-computed because
    asymmetric-distance search needs the reconstruction's norm,
    Σ_s ||c_s||², at scoring time.

    Deterministic: init = ``seed_centroids`` (the ``n_cells`` lowest-id
    vectors, sliced per subspace — the same ids seed every subspace);
    assignment = ``assign_cells`` (rounded cosine DESC NULLS LAST, cid
    ASC); update = per-cell elementwise mean, L2-normalized (cosine
    geometry); a fixed iteration count. Every quantity carries ``sub``
    in its key, so all subspaces train in ONE loop. Each iteration is
    one exchange-free assignment pass (each subspace's centroids
    broadcast as one array row, every subvector picks its cell per row)
    plus one (sub, cell, dim) aggregation whose shuffle is independent
    of corpus size. Empty cells keep their previous centroid.
    """
    vecs = _by_sub(df, id_col, vec_col, dim, n_sub).withColumn(
        "nv", norm(F.col("v"))
    )
    cents = _by_sub(
        seed_centroids(df, id_col, vec_col, n_cells), "cid", "cv", dim, n_sub
    ).select("sub", F.col("id").alias("cid"), F.col("v").alias("cv"))
    for _ in range(iterations):
        carr = centroid_array(
            cents.withColumn("ncv", norm(F.col("cv"))), key="sub"
        )
        assigned = assign_cells(vecs, carr, key="sub")
        # per-cell elementwise mean via posexplode -> (sub, cid, pos) agg.
        # Components are scaled to exact integers (round(x*1e9), well
        # under 2^53) so the sum is order-independent AND every engine
        # computes the identical value — a DECIMAL sum is also exact,
        # but engines disagree by 1 ulp when casting wide decimals back
        # to double, which flips rounded cosines near .5e-6 boundaries
        # (seen at sf0.001). Integer->double is exact; the two IEEE
        # divisions that follow are correctly rounded everywhere.
        # Empty cells ride INSIDE the aggregation: a zero-weight
        # sentinel row per (sub, cid, pos) from the previous centroids
        # joins the member rows before the rollup, so no coalesce join
        # against the previous table is needed. Members contribute
        # round(x*1e9) longs with w=1, the sentinel 0 with w=0 — the
        # long sum and member count equal a members-only aggregation.
        # An empty cell (sum(w)=0, so a NULL mean and norm) takes the
        # sentinel component back unchanged and SKIPS the
        # renormalization (its previous cv is unit-norm but not exactly
        # 1.0 under refolding, so renormalizing would perturb 1 ulp); so
        # does a cell whose members average to the zero vector, which
        # has no direction to normalize.
        exploded = assigned.select(
            "sub",
            F.col("cell").alias("cid"),
            F.posexplode("v").alias("pos", "x"),
            F.lit(1).alias("w"),
        ).unionByName(
            cents.select(
                "sub",
                "cid",
                F.posexplode("cv").alias("pos", "x"),
                F.lit(0).alias("w"),
            )
        )
        sums = exploded.groupBy("sub", "cid", "pos").agg(
            # CASE guards the empty-cell division (sum(w)=0)
            F.when(
                F.sum("w") > 0,
                F.sum(
                    F.round(F.col("x").cast("double") * F.lit(1e9)).cast(
                        "long"
                    )
                    * F.col("w")
                ).cast("double")
                / F.sum("w")
                / F.lit(1e9),
            ).alias("m"),
            F.max(
                F.when(F.col("w") == 0, F.col("x").cast("double"))
            ).alias("prev"),
        )
        cents = (
            sums.groupBy("sub", "cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m", "prev"))
                ).alias("pm"),
            )
            .select(
                "sub",
                "cid",
                F.transform(F.col("pm"), lambda s: s.getField("m")).alias(
                    "cv_raw"
                ),
                F.transform(F.col("pm"), lambda s: s.getField("prev")).alias(
                    "cv_prev"
                ),
            )
            .withColumn("_n", norm(F.col("cv_raw")))
            .select(
                "sub",
                "cid",
                F.when(
                    F.col("_n") > 0,
                    F.transform(
                        F.col("cv_raw"),
                        lambda x: (x / F.col("_n")).cast("float"),
                    ),
                )
                .otherwise(
                    F.transform(
                        F.col("cv_prev"), lambda x: x.cast("float")
                    )
                )
                .alias("cv"),
            )
            .localCheckpoint(eager=False)
        )
    return cents.withColumn("cv_norm2", dot(F.col("cv"), F.col("cv")))


def pq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int = 4,
    n_cells_coarse: int = 4,
    n_cells_code: int = 4,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(xcodes, assign, codebooks): the maintained IVF-PQ serving index —
    coarse cell assignments plus PQ codes pivoted to ONE row per vector
    as (xid, cell, _xp codeword positions, _xn2 scaled reconstruction
    norm) — the LUT ADC candidate payload (extracted from
    ``ivf_pq_topk`` in r11 so the streaming serving monitor maintains
    the SAME structure the batch query scans; repacked r12 from inline
    codeword VECTORS to positions: the vector-carrying form made the
    "ADC" per-candidate cost equal a raw cosine and erased the
    candidate-byte shrink — measured 12x slower than raw at 10M
    candidates, artifacts/stress_centroid_probe_r12.json).

    Build shape: single-row-group local parquet runs every per-subspace
    kmeans round single-task — the source is fanned out once so all
    training rounds, the encode and the assignment scan run with full
    parallelism; assignment/codebooks/codes are each materialized once
    (id-sized metadata frames) because the chain re-derives kmeans per
    reference without a barrier."""
    from prosnet_prefect_pipelines_spark.session import fan_out

    df = fan_out(df)
    assign = ivf_assign(
        df, id_col, vec_col, n_cells=n_cells_coarse, rank_limit=1
    ).localCheckpoint(eager=True)
    cbs = pq_codebooks(
        df, id_col, vec_col, dim, n_sub, n_cells_code
    ).localCheckpoint(eager=True)
    # encode against the codebooks ALREADY trained above — pq_encode
    # would retrain them from scratch (the trainer ran twice here before
    # r10: measured 24 s warm -> ~8 s with train-once + one-pass encode)
    codes = (
        pq_encode_with(df, id_col, vec_col, dim, cbs, n_sub)
        .select(F.col("id").alias("xid"), "sub", "code")
        .localCheckpoint(eager=True)
    )
    xcodes = pq_codes_positional(codes, cbs).join(
        assign.select(F.col("id").alias("xid"), F.col("cell")), on="xid"
    )
    return xcodes, assign, cbs


def pq_query_slices(vec: Column, dim: int, n_sub: int) -> Column:
    """The query-side subvector array ``_qs`` that ``adc_cos_column``
    scores against an index row's ``_xs``."""
    sub_dim = dim // n_sub
    return F.array(
        *[F.slice(vec, s * sub_dim + 1, sub_dim) for s in range(n_sub)]
    )


def adc_cos_column(n_sub: int) -> Column:
    """ADC cosine between a query row's ``_qs``/``qn`` and an index
    row's ``_xs``: per-subspace terms scaled to exact integers before
    the SUM — n_sub doubles summed in nondeterministic order can differ
    in the last ulp between engines and flip the rounded score; integer
    sums cannot (the kmeans trainer's trick, applied to ADC)."""
    adc_dot_s = sum(
        F.round(
            dot(F.col("_qs").getItem(s), F.col("_xs").getItem(s)["cv"]) * 1e9
        ).cast("long")
        for s in range(n_sub)
    )
    xnorm2_s = sum(F.col("_xs").getItem(s)["n2"] for s in range(n_sub))
    return _ratio6(
        adc_dot_s / F.lit(1e9), F.col("qn") * F.sqrt(xnorm2_s / F.lit(1e9))
    )


# --- LUT ADC (r12) ----------------------------------------------------------
#
# adc_cos_column above recomputes every per-subspace dot PER CANDIDATE
# PAIR against codeword VECTORS carried inline — per-candidate work
# equal to a raw dim-length cosine plus struct overhead, and no
# candidate-byte shrink at all (measured r12,
# artifacts/stress_centroid_probe_r12.json: 10M candidates scored in
# ~40 s "ADC" vs ~3.3 s raw cosine). True ADC hoists those dots to a
# per-QUERY lookup table — |codebook| entries computed once per query —
# and candidates carry only their codeword POSITIONS (n_sub ints) plus
# one precomputed reconstruction-norm long, so per-candidate work drops
# from O(dim) multiplies to n_sub integer array reads and the join
# payload shrinks to the codes the PQ literature promises. Every scaled
# integer is the SAME expression adc_cos_column computes, so scores are
# bit-identical (tests/test_streaming_ivfpq.py pins it).


def pq_codebook_array(cbs: DataFrame) -> DataFrame:
    """-> one-row (_cbarr): the codebook entries sorted by (sub, cid).
    An entry's POSITION in this array is the code position
    :func:`pq_codes_positional` stores and :func:`pq_query_lut` indexes
    — the shared ordering that makes the LUT lookup line up."""
    return cbs.select(
        F.struct(F.col("sub"), F.col("cid"), F.col("cv")).alias("_e")
    ).agg(F.array_sort(F.collect_list("_e")).alias("_cbarr"))


def pq_query_lut(vec: Column, cbarr: Column, dim: int, n_sub: int) -> Column:
    """Per-query flat ADC lookup table ``_qlut``: entry j =
    round(dot(q_{sub_j}, cv_j) * 1e9) as long for the j-th codebook
    entry in (sub, cid) order — the identical integer-scaled
    per-subspace term ``adc_cos_column`` computes per candidate,
    hoisted to once per (query, codeword)."""
    sub_dim = dim // n_sub
    return F.transform(
        cbarr,
        lambda e: F.round(
            dot(F.slice(vec, e["sub"] * sub_dim + 1, sub_dim), e["cv"]) * 1e9
        ).cast("long"),
    )


def pq_codes_positional(codes: DataFrame, cbs: DataFrame) -> DataFrame:
    """-> (xid, _xp array<int>, _xn2 long): per vector, the positions of
    its per-subspace codewords in the (sub, cid)-sorted codebook array
    (sub order), plus the precomputed scaled reconstruction norm
    Σ_s round(||c_s||² * 1e9) — the LUT path's candidate payload:
    n_sub ints + one long instead of inline codeword vectors. The
    position window runs over the |codebook| rows (n_sub x n_codes,
    config-sized)."""
    n2 = cbs.select(
        "sub",
        F.col("cid").alias("code"),
        F.round(F.col("cv_norm2") * 1e9).cast("long").alias("_n2"),
    )
    # global (sub, code)-order position WITHOUT a global window: rank
    # within sub (parallel, keyed) + per-sub offsets from a bounded
    # 'sub'-keyed aggregate (the distrank offsets shape) — the sort is
    # sub-major, so offset(sub) + within-sub rank IS the flat position
    # the (sub, cid)-sorted codebook array assigns
    pos_in_sub = n2.withColumn(
        "_ps",
        F.row_number().over(Window.partitionBy("sub").orderBy("code")) - 1,
    )
    woff = Window.orderBy("sub").rowsBetween(Window.unboundedPreceding, -1)
    offs = n2.groupBy("sub").agg(F.count(F.lit(1)).alias("_c")).select(
        "sub", F.coalesce(F.sum("_c").over(woff), F.lit(0)).alias("_off")
    )
    pos = pos_in_sub.join(F.broadcast(offs), on="sub").withColumn(
        "_pos", (F.col("_off") + F.col("_ps")).cast("int")
    )
    return (
        codes.join(F.broadcast(pos), on=["sub", "code"])
        .groupBy("xid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sub"), F.col("_pos")))
                ),
                lambda e: e["_pos"],
            ).alias("_xp"),
            F.sum("_n2").alias("_xn2"),
        )
    )


def pq_structs_array(codes: DataFrame, cbs: DataFrame) -> DataFrame:
    """-> (xid, _xs): the pre-r12 vector-carrying candidate form
    (sub-ordered structs of scaled norm + codeword VECTOR), kept as the
    REFERENCE twin for :func:`adc_cos_column` — the LUT path's
    bit-identity is pinned against it
    (tests/test_streaming_ivfpq.py). Not a production path: carrying
    codeword vectors per candidate erases PQ's byte shrink and costs a
    full dim-length dot per pair."""
    return (
        codes.join(
            F.broadcast(
                cbs.select("sub", F.col("cid").alias("code"), "cv", "cv_norm2")
            ),
            on=["sub", "code"],
        )
        .groupBy("xid")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "sub",
                        F.round(F.col("cv_norm2") * 1e9).cast("long").alias("n2"),
                        F.col("cv").alias("cv"),
                    )
                )
            ).alias("_xs")
        )
    )


def adc_cos_lut(n_sub: int) -> Column:
    """LUT ADC cosine between a query row's ``_qlut``/``qn`` and an
    index row's ``_xp``/``_xn2`` — bit-identical to
    :func:`adc_cos_column` (same scaled-integer dots, summed in the
    same subspace order; same precomputed norm longs; same final
    rounded division) with per-candidate work reduced to n_sub array
    reads."""
    adc_dot_s = sum(
        F.element_at(
            F.col("_qlut"), F.element_at(F.col("_xp"), s + 1) + 1
        )
        for s in range(n_sub)
    )
    return _ratio6(
        adc_dot_s / F.lit(1e9), F.col("qn") * F.sqrt(F.col("_xn2") / F.lit(1e9))
    )


def pq_index_side(xcodes: DataFrame, n_x: int, n_sub: int) -> DataFrame:
    """The encoded index side of an IVF-PQ cell join: broadcast while
    the index fits comfortably on every executor — ``n_x`` rows x
    (n_sub code positions + one norm long + row overhead); the
    positional repack shrinks this ~30x vs the codeword-vector form, so
    far larger indexes stay on the fast broadcast plan. Above
    ``_PQ_BROADCAST_BYTES`` it is repartitioned on cell for a shuffled
    equi-join — the 100 TB shape, where neither side is
    driver-resident."""
    if n_x * (n_sub * 4 + 8 + 48) <= _PQ_BROADCAST_BYTES:
        return F.broadcast(xcodes)
    return xcodes.repartition("cell")


def ivf_pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int = 4,
    n_cells_coarse: int = 4,
    n_cells_code: int = 4,
    k: int = 3,
    nprobe: int = 1,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ asymmetric-distance top-k — the composed quantized-search
    scale path: coarse cells bound the candidate set (IVF), PQ codes
    stand in for the vectors (n_sub bytes each), and scoring is ADC:
    cos(q, x̂) with x̂ = concatenated codewords, so dot(q, x̂) =
    Σ_s dot(q_s, c_{s,code}) and ||x̂||² = Σ_s ||c_s||² — no candidate
    vector is ever read again after encoding.

    Expressed relationally ((q, x, sub) rows through keyed joins) so the
    DuckDB oracle can replay it exactly; a production kernel batches the
    per-subspace lookup tables per query (mapInPandas) with identical
    semantics. Simplifications vs a production index, documented:
    nprobe=1, codebooks trained on raw subvectors (not residuals),
    spherical geometry throughout.
    """
    from prosnet_prefect_pipelines_spark.session import fan_out

    # a prebuilt (xcodes, assign, cbs) makes this a pure QUERY over a
    # maintained serving structure (the production shape); without one
    # the index is built per call
    xcodes, assign, cbs = index or pq_index(
        df, id_col, vec_col, dim, n_sub, n_cells_coarse, n_cells_code
    )
    # nprobe > 1: the query side re-assigns against the coarse
    # centroids keeping its nprobe nearest cells (the coverage dial the
    # recall gauges measure — the INDEX side always lives in its rank-1
    # home cell, so a candidate pair still appears exactly once)
    qside = (
        assign
        if nprobe == 1
        else ivf_assign(
            df, id_col, vec_col, n_cells=n_cells_coarse, rank_limit=nprobe
        ).select(F.col("id"), "v", "nv", "cell")
    )
    qarr = (
        fan_out(qside)
        .crossJoin(F.broadcast(pq_codebook_array(cbs)))
        .select(
            F.col("id").alias("qid"),
            "cell",
            norm(F.col("v")).alias("qn"),
            pq_query_lut(F.col("v"), F.col("_cbarr"), dim, n_sub).alias(
                "_qlut"
            ),
        )
    )
    # assign is an eager checkpoint, so the row count is metadata-cheap
    xside = pq_index_side(xcodes, assign.count(), n_sub)
    scored = (
        qarr.join(xside, on="cell")
        .filter(F.col("qid") != F.col("xid"))
        .select("qid", "xid", adc_cos_lut(n_sub).alias("adc_cos"))
    )
    return top_k(scored, "qid", "adc_cos", "xid", k).select("qid", "xid", "adc_cos")


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """-> (query_id, neighbor, cos): exact cosine top-k over the corpus
    for each query vector — the batch KNN-join a retrieval/eval pipeline
    runs (embed a query set, fetch nearest corpus items).

    Scale shape (small query batch x 100 TB corpus): the query set is
    BROADCAST, so the corpus is never shuffled for pair generation — one
    narrow JVM pass scores corpus partitions in place. Top-k is
    two-phase inside :func:`top_k`: its ``row_number`` filter plans a
    partial ``WindowGroupLimit`` that keeps k candidates per query per
    corpus partition LOCALLY, ahead of the window's exchange, so the only
    network shuffle carries <= k * n_partitions rows per query instead
    of |corpus| x |queries|; the final per-query window merges partials.
    Both phases rank by (cos desc, neighbor) — a partition-local top-k is
    a superset of the global top-k, so the result is exact and
    deterministic, and a NaN score ranks first as in every other
    ranking. For large query sets, switch to ``ivf_topk``-style cell
    routing on both sides.
    """
    # norms hoisted out of the pair stage: one fold per QUERY and one
    # per CORPUS row — 3x less per-pair arithmetic in the only quadratic
    # stage (r3 benched 3 unrolled dim-length chains per PAIR here)
    q = vector_rows(queries, query_id, query_vec, ("qid", "qv", "qn"), dim)
    c = vector_rows(corpus, corpus_id, corpus_vec, ("neighbor", "cv", "cn"), dim)
    scored = c.join(F.broadcast(q)).select(
        "qid",
        "neighbor",
        cosine(
            F.col("qv"), F.col("cv"), dim, na=F.col("qn"), nb=F.col("cn")
        ).alias("cos"),
    )
    return top_k(scored, "qid", "cos", "neighbor", k).select(
        F.col("qid").alias("query_id"), "neighbor", "cos"
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: float = 1e9,
) -> DataFrame:
    """(label, cv array<double>) — exact per-label mean vectors.

    Per-dimension components are summed as scaled BIGINTs (round(x*1e9))
    so the mean is independent of aggregation order and DuckDB twins
    hash-match; the centroid array is rebuilt in dimension order via an
    array_sort over (pos, m) structs.

    Scale shape: the component aggregation shuffles labels x dim rows
    (corpus-size independent — a few hundred rows however big the input
    is), and the resulting centroid table is tiny by construction, meant
    to be broadcast into whatever scoring join follows.
    """
    comp = (
        df.select(F.col(label_col).alias("label"), F.posexplode(F.col(vec_col)).alias("pos0", "x"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            (
                F.sum(F.round(F.col("x").cast("double") * F.lit(scale)).cast("long")).cast("double")
                / F.count(F.lit(1))
                / F.lit(scale)
            ).alias("m")
        )
    )
    return (
        comp.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"))
        .select("label", F.expr("transform(_pm, s -> s.m)").alias("cv"))
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance as an ordered fold (both engines fold
    dimension 1..n in order, so the double is bit-identical)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
