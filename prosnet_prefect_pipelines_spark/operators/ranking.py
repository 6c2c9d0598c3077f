"""Corpus ranking for training-data pipelines (north-star extension):
tf-idf term weighting, BM25 retrieval scoring, and integer-scaled
PageRank over an arbitrary edge list.

Scale shape:
- tf/df are one explode + two keyed aggregations with map-side partial
  aggregation; the document-frequency table is vocabulary-sized (tiny
  next to the corpus) so it broadcasts into the scoring join.
- BM25 per-term contributions are rounded to 6 dp and summed as exact
  scaled integers, so partial-aggregation order can't perturb scores and
  DuckDB twins hash-match bit-for-bit (catalog convention).
- PageRank keeps ranks as scaled BIGINTs (SCALE = 1e12) and uses only
  integer div/mul/add, so every iteration is bit-identical across
  engines and across shuffle orders; each iteration materializes via the
  graph module's checkpoint policy to truncate lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from prosnet_prefect_pipelines_spark.operators.graph import _driver_rows, _materialize
from prosnet_prefect_pipelines_spark.operators.textstats import tokens
from prosnet_prefect_pipelines_spark.session import local_frame

PR_SCALE = 1_000_000_000_000  # 1e12: rank = rank_scaled / PR_SCALE


def term_frequencies(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf) — whitespace tokens exploded and counted per doc.

    One shuffle on (id, term); partial aggregation applies because
    count is algebraic.
    """
    return (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_frequencies(tf_df: DataFrame) -> DataFrame:
    """(term, df) from a term-frequency table — rows are already distinct
    per (id, term) so a plain count per term is the document frequency."""
    return tf_df.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def _n_docs(df: DataFrame, id_col: str) -> DataFrame:
    """1-row (n_docs) frame — joined via broadcast so the plan stays lazy
    (no driver-side collect of a scalar)."""
    return df.agg(F.count(F.lit(1)).alias("n_docs"))


def tfidf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf, df, tfidf) with the sklearn-style smoothed idf:
    idf = ln((N + 1) / (df + 1)) + 1, rounded to 6 dp before the
    multiply so both engines round the same double."""
    tf = term_frequencies(df, id_col, text_col)
    dfreq = doc_frequencies(tf)
    n = _n_docs(df, id_col)
    idf = F.round(F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1, 6)
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


def bm25(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, n_hits, score): Okapi BM25 of each document against a fixed
    query-term set.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)); per-term contributions are
    rounded to 6 dp, scaled to integers, and summed exactly so the total
    is independent of aggregation order. avgdl is an exact single
    division of two integer aggregates. Only documents containing at
    least one query term appear (score > 0 set).
    """
    tf = term_frequencies(df, id_col, text_col).filter(F.col("term").isin(query_terms))
    # df of a query term only needs rows for that term — reuse the
    # filtered tf (one tokenize pass, not two)
    dfreq = doc_frequencies(tf)
    dl = df.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("dl"),
    )
    stats = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col(text_col)))).cast("long").alias("sum_dl"),
    )
    idf = F.round(
        F.log(
            1
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    # written as the identical expression tree in the DuckDB twin:
    # tf*(k1+1) / (tf + k1*(1 - b + b*(dl/avgdl)))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    tfc = (F.col("tf") * F.lit(k1 + 1)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * (F.col("dl") / avgdl))
    )
    # 6-dp contributions as exact scaled integers (re-round before the
    # cast — contrib*1e6 can land a hair under the integer in binary)
    contrib = F.round(idf * tfc, 6)
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .select("id", F.round(contrib * 1_000_000, 0).cast("long").alias("c6"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            (F.sum("c6") / F.lit(1_000_000.0)).alias("score"),
        )
    )


def _pagerank_driver(
    spark, edge_rows, node_type, iterations: int, damping_num: int,
    damping_den: int,
) -> DataFrame:
    """Exact integer PageRank over a collected edge list (small-graph
    fast path — same adaptivity as graph.connected_components). Python
    ints reproduce Spark's long ``div`` bit-for-bit on these
    non-negative quantities (truncating floor division), so the labels
    are identical to the distributed loop; the final ``rank`` double is
    deliberately computed back in a Spark expression so the rounding
    engine is the same one the distributed path (and the SQL oracle)
    uses."""
    outdeg: dict = {}
    nodes = set()
    for s, d in edge_rows:
        outdeg[s] = outdeg.get(s, 0) + 1
        nodes.add(s)
        nodes.add(d)
    n = len(nodes)
    base = (15 * PR_SCALE) // (100 * n)
    r = {node: PR_SCALE // n for node in nodes}
    for _ in range(iterations):
        s_in: dict = {}
        for s, d in edge_rows:
            s_in[d] = s_in.get(d, 0) + r[s] // outdeg[s]
        r = {
            node: base + (damping_num * s_in.get(node, 0)) // damping_den
            for node in nodes
        }
    from pyspark.sql.types import LongType, StructField, StructType

    out = local_frame(
        spark,
        list(r.items()),
        StructType(
            [StructField("node", node_type), StructField("r", LongType())]
        ),
    )
    return out.select(
        "node",
        F.col("r").alias("rank_scaled"),
        F.round(F.col("r") / F.lit(float(PR_SCALE)), 6).alias("rank"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping_num: int = 85,
    damping_den: int = 100,
    materialize_every: int = 3,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(node, rank_scaled, rank) — PageRank over a distinct (src, dst)
    edge list with exact integer arithmetic.

    rank_scaled lives in units of 1/PR_SCALE. Per iteration:
        contrib(e)   = r[src] div outdeg[src]
        r'[n]        = (15 * PR_SCALE) div (100 * N)
                       + (85 * sum(contrib into n)) div 100
    (integer div truncates; all quantities non-negative). Dangling-node
    mass is dropped — identically in the DuckDB twin. Each iteration is
    one join + one keyed sum; ranks/nodes are broadcast when small and
    the running rank frame is materialized every ``materialize_every``
    rounds (localCheckpoint, or reliable checkpoint when configured) to
    truncate lineage — the same policy as operators/graph.py fixpoints,
    relaxed because a PageRank round adds only one join+agg of depth.
    """
    e = edges.select(F.col("src"), F.col("dst")).distinct()
    e = _materialize(e)
    # adaptive strategy (same pattern as graph.connected_components):
    # PageRank usually runs on an AGGREGATED graph (here nation-level —
    # bounded by dimension cardinality, not corpus size), where paying
    # 2 shuffle barriers x iterations of scheduling for a driver-sized
    # edge list is pure overhead (measured 2.9 -> ~1 s warm at sf0.1 on
    # the 25-node trade graph). Large graphs take the loop below.
    # one bounded limit-collect probes the size AND fetches the edges
    rows = _driver_rows(e, driver_threshold)
    if rows is not None:
        if rows:
            return _pagerank_driver(
                e.sparkSession, rows, e.schema["src"].dataType,
                iterations, damping_num, damping_den,
            )
        # no edges -> no nodes under this operator's (src ∪ dst) node
        # universe; return an explicit empty frame instead of letting
        # the distributed loop divide by n = 0
        return (
            local_frame(e.sparkSession, [], e.schema)
            .select(
                F.col("src").alias("node"),
                F.lit(0).cast("long").alias("rank_scaled"),
                F.lit(0.0).alias("rank"),
            )
        )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = _materialize(nodes)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))
    # integer base terms, computed once
    base = (
        nodes.crossJoin(F.broadcast(n_nodes))
        .select(
            "node",
            F.expr(f"{15 * PR_SCALE} div (100 * n)").cast("long").alias("base"),
            F.expr(f"{PR_SCALE} div n").cast("long").alias("r0"),
        )
    )
    base = _materialize(base)
    ranks = base.select("node", F.col("r0").alias("r"))
    edge_out = _materialize(e.join(outdeg, "src"))
    for it in range(iterations):
        contrib = (
            ranks.join(edge_out, ranks["node"] == edge_out["src"])
            .select(F.col("dst").alias("node"), F.expr("r div outdeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            base.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.col("base")
                    + F.expr(
                        f"({damping_num} * coalesce(s, 0L)) div {damping_den}"
                    )
                ).cast("long").alias("r"),
            )
        )
        # a plan only deepens by one join+agg per round, so truncating
        # every few rounds (and always on the last) bounds both lineage
        # and per-round action overhead
        if (it + 1) % materialize_every == 0 or it == iterations - 1:
            ranks = _materialize(ranks)
    return ranks.select(
        "node",
        F.col("r").alias("rank_scaled"),
        F.round(F.col("r") / F.lit(float(PR_SCALE)), 6).alias("rank"),
    )


def rrf_fuse(
    rankings: list[tuple[str, DataFrame]],
    id_col: str = "id",
    rank_col: str = "rank",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of N per-retriever rank tables.

    ``rankings`` is ``[(name, df), ...]`` where each df holds one row per
    retrieved item: (id_col, rank_col) with rank starting at 1. Returns
    one row per item seen by ANY retriever: (id, <name>_rank ... for each
    retriever, nullable, rrf_score) where

        rrf_score = sum_over_retrievers round(1e6 / (k + rank)) / 1e6

    computed as an exact scaled-integer sum so fusion is independent of
    join/aggregation order and DuckDB twins hash-match. Missing items
    contribute 0 from that retriever (the standard RRF convention).

    Scale shape: rank tables are top-K truncated upstream (candidate
    lists, not corpora), so every join side is tiny — at cluster scale
    each input is the per-query candidate set and the fusion joins are
    broadcastable. No corpus-sized shuffle happens here.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    fused = None
    for name, df in rankings:
        side = df.select(
            F.col(id_col).alias("id"),
            F.col(rank_col).cast("long").alias(f"{name}_rank"),
        )
        fused = side if fused is None else fused.join(side, "id", "full_outer")
    contribs = [
        F.coalesce(
            F.round(F.lit(1_000_000.0) / (F.lit(k) + F.col(f"{name}_rank")), 0).cast("long"),
            F.lit(0).cast("long"),
        )
        for name, _ in rankings
    ]
    score6 = contribs[0]
    for c in contribs[1:]:
        score6 = score6 + c
    return fused.select(
        "id",
        *[F.col(f"{name}_rank") for name, _ in rankings],
        (score6 / F.lit(1_000_000.0)).alias("rrf_score"),
    )


def ndcg_mrr(
    ranked: DataFrame,
    query_col: str = "q",
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """Per-query nDCG@k and MRR from a graded run table.

    ``ranked`` holds one row per (query, item): (query_col, rank_col
    starting at 1, rel_col graded integer relevance >= 0). Returns one
    row per query: (q, n_rel, dcg, idcg, ndcg, mrr) where

        dcg  = sum_{rank<=k} round((2^rel - 1) / log2(rank + 1), 6)
        idcg = the same sum over the ideal ordering (rel desc, rank asc)
        ndcg = round(dcg / idcg, 6)          (0 when idcg = 0)
        mrr  = round(1 / first rank<=k with rel > 0, 6)  (0 if none in top k)

    Gains are 6-dp rounded and summed as scaled integers (catalog
    convention) so both engines agree bit-for-bit. The ideal ordering is
    a per-query window (partitioned sort over that query's run rows
    only — candidate-list sized, never corpus-sized).
    """
    from pyspark.sql.window import Window

    q = F.col(query_col)
    gain = F.pow(F.lit(2.0), F.col(rel_col).cast("double")) - F.lit(1.0)
    term6 = F.round(
        F.round(gain / F.log2(F.col(rank_col).cast("double") + F.lit(1.0)), 6)
        * 1_000_000,
        0,
    ).cast("long")
    ideal_w = Window.partitionBy(q).orderBy(F.col(rel_col).desc(), F.col(rank_col))
    with_ideal = ranked.select(
        q.alias("q"),
        F.col(rank_col).alias("_rank"),
        F.col(rel_col).alias("_rel"),
        term6.alias("_t6"),
        F.row_number().over(ideal_w).alias("_irank"),
    )
    ideal_term6 = F.round(
        F.round(
            (F.pow(F.lit(2.0), F.col("_rel").cast("double")) - F.lit(1.0))
            / F.log2(F.col("_irank").cast("double") + F.lit(1.0)),
            6,
        )
        * 1_000_000,
        0,
    ).cast("long")
    agg = with_ideal.groupBy("q").agg(
        F.sum(F.when(F.col("_rel") > 0, 1).otherwise(0)).cast("long").alias("n_rel"),
        F.sum(F.when(F.col("_rank") <= k, F.col("_t6")).otherwise(F.lit(0).cast("long")))
        .cast("long")
        .alias("_dcg6"),
        F.sum(
            F.when(F.col("_irank") <= k, ideal_term6).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("_idcg6"),
        # MRR@k: the cutoff applies to the reciprocal rank too — a first
        # relevant hit BELOW rank k scores 0, matching how eval suites
        # report MRR@k (an untruncated min over all ranks would silently
        # mix metrics at different depths)
        F.min(
            F.when((F.col("_rel") > 0) & (F.col("_rank") <= k), F.col("_rank"))
        ).alias("_first_hit"),
    )
    return agg.select(
        "q",
        "n_rel",
        (F.col("_dcg6") / F.lit(1_000_000.0)).alias("dcg"),
        (F.col("_idcg6") / F.lit(1_000_000.0)).alias("idcg"),
        F.when(F.col("_idcg6") > 0, F.round(F.col("_dcg6") / F.col("_idcg6"), 6))
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
        F.coalesce(
            F.round(F.lit(1.0) / F.col("_first_hit"), 6), F.lit(0.0)
        ).alias("mrr"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    iterations: int = 8,
    damping_num: int = 85,
    damping_den: int = 100,
    materialize_every: int = 3,
) -> DataFrame:
    """(node, rank_scaled, rank) — personalized PageRank: teleport mass
    goes only to the seed set instead of uniformly to all nodes.

    Same exact-integer discipline as ``pagerank``: r0 = PR_SCALE div |S|
    on seeds (0 elsewhere), per-round base = ((den-num)*PR_SCALE) div
    (den*|S|) on seeds (0 elsewhere — the teleport share of the SAME
    damping params the propagation uses), contributions r div outdeg
    damped num/den in integer arithmetic — every iteration bit-identical
    to a DuckDB twin unrolled with the same CTE shape as the global
    PageRank oracle.

    Scale shape: identical to ``pagerank`` (one join + keyed sum per
    round over the aggregated graph, lineage truncated every
    ``materialize_every`` rounds); the seed set is a literal predicate,
    never a join.
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    n_seeds = len(seeds)
    # teleport mass derives from the SAME damping params as the
    # propagation term ((den-num)/den of total mass, split over seeds) —
    # a hardcoded 15/100 here would silently disagree with a non-default
    # damping_num/damping_den and produce an inconsistent rank vector
    base_seed = ((damping_den - damping_num) * PR_SCALE) // (damping_den * n_seeds)
    r0_seed = PR_SCALE // n_seeds
    e = edges.select("src", "dst").distinct()
    e = _materialize(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    is_seed = F.col("node").isin([int(s) for s in seeds])
    base = _materialize(
        nodes.select(
            "node",
            F.when(is_seed, F.lit(base_seed)).otherwise(F.lit(0)).cast("long").alias("base"),
            F.when(is_seed, F.lit(r0_seed)).otherwise(F.lit(0)).cast("long").alias("r0"),
        )
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edge_out = _materialize(e.join(outdeg, "src"))
    ranks = base.select("node", F.col("r0").alias("r"))
    for it in range(iterations):
        contrib = (
            ranks.join(edge_out, ranks["node"] == edge_out["src"])
            .select(F.col("dst").alias("node"), F.expr("r div outdeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = base.join(contrib, "node", "left").select(
            "node",
            (
                F.col("base")
                + F.expr(f"({damping_num} * coalesce(s, 0L)) div {damping_den}")
            ).cast("long").alias("r"),
        )
        if (it + 1) % materialize_every == 0 or it == iterations - 1:
            ranks = _materialize(ranks)
    return ranks.select(
        "node",
        F.col("r").alias("rank_scaled"),
        F.round(F.col("r") / F.lit(float(PR_SCALE)), 6).alias("rank"),
    )
