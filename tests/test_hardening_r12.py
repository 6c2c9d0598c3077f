"""Round-12 optimization internals pinned.

1. the ``graph`` entry points with a driver fast path (``descendants``,
   ``transitive_closure``, ``connected_components``, ``scc_components``,
   ``temporal_reachability``, ``mst_boruvka``) probe the threshold AND
   fetch the edge list with ONE limit-collect (previously a full count()
   job followed by a collect() job — two scans of the edge subquery);
2. ``city_index_docs``' P279 subtree and scalar-builder Column trees
   are memoized per (app_id, sf_dir): once warm, constructing the
   DataFrame schedules no BFS/scan jobs (same probe protocol as
   distrank's job-free construction test).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _jobs(sc, group, fn):
    """(result of fn(), number of Spark jobs fn submitted)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


# entry point -> (call on the edge frame, its result as a set, expected set);
# each call gets the graph and ranking operator modules
_DRIVER_PATHS = {
    "descendants": (
        lambda G, R, e: G.descendants(e, ["a"], reflexive=True),
        lambda out: {r.node for r in out.collect()},
        {"a", "b", "c"},
    ),
    "transitive_closure": (
        lambda G, R, e: G.transitive_closure(e),
        lambda out: {(r.src, r.dst) for r in out.collect()},
        {("b", "a"), ("c", "b"), ("c", "a"), ("d", "x")},
    ),
    "connected_components": (
        lambda G, R, e: G.connected_components(e),
        lambda out: {(r.node, r.comp) for r in out.collect()},
        {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("x", "d")},
    ),
    "scc_components": (
        lambda G, R, e: G.scc_components(e),
        lambda out: {(r.node, r.scc) for r in out.collect()},
        {("a", "a"), ("b", "b"), ("c", "c"), ("d", "d"), ("x", "x")},
    ),
    "temporal_reachability": (
        lambda G, R, e: G.temporal_reachability(e, ["c"]),
        lambda out: {(r.node, r.arrival) for r in out.collect()},
        {("c", 0), ("b", 2), ("a", 3)},
    ),
    "mst_boruvka": (
        lambda G, R, e: G.mst_boruvka(e),
        lambda out: {tuple(r) for r in out.collect()},
        {("b", "a", 3), ("c", "b", 2), ("d", "x", 1)},
    ),
    "sssp_weighted": (
        lambda G, R, e: G.sssp_weighted(e, ["c"]),
        lambda out: {(r.node, r.dist) for r in out.collect()},
        {("c", 0), ("b", 2), ("a", 5)},
    ),
    "pagerank": (
        lambda G, R, e: R.pagerank(e, iterations=2),
        lambda out: {(r.node, r.rank_scaled) for r in out.collect()},
        # units of 1e-12, n = 5: r0 = 1/5, base = 0.15/5; each round a
        # node gets base + 85% of its in-neighbour's rank (outdeg 1)
        {
            ("a", 200_000_000_000), ("b", 55_500_000_000), ("c", 30_000_000_000),
            ("d", 30_000_000_000), ("x", 55_500_000_000),
        },
    ),
}


@pytest.mark.parametrize("entry", sorted(_DRIVER_PATHS))
def test_graph_driver_path_is_single_probe(spark, entry):
    """Below the threshold each graph entry point probes the size AND
    fetches the edge list with one limit-collect, so it submits fewer
    jobs than a full count() followed by a collect() of its input."""
    from prosnet_prefect_pipelines_spark.operators import graph as G
    from prosnet_prefect_pipelines_spark.operators import ranking as R

    call, result, expected = _DRIVER_PATHS[entry]
    edges = spark.createDataFrame(
        [("b", "a", 3), ("c", "b", 2), ("d", "x", 1)],
        "src string, dst string, t long",
    ).withColumn("w", F.col("t")).repartition(4)
    sc = spark.sparkContext
    _, baseline = _jobs(
        sc, f"{entry}-count-collect", lambda: (edges.count(), edges.collect())
    )
    out, jobs = _jobs(sc, f"{entry}-driver-probe", lambda: call(G, R, edges))
    assert jobs < baseline, (
        f"{entry}: {jobs} jobs, count()+collect() takes {baseline}"
    )
    assert result(out) == expected


def test_mst_and_temporal_paths_share_schema(spark):
    """The driver fast paths type their result like the distributed
    path: an empty edge set gives an empty forest (it used to raise
    CANNOT_INFER_EMPTY_SCHEMA), and temporal arrivals keep the edge
    frame's node type. driver_threshold=-1 forces the distributed path
    even for an empty input."""
    from prosnet_prefect_pipelines_spark.operators import graph as G

    empty = spark.createDataFrame([], "src string, dst string, w long")
    fast = G.mst_boruvka(empty)
    slow = G.mst_boruvka(empty, driver_threshold=-1)
    assert fast.count() == slow.count() == 0
    assert fast.schema == slow.schema

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 7), (2, 4, 1)], "src long, dst long, t long"
    )
    fast = G.temporal_reachability(edges, [1])
    slow = G.temporal_reachability(edges, [1], driver_threshold=-1)
    assert fast.schema == slow.schema
    assert fast.schema.simpleString() == "struct<node:bigint,arrival:bigint>"
    assert set(fast.collect()) == set(slow.collect()) == {(1, 0), (2, 5), (3, 7)}


def test_descendants_bfs_result_unchanged_vs_distributed(spark):
    """The limit-collect fold must not change the reachability set:
    force the distributed fixpoint with driver_threshold=0 and compare."""
    from prosnet_prefect_pipelines_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("e", "x"), ("x", "a")],
        "src string, dst string",
    )
    fast = {r.node for r in G.descendants(edges, ["a"], reflexive=True).collect()}
    slow = {
        r.node
        for r in G.descendants(
            edges, ["a"], reflexive=True, driver_threshold=0
        ).collect()
    }
    assert fast == slow == {"a", "b", "c", "d", "e", "x"}
    # non-reflexive drops the root on both paths
    fast_nr = {
        r.node for r in G.descendants(edges, ["a"], reflexive=False).collect()
    }
    assert fast_nr == {"b", "c", "d", "e", "x"}


def test_sssp_result_unchanged_vs_distributed(spark, monkeypatch):
    """Heap Dijkstra on the driver and the distributed Bellman-Ford
    rounds (forced by a zero driver cut) give the same distances."""
    from prosnet_prefect_pipelines_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("s", "t", 10), ("s", "a", 1), ("a", "b", 1), ("b", "t", 1),
         ("t", "s", 1), ("x", "s", 1)],
        "src string, dst string, w long",
    )
    fast = {(r.node, r.dist) for r in G.sssp_weighted(edges, ["s"]).collect()}
    monkeypatch.setattr(G, "_SSSP_DRIVER_EDGES", 0)
    slow = {(r.node, r.dist) for r in G.sssp_weighted(edges, ["s"]).collect()}
    assert fast == slow == {("s", 0), ("a", 1), ("b", 2), ("t", 3)}


def test_city_index_construction_job_free_after_memo(spark, monkeypatch):
    from prosnet_prefect_pipelines_spark.plans.q_index import q_city_index_docs

    q_city_index_docs(spark, SF)  # warms the subtree + column memos
    sc = spark.sparkContext
    group = "city-index-construction-probe"
    sc.setJobGroup(group, "construction must be scan-free")
    try:
        df = q_city_index_docs(spark, SF)
        ids = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
    st = sc.statusTracker()
    for jid in ids:
        info = st.getJobInfo(jid)
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            assert si is None or (si.numTasks <= 1 and "parquet" in si.name), (
                f"construction scheduled a job: {si.name} ({si.numTasks} "
                "tasks) — subtree/column memos must keep plan builds free "
                "of the BFS collect"
            )
    assert df.count() > 0


@pytest.mark.parametrize("k", [1, 3])
def test_selector_matches_window_on_null_nan_ties(spark, k):
    """The one centroid selector (``nearest_centroids`` through the keyed
    ``assign_cells``) must return exactly the entries, in order, that
    row_number() OVER (ORDER BY score DESC, cid ASC) <= k keeps, for
    every degenerate ordering case across Spark's total double order —
    NULL scores (zero-norm cosines), NaN scores, +/-Inf, exact ties
    broken by cid (negative ids and LONG_MIN included), -0.0/0.0 ties,
    and all-NULL groups. k = 1 takes the array_max pick, k = 3 the
    sorted slice."""
    from pyspark.sql.window import Window

    from prosnet_prefect_pipelines_spark.operators import similarity as S

    nan, inf = float("nan"), float("inf")
    # each centroid's score against the query [1.0] is cv[0] / ncv
    # (rounded to 6 dp); ncv = 0 makes the score NULL via try_divide,
    # and 0.0 / -1.0 is the -0.0 score
    rows = []
    # group 1: plain max           # group 2: tie -> lowest cid wins
    rows += [(1, 10, 0.5, 1.0), (1, 11, 0.9, 1.0), (1, 12, 0.7, 1.0)]
    rows += [(2, 20, 0.4, 1.0), (2, 21, 0.4, 1.0), (2, 22, 0.1, 1.0)]
    # group 3: NULL ranks last -> non-null wins
    rows += [(3, 30, 1.0, 0.0), (3, 31, 0.0, 1.0)]
    # group 4: all NULL -> lowest cid wins
    rows += [(4, 40, 1.0, 0.0), (4, 41, 1.0, 0.0)]
    # group 5: NaN > +Inf in Spark's total order -> NaN wins
    rows += [(5, 50, inf, 1.0), (5, 51, nan, 1.0), (5, 52, 1.0, 1.0)]
    # group 6: -Inf beats NULL
    rows += [(6, 60, -inf, 1.0), (6, 61, 1.0, 0.0)]
    # group 7: NaN ties -> lowest cid
    rows += [(7, 70, nan, 1.0), (7, 71, nan, 1.0)]
    # group 8: ties across the full long range -> LONG_MIN wins
    rows += [(8, -5, 0.3, 1.0), (8, -(2**63), 0.3, 1.0), (8, 2**63 - 1, 0.3, 1.0)]
    # group 9: -0.0 (the lower cid) and 0.0 compare equal -> lowest
    # cid wins
    rows += [(9, 90, 0.0, -1.0), (9, 91, 0.0, 1.0), (9, 92, -0.5, 1.0)]
    cents = spark.createDataFrame(
        [(g, cid, [x], ncv) for g, cid, x, ncv in rows],
        "g int, cid long, cv array<double>, ncv double",
    )
    query = F.array(F.lit(1.0))

    score = F.round(
        F.try_divide(S.dot(query, F.col("cv")), F.lit(1.0) * F.col("ncv")), 6
    )
    w = Window.partitionBy("g").orderBy(F.col("score").desc(), F.col("cid"))
    want = {
        (r.g, r.rn, r.cid)
        for r in cents.withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .collect()
    }
    vecs = cents.select("g").distinct().select(
        "g", F.lit(0).alias("id"), query.alias("v"), F.lit(1.0).alias("nv")
    )
    got = {
        (r.g, r.cell_rank, r.cell)
        for r in S.assign_cells(
            vecs, S.centroid_array(cents, key="g"), k=k, key="g"
        ).collect()
    }
    assert got == want
    assert len({g for g, _, _ in got}) == 9


def test_jaccard_verify_set_cap_branch_equality(spark):
    """VERDICT r11 item 6: ids whose shingle set exceeds max_set_size
    take the expansion-join branch instead of materializing a giant
    collect_list row. Both branches (and the all-expansion degenerate)
    must emit the identical (a, b, jaccard) rows, pinned against a
    brute-force set-Jaccard twin on a fixture with a 100x outlier."""
    import random

    from prosnet_prefect_pipelines_spark.operators import dedup as D

    random.seed(7)
    vocab = [f"tok{i}" for i in range(200)]
    rows = [
        (i, " ".join(random.choices(vocab, k=40))) for i in range(12)
    ]
    # 100x outlier: shares vocabulary with the normal docs plus a
    # unique tail so its set is huge but intersections are non-trivial
    rows.append(
        (
            999,
            " ".join(
                random.choices(vocab, k=2000)
                + [f"uniq{j}" for j in range(2000)]
            ),
        )
    )
    docs = spark.createDataFrame(rows, "id long, text string")
    sh = D.shingle_table(docs, "id", "text", k=3)
    cands = spark.createDataFrame(
        [(i, 999) for i in range(12)]
        + [(i, j) for i in range(6) for j in range(i + 1, 6)],
        "a long, b long",
    )

    def run(cap):
        return sorted(
            (r.a, r.b, r.jaccard)
            for r in D.jaccard_verify(
                cands, sh, 0.0, max_set_size=cap
            ).collect()
        )

    array_only = run(10**9)  # nothing capped: pure array branch
    mixed = run(200)  # outlier capped: both branches active
    expansion_only = run(0)  # everything capped: pure expansion branch
    assert array_only == mixed == expansion_only

    sets: dict[int, set] = {}
    for r in sh.collect():
        sets.setdefault(r.id, set()).add(r.shingle)
    brute = sorted(
        (
            r.a,
            r.b,
            len(sets[r.a] & sets[r.b])
            / (len(sets[r.a] | sets[r.b])),
        )
        for r in cands.collect()
        if r.a in sets and r.b in sets
    )
    assert len(brute) == len(array_only)
    for (xa, xb, xj), (ya, yb, yj) in zip(brute, array_only):
        assert (xa, xb) == (ya, yb) and abs(xj - yj) < 1e-6


def test_jaccard_verify_threshold_filter_both_branches(spark):
    """The >= threshold filter must behave identically in the array and
    expansion branches (including dropping zero-intersection pairs)."""
    from prosnet_prefect_pipelines_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee ff"),
            (2, "aa bb cc dd ee gg"),
            (3, "zz yy xx ww vv uu"),
        ],
        "id long, text string",
    )
    sh = D.shingle_table(docs, "id", "text", k=3)
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], "a long, b long"
    )
    for cap in (10**9, 0):
        got = {
            (r.a, r.b): r.jaccard
            for r in D.jaccard_verify(
                cands, sh, 0.3, max_set_size=cap
            ).collect()
        }
        assert set(got) == {(1, 2)}, got
