"""Iterative graph operators: transitive closure + connected components.

These are the two reference semantics Spark has no built-in for
(SURVEY §4 "custom work" items 1-2):

- ``wdt:P279*`` property paths (J5 — sparql/wikidata-city.sparql:6,
  wikidata-organization.sparql:5) -> ``transitive_closure``
- ``owl:sameAs`` entity-resolution clusters (J9 —
  pfp-prefect-pipelines/sparql/create_provided_entities_graph_v2.sparql:10-27)
  -> ``connected_components``

Each operator picks its physical strategy from the measured edge count
(SCALE.md): below a broadcast-scale threshold, one collect + driver
BFS/union-find (ontologies and sameAs graphs are dimension-sized even at
100 TB fact scale); above it, distributed fixpoint loops of DataFrame
joins. Distributed-path scale design:
- every iteration materializes the running result (localCheckpoint, or a
  reliable ``checkpoint`` when ``sc.setCheckpointDir`` is configured) —
  without it the lineage (and thus task binaries + recovery cost) grows
  linearly with iterations, which kills long chains at 100 TB
- frontier-style expansion keeps the join input at |frontier| x |edges|,
  not |closure| x |edges|
- components: per-partition union-find pre-contraction (narrow pass)
  then alternating large-star/small-star contraction (Kiveris et al.,
  SoCC'14), O(log n) rounds instead of O(diameter)
- convergence checks are single scalar aggregations per round
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from prosnet_prefect_pipelines_spark.session import local_frame


def _materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate lineage for fixpoint state.

    ``localCheckpoint`` (executor-local blocks) is the fast default; when
    a reliable checkpoint directory is configured
    (``sc.setCheckpointDir``) use ``checkpoint`` instead — on a real
    cluster, fixpoint state that lives only in executor storage dies with
    a lost executor and recomputation walks the whole (truncated!)
    lineage; reliable checkpoints make iteration state fault-tolerant.
    """
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().checkpointDir().isDefined():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)



def _fixpoint_conf_off(spark) -> str:
    """Disable constraint propagation for the fixpoint loops; returns the
    previous value for restore. Spark 4.1's InferFiltersFromConstraints
    crashes ("key not found" in UnionBase.rewriteConstraints) when a
    union of checkpointed frames shares exprIds across both sides of the
    per-round anti-join — and constraint inference buys nothing in these
    self-join loops anyway."""
    prev = spark.conf.get("spark.sql.constraintPropagation.enabled", "true")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    return prev


def _driver_rows(raw: DataFrame, threshold: int) -> list | None:
    """``raw``'s rows when there are at most ``threshold``, else None.

    One limit-collect probes the size AND fetches the rows, instead of a
    full count() job followed by a collect() job (2 scans of the edge
    subquery -> 1). Above the threshold the limit stops early, so at most
    ``threshold + 1`` rows reach the driver before the distributed path.
    """
    rows = raw.limit(threshold + 1).collect()
    return rows if len(rows) <= threshold else None


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    reflexive: bool = False,
    max_iterations: int = 64,
    method: str = "frontier",
    driver_threshold: int = 200_000,
) -> DataFrame:
    """All (src, dst) pairs connected by 1+ edge hops; 0 hops if reflexive.

    SPARQL ``p*`` includes the zero-length path — the start node itself
    matches (SURVEY §2.3 J5 note) — so ``reflexive=True`` adds (x, x) for
    every node on either edge side.
    Raises after ``max_iterations`` (safety for unnoticed cycles; cycles
    themselves are handled — reached pairs are deduped away). The driver
    fast path has no iteration cap (BFS terminates on any graph).

    Physical strategy is adaptive, like Spark's broadcast threshold:
    ``p*`` property paths run over ONTOLOGY edges (class trees, vocab
    hierarchies) which stay dimension-sized even when the fact data is
    100 TB — below ``driver_threshold`` edges, collect once and BFS on
    the driver (O(output) work, zero shuffle rounds), else iterate
    distributed. method='frontier': one hop per round — O(diameter)
    rounds, minimal total work. method='doubling': path doubling
    (reach ⋈ reach) — O(log diameter) rounds at the cost of re-deriving
    long paths from halves; wins when per-round scheduling latency
    dominates (deep chains, modest pair counts).
    """
    spark = edges.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    raw = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # raw (pre-distinct) rows: a conservative upper bound on the distinct
    # edge count for the strategy pick
    rows = _driver_rows(raw, driver_threshold)
    if rows is not None:
        return _closure_driver(spark, rows, reflexive)
    prev_cp = _fixpoint_conf_off(spark)
    try:
        e = _materialize(raw.distinct(), eager=True)
        n_edges = e.count()
        # per-stage overhead still dominates below ~10x the threshold —
        # drop the fixpoint's shuffle parallelism there
        if n_edges < 10 * driver_threshold:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        if method == "doubling":
            result = _closure_doubling(e, max_iterations)
        elif method == "frontier":
            result = _closure_frontier(e, max_iterations)
        else:
            raise ValueError(method)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.constraintPropagation.enabled", prev_cp)
    if reflexive:
        nodes = e.select(F.col("src").alias("n")).unionByName(
            e.select(F.col("dst").alias("n"))
        ).distinct()
        refl = nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))
        # cycles already put (x, x) in the closure — anti-join so the
        # zero-length path isn't emitted twice (bag semantics)
        refl = refl.join(
            result.filter(F.col("src") == F.col("dst")), ["src", "dst"], "left_anti"
        )
        result = result.unionByName(refl)
    return result


def _closure_driver(spark, edge_rows: list, reflexive: bool) -> DataFrame:
    """Per-node BFS over a collected edge list — O(|closure|) total work.

    Cycle-safe (visited sets); no iteration cap needed. Dedup of the raw
    edge list happens in Python (adjacency sets) — cheaper than a
    distributed distinct for a broadcast-scale input.
    """
    from collections import defaultdict, deque

    fwd = defaultdict(set)
    nodes = set()
    for a, b in edge_rows:
        fwd[a].add(b)
        nodes.add(a)
        nodes.add(b)
    pairs = []
    self_reaching = set()
    for start in nodes:
        vis = set()
        dq = deque(fwd.get(start, ()))
        while dq:
            x = dq.popleft()
            if x in vis:
                continue
            vis.add(x)
            dq.extend(fwd.get(x, ()))
        if start in vis:
            self_reaching.add(start)
        pairs.extend((start, d) for d in vis)
    if reflexive:
        # a cycle already yields (n, n) — don't emit the zero-length
        # path a second time (bag semantics)
        pairs.extend((n, n) for n in nodes if n not in self_reaching)
    return local_frame(spark, pairs, "src string, dst string")


def _closure_frontier(e: DataFrame, max_iterations: int) -> DataFrame:
    # reach = lazy union of MATERIALIZED frontier frames: each frontier
    # is checkpointed once, the union itself never is — no recompute
    # (every leaf is cached) and no per-iteration re-materialization of
    # the growing result
    frontiers = [e]
    frontier = e

    def reach():
        out = frontiers[0]
        for fr in frontiers[1:]:
            out = out.unionByName(fr)
        return out

    for _ in range(max_iterations):
        # one hop further from the current frontier only; the lazy
        # materialization happens during the count() below — one job
        # per round, not two
        step = (
            frontier.alias("f")
            .join(e.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(F.col("f.src").alias("src"), F.col("e.dst").alias("dst"))
            .distinct()
        )
        frontier = _materialize(
            step.join(reach(), on=["src", "dst"], how="left_anti")
        )
        if frontier.count() == 0:
            break
        frontiers.append(frontier)
    else:
        raise RuntimeError(
            f"transitive_closure: no fixpoint after {max_iterations} iterations"
        )
    return reach()


def _closure_doubling(e: DataFrame, max_iterations: int) -> DataFrame:
    # after k rounds reach covers all paths of length <= 2^k
    reach = e
    n = reach.count()
    for _ in range(max_iterations):
        step = (
            reach.alias("l")
            .join(reach.alias("r"), F.col("l.dst") == F.col("r.src"))
            .select(F.col("l.src").alias("src"), F.col("r.dst").alias("dst"))
        )
        merged = _materialize(reach.unionByName(step).distinct())
        m = merged.count()
        if m == n:
            return reach
        reach, n = merged, m
    raise RuntimeError(
        f"transitive_closure: no fixpoint after {max_iterations} iterations"
    )


def descendants(
    edges: DataFrame,
    roots: list[str],
    src: str = "src",
    dst: str = "dst",
    reflexive: bool = True,
    max_iterations: int = 64,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """-> (node): everything that reaches any root via 1+ edges
    (plus the roots themselves when reflexive) — i.e. the subtree under
    the roots when edges point child -> parent.

    This is the right shape for ``?cls wdt:P279* <root>`` semi-joins
    (sparql/wikidata-city.sparql:6): single-source reachability does
    O(|subtree|) total work, where the filtered all-pairs closure the
    query naively implies does O(|V| * depth) — the difference between a
    bounded BFS and a quadratic blowup at 100 TB. Below
    ``driver_threshold`` edges, the BFS runs on the driver over a
    collected edge list (ontology graphs are dimension-sized; the result
    is broadcast into the item semi-join anyway), else as a distributed
    frontier fixpoint.
    """
    spark = edges.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    raw = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rows = _driver_rows(raw, driver_threshold)
    if rows is not None:
        return _descendants_driver(spark, rows, roots, reflexive)
    prev_cp = _fixpoint_conf_off(spark)
    try:
        e = _materialize(raw.distinct(), eager=True)
        n_edges = e.count()
        if n_edges < 10 * driver_threshold:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        seed = local_frame(spark, [(r,) for r in roots], "node string")
        reached = [_materialize(seed, eager=True)]
        frontier = reached[0]

        def all_reached():
            out = reached[0]
            for fr in reached[1:]:
                out = out.unionByName(fr)
            return out

        for _ in range(max_iterations):
            step = (
                e.join(frontier, e["dst"] == frontier["node"])
                .select(F.col("src").alias("node"))
                .distinct()
            )
            frontier = _materialize(
                step.join(all_reached(), on="node", how="left_anti")
            )
            if frontier.count() == 0:
                break
            reached.append(frontier)
        else:
            raise RuntimeError(
                f"descendants: no fixpoint after {max_iterations} iterations"
            )
        result = all_reached()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.constraintPropagation.enabled", prev_cp)
    if not reflexive:
        result = result.join(
            local_frame(spark, [(r,) for r in roots], "node string"),
            on="node",
            how="left_anti",
        )
    return result


def _descendants_driver(
    spark, edge_rows: list, roots: list[str], reflexive: bool
) -> DataFrame:
    """Multi-source BFS toward edge sources over a collected edge list."""
    from collections import defaultdict, deque

    rev = defaultdict(set)
    for a, b in edge_rows:
        rev[b].add(a)
    seen = set(roots)
    dq = deque(seen)
    while dq:
        x = dq.popleft()
        for child in rev.get(x, ()):
            if child not in seen:
                seen.add(child)
                dq.append(child)
    if not reflexive:
        seen -= set(roots)
    return local_frame(spark, [(x,) for x in sorted(seen)], "node string")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    driver_threshold: int = 500_000,
) -> DataFrame:
    """Undirected connected components -> (node, component) with the
    component labeled by its minimum member (lexicographic for strings).

    Two physical strategies, picked by measured edge count — the same
    adaptivity Spark itself applies at broadcast thresholds:

    - ``|E| <= driver_threshold``: one collect + driver union-find. A
      sameAs graph is typically orders of magnitude smaller than the base
      data (it only holds cross-references); paying ~30 distributed
      shuffle stages of fixpoint scheduling for a graph that fits in a
      broadcast-sized buffer is pure overhead. Equivalent to broadcasting
      a dimension table.
    - otherwise: alternating large-star/small-star contraction (Kiveris
      et al., "Connected Components in MapReduce and Beyond", SoCC'14):
      each round rewires every node's larger neighbors (large-star) then
      its smaller neighbors (small-star) onto the minimum of the
      neighborhood. The edge set contracts toward one star per component
      rooted at the component minimum in O(log n) rounds — min-LABEL
      propagation by contrast moves the winning label one hop per round,
      O(diameter) rounds, which is the difference between 5 and 10k
      synchronization barriers on long sameAs chains at 100 TB.

    Both paths produce identical labels (property-tested against each
    other and a DuckDB recursive-CTE oracle).
    """
    spark = edges.sparkSession
    # iterative frames are usually small relative to the source tables —
    # run the fixpoint at low parallelism to cut per-stage overhead, and
    # restore the session setting afterwards
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    rows = _driver_rows(raw, driver_threshold)
    if rows is not None:
        return _components_driver(spark, rows)
    prev_cp = _fixpoint_conf_off(spark)
    try:
        # local pre-contraction: per-partition union-find replaces each
        # partition's edge multiset with its spanning forest (≤ #local
        # nodes - 1 edges) BEFORE any shuffle — a narrow pass that absorbs
        # duplicates and dense local structure; connectivity is preserved
        # because nodes shared across partitions link the local forests
        e = _materialize(_local_contract(raw).distinct(), eager=True)
        n_edges = e.count()
        if n_edges < 10 * driver_threshold:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        # every node of the input graph (stars lose isolated/root arity info)
        nodes = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .distinct()
        )
        nodes = _materialize(nodes, eager=True)

        def fingerprint(df):
            # decimal accumulator: a long sum of 64-bit hashes overflows
            # under ANSI mode (Spark 4 default)
            row = df.agg(
                F.sum(F.xxhash64(F.col("a"), F.col("b")).cast("decimal(38,0)")).alias("h"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            return (row.h, row.n)

        prev_fp = None
        for _ in range(max_iterations):
            # large-star: for each u with m = min(N(u) ∪ {u}), rewire every
            # strictly larger neighbor v > u onto m
            nbr = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
            mins = nbr.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
            large = (
                nbr.join(mins, on="a")
                .filter(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .filter(F.col("a") != F.col("b"))
                # no distinct here: small-star dedups right after — saves a
                # full shuffle per round
            )
            # small-star: direct each edge large -> small, m = min neighbor;
            # rewire all smaller neighbors and u itself onto m
            dire = large.select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            mins2 = dire.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                dire.join(mins2, on="u")
                .select(
                    F.explode(
                        F.array(
                            F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                            F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                        )
                    ).alias("e")
                )
                .select("e.a", "e.b")
                .filter(F.col("a") != F.col("b"))
                .distinct()
            )
            # lazy: materializes during the fingerprint aggregation — one
            # job per round, not two
            e = _materialize(small)
            fp = fingerprint(e)
            if fp == prev_fp:
                break
            prev_fp = fp
        else:
            raise RuntimeError(
                f"connected_components: no fixpoint after {max_iterations} iterations"
            )
        # converged star edges point child -> component-min root; label
        # roots (and isolated nodes) with themselves. min() guards the
        # (theoretically excluded) duplicate-target case deterministically.
        star = e.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("comp"))
        labels = (
            nodes.join(star, on="node", how="left")
            .select("node", F.coalesce(F.col("comp"), F.col("node")).alias("comp"))
        )
        return labels
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.constraintPropagation.enabled", prev_cp)


def _local_contract(raw: DataFrame) -> DataFrame:
    """Per-partition union-find -> (node, local min-root) forest edges.

    Narrow (no shuffle); output per partition is bounded by its distinct
    node count regardless of how many duplicate/dense edges arrive.
    Arrow-batched (``mapInPandas``): edges arrive as columnar batches and
    the forest leaves as one batch — the union-find state spans all of a
    partition's batches; no row-at-a-time serialization path.
    """

    def part(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["a"].to_numpy(), pdf["b"].to_numpy()):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
        out_a, out_b = [], []
        for n in parent:
            r = find(n)
            if r != n:
                out_a.append(n)
                out_b.append(r)
        if out_a:
            yield pd.DataFrame({"a": out_a, "b": out_b})

    return raw.mapInPandas(part, "a string, b string")


def _components_driver(spark, edge_rows: list) -> DataFrame:
    """Union-find over a collected edge list (small-graph fast path)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min keeps the representative = minimum member,
            # matching the distributed path's labeling exactly
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    rows = [(node, find(node)) for node in parent]
    return local_frame(spark, rows, "node string, comp string")


def bfs_levels(
    edges: DataFrame,
    roots: list[str],
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 64,
) -> DataFrame:
    """-> (node, hops): minimum hop count from any root, following edges
    src -> dst (roots at 0; unreachable nodes absent).

    Same frontier fixpoint as ``descendants`` (each round: join the
    frontier to the edge list, anti-join everything already levelled,
    materialize to truncate lineage) with the round index recorded as
    the level — BFS layering gives min-hops for free, no per-edge
    weights and no priority queue. Work is O(|reachable| + |frontier
    edges|) total; rounds = graph depth (the scale bound — depth, not
    size, drives round count).
    """
    spark = edges.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_cp = _fixpoint_conf_off(spark)
    try:
        e = _materialize(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct(),
            eager=True,
        )
        if e.count() < 2_000_000:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        seed = local_frame(spark, [(r,) for r in roots], "node string")
        levels = [_materialize(seed.withColumn("hops", F.lit(0).cast("long")), eager=True)]
        frontier = levels[0]

        def all_levelled():
            out = levels[0].select("node")
            for fr in levels[1:]:
                out = out.unionByName(fr.select("node"))
            return out

        for lvl in range(1, max_iterations + 1):
            step = (
                e.join(frontier, e["src"] == frontier["node"])
                .select(F.col("dst").alias("node"))
                .distinct()
            )
            nxt = _materialize(
                step.join(all_levelled(), on="node", how="left_anti").withColumn(
                    "hops", F.lit(lvl).cast("long")
                )
            )
            if nxt.count() == 0:
                break
            levels.append(nxt)
            frontier = nxt
        else:
            raise RuntimeError(f"bfs_levels: no fixpoint after {max_iterations} iterations")
        out = levels[0]
        for fr in levels[1:]:
            out = out.unionByName(fr)
        return out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.constraintPropagation.enabled", prev_cp)


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count of the undirected graph -> one row
    ``(triangles: long)``.

    Degree-ordered enumeration (the MapReduce-classic): each undirected
    edge is oriented from its lower-(degree, id) endpoint to the higher,
    so every triangle is generated exactly once (its vertices form one
    ascending chain) and — the scale property — wedge enumeration pivots
    only on each vertex's HIGHER-ranked neighbors. A celebrity node with
    degree d contributes ~0 wedges instead of d^2/2: max work per vertex
    is bounded by the arboricity, not the max degree, which is what keeps
    the wedge join alive on power-law graphs at 100 TB.

    Two shuffles (wedge self-join on the pivot + closing semi-join on the
    wedge endpoints); ranks are computed once and joined back, so the
    orientation itself costs one small join against the degree table.
    """
    # canonical undirected edge set (a < b lexically, self-loops dropped)
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # total order: (degree, id) — deterministic tie-break
    ranked = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), on="a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), on="b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("o")
        )
        .select(F.col("o.lo").alias("lo"), F.col("o.hi").alias("hi"))
    )
    wedges = (
        ranked.alias("x")
        .join(ranked.alias("y"), on="lo")
        .filter(F.col("x.hi") < F.col("y.hi"))
        .select(F.col("x.hi").alias("u"), F.col("y.hi").alias("v"))
    )
    closed = wedges.join(
        e.select(F.col("a").alias("u"), F.col("b").alias("v")),
        on=["u", "v"],
        how="inner",
    )
    return closed.agg(F.count(F.lit(1)).alias("triangles"))


# edge count up to which sssp_weighted runs heap Dijkstra on the driver
_SSSP_DRIVER_EDGES = 2_000_000


def sssp_weighted(
    edges: DataFrame,
    sources: list,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_iterations: int = 50,
) -> DataFrame:
    """Single-source (multi-root) weighted shortest paths -> (node, dist)
    for every reachable node; integer non-negative weights.

    Distributed Bellman-Ford with delta-convergence: each round relaxes
    ONLY the frontier (nodes whose distance improved last round) against
    the edge set — one equi-join + one min-aggregation per round, both
    keyed — then merges into the running distance table via min. State
    is checkpoint-truncated every round (the graph.py fixpoint
    conventions). Rounds <=
    the weighted-hop diameter; work per round is proportional to the
    frontier's out-edges, not the whole graph — on power-law graphs the
    frontier collapses after a few rounds and later iterations are
    near-free.

    Negative weights are rejected (Bellman-Ford detects cycles only with
    |V|-round full relaxation — a different, full-scan contract).

    Adaptive like the other graph fixpoints: up to ``_SSSP_DRIVER_EDGES``
    edges the whole edge set collects to the driver and runs heap
    Dijkstra — sparse graphs can have weighted-hop diameters near |V|,
    which costs the distributed loop one round of fixed job overhead per
    hop (minutes for a 300-edge chain!) while the driver answers in
    microseconds. The distributed delta rounds are for edge
    sets that don't fit one machine.
    """
    spark = edges.sparkSession
    if not sources:
        raise ValueError("sssp_weighted: sources must be non-empty")
    raw = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
    )
    rows = _driver_rows(raw, _SSSP_DRIVER_EDGES)
    if rows is not None:
        if any(w is not None and w < 0 for _, _, w in rows):
            raise ValueError("sssp_weighted: negative weights unsupported")
        return _sssp_driver(spark, rows, sources)
    # the sibling fixpoints scope shuffles to 8 partitions below 2M
    # edges; past the driver cut this edge set is larger, so the rounds
    # keep the session's partitions
    prev_cp = _fixpoint_conf_off(spark)
    try:
        e = _materialize(raw, eager=True)
        if e.filter(F.col("w") < 0).limit(1).count() > 0:
            raise ValueError("sssp_weighted: negative weights unsupported")
        dist = _materialize(
            local_frame(spark, [(s, 0) for s in sources], "node string, dist long"),
            eager=True,
        )
        frontier = dist
        for _ in range(max_iterations):
            cand = (
                e.join(frontier, e["src"] == frontier["node"])
                .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("d"))
                .groupBy("node")
                .agg(F.min("d").alias("d"))
            )
            improved = _materialize(
                cand.join(dist, on="node", how="left_outer")
                .filter(F.col("dist").isNull() | (F.col("d") < F.col("dist")))
                .select("node", F.col("d").alias("dist"))
            )
            if improved.count() == 0:
                break
            dist = _materialize(
                dist.join(improved.select(F.col("node"), F.col("dist").alias("_nd")),
                          on="node", how="full_outer")
                .select(
                    "node",
                    F.least(F.col("dist"), F.col("_nd")).alias("dist"),
                )
            )
            frontier = improved
        else:
            raise RuntimeError(
                f"sssp_weighted: no fixpoint after {max_iterations} iterations"
            )
        return dist
    finally:
        spark.conf.set("spark.sql.constraintPropagation.enabled", prev_cp)


def _sssp_driver(spark, edge_rows: list, sources: list) -> DataFrame:
    """Heap Dijkstra on collected edges — the broadcast-scale fast path.
    Same (node, dist) contract and tie-behavior as the distributed
    rounds (min distance is unique; no tie-breaks needed)."""
    import heapq

    adj: dict = {}
    for a, b, w in edge_rows:
        adj.setdefault(a, []).append((b, w))
    dist: dict = {}
    heap = [(0, s) for s in sources]
    heapq.heapify(heap)
    while heap:
        d, node = heapq.heappop(heap)
        if node in dist:
            continue
        dist[node] = d
        for nxt, w in adj.get(node, ()):
            if nxt not in dist:
                heapq.heappush(heap, (d + w, nxt))
    return local_frame(spark, list(dist.items()), "node string, dist long")


def kcore_peel(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 12,
) -> DataFrame:
    """Nodes surviving ``rounds`` rounds of k-core peeling (remove nodes
    with undirected degree < k, repeat) -> (node, degree).

    Bounded-round contract: peeling is idempotent at the fixpoint, so
    once the core stabilizes further rounds are no-ops — ``rounds``
    above the true peel depth yields the exact k-core, and the FIXED
    round count is what lets an ANSI-SQL oracle replay the computation
    CTE-by-CTE (an unbounded fixpoint has no SQL twin). Real-world peel
    depths are small (degeneracy ordering collapses fast on power-law
    graphs); raise ``rounds`` for adversarial chains.

    Per round: one degree aggregation + one semi-join on each endpoint —
    both keyed shuffles over the SHRINKING survivor edge set, state
    checkpoint-truncated per round.
    """
    spark = edges.sparkSession
    prev_cp = _fixpoint_conf_off(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        e = _materialize(
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("a"),
                F.greatest(F.col(src), F.col(dst)).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct(),
            eager=True,
        )
        if e.count() < 2_000_000:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        for _ in range(rounds):
            deg = (
                e.select(F.col("a").alias("n"))
                .unionByName(e.select(F.col("b").alias("n")))
                .groupBy("n")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            keep = deg.filter(F.col("d") >= k).select("n")
            e = _materialize(
                e.join(keep.withColumnRenamed("n", "a"), on="a", how="left_semi")
                .join(keep.withColumnRenamed("n", "b"), on="b", how="left_semi")
            )
        deg = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        return deg.filter(F.col("degree") >= k)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.constraintPropagation.enabled", prev_cp)


def triangle_corners(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Every triangle once -> (x, y, z) corner rows, via the same
    degree-ordered wedge enumeration as :func:`triangle_count` (work
    bounded by arboricity, not max degree). Explode the corners to get
    per-node triangle counts / clustering coefficients."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ranked = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), on="a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), on="b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("o")
        )
        .select(F.col("o.lo").alias("lo"), F.col("o.hi").alias("hi"))
    )
    wedges = (
        ranked.alias("x")
        .join(ranked.alias("y"), on="lo")
        .filter(F.col("x.hi") < F.col("y.hi"))
        .select(F.col("lo"), F.col("x.hi").alias("u"), F.col("y.hi").alias("v"))
    )
    return wedges.join(
        e.select(F.col("a").alias("u"), F.col("b").alias("v")),
        on=["u", "v"],
        how="inner",
    ).select(F.col("lo").alias("x"), F.col("u").alias("y"), F.col("v").alias("z"))


def scc_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    driver_threshold: int = 500_000,
) -> DataFrame:
    """DIRECTED strongly connected components -> (node, scc) with each
    SCC labeled by its maximum member (the coloring root).

    Same adaptive split as ``connected_components``:

    - ``|E| <= driver_threshold``: collect + driver Tarjan (iterative,
      no recursion-depth limit). Directed cross-reference graphs
      (citation/redirect/sameAs-directed) are dimension-sized next to
      100 TB fact data, and Tarjan is linear.
    - otherwise: Orzan's distributed coloring (the FW-BW variant used
      by the HipG/Pregel SCC literature): (1) propagate the maximum
      ancestor id forward to a fixpoint — each node's color is the
      largest id that can reach it; (2) nodes with ``color == self``
      are roots, and the SCC of root r is the set of same-colored
      nodes that can reach r (a backward fixpoint restricted to the
      color class — all roots processed simultaneously); (3) peel the
      found SCCs off and repeat on the remainder. Outer rounds are
      bounded by the SCC-DAG's chain structure, inner fixpoints by the
      color-class diameter; every round contracts the graph, and every
      iteration's state is lineage-truncated via ``_materialize``.

    Both paths produce identical labels (equivalence-tested).
    """
    spark = edges.sparkSession
    raw = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    rows = _driver_rows(raw, driver_threshold)
    if rows is not None:
        return _scc_driver(spark, rows)
    return _scc_coloring(spark, raw, max_iterations)


def _scc_driver(spark, edge_rows: list) -> DataFrame:
    """Iterative Tarjan over a collected edge list (small-graph path).
    SCC label = max member, matching the distributed coloring exactly."""
    adj: dict = {}
    nodes: set = set()
    for a, b in edge_rows:
        adj.setdefault(a, []).append(b)
        nodes.add(a)
        nodes.add(b)

    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    sccs: list[list] = []
    counter = [0]

    for start in nodes:
        if start in index:
            continue
        # explicit DFS stack of (node, neighbor-iterator position)
        work = [(start, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            nbrs = adj.get(v, [])
            advanced = False
            while pi < len(nbrs):
                w = nbrs[pi]
                pi += 1
                if w not in index:
                    work[-1] = (v, pi)
                    work.append((w, 0))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])

    rows = [(n, max(comp)) for comp in sccs for n in comp]
    return local_frame(spark, rows, "node string, scc string")


def _scc_coloring(spark, e: DataFrame, max_iterations: int) -> DataFrame:
    """Distributed coloring SCC (large-graph path)."""
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_cp = _fixpoint_conf_off(spark)
    results: list[DataFrame] = []
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        remaining = _materialize(e, eager=True)
        for _outer in range(max_iterations):
            nodes = _materialize(
                remaining.select(F.col("a").alias("n"))
                .unionByName(remaining.select(F.col("b").alias("n")))
                .distinct(),
                eager=True,
            )
            if nodes.limit(1).count() == 0:
                break
            # (1) forward max-ancestor propagation
            color = nodes.select("n", F.col("n").alias("c"))
            for _ in range(max_iterations):
                pushed = (
                    remaining.join(
                        color.withColumnRenamed("n", "a").withColumnRenamed("c", "ca"),
                        on="a",
                    )
                    .groupBy(F.col("b").alias("n"))
                    .agg(F.max("ca").alias("cin"))
                )
                nxt = (
                    color.join(pushed, on="n", how="left")
                    .select(
                        "n",
                        F.greatest(F.col("c"), F.coalesce(F.col("cin"), F.col("c"))).alias("c"),
                    )
                )
                nxt = _materialize(nxt, eager=True)
                changed = (
                    nxt.alias("x")
                    .join(color.alias("y"), on="n")
                    .filter(F.col("x.c") != F.col("y.c"))
                    .limit(1)
                    .count()
                )
                color = nxt
                if changed == 0:
                    break
            # (2) backward reachability to roots within each color class
            colored_edges = _materialize(
                remaining.join(
                    color.withColumnRenamed("n", "a").withColumnRenamed("c", "ca"), on="a"
                )
                .join(
                    color.withColumnRenamed("n", "b").withColumnRenamed("c", "cb"), on="b"
                )
                .filter(F.col("ca") == F.col("cb"))
                .select("a", "b", F.col("ca").alias("c")),
                eager=True,
            )
            member = color.filter(F.col("n") == F.col("c")).select("n", "c")
            frontier = member
            for _ in range(max_iterations):
                step = (
                    colored_edges.join(
                        frontier.withColumnRenamed("n", "b").withColumnRenamed("c", "cb"),
                        on="b",
                    )
                    .filter(F.col("c") == F.col("cb"))
                    .select(F.col("a").alias("n"), "c")
                    .distinct()
                )
                new = _materialize(
                    step.join(member, on=["n", "c"], how="left_anti"), eager=True
                )
                if new.limit(1).count() == 0:
                    break
                member = _materialize(member.unionByName(new), eager=True)
                frontier = new
            results.append(member.select("n", F.col("c").alias("scc")))
            # (3) peel off the found SCCs
            remaining = _materialize(
                remaining.join(
                    member.select(F.col("n").alias("a")), on="a", how="left_anti"
                ).join(member.select(F.col("n").alias("b")), on="b", how="left_anti"),
                eager=True,
            )
        # nodes whose every edge touched a peeled SCC drop out of
        # `remaining` without ever being assigned — they are singleton
        # SCCs (their potential cycle partners are gone)
        all_nodes = (
            e.select(F.col("a").alias("n"))
            .unionByName(e.select(F.col("b").alias("n")))
            .distinct()
        )
        assigned = results[0]
        for r in results[1:]:
            assigned = assigned.unionByName(r)
        singles = all_nodes.join(
            assigned.select("n"), on="n", how="left_anti"
        ).select("n", F.col("n").alias("scc"))
        out = assigned.unionByName(singles)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.constraintPropagation.enabled", prev_cp)
    return out.select(F.col("n").alias("node"), "scc")


def temporal_reachability(
    edges: DataFrame,
    sources: list,
    src: str = "src",
    dst: str = "dst",
    time_col: str = "t",
    start_time: int = 0,
    max_iterations: int = 50,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Earliest-arrival time-respecting reachability -> (node, arrival):
    the minimum time each node can be reached from the sources along
    paths whose edge timestamps never decrease (you cannot take an edge
    that fired before you arrived) — the contact-tracing / information-
    diffusion primitive on interaction logs.

    Label-correcting relaxation like ``sssp_weighted``: earlier arrival
    at u never hurts (it permits a superset of outgoing edges, since the
    constraint t_edge >= arrival(u) is monotone), so min-merge converges
    to the exact earliest arrival. Each round joins ONLY the improved
    frontier against the edge set (keyed equi-join + min aggregation)
    and truncates lineage; rounds are bounded by the temporal diameter.
    """
    spark = edges.sparkSession
    if not sources:
        raise ValueError("temporal_reachability: sources must be non-empty")
    raw = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(time_col).cast("long").alias("t"),
    )
    # one (node, arrival) schema for both paths, node typed like the edges
    schema = StructType([
        StructField("node", raw.schema["src"].dataType),
        StructField("arrival", LongType()),
    ])
    # adaptive like the other graph fixpoints: interaction graphs are
    # usually dimension-sized — below the broadcast threshold, collect
    # once and run heap Dijkstra on (node, arrival) states
    rows = _driver_rows(raw, driver_threshold)
    if rows is not None:
        return _temporal_driver(spark, rows, sources, start_time, schema)
    prev_cp = _fixpoint_conf_off(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        e = _materialize(raw, eager=True)
        if e.count() < 10 * driver_threshold:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        arr = local_frame(spark, [(s, int(start_time)) for s in sources], schema)
        frontier = arr
        for _ in range(max_iterations):
            relaxed = (
                e.join(
                    frontier.withColumnRenamed("node", "src"), on="src"
                )
                .filter(F.col("t") >= F.col("arrival"))
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("t").alias("cand"))
            )
            improved = (
                relaxed.join(arr, on="node", how="left")
                .filter(F.col("arrival").isNull() | (F.col("cand") < F.col("arrival")))
                .select("node", F.col("cand").alias("arrival"))
            )
            improved = _materialize(improved, eager=True)
            if improved.limit(1).count() == 0:
                break
            arr = _materialize(
                arr.join(improved.select("node"), on="node", how="left_anti")
                .unionByName(improved),
                eager=True,
            )
            frontier = improved
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.constraintPropagation.enabled", prev_cp)
    return arr


def _temporal_driver(
    spark, edge_rows: list, sources: list, start_time: int, schema: StructType
) -> DataFrame:
    """Earliest-arrival Dijkstra over collected timestamped edges.

    Arrivals only grow along a path, so the min-heap pop order is
    monotone and each node settles at its first pop — exact, like
    weighted Dijkstra with the relaxation rule arr(v) = min t of an
    out-edge with t >= arr(u)."""
    import heapq
    from collections import defaultdict

    out = defaultdict(list)
    for a, b, t in edge_rows:
        out[a].append((t, b))
    for lst in out.values():
        lst.sort()
    arr: dict = {}
    heap = [(int(start_time), s) for s in sources]
    heapq.heapify(heap)
    while heap:
        t, v = heapq.heappop(heap)
        if v in arr:
            continue
        arr[v] = t
        import bisect

        lst = out.get(v, ())
        # edges usable from v: timestamps >= t (list pre-sorted)
        i = bisect.bisect_left(lst, (t, ))
        for et, w in lst[i:]:
            if w not in arr:
                heapq.heappush(heap, (et, w))
    return local_frame(spark, list(arr.items()), schema)


def mst_boruvka(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_rounds: int = 30,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Minimum spanning forest (Borůvka) -> the chosen (src, dst, w)
    edges, assuming DISTINCT edge weights (ties would make the MSF
    ambiguous; callers break ties by composing a unique key into the
    weight, e.g. w * |E| + edge_id — the query tier does exactly that).

    Each round: every component picks its minimum outgoing edge
    (min_by over the component-labeled edge list — one keyed
    aggregation), the picked edges merge components (union-find via
    ``connected_components`` over the component graph, which is
    component-sized, not edge-sized), and edge endpoints are relabeled
    to their new components. Components at least halve per round, so
    rounds <= log2(V) — the textbook parallel MST bound. Every round's
    state is lineage-truncated.
    """
    spark = edges.sparkSession
    raw = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"),
        F.col(weight).cast("long").alias("w"),
    ).filter(F.col("a") != F.col("b"))
    # adaptive like the other graph fixpoints: below the broadcast
    # threshold, one collect + driver Kruskal (sort + union-find, exact
    # same forest under distinct weights)
    rows = _driver_rows(raw, driver_threshold)
    if rows is not None:
        # the edge frame's own types, so an empty forest has the
        # distributed path's schema
        return _mst_driver(spark, rows, raw.schema)
    prev_cp = _fixpoint_conf_off(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        e = _materialize(raw, eager=True)
        # comp: node -> component label (starts as itself)
        comp = _materialize(
            e.select(F.col("a").alias("n")).unionByName(e.select(F.col("b").alias("n")))
            .distinct().select("n", F.col("n").alias("c")),
            eager=True,
        )
        chosen = None
        for _ in range(max_rounds):
            lab = (
                e.join(comp.withColumnRenamed("n", "a").withColumnRenamed("c", "ca"), on="a")
                .join(comp.withColumnRenamed("n", "b").withColumnRenamed("c", "cb"), on="b")
                .filter(F.col("ca") != F.col("cb"))
            )
            if lab.limit(1).count() == 0:
                break
            # min outgoing edge per component (both directions)
            cand = lab.select(F.col("ca").alias("c"), "a", "b", "w").unionByName(
                lab.select(F.col("cb").alias("c"), "a", "b", "w")
            )
            picks = (
                cand.groupBy("c")
                .agg(
                    F.min_by(F.struct("a", "b", "w"), "w").alias("e"),
                )
                .select("e.a", "e.b", "e.w")
                .distinct()
            )
            picks = _materialize(picks, eager=True)
            chosen = picks if chosen is None else _materialize(
                chosen.unionByName(picks).distinct(), eager=True
            )
            # merge: component graph edges from the picked edges
            pc = (
                picks.join(comp.withColumnRenamed("n", "a").withColumnRenamed("c", "ca"), on="a")
                .join(comp.withColumnRenamed("n", "b").withColumnRenamed("c", "cb"), on="b")
                .select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
            )
            merged = connected_components(pc, driver_threshold=500_000)
            comp = _materialize(
                comp.join(
                    merged.withColumnRenamed("node", "c").withColumnRenamed("comp", "c2"),
                    on="c",
                    how="left",
                ).select("n", F.coalesce(F.col("c2"), F.col("c")).alias("c")),
                eager=True,
            )
        if chosen is None:
            return e.limit(0).select("a", "b", "w")
        return chosen
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.constraintPropagation.enabled", prev_cp)


def _mst_driver(spark, edge_rows: list, schema: StructType) -> DataFrame:
    """Kruskal over a collected edge list (small-graph fast path).
    Distinct weights make the forest unique, so this matches the
    distributed Borůvka edge-for-edge."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    rows = sorted(edge_rows, key=lambda r: (r[2], r[0], r[1]))
    chosen = []
    for a, b, w in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
            chosen.append((a, b, w))
    return local_frame(spark, chosen, schema)
