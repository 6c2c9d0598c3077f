"""Streaming entity resolution: incremental sameAs connected components.

The streaming twin of ``resolve.resolve_same_as`` (r6 verdict stretch,
batch 114): the reference's enrichment loop re-runs the FULL sameAs
CONSTRUCT over the whole graph store on every scheduled pass
(pfp-prefect-pipelines enrich_via_sparql.py:146-166 — each run rebuilds
create_provided_entities_graph_v2.sparql's cluster resolution from
scratch); this monitor keeps cluster state incrementally, so an arriving
batch of sameAs assertions pays work proportional to the DELTA, never to
the accumulated graph.

Algorithm (per micro-batch, inside foreachBatch):

1. CONTRACT: map both endpoints of every new edge through the current
   (node -> comp) mapping (unmapped nodes map to themselves). Edges
   whose endpoints land in the same component carry no new information
   and drop out; the survivors form a component-level graph whose size
   is bounded by the batch, not the history.
2. MERGE: connected components over that contracted graph (the adaptive
   operator — small deltas take the driver union-find fast path, a
   backfill-sized batch takes the distributed large/small-star path).
3. RELABEL: components that merged get the new min label via one keyed
   join against the mapping; endpoints never seen before are appended.

Correctness under ANY micro-batch slicing: labels are always the minimum
member node id, and min-label merging is associative, commutative, and
idempotent — a confluent semilattice — so the fixpoint after replaying
the edges in any batch order equals the single-shot batch components.
That is what makes an EXACT DuckDB oracle possible under availableNow
replay (same claim, and same verification style, as the batch-113
near-dup monitor).

Scale notes (100 TB): the mapping is a (node, comp) table partitioned by
node — the only per-batch full-table operation is one keyed join against
the (usually tiny) merged-label table, which Spark broadcasts; edge
contraction touches only the batch. State here is held as an eagerly
localCheckpoint-ed DataFrame (replay-oracle context); a production
deployment would keep it in a keyed table store (Delta MERGE / RocksDB
state) with identical semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators.graph import connected_components
from prosnet_prefect_pipelines_spark.session import local_frame, unpersist_checkpoint

_MAPPING_SCHEMA = "node string, comp string"


class IncrementalResolver:
    """Accumulates connected components over an edge stream, one
    micro-batch at a time. ``mapping()`` is always equal to
    ``connected_components(all edges so far)``.

    Adaptive state placement, mirroring ``connected_components``'
    driver fast path: while the accumulated node count is at most
    ``driver_threshold`` the mapping lives as a driver union-find dict
    and each micro-batch costs ONE narrow collect job (no shuffle, no
    checkpoint — measured 6.3 s -> ~1 s for the 4-batch sf0.1 replay,
    where the DataFrame path paid ~5 scheduled jobs of tiny-shuffle
    overhead per batch). Past the threshold the state spills once into
    the distributed (node, comp) DataFrame and every later batch takes
    the contraction path below — the 100 TB shape. Both paths produce
    identical min-member labels (union by min == confluent min-label
    merge; equivalence-tested in tests/test_streaming_resolve.py)."""

    def __init__(self, spark, driver_threshold: int = 500_000):
        self._spark = spark
        self._mapping: DataFrame | None = None  # (node, comp)
        self._parent: dict[str, str] = {}  # driver union-find state
        self._driver = True
        self._driver_threshold = driver_threshold

    def _find(self, x: str) -> str:
        parent = self._parent
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    def _spill_to_distributed(self) -> None:
        """One-time promotion of the driver dict into the DataFrame
        state; later batches pay the distributed contraction path."""
        rows = [(n, self._find(n)) for n in self._parent]
        self._mapping = local_frame(
            self._spark, rows, _MAPPING_SCHEMA
        ).localCheckpoint()
        self._parent = {}
        self._driver = False

    def _update_driver(self, edges: DataFrame) -> None:
        parent = self._parent
        # one narrow job: no distinct (the union-find absorbs duplicate
        # and self-loop edges), no checkpoint, no shuffle. Endpoints are
        # cast to string IN SPARK before collecting: the distributed
        # path compares Spark-rendered strings, and Python's str() would
        # diverge for non-int/string endpoint types (True -> 'True' vs
        # 'true'; float/decimal/timestamp formatting differs), flipping
        # min-label elections between the two state placements.
        for a, b in edges.select(
            F.col("src").cast("string"), F.col("dst").cast("string")
        ).collect():
            if a is None or b is None:
                # mirror the distributed path, where a null endpoint
                # drops out of the mapping joins — a bad edge row must
                # not crash the streaming query inside foreachBatch
                continue
            if a == b:
                continue
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = self._find(a), self._find(b)
            if ra != rb:
                # union by min keeps representative = minimum member,
                # matching connected_components' labeling exactly
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        if len(parent) > self._driver_threshold:
            self._spill_to_distributed()

    def update(self, edges: DataFrame) -> None:
        """Fold one batch of (src, dst) edges into the component state."""
        if self._driver:
            self._update_driver(edges)
            return
        # a foreachBatch frame re-executes its micro-batch subplan on
        # every reference; e feeds the contraction AND both endpoint
        # branches, so checkpoint it (batch-sized). Lazy: the first
        # consumer (the contraction's edge count) materializes it and
        # every later reference reads the blocks — one fewer scheduled
        # job per batch than an eager barrier.
        e = (
            edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        m = self._mapping
        if m is None:
            self._mapping = connected_components(e).localCheckpoint()
            unpersist_checkpoint(e)
            return

        # 1. contract: endpoints -> current labels (self when unseen)
        ms = m.select(F.col("node").alias("src"), F.col("comp").alias("_cs"))
        md = m.select(F.col("node").alias("dst"), F.col("comp").alias("_cd"))
        mapped = (
            e.join(ms, on="src", how="left")
            .join(md, on="dst", how="left")
            .select(
                F.coalesce(F.col("_cs"), F.col("src")).alias("src"),
                F.coalesce(F.col("_cd"), F.col("dst")).alias("dst"),
            )
        )
        # lazy: materializes once at connected_components' first pass and
        # is reused by its second (count + collect on the fast path) —
        # one fewer scheduled job per batch than an eager barrier
        contracted = mapped.where(
            F.col("src") != F.col("dst")
        ).distinct().localCheckpoint(eager=False)

        # 2. merge the contracted component graph (batch-sized, adaptive)
        cc = connected_components(contracted)

        # 3a. relabel existing nodes whose component merged
        relabel = cc.select(F.col("node").alias("comp"), F.col("comp").alias("_new"))
        m2 = m.join(relabel, on="comp", how="left").select(
            "node", F.coalesce(F.col("_new"), F.col("comp")).alias("comp")
        )
        # 3b. append never-seen endpoints with their merged label (every
        # new node survives contraction: it cannot already share a
        # component with anything, so none of its edges collapse)
        ends = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        new_nodes = ends.join(m.select("node"), on="node", how="left_anti")
        adds = new_nodes.join(cc, on="node", how="left").select(
            "node", F.coalesce(F.col("comp"), F.col("node")).alias("comp")
        )
        self._mapping = m2.unionByName(adds).localCheckpoint()
        # the new mapping is EAGERLY checkpointed above, so the previous
        # mapping and this batch's contracted delta are dead — release
        # their blocks (state otherwise grows by one full mapping copy
        # per micro-batch for the session's lifetime). Callers holding a
        # pre-update ``mapping()`` frame must re-fetch after update().
        unpersist_checkpoint(m)
        unpersist_checkpoint(contracted)
        unpersist_checkpoint(e)

    def mapping(self) -> DataFrame:
        """(node, comp) for every node seen so far (min-member labels)."""
        if self._driver:
            rows = [(n, self._find(n)) for n in self._parent]
            return local_frame(self._spark, rows, _MAPPING_SCHEMA)
        if self._mapping is None:
            return local_frame(self._spark, [], _MAPPING_SCHEMA)
        return self._mapping

    def save(self, path: str) -> None:
        """Persist the component mapping as parquet — the restart story.

        The source offsets live in the streaming query's
        ``checkpointLocation``; the mapping is the OTHER half of the
        resolver's state and lives driver-side, so a process restart
        needs it externalized. save() after each run + :meth:`restore`
        on the next run gives exactly-once resumption: the restarted
        query replays only unconsumed source files (offset log) and
        folds them into the saved mapping. On a cluster this parquet is
        the keyed table store the module docstring promises (Delta
        MERGE-able; here plain parquet overwrite of a node-partitioned
        table)."""
        self.mapping().write.mode("overwrite").parquet(path)

    @classmethod
    def restore(
        cls, spark, path: str, driver_threshold: int = 500_000
    ) -> "IncrementalResolver":
        """Resume from a :meth:`save`-d mapping (fresh driver process).

        Small saved states resume onto the driver fast path (same
        adaptivity as a fresh resolver); larger ones resume directly as
        the distributed DataFrame state. ``driver_threshold`` must match
        the saving instance's configuration — a resolver deliberately
        built with threshold 0 (forced-distributed) restores distributed
        too, instead of being silently demoted onto the driver. The size
        probe is ``limit(threshold + 1).count()`` so a huge saved state
        never pays a full count just to learn it is over the line."""
        r = cls(spark, driver_threshold=driver_threshold)
        saved = spark.read.parquet(path)
        if saved.limit(driver_threshold + 1).count() <= driver_threshold:
            for node, comp in saved.collect():
                r._parent[node] = comp
                r._parent.setdefault(comp, comp)
            return r
        r._driver = False
        r._mapping = saved.localCheckpoint()
        return r
