"""Streaming ANN serving at synthetic scale (r9, batch 115).

Measures the claims SCALE.md makes for q_pipeline115: per-micro-batch
serving cost is linear in the QUERY batch (assignment = |batch| x
n_cells map-side cosines; candidates bounded by cell occupancy), flat
across batches (no state growth — the monitor is stateless), and
independent of how large the static index grows beyond the probed
cells' occupancy. N index vectors are built once into n_cells =
N/target_cell_size cells (the scale lever); M query vectors replay in
K micro-batches through the same probe -> stream-static join ->
per-batch top-k shape as the catalog monitor.

Usage: python scripts/stress_ann_serving.py [n_index] [n_queries] [k_batches] [mode] [target_cell]
       # defaults 200,000 index vectors, 100,000 queries, 4 batches,
       # mode=window (window | prune | both), target_cell=2000
       # mode=both replays twice against the SAME index — once per
       # top-k sink — to measure the crossover of a two-phase prune
       # against the monitor's window sink at production cell sizes
       # (none found on one node, so q_pipeline115 keeps the window);
       # per-batch candidate volume ~= (n_queries/k_batches) *
       # NPROBE * target_cell.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from prosnet_prefect_pipelines_spark.operators import similarity as S  # noqa: E402
from prosnet_prefect_pipelines_spark.plans.q_pipeline115 import (  # noqa: E402
    _NPROBE as NPROBE,
    ann_candidates,
)
from prosnet_prefect_pipelines_spark.session import get_spark  # noqa: E402
from stress_ann import vectors  # noqa: E402

DIM = 64
TARGET_CELL = 2_000  # n_cells = n_index / TARGET_CELL (SCALE.md lever)
K = 5


def main() -> None:
    n_index = int(float(sys.argv[1])) if len(sys.argv) > 1 else 200_000
    n_queries = int(float(sys.argv[2])) if len(sys.argv) > 2 else 100_000
    k_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    mode = sys.argv[4] if len(sys.argv) > 4 else "window"
    target_cell = int(float(sys.argv[5])) if len(sys.argv) > 5 else TARGET_CELL
    spark = get_spark("stress_ann_serving")
    n_cells = max(8, n_index // target_cell)

    t0 = time.time()
    idx_src = vectors(spark, n_index, DIM)
    carr = S.centroid_array(
        S.seed_centroids(idx_src, "id", "v", n_cells)
    ).localCheckpoint(eager=True)
    db = (
        S.assign_cells(
            S.vector_rows(idx_src, "id", "v", ("neighbor", "v", "nv")),
            carr,
        )
        .select("neighbor", "v", "nv", "cell")
        .localCheckpoint(eager=True)
    )
    n_db = db.count()
    t_build = time.time() - t0
    print(
        f"index: {n_index:,} vectors -> {n_cells:,} cells "
        f"({n_db:,} rows) built in {t_build:.1f}s (one-time, maintained "
        f"incrementally per ann_index_merge)",
        flush=True,
    )

    # stage the query stream as k_batches files (offset by n_index so
    # query ids never collide with index ids)
    stage = tempfile.mkdtemp(prefix="stress_ann_stage_")
    qsrc = vectors(spark, n_queries, DIM).select(
        (F.col("id") + n_index).alias("id"), "v"
    )
    qsrc.repartition(k_batches).write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        # one file per batch = one partition; with the index broadcast
        # nothing downstream reshuffles, so without this fan-out the
        # whole probe runs on a single core (measured 159 s/batch vs
        # ~6 s fanned at 20k queries x 40k index)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    cands = ann_candidates(S.vector_rows(src, "id", "v"), carr, db)
    est_cands = (n_queries / k_batches) * NPROBE * target_cell
    print(f"estimated candidate volume per batch: {est_cands:,.0f}", flush=True)

    def _rank(bdf, prune: bool):
        if prune:
            # two-phase sink: partition-local top-k before the exchange
            def _prune(batches):
                for pdf in batches:
                    pdf = pdf.sort_values(
                        ["id", "cos", "neighbor"], ascending=[True, False, True]
                    )
                    yield pdf.groupby("id", sort=False).head(K)

            bdf = bdf.mapInPandas(_prune, bdf.schema)
        return S.top_k(bdf, "id", "cos", "neighbor", K).select(
            "id", "neighbor", "cos"
        )

    def _replay(sink_mode: str) -> None:
        out_m = tempfile.mkdtemp(prefix=f"stress_ann_out_{sink_mode}_")
        batch_times: list[float] = []

        def _sink(bdf, bid):
            t = time.time()
            _rank(bdf, sink_mode == "prune").coalesce(8).write.mode(
                "append"
            ).parquet(out_m)
            batch_times.append(time.time() - t)
            print(f"[{sink_mode}] batch {bid}: {time.time() - t:.1f}s", flush=True)

        t1 = time.time()
        q = (
            cands.writeStream.foreachBatch(_sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(2400), "stress replay timed out"
        t_replay = time.time() - t1
        n_out = spark.read.parquet(out_m).count()
        per_q = n_queries / t_replay
        print(
            f"[{sink_mode}] served {n_queries:,} queries in {k_batches} batches: "
            f"{t_replay:.1f}s total ({per_q:,.0f} queries/s), per-batch "
            f"{[round(b, 1) for b in batch_times]} (flat = stateless), "
            f"{n_out:,} top-{K} rows",
            flush=True,
        )

    for sink_mode in (["window", "prune"] if mode == "both" else [mode]):
        _replay(sink_mode)


if __name__ == "__main__":
    main()
