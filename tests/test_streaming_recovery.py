"""Restart/recovery semantics of the streaming monitors (r8).

The production shape for both streaming twins is a PERIODIC run — the
reference re-runs its incremental flows on a schedule
(prosnet-prefect-pipelines prefect.yaml:121 `incremental_date: 2`), and
the streaming-native replacement is `trigger(availableNow=True)` against
a fixed ``checkpointLocation``: each run consumes exactly the source
files that arrived since the last run and resumes its state. These tests
pin the two halves of that contract:

- the near-dup monitor's witness state lives in the STATE STORE keyed by
  the checkpoint dir — a second run must emit pairs between NEW docs and
  docs seen in the previous run (state recovered), and must NOT re-emit
  pairs the previous run already produced (exactly-once over
  memberships);
- the streaming resolver's mapping lives DRIVER-side, so restart needs
  it externalized: save() after a run + restore() before the next must
  fold only the new edges in and still equal the batch connected
  components over everything.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.streaming import neardup as N
from prosnet_prefect_pipelines_spark.streaming.resolve import IncrementalResolver


def _publish_file(df, stage: str, name: str) -> None:
    """Write df as ONE parquet file named ``name`` inside stage (the
    file-source 'a new file arrived' event)."""
    tmp = stage + ".build"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    os.makedirs(stage, exist_ok=True)
    os.replace(part, os.path.join(stage, name))
    shutil.rmtree(tmp, ignore_errors=True)


def _docs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "id long, text string")


_BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _unique_text(i: int) -> str:
    return f"{_BASE} doc{i} tail{i * 7919}"


def test_monitor_witness_state_recovers_across_runs(spark, tmp_path):
    stage = str(tmp_path / "stage")
    ckpt = str(tmp_path / "ckpt")
    out_a = str(tmp_path / "out_a")
    out_b = str(tmp_path / "out_b")

    texts = {i: _unique_text(i) for i in range(400)}
    texts[150] = texts[10]   # within-run pair (run A)
    texts[250] = texts[10]   # CROSS-RUN pair: run B doc vs run A docs
    texts[350] = texts[250]  # within-run pair (run B), same flood text
    rows = [(i, texts[i]) for i in range(400)]

    _publish_file(_docs(spark, rows[0:100]), stage, "f0.parquet")
    _publish_file(_docs(spark, rows[100:200]), stage, "f1.parquet")

    def run(out_dir: str) -> None:
        src = (
            spark.readStream.schema("id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        bands = N.stream_band_table(src, "id", "text")
        q = (
            N.stream_state_candidates(bands)
            .writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run(out_a)
    pairs_a = {
        (r.a, r.b)
        for r in spark.read.schema("a long, b long").parquet(out_a).collect()
    }

    _publish_file(_docs(spark, rows[200:300]), stage, "f2.parquet")
    _publish_file(_docs(spark, rows[300:400]), stage, "f3.parquet")
    run(out_b)
    pairs_b = {
        (r.a, r.b)
        for r in spark.read.schema("a long, b long").parquet(out_b).collect()
    }

    # batch reference: same band expression over ALL docs, self-joined
    all_bands = N.stream_band_table(_docs(spark, rows), "id", "text")
    ref = {
        (r.a, r.b)
        for r in all_bands.alias("x")
        .join(all_bands.alias("y"), ["band", "bucket"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
        .collect()
    }
    assert (10, 150) in ref and (10, 250) in ref and (250, 350) in ref

    # run B saw run A's memberships: the cross-run pairs exist ONLY if
    # the state store was recovered from the checkpoint
    assert (10, 250) in pairs_b
    assert (150, 250) in pairs_b
    # exactly-once: nothing run A emitted is re-emitted by run B, and
    # together they cover the batch answer exactly
    assert pairs_a & pairs_b == set()
    assert pairs_a | pairs_b == ref
    shutil.rmtree(ckpt, ignore_errors=True)


def test_event_ttl_survives_restart(spark, tmp_path):
    """Event-time TTL eviction composes with checkpoint restarts: the
    watermark is committed in the offset log, so a SECOND availableNow
    run resumes at the first run's final watermark and the
    per-membership sweep evicts with the data's own clock — run 2 must
    pair its docs with the still-live phase-B memberships (state
    recovered) but NOT with phase-A ones (expired under the RESTORED
    watermark, day 31 vs a 1 h TTL on day-0 memberships)."""
    import time

    stage = str(tmp_path / "ttl_stage")
    ckpt = str(tmp_path / "ttl_ckpt")
    texts = [(i, _unique_text(i % 12)) for i in range(12)]  # 12 identical-per-slot

    def publish(off: int, day: str, name: str) -> None:
        df = spark.createDataFrame(
            [(i + off, t, f"{day} 00:00:00") for i, t in texts],
            "id long, text string, evt string",
        ).select("id", "text", F.col("evt").cast("timestamp").alias("evt"))
        _publish_file(df, stage, name)
        time.sleep(1.1)  # file-source batch order follows modification time

    def run(out_dir: str) -> None:
        src = (
            spark.readStream.schema("id long, text string, evt timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = (
            N.stream_state_candidates(
                N.stream_band_table(src, "id", "text", event_time_col="evt"),
                n_groups=8,
                event_ttl_ms=3_600_000,
            )
            .writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    publish(0, "2024-01-01", "a.parquet")        # phase A, day 0
    publish(100_000, "2024-01-31", "b.parquet")  # phase B, day 30
    out1 = str(tmp_path / "out1")
    run(out1)
    p1 = {(r.a, r.b) for r in spark.read.schema("a long, b long").parquet(out1).collect()}
    assert any(a < 100_000 and b >= 100_000 for a, b in p1)  # A-B (wm lag)

    publish(200_000, "2024-03-01", "c.parquet")  # phase C, day 60
    out2 = str(tmp_path / "out2")
    run(out2)
    p2 = {(r.a, r.b) for r in spark.read.schema("a long, b long").parquet(out2).collect()}
    n_bc = sum(1 for a, b in p2 if 100_000 <= a < 200_000 and b >= 200_000)
    n_ac = sum(1 for a, b in p2 if a < 100_000 and b >= 200_000)
    assert n_bc > 0, "restored state lost live phase-B memberships"
    assert n_ac == 0, (
        "restart reset the watermark: phase-A memberships should be "
        "expired under the restored day-31 watermark"
    )
    shutil.rmtree(ckpt, ignore_errors=True)


def test_resolver_save_restore_across_processes(spark, tmp_path):
    stage = str(tmp_path / "estage")
    ckpt = str(tmp_path / "eckpt")
    saved = str(tmp_path / "mapping.parquet")

    def edges_df(pairs):
        return spark.createDataFrame(pairs, "src string, dst string")

    _publish_file(edges_df([("a", "b")]), stage, "e0.parquet")
    _publish_file(edges_df([("c", "d")]), stage, "e1.parquet")

    def run(resolver: IncrementalResolver) -> None:
        src = (
            spark.readStream.schema("src string, dst string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = (
            src.writeStream.foreachBatch(lambda b, _i: resolver.update(b))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    r1 = IncrementalResolver(spark)
    run(r1)
    m1 = {(r.node, r.comp) for r in r1.mapping().collect()}
    assert m1 == {("a", "a"), ("b", "a"), ("c", "c"), ("d", "c")}
    r1.save(saved)

    # 'process restart': a FRESH resolver restored from the saved
    # mapping; new edges merge the two components and add a new one
    _publish_file(edges_df([("b", "c"), ("e", "f")]), stage, "e2.parquet")
    r2 = IncrementalResolver.restore(spark, saved)
    run(r2)
    m2 = {(r.node, r.comp) for r in r2.mapping().collect()}
    assert m2 == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("e", "e"), ("f", "e"),
    }
    shutil.rmtree(ckpt, ignore_errors=True)


def test_resolver_restore_equals_single_shot(spark, tmp_path):
    """restore + delta == one resolver over everything == batch CC."""
    from prosnet_prefect_pipelines_spark.operators.graph import (
        connected_components,
    )

    chain = [(f"n{i}", f"n{i+1}") for i in range(0, 20, 2)]
    delta = [(f"n{i}", f"n{i+1}") for i in range(1, 19, 2)]  # stitches all

    r1 = IncrementalResolver(spark)
    r1.update(spark.createDataFrame(chain, "src string, dst string"))
    saved = str(tmp_path / "m.parquet")
    r1.save(saved)

    r2 = IncrementalResolver.restore(spark, saved)
    r2.update(spark.createDataFrame(delta, "src string, dst string"))
    got = {(r.node, r.comp) for r in r2.mapping().collect()}

    ref = {
        (r.node, r.comp)
        for r in connected_components(
            spark.createDataFrame(chain + delta, "src string, dst string")
        ).collect()
    }
    assert got == ref
    assert {c for _, c in got} == {"n0"}  # one chain, min label n0


def test_ann_monitor_resumes_exactly_once(spark, tmp_path):
    """The stateless ANN serving monitor's restart story is the source
    offset log alone: periodic availableNow runs against one fixed
    checkpointLocation must (a) not re-emit queries consumed by an
    earlier run and (b) serve newly-arrived queries against the same
    index, the union over runs equalling one batch pass over all
    queries."""
    from prosnet_prefect_pipelines_spark.operators import similarity as S
    from prosnet_prefect_pipelines_spark.plans.q_pipeline115 import (
        ann_candidates,
        topk_sink,
    )

    stage = str(tmp_path / "stage")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def _vec(i: int):
        return [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]

    def _emb(ids):
        return spark.createDataFrame(
            [(i, _vec(i)) for i in ids], "vec_id long, embedding array<float>"
        )

    index_src = _emb(range(0, 40, 2))  # even ids: the static index
    db = (
        S.ivf_assign(index_src, "vec_id", "embedding", n_cells=4, rank_limit=1)
        .select(F.col("id").alias("neighbor"), "v", "nv", "cell")
        .localCheckpoint(eager=True)
    )
    carr = S.centroid_array(S.seed_centroids(index_src, "vec_id", "embedding", 4))

    def _cands(df):
        return ann_candidates(S.vector_rows(df, "vec_id", "embedding"), carr, db)

    def _run():
        schema = spark.read.parquet(stage).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        sink = topk_sink(out, "id", "cos", "neighbor", 3, n_out=1)
        q = (_cands(src).writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    _publish_file(_emb(range(1, 20, 2)), stage, "day0.parquet")
    _run()
    first = {(r.id, r.neighbor, r.cos)
             for r in spark.read.parquet(out).collect()}
    assert first and all(i % 2 == 1 and i < 20 for i, _, _ in first)

    _run()  # nothing new arrived: must be a no-op (no re-emission)
    assert {(r.id, r.neighbor, r.cos)
            for r in spark.read.parquet(out).collect()} == first

    _publish_file(_emb(range(21, 40, 2)), stage, "day1.parquet")
    _run()
    both = {(r.id, r.neighbor, r.cos)
            for r in spark.read.parquet(out).collect()}
    new = both - first
    assert new and all(i >= 21 for i, _, _ in new)
    # union over runs == one batch pass over ALL queries vs the index
    batch = S.top_k(_cands(_emb(range(1, 40, 2))), "id", "cos", "neighbor", 3)
    want = {(r.id, r.neighbor, r.cos) for r in batch.collect()}
    assert both == want
