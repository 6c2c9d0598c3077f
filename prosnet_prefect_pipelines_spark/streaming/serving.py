"""Steady-state serving probes for the stateful streaming monitors.

The bench's availableNow replay protocol rebuilds every monitor's state
from scratch per run — the right shape for an exact oracle, but it makes
the headline number a REBUILD cost, not the serving cost a deployed
monitor pays per micro-batch (r7 verdict finding #3: 8.9 s cold bench vs
~2 s steady-state measured in SCALE.md). These probes measure the number
that matters in production: a checkpoint-RESUMED run consuming one new
micro-batch against recovered state, exactly the restart contract
``tests/test_streaming_recovery.py`` proves correct.

Protocol per monitor (one probe = one fresh checkpoint dir):

1. REBUILD: availableNow replay over the monitor's standard staged input
   (4 micro-batches) with a persistent ``checkpointLocation`` — timed as
   ``rebuild_s`` (this is what the headline bench row also measures);
2. publish ONE new micro-batch-sized increment file (new ids — realistic
   arrivals, sized like one replay file);
3. SERVING: a second availableNow run on the SAME checkpoint — the
   offset log skips everything consumed in (1), state is recovered, and
   the run pays exactly one micro-batch of steady-state work — timed as
   ``serving_s``.

The probes reuse the monitors' own operators and (session-memoized)
static indexes, so the serving number exercises the same plan the
catalog query runs — only the measurement protocol differs.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.streaming.tuning import run_available_now


def _publish_file(df, stage: str, name: str) -> None:
    """Write df as ONE parquet file named ``name`` inside stage (the
    file-source 'a new file arrived' event)."""
    tmp = stage + ".build"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    os.makedirs(stage, exist_ok=True)
    os.replace(part, os.path.join(stage, name))
    shutil.rmtree(tmp, ignore_errors=True)


def _serving_protocol(spark, kind, rows, key, slices, query, count_out, timeout_s):
    """Run the protocol above for one monitor in a fresh work directory,
    removed afterwards even when a run raises.

    ``rows`` is the monitor's input; its four replay files are the rows
    matching each of ``slices``, and the increment is the first file's
    rows with ``key`` shifted to new ids. ``query(src, out_dir)`` builds
    ``(streaming frame, foreachBatch sink)`` over the file stream ``src``;
    ``count_out(out_dir)`` counts the probe's output. Returns
    ``(rebuild_s, serving_s, increment_rows, output_rows)``."""
    work = tempfile.mkdtemp(prefix=f"{kind}_serving_")
    stage, ckpt, out_dir = (os.path.join(work, d) for d in ("stage", "ckpt", "out"))
    try:
        for i, cond in enumerate(slices):
            _publish_file(rows.filter(cond), stage, f"f{i}.parquet")

        def _run() -> float:
            src = (
                spark.readStream.schema(rows.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(stage)
            )
            df, sink = query(src, out_dir)
            t0 = time.time()
            run_available_now(
                df, sink=sink, name=f"{kind}_serving_probe", checkpoint=ckpt,
                timeout_s=timeout_s,
            )
            return round(time.time() - t0, 3)

        rebuild_s = _run()
        # one micro-batch of NEW rows (fresh ids, one file's worth)
        increment = rows.filter(slices[0]).withColumn(key, F.col(key) + 10_000_000)
        n_inc = increment.count()
        _publish_file(increment, stage, "f4.parquet")
        serving_s = _run()
        return rebuild_s, serving_s, n_inc, count_out(out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _odd_slices(key: str) -> list:
    """The four replay files of an odd-id input: ``key % 8`` = 1, 3, 5, 7."""
    return [F.col(key) % 8 == r for r in (1, 3, 5, 7)]


def neardup_serving_probe(spark, sf_dir: str, timeout_s: int = 300) -> dict:
    """{'rebuild_s', 'serving_s', 'increment_docs', 'candidate_rows'} for
    the near-dup monitor: fingerprint -> witness state -> static-index
    probe per micro-batch, resumed from checkpoint for the increment."""
    from prosnet_prefect_pipelines_spark.plans.q_dedup import corpus
    from prosnet_prefect_pipelines_spark.plans.q_pipeline113 import (
        _neardup_sink,
        _static_index,
    )
    from prosnet_prefect_pipelines_spark.streaming import neardup as N

    index, sizes = _static_index(spark, sf_dir)
    odd = corpus(spark, sf_dir).filter(F.col("id") % 2 == 1).select("id", "text")

    def query(src, out_dir):
        bands = N.stream_band_table(
            src, "id", "text", fanout=spark.sparkContext.defaultParallelism
        )
        return (
            N.stream_state_candidates(bands, emit_bands=True),
            _neardup_sink(index, sizes, out_dir),
        )

    rebuild_s, serving_s, n_inc, n_cands = _serving_protocol(
        spark, "nd", odd, "id", _odd_slices("id"), query,
        lambda out: spark.read.schema("a long, b long").parquet(out).count(),
        timeout_s,
    )
    return {
        "rebuild_s": rebuild_s,
        "serving_s": serving_s,
        "increment_docs": n_inc,
        "candidate_rows": n_cands,
    }


def ann_serving_probe(spark, sf_dir: str, timeout_s: int = 300) -> dict:
    """{'rebuild_s', 'serving_s', 'increment_queries', 'topk_rows'} for
    the stateless ANN monitor: the restart story is the offset log
    alone, so 'rebuild' here is just the first full replay and
    'serving' is a resumed run paying exactly one new micro-batch of
    probe + cell join + top-k."""
    from prosnet_prefect_pipelines_spark.plans.q_pipeline115 import (
        _K,
        _ivf_index,
        _vectors,
        ann_candidates,
        topk_sink,
    )

    db, carr, _n_db = _ivf_index(spark, sf_dir)
    odd = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
    )

    def query(src, out_dir):
        width = spark.sparkContext.defaultParallelism
        return (
            ann_candidates(_vectors(src.repartition(width)), carr, db),
            topk_sink(out_dir, "id", "cos", "neighbor", _K, n_out=4),
        )

    rebuild_s, serving_s, n_inc, n_out = _serving_protocol(
        spark, "ann", odd, "vec_id", _odd_slices("vec_id"), query,
        lambda out: spark.read.schema("id long, neighbor long, cos double")
        .parquet(out).count(),
        timeout_s,
    )
    # rebalance trigger (r9 verdict item 6): the serving probe runs the
    # |cells|-sized occupancy x traffic decision frame
    # (q_pipeline115.ann_rebalance_plan — the oracle-paired twin) and
    # reports hot/waste cell counts next to the latency, so the
    # monitor's telemetry carries the signal that schedules a centroid
    # retrain instead of leaving the report a dashboard orphan.
    t0 = time.time()
    from prosnet_prefect_pipelines_spark.plans.q_pipeline115 import (
        q_ann_rebalance_plan,
    )

    decisions = {
        r["decision"]: r["n"]
        for r in q_ann_rebalance_plan(spark, sf_dir)
        .groupBy("decision")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return {
        "rebuild_s": rebuild_s,
        "serving_s": serving_s,
        "increment_queries": n_inc,
        "topk_rows": n_out,
        "rebalance_probe_s": round(time.time() - t0, 3),
        "cells_split": int(decisions.get("split", 0)),
        "cells_merge": int(decisions.get("merge", 0)),
        "cells_keep": int(decisions.get("keep", 0)),
        "rebalance_triggered": bool(decisions.get("split", 0)),
    }


def ivfpq_serving_probe(spark, sf_dir: str, timeout_s: int = 300) -> dict:
    """{'rebuild_s', 'serving_s', 'increment_queries', 'topk_rows'} for
    the stateless IVF-PQ monitor (batch 118): same offset-log-only
    restart story as the raw-vector ANN probe, but candidates are
    n_sub-byte CODES scored by integer-exact ADC — the steady-state
    number a quantized vector server pays per arriving batch."""
    from prosnet_prefect_pipelines_spark.plans.q_pipeline115 import (
        _vectors,
        topk_sink,
    )
    from prosnet_prefect_pipelines_spark.plans.q_pipeline118 import (
        _K,
        _pq_serving_index,
        ivfpq_candidates,
    )

    xcodes, carr, cbarr, _n_index = _pq_serving_index(spark, sf_dir)
    odd = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
    )

    def query(src, out_dir):
        width = spark.sparkContext.defaultParallelism
        return (
            ivfpq_candidates(
                _vectors(src.repartition(width), "qid"), carr, cbarr, xcodes
            ),
            topk_sink(out_dir, "qid", "adc_cos", "xid", _K, n_out=4),
        )

    rebuild_s, serving_s, n_inc, n_out = _serving_protocol(
        spark, "ivfpq", odd, "vec_id", _odd_slices("vec_id"), query,
        lambda out: spark.read.schema("qid long, xid long, adc_cos double")
        .parquet(out).count(),
        timeout_s,
    )
    return {
        "rebuild_s": rebuild_s,
        "serving_s": serving_s,
        "increment_queries": n_inc,
        "topk_rows": n_out,
    }


def preference_serving_probe(spark, sf_dir: str, timeout_s: int = 300) -> dict:
    """{'rebuild_s', 'serving_s', 'increment_docs', 'group_rows'} for
    the batch-117 preference monitor: per-group roster state recovered
    from the checkpoint, one new micro-batch of candidates folded in."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from prosnet_prefect_pipelines_spark.operators.textstats import tokens
    from prosnet_prefect_pipelines_spark.plans.q_pipeline117 import (
        _N_SHARDS,
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        _group_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )

    def query(src, out_dir):
        scored = src.select(
            "lang",
            "source",
            "doc_id",
            (
                F.lit(1000) * F.size(F.array_distinct(tokens(F.col("text"))))
                - F.col("n_chars")
            ).cast("long").alias("reward"),
            "n_chars",
            F.pmod(F.xxhash64("lang", "source"), F.lit(_N_SHARDS)).alias(
                "_skey"
            ),
        )
        stats = scored.groupBy("_skey").applyInPandasWithState(
            _group_stats,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return stats, lambda b, _i: b.write.mode("append").parquet(out_dir)

    rebuild_s, serving_s, n_inc, n_groups = _serving_protocol(
        spark, "pref", docs, "doc_id",
        [F.col("doc_id") % 4 == r for r in range(4)], query,
        lambda out: spark.read.schema(_OUT_SCHEMA).parquet(out)
        .select("lang", "source").distinct().count(),
        timeout_s,
    )
    return {
        "rebuild_s": rebuild_s,
        "serving_s": serving_s,
        "increment_docs": n_inc,
        "group_rows": n_groups,
    }


def resolver_serving_probe(spark, sf_dir: str, timeout_s: int = 300) -> dict:
    """{'rebuild_s', 'serving_s', 'increment_edges', 'mapping_rows'} for
    the streaming entity resolver: per-batch contraction into recovered
    component state, resumed from checkpoint for the increment."""
    from prosnet_prefect_pipelines_spark.streaming.resolve import (
        IncrementalResolver,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_acctbal"
    )
    resolver = IncrementalResolver(spark)

    def query(src, _out_dir):
        edges = src.where(
            (F.col("c_custkey") % 10 != 1) & (F.col("c_acctbal") >= 0)
        ).select(
            F.concat(F.lit("urn:cust/"), F.col("c_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(
                F.lit("urn:cust/"), (F.col("c_custkey") - 1).cast("string")
            ).alias("dst"),
        )
        return edges, lambda b, _i: resolver.update(b)

    rebuild_s, serving_s, n_inc, n_map = _serving_protocol(
        spark, "ser", cust, "c_custkey",
        [F.col("c_custkey") % 4 == r for r in range(4)], query,
        lambda _out: resolver.mapping().count(),
        timeout_s,
    )
    return {
        "rebuild_s": rebuild_s,
        "serving_s": serving_s,
        "increment_edges": n_inc,
        "mapping_rows": n_map,
    }
