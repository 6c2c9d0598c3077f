"""Streaming near-dup monitor at synthetic scale (r6, batch 113).

1M docs (500k even = accepted static corpus, 500k odd = stream replay),
unique 12-word texts except a 2,000-doc exact-duplicate FLOOD (1,000 per
side) — the adversarial input for LSH candidate generation. Measures:

1. per-row fingerprint throughput (the map-side minhash band expression
   over 500k stream docs — the cost every ingested doc pays);
2. salted static index build (bucket_cap=64) + the flood's n_sub;
3. stream-static probe: wall time + candidate count. Recall is exact,
   so the flood's 1,000 x 1,000 cross pairs ARE the correct answer —
   the salt bounds per-task join width, not the candidate count (the
   contract: run exact_dedup upstream if floods should not be matched);
4. within-stream state witness (the stream-stream self-join) across 4
   forced micro-batches (maxFilesPerTrigger=1): wall time + emitted pair
   count + the number of distinct (band, bucket) keys it is keyed by.

Usage: python scripts/stress_neardup.py [n_docs]   # default 1,000,000
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from prosnet_prefect_pipelines_spark.session import get_spark  # noqa: E402
from prosnet_prefect_pipelines_spark.streaming import neardup as N  # noqa: E402

# Flood = ids divisible by an ODD modulus (multiples of an odd number
# alternate parity, so the flood splits evenly across the static and
# stream sides), bounded to the first quarter of ids to size the flood
# at n/500 docs total.
FLOOD_MOD = 125
CAP = 64


def synth_docs(spark, n: int):
    """Unique 12-word texts from keyed hashes; every FLOOD_MOD-th doc is
    the identical flood text."""
    words = F.array(
        *[
            F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(10**12)).cast(
                    "string"
                ),
            )
            for j in range(12)
        ]
    )
    return spark.range(n).select(
        "id",
        F.when(
            (F.col("id") % FLOOD_MOD == 0) & (F.col("id") < n // 4),
            F.lit(" ".join(f"flood{i}" for i in range(12))),
        )
        .otherwise(F.concat_ws(" ", words))
        .alias("text"),
    )


def main() -> None:
    n = int(float(sys.argv[1])) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark("stress_neardup")
    docs = synth_docs(spark, n)
    static = docs.filter(F.col("id") % 2 == 0)
    stream_batch = docs.filter(F.col("id") % 2 == 1)

    # 1. fingerprint throughput (batch twin of the streaming projection)
    t0 = time.time()
    n_bands = (
        stream_batch.select(
            "id",
            F.posexplode(
                __import__(
                    "prosnet_prefect_pipelines_spark.operators.dedup",
                    fromlist=["minhash_band_buckets"],
                ).minhash_band_buckets(F.col("text"))
            ).alias("band", "bucket"),
        ).count()
    )
    t_fp = time.time() - t0
    print(
        f"fingerprint: {n // 2:,} docs -> {n_bands:,} band rows in {t_fp:.1f}s "
        f"({n // 2 / t_fp:,.0f} docs/s on 32 local threads)"
    )

    # 2. salted static index
    t0 = time.time()
    index, sizes = N.build_static_index(static, "id", "text", bucket_cap=CAP)
    index = index.localCheckpoint()
    sizes = sizes.localCheckpoint()
    flood_nsub = sizes.agg(F.max("n_sub")).collect()[0][0]
    t_ix = time.time() - t0
    print(
        f"static index: {index.count():,} memberships, flood n_sub={flood_nsub} "
        f"(cap {CAP}) in {t_ix:.1f}s"
    )

    # 3+4. streaming: stage stream docs as 4 files -> 4 micro-batches
    stage = f"/tmp/stress_neardup_{uuid.uuid4().hex[:8]}"
    stream_batch.repartition(4).write.parquet(stage)
    schema = spark.read.parquet(stage).schema
    try:
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        bands = N.stream_band_table(src, "id", "text")

        t0 = time.time()
        q1 = (
            N.static_probe_candidates(bands, index, sizes)
            .writeStream.format("memory")
            .queryName("snp_probe")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q1.awaitTermination(1200)
        n_probe = spark.table("snp_probe").count()
        t_probe = time.time() - t0
        print(
            f"static probe: {n_probe:,} candidate pairs in {t_probe:.1f}s "
            f"(flood cross = {(n // (8 * FLOOD_MOD)) ** 2:,} is the exact answer; "
            f"salt bounds task width, not candidates)"
        )

        t0 = time.time()
        q2 = (
            N.stream_state_candidates(bands)
            .writeStream.format("memory")
            .queryName("snp_state")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(1800)
        n_state = spark.table("snp_state").count()
        t_state = time.time() - t0
        n_buckets = (
            stream_batch.select(
                F.posexplode(
                    __import__(
                        "prosnet_prefect_pipelines_spark.operators.dedup",
                        fromlist=["minhash_band_buckets"],
                    ).minhash_band_buckets(F.col("text"))
                ).alias("band", "bucket")
            )
            .select("band", "bucket")
            .distinct()
            .count()
        )
        print(
            f"state witness (stream-stream self-join): {n_state:,} pair "
            f"emissions over 4 micro-batches in {t_state:.1f}s over "
            f"{n_buckets:,} distinct (band, bucket) keys"
        )

        # 5. FUSED monitor (r7): one query pays fingerprinting once —
        # witness with emit_bands=True, static probe run per micro-batch
        # inside foreachBatch on the passthrough memberships
        out_dir = f"/tmp/stress_neardup_fused_{uuid.uuid4().hex[:8]}"

        def _sink(batch_df, _bid):
            pairs = batch_df.filter(F.col("bkey").isNull()).select("a", "b")
            probes = batch_df.filter(F.col("bkey").isNotNull()).select(
                F.col("a").alias("id"),
                F.split(F.col("bkey"), r"\|", 2).getItem(0).cast("int").alias("band"),
                F.split(F.col("bkey"), r"\|", 2).getItem(1).alias("bucket"),
            )
            pairs.unionByName(
                N.static_probe_candidates(probes, index, sizes)
            ).write.mode("append").parquet(out_dir)

        t0 = time.time()
        q3 = (
            N.stream_state_candidates(bands, emit_bands=True)
            .writeStream.foreachBatch(_sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q3.awaitTermination(1800)
        n_fused = spark.read.schema("a long, b long").parquet(out_dir).count()
        t_fused = time.time() - t0
        shutil.rmtree(out_dir, ignore_errors=True)
        print(
            f"FUSED monitor (witness + foreachBatch probe, fingerprint once): "
            f"{n_fused:,} candidate emissions in {t_fused:.1f}s "
            f"(vs {t_probe + t_state:.1f}s for the two-query r6 shape)"
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


if __name__ == "__main__":
    main()
