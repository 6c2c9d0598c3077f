"""Streaming near-duplicate monitor: incremental MinHash LSH.

The production shape for continuous corpus ingest (the streaming twin of
``operators/dedup.minhash_lsh_pairs``): every arriving document is
fingerprinted PER ROW — ``minhash_band_buckets`` is a pure expression,
no stateful aggregation — and then near-dup-checked two ways inside one
Structured Streaming pipeline:

1. **Against the static accepted corpus** via a stream-static join on
   (band, bucket) against a pre-built (optionally bucket_cap-salted)
   LSH index. Salting splits duplicate-flood buckets into bounded
   sub-buckets; the probe replicates across ALL sub-buckets of its
   bucket (an explode over the index's n_sub table), so recall stays
   EXACT while a hot bucket becomes n_sub parallel join tasks instead
   of one straggler (``operators/dedup.salted_band_index``).
2. **Against earlier stream documents** (the within-stream witness,
   ``stream_state_candidates``). The exact mode is a native
   stream-stream self inner join on (band, bucket) with ``a < b``: the
   symmetric hash join keeps one state row per membership per side and
   emits each colliding pair exactly once — new x old, old x new and
   new x new, never old x old — so the union over any micro-batch
   slicing, and across checkpoint restarts, equals the batch self-join
   answer. That is what makes an exact DuckDB oracle possible under
   availableNow replay (the Dataflow-model claim, verified by hash in
   plans/q_pipeline113.py). It runs entirely in the JVM: no Python
   worker starts.

   The two TTL modes (``ttl_ms``, ``event_ttl_ms``) keep an
   ``applyInPandasWithState`` emitter keyed by a hash SUPERGROUP of
   (band, bucket). Their eviction is per MEMBERSHIP: a membership
   expires on its own clock while its bucket keeps receiving data. A
   join can only bound a pair by its two event times (a time-range
   condition), which drops pairs the sweep emits — under the one-batch
   watermark lag a day-30 document still pairs with a day-0 membership
   that a 1 h window excludes
   (``test_event_ttl_eviction_under_available_now``) — and
   processing-time eviction has no join form at all.

Both paths emit CANDIDATES only; exact-Jaccard verification runs
downstream (``operators/dedup.jaccard_verify``) against the corpus
shingle store — in live operation inside foreachBatch, in the bounded
replay as a batch pass over the collected candidates. Witness state is
one row per (id, band, bucket) membership: it scales with the stream's
memberships, and a duplicate FLOOD in one bucket is the same hazard as
the batch self-join — run exact dedup upstream (dedup_funnel_report
order) or cap the bucket, exactly as documented on minhash_lsh_pairs.

Reference parity: the reference's incremental runs re-fetch and re-push
the FULL entity window every time (prosnet-prefect-pipelines
wikidata_index.py:155-180 create_sparql_queries' {{INCREMENTAL_DATE}}
template rewrite, scheduled with incremental_date: 2 in prefect.yaml:121);
this monitor is the streaming-native upgrade the 100 TB training-data
pipeline needs — only new documents pay fingerprinting, and dedup against
the accepted corpus is an index probe, not a re-scan.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from prosnet_prefect_pipelines_spark.operators.dedup import (
    minhash_band_buckets_from_sids,
    salted_band_index,
    shingle_sids,
)

PAIR_SCHEMA = "a long, b long"
STATE_SCHEMA = "bkeys array<string>, ids array<long>"
# event_ttl_ms mode: each membership carries its own event time (epoch
# ms) so EXPIRED memberships can be swept inside DATA invocations — the
# group-level EventTimeTimeout only fires for shards that receive no
# data at all, and with hash supergroups a shard is almost never fully
# idle (measured: A-C pairs survived a 30-day watermark advance because
# identical texts kept landing in A's shards). Per-membership sweep is
# the real eviction; the timeout is just the idle-shard reaper.
STATE_TS_SCHEMA = "bkeys array<string>, ids array<long>, tss array<long>"


def stream_band_table(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    event_time_col: str | None = None,
    fanout: int | None = None,
) -> DataFrame:
    """streaming (id, text) -> streaming (id, band, bucket): one row per
    LSH band, computed entirely map-side (legal in append mode).

    Two projections, not one: the shingle-id array materializes behind
    its own alias so the 12 min-hash expressions share ONE md5 pass
    (see minhash_band_buckets_from_sids on why the inline form pays
    12x under the codegen-off session policy).

    event_time_col: carried through as ``ts`` when the witness state
    should be event-time-evicted (stream_state_candidates
    event_ttl_ms).

    fanout: repartition the incoming documents across this many
    partitions BEFORE fingerprinting. A micro-batch that arrives as a
    handful of single-row-group files runs the whole MinHash projection
    on that handful of tasks (measured 1.57 s on 3 partitions vs
    0.34 s on 32 at sf0.1); the raw-row shuffle is linear in the
    micro-batch, not the corpus, so it is cheap insurance whenever the
    source's file layout is coarser than the executor pool. Leave None
    when the source already lands with enough partitions."""
    if fanout:
        stream_df = stream_df.repartition(fanout)
    extra = [F.col(event_time_col).alias("ts")] if event_time_col else []
    return stream_df.select(
        F.col(id_col).alias("id"),
        shingle_sids(F.col(text_col), k).alias("_sids"),
        *extra,
    ).select(
        "id",
        F.posexplode(
            minhash_band_buckets_from_sids(F.col("_sids"), num_hashes, bands)
        ).alias("band", "bucket"),
        *([F.col("ts")] if event_time_col else []),
    )


def static_probe_candidates(
    stream_bands: DataFrame, static_index: DataFrame, sizes: DataFrame
) -> DataFrame:
    """Stream-static LSH probe -> distinct candidate pairs (a=stream id,
    b=static id).

    ``static_index``/``sizes`` come from ``salted_band_index``: the probe
    inner-joins the (small, static) n_sub table — buckets absent from
    the index produce no probes at all — then explodes across every
    sub-bucket so salted floods are matched exactly, and finally joins
    the salted index on (band, salted bucket)."""
    probes = (
        stream_bands.join(sizes, on=["band", "bucket"])
        .select(
            "id",
            "band",
            "bucket",
            F.explode(F.sequence(F.lit(0), F.col("n_sub") - 1)).alias("_salt"),
        )
        .select(
            F.col("id").alias("a"),
            "band",
            F.concat(
                F.col("bucket"), F.lit(":"), F.col("_salt").cast("string")
            ).alias("bucket"),
        )
    )
    return (
        probes.join(
            static_index.select(F.col("id").alias("b"), "band", "bucket"),
            on=["band", "bucket"],
        )
        .select("a", "b")
        .dropDuplicates()
    )


def _empty_pairs() -> pd.DataFrame:
    return pd.DataFrame({"a": pd.Series([], dtype="int64"),
                         "b": pd.Series([], dtype="int64")})


def _bucket_pairs_impl(
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    ttl_ms: int | None,
    event_ttl_ms: int | None = None,
) -> Iterator[pd.DataFrame]:
    """Per-SUPERGROUP stateful pair emitter of the TTL modes. The group
    key is a hash shard of (band, bucket), NOT the bucket itself: most
    LSH buckets are singletons, and one pandas/Arrow round-trip per
    singleton bucket is the dominant cost at scale (millions of ~1-row
    groups). A supergroup amortizes that overhead across
    ~|buckets|/n_groups buckets while keeping the SAME per-bucket
    semantics — pairs are only emitted between rows sharing the exact
    (band, bucket), via a vectorized merge on the bucket key inside the
    group.

    candidates = (new x state) + (new x new), both per bucket key,
    normalized a < b — order- and batching-insensitive, so while nothing
    is evicted the union over any micro-batch slicing equals the batch
    self-join. State = parallel (bkey, id) arrays; grows by |new
    memberships| per batch (ids only, never text or signatures).

    ttl_ms: with ProcessingTimeTimeout the runtime invokes this function
    with an empty batch and hasTimedOut=True once the group has seen no
    data for ttl_ms; the witness state is dropped so continuous ingest
    holds only the trailing-window memberships (pairs across an eviction
    boundary are no longer witnessed — the deliberate window/recall
    trade, see SCALE.md). event_ttl_ms: the EVENT-time twin — expired
    memberships are swept before pairing, and the timeout is re-armed to
    (max live event time + event_ttl_ms) and fires when the WATERMARK
    passes it, so eviction follows the data's own clock and, unlike
    processing-time timeouts, composes with trigger(availableNow)
    replays (the watermark stops advancing when the data ends, so the
    query terminates)."""
    if state.hasTimedOut:
        state.remove()
        yield _empty_pairs()
        return
    event = event_ttl_ms is not None
    if state.exists:
        vals = state.get
        seen = pd.DataFrame({"bkey": pd.Series(list(vals[0]), dtype=object),
                             "id": pd.Series(list(vals[1]), dtype="int64")})
        if event:
            seen["ts"] = pd.Series(
                list(vals[2]) if len(vals) > 2 else [], dtype="int64"
            )
    else:
        seen = pd.DataFrame({"bkey": pd.Series([], dtype=object),
                             "id": pd.Series([], dtype="int64")})
        if event:
            seen["ts"] = pd.Series([], dtype="int64")
    if event:
        # sweep EXPIRED memberships before pairing: the group timeout
        # only fires for fully-idle shards, so in-shard expiry is the
        # real eviction (see STATE_TS_SCHEMA note). Watermark is 0 on
        # the first batch -> nothing expires.
        cutoff = state.getCurrentWatermarkMs() - event_ttl_ms
        if len(seen):
            seen = seen[seen["ts"] >= cutoff].reset_index(drop=True)

    cols = ["bkey", "id"] + (["ts"] if event else [])
    chunks = []
    for pdf in pdfs:
        if not len(pdf):
            continue
        c = pdf[cols].copy()
        if event:
            c["ts"] = (c["ts"].astype("datetime64[ns]").astype("int64")
                       // 1_000_000)
        chunks.append(c)
    if chunks:
        new = pd.concat(chunks, ignore_index=True)
        if event:
            # one ts per membership: the earliest in this batch (a
            # re-arrival of a LIVE membership is dropped below and does
            # not extend its window; a re-arrival after expiry re-enters
            # as a fresh membership)
            new = (new.sort_values(["bkey", "id", "ts"], kind="mergesort")
                   .drop_duplicates(["bkey", "id"]))
        else:
            new = new.drop_duplicates()
    else:
        new = seen.iloc[0:0]
    if len(seen):
        new = new.merge(seen[["bkey", "id"]], on=["bkey", "id"],
                        how="left", indicator=True)
        new = new[new["_merge"] == "left_only"][cols]
    new = new.sort_values(["bkey", "id"], kind="mergesort").reset_index(drop=True)

    outs = []
    if len(new) and len(seen):
        cross = new.merge(seen, on="bkey", suffixes=("_n", "_s"))
        if len(cross):
            outs.append(pd.DataFrame({
                "a": cross[["id_n", "id_s"]].min(axis=1),
                "b": cross[["id_n", "id_s"]].max(axis=1),
            }))
    if len(new) > 1:
        within = new.merge(new, on="bkey", suffixes=("_x", "_y"))
        within = within[within["id_x"] < within["id_y"]]
        if len(within):
            outs.append(
                within[["id_x", "id_y"]].rename(columns={"id_x": "a", "id_y": "b"})
            )
    if event:
        live_ts = [int(x) for x in seen["ts"]] + [int(x) for x in new["ts"]]
        if not live_ts:
            # everything expired and nothing arrived: drop the shard
            state.remove()
        else:
            state.update((
                list(seen["bkey"]) + list(new["bkey"]),
                [int(x) for x in seen["id"]] + [int(x) for x in new["id"]],
                live_ts,
            ))
            # idle-shard reaper: fires only if NO data reaches this
            # shard after the watermark passes every live membership's
            # expiry; must be strictly ahead of the current watermark
            state.setTimeoutTimestamp(
                max(max(live_ts) + event_ttl_ms,
                    state.getCurrentWatermarkMs() + 1)
            )
    else:
        state.update((
            list(seen["bkey"]) + list(new["bkey"]),
            [int(x) for x in seen["id"]] + [int(x) for x in new["id"]],
        ))
        state.setTimeoutDuration(ttl_ms)
    yield (
        pd.concat(outs, ignore_index=True)[["a", "b"]].astype("int64")
        if outs
        else _empty_pairs()
    )


def _join_candidates(stream_bands: DataFrame, emit_bands: bool) -> DataFrame:
    """Exact witness: stream-stream self inner join on (band, bucket),
    a < b. With emit_bands the batch's band rows follow as
    (a=id, b=NULL, bkey="band|bucket"); pair rows carry bkey NULL.

    ``stream_bands`` is hash-repartitioned by (band, bucket) once, with
    no explicit count, so the exchange takes the replay's pinned
    ``spark.sql.shuffle.partitions`` — exactly the distribution the
    join's state partitions require. Both join sides and the emit_bands
    branch then read ONE exchange (the others plan as
    ``ReusedExchange``), so each micro-batch is shingled and
    min-hashed once, not once per branch."""
    bands = stream_bands.repartition("band", "bucket")
    pairs = (
        bands.select(F.col("id").alias("a"), "band", "bucket")
        .join(bands.select(F.col("id").alias("b"), "band", "bucket"),
              on=["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    if not emit_bands:
        return pairs
    return pairs.withColumn("bkey", F.lit(None).cast("string")).unionByName(
        bands.select(
            F.col("id").alias("a"),
            F.lit(None).cast("long").alias("b"),
            F.concat_ws("|", F.col("band").cast("string"), F.col("bucket")).alias(
                "bkey"
            ),
        )
    )


def stream_state_candidates(
    stream_bands: DataFrame,
    n_groups: int = 256,
    emit_bands: bool = False,
    ttl_ms: int | None = None,
    event_ttl_ms: int | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Within-stream candidate pairs (a < b) between documents that share
    a (band, bucket), witnessed across micro-batches. Output may repeat a
    pair — across bands, and for a re-delivered membership — so dedupe
    downstream.

    Exact mode (neither TTL set): a native stream-stream self inner join
    on (band, bucket) with a < b. Its state is one row per membership
    per side (left and right), kept for the query's lifetime, and the
    symmetric hash join emits each colliding pair exactly once under any
    micro-batch slicing and across checkpoint restarts — the exact
    replay-oracle semantics. emit_bands=True unions the pairs (bkey NULL)
    with every arriving band row as (a=id, b=NULL, bkey="band|bucket"),
    letting ONE streaming query drive both the witness and a
    foreachBatch static probe. n_groups is unused in this mode; the
    join's state partitions follow ``spark.sql.shuffle.partitions``.

    TTL modes keep the pandas emitter (``_bucket_pairs_impl``) on
    ``n_groups`` hash supergroups of (band, bucket) (state per group ~
    total bucket memberships / n_groups; scale it with cluster
    parallelism, not data), because they evict per membership, which no
    join condition expresses (see the module docstring). ttl_ms evicts
    groups idle for ttl_ms of processing time (ProcessingTimeTimeout).
    event_ttl_ms is the event-time twin: stream_bands must carry a
    ``ts`` column (stream_band_table(event_time_col=...)); a watermark
    (``watermark_delay`` behind max event time) drives eviction of
    memberships older than event_ttl_ms. Set at most one of ttl_ms /
    event_ttl_ms; neither combines with emit_bands.

    PRODUCTION DEFAULT: event_ttl_ms (a ~30-day window on the 1M-doc
    stress corpus holds ~7% of unbounded state memory with flat wall
    time — the measured curve is in SCALE.md round-10 and
    artifacts/stress_neardup_ttl_r16.log); the exact replay ORACLES
    keep the exact mode because exactness requires witnessing across
    the whole replay, and processing-time ttl_ms remains the
    continuous-trigger alternative when wall-clock windows are wanted.

    WARNING — ttl_ms is for CONTINUOUS triggers only (the production
    monitor mode). Under trigger(availableNow=True) a ProcessingTime-
    Timeout query NEVER terminates: FlatMapGroupsInPandasWithStateExec's
    shouldRunAnotherBatch is unconditionally true for processing-time
    timeouts (processing time always advances, so another timeout could
    always fire), and Spark loops 'no new data but cleaning up state'
    batches forever — even after every group's state is removed
    (measured: state hit 0 rows, batchId kept climbing past 100).
    event_ttl_ms does NOT have this problem — the watermark stops
    advancing when the data ends, so availableNow replays terminate —
    making it the TTL to use when bounded replays must also evict."""
    if ttl_ms is not None and event_ttl_ms is not None:
        raise ValueError("set at most one of ttl_ms / event_ttl_ms")
    if ttl_ms is None and event_ttl_ms is None:
        return _join_candidates(stream_bands, emit_bands)
    if emit_bands:
        raise ValueError("emit_bands needs the exact witness (no ttl_ms / event_ttl_ms)")
    extra = [F.col("ts")] if event_ttl_ms is not None else []
    keyed = stream_bands.select(
        F.concat_ws("|", F.col("band").cast("string"), F.col("bucket")).alias("bkey"),
        "id",
        F.pmod(F.xxhash64(F.col("band"), F.col("bucket")), F.lit(n_groups)).alias(
            "skey"
        ),
        *extra,
    )
    if event_ttl_ms is not None:
        keyed = keyed.withWatermark("ts", watermark_delay)
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.ProcessingTimeTimeout

    def emit(_key, pdfs, state):
        yield from _bucket_pairs_impl(pdfs, state, ttl_ms, event_ttl_ms)

    return keyed.groupBy("skey").applyInPandasWithState(
        emit,
        outputStructType=PAIR_SCHEMA,
        stateStructType=STATE_TS_SCHEMA if event_ttl_ms is not None else STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def build_static_index(
    static_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    bucket_cap: int | None = None,
    materialize: bool = False,
    return_band: bool = False,
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, DataFrame]:
    """(salted LSH index, n_sub table) over the accepted corpus, built
    with the same per-row bucket expression the stream uses — identical
    hash family as minhash_signatures, so batch- and stream-built
    indexes are interchangeable.

    materialize=True localCheckpoints the band table before salting:
    the index and the n_sub table both derive from it, so without a
    barrier the shingle+minhash pass over the corpus (the dominant
    build cost) runs once per consumer instead of once. return_band=True
    additionally returns that checkpointed band frame so the caller can
    ``session.unpersist_checkpoint`` it once the index is dead (its
    storage blocks otherwise leak for the session's lifetime)."""
    band_sig = static_df.select(
        F.col(id_col).alias("id"),
        shingle_sids(F.col(text_col), k).alias("_sids"),
    ).select(
        "id",
        F.posexplode(
            minhash_band_buckets_from_sids(F.col("_sids"), num_hashes, bands)
        ).alias("band", "bucket"),
    )
    if materialize:
        band_sig = band_sig.localCheckpoint()
    index, sizes = salted_band_index(band_sig, bucket_cap)
    if return_band:
        return index, sizes, band_sig
    return index, sizes
