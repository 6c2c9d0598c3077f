"""Streaming near-dup monitor (streaming/neardup.py, batch 113).

Three claims, each load-bearing for the oracle pairing:

1. the per-row band expression equals the aggregation-path signatures
   (bucket-for-bucket) on real corpus text;
2. the salted static index + all-sub-bucket probe is recall-EXACT:
   candidates match the unsalted band equi-join for any bucket_cap;
3. the within-stream witness is batching-insensitive — slicing the
   stream into single-file micro-batches yields the same pair set as
   one big batch (and both equal the batch self-join). The exact mode
   is a native stream-stream self-join; the TTL modes' pandas emitter
   keeps the same property while nothing is evicted.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import dedup as D
from prosnet_prefect_pipelines_spark.streaming import neardup as N


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").alias("id"), "text")
        .limit(400)
        .localCheckpoint()
    )


def batch_bands(docs):
    return docs.select(
        "id", F.posexplode(D.minhash_band_buckets(F.col("text"))).alias("band", "bucket")
    )


def test_band_expr_matches_signature_aggregation(spark, docs):
    """Per-row minhash_band_buckets == minhash_signatures buckets."""
    sig = D.minhash_signatures(docs, "id", "text", k=3, num_hashes=12)
    agg_bands = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_", *[F.col(f"m{b * 3 + i}").cast("string") for i in range(3)]
                    )
                    for b in range(4)
                ]
            )
        ).alias("band", "bucket"),
    )
    diff = batch_bands(docs).exceptAll(agg_bands).count()
    diff2 = agg_bands.exceptAll(batch_bands(docs)).count()
    assert diff == 0 and diff2 == 0


@pytest.mark.parametrize("cap", [None, 1, 4])
def test_salted_probe_recall_exact(spark, docs, cap):
    """Probing every sub-bucket of a salted index reproduces the
    unsalted band join exactly, for any cap (1 = maximal salting)."""
    stream_side = batch_bands(docs.filter(F.col("id") % 2 == 1))
    static_side = batch_bands(docs.filter(F.col("id") % 2 == 0))
    index, sizes = D.salted_band_index(static_side, cap)
    got = N.static_probe_candidates(stream_side, index, sizes)
    want = (
        stream_side.alias("s")
        .join(static_side.alias("t"), on=["band", "bucket"])
        .select(F.col("s.id").alias("a"), F.col("t.id").alias("b"))
        .dropDuplicates()
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_state_pairs_batching_insensitive(spark, docs, tmp_path):
    """One-file-per-trigger replay == single-batch replay == batch
    self-join: the symmetric hash self-join emits each colliding pair
    once, whatever the slicing."""
    import uuid

    odd = docs.filter(F.col("id") % 2 == 1)
    # batch ground truth: all colliding pairs a < b within the odd half
    ob = batch_bands(odd)
    want = sorted(
        (r.a, r.b)
        for r in ob.alias("x")
        .join(ob.alias("y"), on=["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .dropDuplicates()
        .collect()
    )

    # stage the odd docs as 4 separate files so maxFilesPerTrigger=1
    # forces 4 micro-batches with state carried across them
    stage = tmp_path / "neardup_stream"
    odd.repartition(4).write.parquet(str(stage))
    schema = spark.read.parquet(str(stage)).schema

    for files_per_trigger in (1, 100):
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(str(stage))
        )
        name = "ndp_" + uuid.uuid4().hex[:8]
        q = (
            N.stream_state_candidates(N.stream_band_table(src, "id", "text"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r.a, r.b)
            for r in spark.table(name).dropDuplicates().collect()
        )
        assert got == want, f"files_per_trigger={files_per_trigger}"


def test_jaccard_verify_matches_inline(spark, docs):
    """jaccard_verify is the factored verification used by both the
    batch LSH and the streaming monitor: spot-check its values against
    a direct pairwise computation on a tiny sample."""
    sample = docs.limit(30)
    sh = D.shingle_table(sample, "id", "text", k=3)
    ids = [r.id for r in sample.select("id").collect()]
    cands = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]], "a long, b long"
    )
    got = {(r.a, r.b): r.jaccard for r in D.jaccard_verify(cands, sh, 0.0).collect()}
    rows = sh.collect()
    shingles: dict[int, set] = {}
    for r in rows:
        shingles.setdefault(r.id, set()).add(r.shingle)
    for (a, b), j in got.items():
        inter = len(shingles[a] & shingles[b])
        union = len(shingles[a] | shingles[b])
        assert abs(j - round(inter / union, 6)) < 1e-9


class _FakeState:
    """Minimal GroupState stand-in for driving _bucket_pairs_impl directly."""

    def __init__(self, timed_out=False):
        self._v = None
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_bucket_pairs_slicing_invariance_property():
    """Pure-function property of the TTL modes' pandas emitter while no
    timeout fires: for random (bucket, id) membership tables and ANY
    random slicing into micro-batches, the union of emitted pairs equals
    the batch per-bucket self-join — and state carries the full
    membership forward."""
    import itertools
    import random

    import pandas as pd

    from prosnet_prefect_pipelines_spark.streaming.neardup import (
        _bucket_pairs_impl,
    )

    rng = random.Random(42)
    for trial in range(25):
        n = rng.randint(0, 40)
        rows = [
            (f"b{rng.randint(0, 6)}", rng.randint(0, 30)) for _ in range(n)
        ]
        rows = list(dict.fromkeys(rows))  # distinct memberships
        want = set()
        by_bucket: dict = {}
        for bk, i in rows:
            by_bucket.setdefault(bk, set()).add(i)
        for members in by_bucket.values():
            for x, y in itertools.combinations(sorted(members), 2):
                want.add((x, y))

        # random slicing into 1..5 micro-batches (order shuffled)
        rng.shuffle(rows)
        n_batches = rng.randint(1, 5)
        cuts = sorted(rng.randint(0, len(rows)) for _ in range(n_batches - 1))
        batches, prev = [], 0
        for c in cuts + [len(rows)]:
            batches.append(rows[prev:c])
            prev = c

        state = _FakeState()
        got = set()
        for batch in batches:
            pdf = pd.DataFrame(
                {"bkey": [r[0] for r in batch],
                 "id": pd.Series([r[1] for r in batch], dtype="int64")}
            )
            for out in _bucket_pairs_impl(iter([pdf]), state, ttl_ms=60000):
                got.update(zip(out["a"].tolist(), out["b"].tolist()))
        assert got == want, f"trial {trial}"
        bkeys, ids = state.get
        assert sorted(zip(bkeys, ids)) == sorted(rows)


def test_native_witness_emit_bands_across_batches(spark, tmp_path):
    """The exact witness over three micro-batches with emit_bands=True:
    pairs (bkey NULL) are every colliding a < b pair, new x old and
    new x new, and every arriving membership comes back as one
    (id, NULL, bkey) row — the contract the fused monitor's foreachBatch
    static probe depends on. A re-delivered membership, (b0, 2) in the
    second batch, comes back once more and repeats its pair; both are
    deduplicated downstream."""
    import uuid

    stage = str(tmp_path / "bands")
    batches = [
        [(1, 0, "b0"), (2, 0, "b0")],
        [(2, 0, "b0"), (3, 1, "b1")],
        [(4, 0, "b0")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "id long, band int, bucket string").coalesce(
            1
        ).write.parquet(f"{stage}/batch={i}")
    src = (
        spark.readStream.schema("id long, band int, bucket string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    name = "ndn_" + uuid.uuid4().hex[:8]
    q = (
        N.stream_state_candidates(src, emit_bands=True)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert len(q.recentProgress) == 3, "expected one micro-batch per file"
    out = spark.table(name).collect()
    pairs = sorted((r.a, r.b) for r in out if r.bkey is None)
    bands = sorted((r.a, r.bkey) for r in out if r.bkey is not None)
    assert all(r.b is None for r in out if r.bkey is not None)
    assert pairs == [(1, 2), (1, 2), (1, 4), (2, 4), (2, 4)]
    assert bands == [(1, "0|b0"), (2, "0|b0"), (2, "0|b0"), (3, "1|b1"),
                     (4, "0|b0")]


def test_emit_bands_needs_the_exact_witness(spark):
    """emit_bands with a TTL raises: only the exact mode passes band rows
    through, and each mode has one implementation."""
    bands = spark.range(1).selectExpr("id", "0 AS band", "'x' AS bucket")
    for ttl in ({"ttl_ms": 1000}, {"event_ttl_ms": 1000}):
        with pytest.raises(ValueError, match="emit_bands"):
            N.stream_state_candidates(bands, emit_bands=True, **ttl)


def test_bucket_pairs_ttl_eviction():
    """ttl_ms: timeout invocation drops the witness state (pairs across
    the eviction boundary are no longer emitted) and every data
    invocation re-arms the processing-time timeout."""
    import pandas as pd

    from prosnet_prefect_pipelines_spark.streaming.neardup import (
        _bucket_pairs_impl,
    )

    def feed(state, rows):
        pdf = pd.DataFrame(
            {"bkey": [r[0] for r in rows],
             "id": pd.Series([r[1] for r in rows], dtype="int64")}
        )
        got = set()
        for out in _bucket_pairs_impl(iter([pdf]), state, ttl_ms=60000):
            got.update(zip(out["a"].tolist(), out["b"].tolist()))
        return got

    state = _FakeState()
    assert feed(state, [("b0", 1)]) == set()
    assert state.timeout_ms == 60000, "timeout not armed"
    assert feed(state, [("b0", 2)]) == {(1, 2)}

    # runtime fires the timeout: empty batch, hasTimedOut=True
    state.hasTimedOut = True
    outs = list(_bucket_pairs_impl(iter([]), state, ttl_ms=60000))
    assert state.removed and not state.exists
    assert all(len(o) == 0 for o in outs)

    # post-eviction arrival: no pair with pre-eviction ids
    state.hasTimedOut = False
    state.removed = False
    assert feed(state, [("b0", 3)]) == set()
    assert feed(state, [("b0", 4)]) == {(3, 4)}


def test_emit_bands_stream_equals_plain_plus_band_table(spark, docs, tmp_path):
    """End-to-end fused shape: under a 4-micro-batch replay,
    emit_bands=True yields exactly the plain emitter's pair set (bkey
    NULL rows) plus the full batch band table once (bkey rows) — so the
    foreachBatch static probe sees every membership exactly once."""
    import uuid

    odd = docs.filter(F.col("id") % 2 == 1)
    stage = tmp_path / "neardup_fused"
    odd.repartition(4).write.parquet(str(stage))
    schema = spark.read.parquet(str(stage)).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    name = "ndf_" + uuid.uuid4().hex[:8]
    q = (
        N.stream_state_candidates(N.stream_band_table(src, "id", "text"),
                                  emit_bands=True)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    out = spark.table(name).localCheckpoint()

    ob = batch_bands(odd)
    want_pairs = sorted(
        (r.a, r.b)
        for r in ob.alias("x")
        .join(ob.alias("y"), on=["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .dropDuplicates()
        .collect()
    )
    got_pairs = sorted(
        (r.a, r.b)
        for r in out.filter(F.col("bkey").isNull())
        .select("a", "b").dropDuplicates().collect()
    )
    assert got_pairs == want_pairs

    got_bands = sorted(
        (r.a, r.bkey)
        for r in out.filter(F.col("bkey").isNotNull()).select("a", "bkey").collect()
    )
    want_bands = sorted(
        (r.id, f"{r.band}|{r.bucket}") for r in ob.collect()
    )
    assert got_bands == want_bands  # exactly once each, no dupes


def test_ttl_variant_streaming_eviction(spark, docs, tmp_path):
    """End-to-end TTL eviction through the real runtime (continuous
    trigger — ProcessingTimeTimeout never terminates under availableNow,
    see stream_state_candidates WARNING): phase-A docs populate witness
    state; after the TTL fires, lastProgress shows the state rows
    dropping to 0; phase-B re-sends the SAME texts under new ids — had
    state survived, cross-phase (A, B) pairs would be emitted, so their
    absence (alongside present B-B pairs proving B was processed) is
    direct evidence the witness memberships were evicted."""
    import time
    import uuid

    sample = docs.filter(F.col("id") % 2 == 1).limit(20).localCheckpoint()
    stage = tmp_path / "neardup_ttl"
    stage.mkdir()
    schema = sample.schema
    sample.coalesce(1).write.mode("append").parquet(str(stage))

    src = spark.readStream.schema(schema).parquet(str(stage))
    name = "ndt_" + uuid.uuid4().hex[:8]
    q = (
        N.stream_state_candidates(N.stream_band_table(src, "id", "text"),
                                  n_groups=8, ttl_ms=3000)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )

    def _state_rows():
        lp = q.lastProgress
        if not lp or not lp.get("stateOperators"):
            return None
        return lp["stateOperators"][0]["numRowsTotal"]

    try:
        deadline = time.time() + 120
        while time.time() < deadline and not (_state_rows() or 0) > 0:
            time.sleep(1)
        assert (_state_rows() or 0) > 0, "witness state never populated"

        while time.time() < deadline and _state_rows() != 0:
            time.sleep(1)
        assert _state_rows() == 0, "TTL never evicted the witness state"

        # phase B: identical texts, ids shifted — would pair with phase A
        # on every band if state had survived eviction; each text sent
        # TWICE (two id offsets) so B-B pairs are guaranteed to exist
        sample.select((F.col("id") + 500000).alias("id"), "text").unionByName(
            sample.select((F.col("id") + 600000).alias("id"), "text")
        ).coalesce(1).write.mode("append").parquet(str(stage))
        while time.time() < deadline and spark.table(name).where(
            (F.col("a") >= 500000) & (F.col("b") >= 500000)
        ).count() == 0:
            time.sleep(1)
    finally:
        q.stop()

    out = spark.table(name).localCheckpoint()
    n_bb = out.where((F.col("a") >= 500000) & (F.col("b") >= 500000)).count()
    n_cross = out.where((F.col("a") < 500000) & (F.col("b") >= 500000)).count()
    assert n_bb > 0, "phase B never processed"
    assert n_cross == 0, "pre-eviction memberships paired with phase B"


def test_event_ttl_eviction_under_available_now(spark, docs, tmp_path):
    """event_ttl_ms: the EVENT-time TTL composes with availableNow
    (unlike processing-time — the watermark stops advancing when data
    ends, so the replay terminates) and evicts per MEMBERSHIP inside
    still-active shards (the group timeout alone cannot: a shard
    receiving any data is never timed out, and with hash supergroups
    identical texts keep landing in the same shards). Three phases of
    identical texts at day 0 / day 30 / day 60 with a 1 h TTL: A-B pairs
    exist (one-batch watermark lag), A-C pairs must NOT (A expired long
    before C), B-C pairs exist (B still live at watermark day 30)."""
    import time
    import uuid

    sample = docs.filter(F.col("id") % 2 == 1).limit(12).localCheckpoint()
    stage = tmp_path / "neardup_event_ttl"
    stage.mkdir()
    for off, day in ((0, "2024-01-01"), (500_000, "2024-01-31"),
                     (600_000, "2024-03-01")):
        sample.select(
            (F.col("id") + off).alias("id"), "text",
            F.lit(f"{day} 00:00:00").cast("timestamp").alias("evt"),
        ).coalesce(1).write.mode("append").parquet(str(stage))
        time.sleep(1.1)  # file-source batches follow modification time

    schema = spark.read.parquet(str(stage)).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    name = "ndev_" + uuid.uuid4().hex[:8]
    q = (
        N.stream_state_candidates(
            N.stream_band_table(src, "id", "text", event_time_col="evt"),
            n_groups=8,
            event_ttl_ms=3_600_000,
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "event-time TTL replay did not terminate"
    pairs = {(r.a, r.b) for r in spark.table(name).collect()}
    n_ab = sum(1 for a, b in pairs if a < 500_000 and 500_000 <= b < 600_000)
    n_ac = sum(1 for a, b in pairs if a < 500_000 and b >= 600_000)
    n_bc = sum(1 for a, b in pairs if 500_000 <= a < 600_000 and b >= 600_000)
    assert n_ab > 0, "phase B never paired with live phase A"
    assert n_bc > 0, "phase C never paired with live phase B"
    assert n_ac == 0, "expired phase-A memberships paired with phase C"


def test_bucket_pairs_event_ttl_membership_sweep():
    """Pure-function check of the per-membership event-time sweep:
    memberships older than watermark - ttl are dropped before pairing
    (no pairs across the expiry boundary), live ones persist, and the
    re-armed timeout tracks the newest live membership."""
    import pandas as pd

    from prosnet_prefect_pipelines_spark.streaming.neardup import (
        _bucket_pairs_impl,
    )

    class _EvState(_FakeState):
        def __init__(self):
            super().__init__()
            self.wm = 0
            self.timeout_ts = None

        def getCurrentWatermarkMs(self):
            return self.wm

        def setTimeoutTimestamp(self, ts):
            self.timeout_ts = ts

    def feed(state, rows):  # rows: (bkey, id, ts_ms)
        pdf = pd.DataFrame({
            "bkey": [r[0] for r in rows],
            "id": pd.Series([r[1] for r in rows], dtype="int64"),
            "ts": pd.Series([pd.Timestamp(r[2] * 1_000_000)
                             for r in rows]).astype("datetime64[ns]"),
        })
        got = set()
        for out in _bucket_pairs_impl(iter([pdf]), state, None,
                                      event_ttl_ms=1000):
            got.update(zip(out["a"].tolist(), out["b"].tolist()))
        return got

    s = _EvState()
    assert feed(s, [("b0", 1, 10_000)]) == set()
    assert s.timeout_ts == 11_000  # newest membership + ttl
    s.wm = 10_500  # watermark inside id-1's window
    assert feed(s, [("b0", 2, 10_600)]) == {(1, 2)}
    s.wm = 12_000  # past 10_000+1000 AND 10_600+1000: both expired
    assert feed(s, [("b0", 3, 12_500)]) == set()
    assert s.timeout_ts == 13_500
    s.wm = 12_900  # id-3 still live
    assert feed(s, [("b0", 4, 13_000)]) == {(3, 4)}
    # expired membership re-arrives -> fresh membership, pairs again
    s.wm = 20_000
    assert feed(s, [("b0", 3, 20_500), ("b0", 5, 20_600)]) == {(3, 5)}
