"""Pipeline batch 117: STREAMING preference-data monitoring — the
batch-116 post-training tier's streaming twin, completing the
batch->streaming symmetry the engine maintains for every other tier
(dedup 113, resolution 114, ANN serving 115).

Production shape: scored candidate completions arrive continuously; the
monitor maintains, per prompt group (lang, source), the group's full
candidate roster as streaming state — bounded by the GENERATION FAN-OUT
(10-16 completions per prompt), never by corpus size, so state is the
one sufficient statistic from which every batch-116 closed form is
recomputable exactly. Each micro-batch, groups that received new
candidates re-derive their pair stats (chosen = top reward, hardest
negatives, margin floor + cap — the identical ordering rules as
q_pipeline116) and emit a refreshed stats row tagged with a per-group
monotone ``seq``; the sink keeps last-write-wins per group (the K2
upsert discipline, batch-106 pattern). After an availableNow replay the
final sink rows hash-match the batch DuckDB oracles bit-for-bit:

- ``stream_preference_margin_monitor`` == ``preference_margin_report``
  (per-group pair count + exact integer margin mass);
- ``stream_length_bias_monitor`` == ``length_bias_audit`` (global
  reward-hacking screen, recomputed from the same final rows — the
  fraction is derived from two exact integer sums, so the one double
  rounds identically in both engines).

Replay-slicing insensitivity: the emitted stats are a pure function of
the group's accumulated candidate SET (arrival order never enters —
candidates are deduped by doc_id and re-sorted inside the closed form),
and last-write-wins keeps only each group's final roster's stats, so
ANY micro-batch slicing yields the batch answer.

Scale notes (100 TB): state per group = fan-out-bounded arrays; group
count = prompt-dimension cardinality; per-batch work = the closed form
over changed groups only. No window over the corpus anywhere.
Reference parity: no reference counterpart (extension family
X-PREF-STREAM; COVERAGE.md north star).
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.window import Window

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_pipeline116 import (
    _MAX_REJECTED,
    _MIN_MARGIN,
    LENGTH_BIAS_SQL,
    MARGIN_REPORT_SQL,
)
from prosnet_prefect_pipelines_spark.operators.textstats import tokens
from prosnet_prefect_pipelines_spark.session import memo_fixture
from prosnet_prefect_pipelines_spark.streaming.staging import replay_stage, scratch_root
from prosnet_prefect_pipelines_spark.streaming.tuning import (
    run_available_now,
    stream_shuffle_partitions,
)

_OUT_SCHEMA = (
    "lang string, source string, n_pairs long, min_margin long, "
    "max_margin long, sum_margin long, n_chosen_longer long, "
    "sum_len_delta long, seq long"
)
_STATE_SCHEMA = (
    "langs array<string>, sources array<string>, ids array<long>, "
    "rewards array<long>, lens array<long>, seq long"
)
# hash supergroups of the (lang, source) prompt key — the batch-113
# witness lesson applied here: a production preference stream has one
# roster per PROMPT (corpus-scaled count of 10-16-row groups), and one
# pandas/Arrow round-trip per tiny group per batch is the dominant
# stateful cost; a shard amortizes it across ~|groups|/n_groups rosters
# while the vectorized per-group recompute inside keeps the semantics
# exactly per-group. Scale n_groups with cluster parallelism, not data.
_N_SHARDS = 64

_EMPTY_OUT = {
    "lang": pd.Series([], dtype="object"),
    "source": pd.Series([], dtype="object"),
    **{
        c: pd.Series([], dtype="int64")
        for c in [
            "n_pairs", "min_margin", "max_margin", "sum_margin",
            "n_chosen_longer", "sum_len_delta", "seq",
        ]
    },
}


def _group_stats(key, pdfs, state):
    """Per-SHARD stateful emitter: fold new candidates into the shard's
    per-(lang, source) rosters, recompute the batch-116 closed form for
    the CHANGED groups only (vectorized pandas groupby inside the
    shard), emit one refreshed stats row per changed group. All-integer
    arithmetic; chosen/negative ordering identical to q_pipeline116.
    The shard-level ``seq`` is monotone, so last-write-wins per group by
    max seq always picks the group's latest roster's stats."""
    cols = ["lang", "source", "doc_id", "reward", "n_chars"]
    if state.exists:
        v = state.get
        seen = pd.DataFrame(
            {
                "lang": pd.Series(list(v[0]), dtype="object"),
                "source": pd.Series(list(v[1]), dtype="object"),
                "doc_id": pd.Series(list(v[2]), dtype="int64"),
                "reward": pd.Series(list(v[3]), dtype="int64"),
                "n_chars": pd.Series(list(v[4]), dtype="int64"),
            }
        )
        seq = v[5]
    else:
        seen = pd.DataFrame(
            {
                "lang": pd.Series([], dtype="object"),
                "source": pd.Series([], dtype="object"),
                "doc_id": pd.Series([], dtype="int64"),
                "reward": pd.Series([], dtype="int64"),
                "n_chars": pd.Series([], dtype="int64"),
            }
        )
        seq = 0

    chunks = [pdf[cols] for pdf in pdfs if len(pdf)]
    new = (
        pd.concat(chunks, ignore_index=True).drop_duplicates(
            ["lang", "source", "doc_id"]
        )
        if chunks
        else seen.iloc[0:0]
    )
    if len(new) and len(seen):
        # idempotent under re-delivery: drop candidates already rostered
        m = new.merge(
            seen[["lang", "source", "doc_id"]],
            on=["lang", "source", "doc_id"],
            how="left",
            indicator=True,
        )
        new = m[m["_merge"] == "left_only"][cols]
    if not len(new):
        yield pd.DataFrame(_EMPTY_OUT)
        return
    seq += 1
    roster = pd.concat([seen, new], ignore_index=True)
    state.update((
        list(roster["lang"]),
        list(roster["source"]),
        [int(x) for x in roster["doc_id"]],
        [int(x) for x in roster["reward"]],
        [int(x) for x in roster["n_chars"]],
        seq,
    ))

    changed = new[["lang", "source"]].drop_duplicates()
    touched = roster.merge(changed, on=["lang", "source"])
    # batch-116 closed form, vectorized across the shard's changed
    # groups: chosen = first row per group under (reward DESC, doc_id)
    touched = touched.sort_values(
        ["lang", "source", "reward", "doc_id"],
        ascending=[True, True, False, True],
        kind="mergesort",
    )
    g = touched.groupby(["lang", "source"], sort=False)
    ch = g.head(1).rename(
        columns={"reward": "ch_reward", "n_chars": "ch_len", "doc_id": "ch_doc"}
    )[["lang", "source", "ch_doc", "ch_reward", "ch_len"]]
    neg = touched.merge(ch, on=["lang", "source"])
    neg = neg[neg["doc_id"] != neg["ch_doc"]]
    neg["margin"] = neg["ch_reward"] - neg["reward"]
    neg = neg[neg["margin"] >= _MIN_MARGIN]
    neg = neg.sort_values(
        ["lang", "source", "margin", "doc_id"],
        ascending=[True, True, False, True],
        kind="mergesort",
    )
    neg = neg.groupby(["lang", "source"], sort=False).head(_MAX_REJECTED)
    neg["longer"] = (neg["n_chars"] < neg["ch_len"]).astype("int64")
    neg["len_delta"] = neg["ch_len"] - neg["n_chars"]
    stats = (
        neg.groupby(["lang", "source"], sort=False)
        .agg(
            n_pairs=("margin", "size"),
            min_margin=("margin", "min"),
            max_margin=("margin", "max"),
            sum_margin=("margin", "sum"),
            n_chosen_longer=("longer", "sum"),
            sum_len_delta=("len_delta", "sum"),
        )
        .reset_index()
    )
    # changed groups whose roster produced no qualifying pair still
    # emit (zeros) so a previously-pairful group that merged into a
    # pairless state refreshes; the query filters n_pairs > 0 at read
    out = changed.merge(stats, on=["lang", "source"], how="left").fillna(0)
    for c in [
        "n_pairs", "min_margin", "max_margin", "sum_margin",
        "n_chosen_longer", "sum_len_delta",
    ]:
        out[c] = out[c].astype("int64")
    out["seq"] = seq
    yield out


# ONE maintained monitor per (session, dataset, stage): the two catalog
# queries below are two metric READS of the same monitor — in production
# a monitor's state is maintained continuously and every derived gauge
# reads the same last-write-wins rows; replaying the whole stream once
# per metric was pure rebuild cost (r11 opt round: 2 x ~5.6 s warm ->
# one ~4 s replay shared). Keyed by the stage path too, so a
# regenerated/monkeypatched stage (fresh fingerprint) always replays
# fresh; the bench's repeat-cold passes reset this via
# session.reset_memo_fixtures like every other maintained structure.
def _final_group_stats(spark, sf_dir):
    """Run the availableNow replay (4 staged micro-batches of the
    documents table) and return the LAST stats row per prompt group."""
    path = f"{sf_dir}/documents.parquet"
    docs = spark.read.parquet(path).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    stage = replay_stage(docs, path, "prefdocs")
    return memo_fixture(
        spark, ("final_group_stats", sf_dir, stage),
        lambda: _replay_final_stats(spark, stage),
    )


def _replay_final_stats(spark, stage):
    schema = spark.read.parquet(stage).schema
    # metadata-only row estimate drives the adaptive state partitioning
    est_rows = spark.read.parquet(stage).count()
    n_files = len(
        [f for f in os.listdir(stage) if f.endswith(".parquet")]
    )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    scored = src.select(
        "lang",
        "source",
        "doc_id",
        (
            F.lit(1000) * F.size(F.array_distinct(tokens(F.col("text"))))
            - F.col("n_chars")
        ).cast("long").alias("reward"),
        "n_chars",
        F.pmod(F.xxhash64("lang", "source"), F.lit(_N_SHARDS)).alias("_skey"),
    )
    out_dir = tempfile.mkdtemp(prefix="pref_monitor_", dir=scratch_root(spark))
    run_available_now(
        scored.groupBy("_skey").applyInPandasWithState(
            _group_stats,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        sink=lambda b, _i: b.write.mode("append").parquet(out_dir),
        name="stream_preference_monitor",
        shuffle_partitions=stream_shuffle_partitions(spark, est_rows, n_files),
    )
    sink = spark.read.schema(_OUT_SCHEMA).parquet(out_dir)
    w = Window.partitionBy("lang", "source").orderBy(F.col("seq").desc())
    return (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)
    )


@register("stream_preference_margin_monitor", oracle=MARGIN_REPORT_SQL,
          covers=["T1", "T2", "A2", "A1"])
def q_stream_preference_margin_monitor(spark, sf_dir):
    """Streaming per-group margin-mass telemetry: fan-out-bounded
    roster state + per-batch closed-form refresh, last-write-wins sink;
    availableNow replay hash-matches the batch preference_margin_report
    for any slicing."""
    final = _final_group_stats(spark, sf_dir)
    return final.filter(F.col("n_pairs") > 0).select(
        "lang", "source", "n_pairs", "min_margin", "max_margin", "sum_margin"
    )


@register("stream_length_bias_monitor", oracle=LENGTH_BIAS_SQL,
          covers=["T1", "T2", "A2"])
def q_stream_length_bias_monitor(spark, sf_dir):
    """Streaming reward-hacking screen: the global length-bias audit
    derived from the same final per-group rows — two exact integer sums
    plus one identically-rounded fraction, hash-matching the batch
    length_bias_audit."""
    final = _final_group_stats(spark, sf_dir).filter(F.col("n_pairs") > 0)
    return final.agg(
        F.sum("n_pairs").cast("long").alias("n_pairs"),
        F.sum("n_chosen_longer").cast("long").alias("n_chosen_longer"),
        F.round(
            F.sum("n_chosen_longer") / (F.lit(1.0) * F.sum("n_pairs")), 6
        ).alias("frac_chosen_longer"),
        F.sum("sum_len_delta").cast("long").alias("sum_len_delta"),
    )

