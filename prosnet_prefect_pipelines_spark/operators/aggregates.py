"""Aggregation operators (SURVEY §2.4).

SPARQL GROUP_CONCAT with the reference's default single-space separator —
downstream code splits on whitespace (wikidata_index.py:111), so the
separator is load-bearing. ``sort_array`` makes the output deterministic
(SPARQL leaves element order undefined; a distributed engine must pick).

Scale: collect_list/collect_set are hash aggregations with partial
(map-side) combine from Catalyst; memory is bounded by per-group payload,
not group count. Skewed groups -> AQE skew handling; truly huge groups
would need a sketch/truncation variant, which the reference never has.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.session import local_frame


def group_concat(col: str | Column, separator: str = " ") -> Column:
    """GROUP_CONCAT(?x) — bag semantics, deterministic sorted order (A3).

    Reference: (group_concat(?GN_FeatureCode) as ?feature_code),
    sparql/wikidata-city.sparql:1,25.
    """
    return F.array_join(F.sort_array(F.collect_list(col)), separator)


def group_concat_distinct(col: str | Column, separator: str = " ") -> Column:
    """GROUP_CONCAT(DISTINCT ?x) (A4 — wikidata-organization.sparql:1,38)."""
    return F.array_join(F.sort_array(F.collect_set(col)), separator)


def salted_aggregate(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
    salt_on: str | Column | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation: pre-aggregate on (keys, salt),
    then combine per key — the manual form of AQE's skew mitigation for
    the case AQE can't fix: a LOW-CARDINALITY groupBy where single hot
    keys would pin whole partitions on one task. Phase 1 spreads each hot
    key over ``salt_buckets`` tasks; phase 2 combines the (at most)
    ``salt_buckets`` partials per key — its shuffle is
    |keys| x salt_buckets rows regardless of input size.

    ``aggs``: {out_col: (fn, in_col)} with fn in {sum, count, min, max}
    — the algebraic aggregates that decompose into partials (avg = sum +
    count at the call site). ``salt_on``: expression the salt is hashed
    from (default: every column); any choice yields the same final
    result because the phase-2 combine is salt-invariant.
    """
    fns = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    combine = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    salt_src = F.col(salt_on) if isinstance(salt_on, str) else salt_on
    if salt_src is None:
        salt_src = F.xxhash64(*[F.col(c) for c in df.columns])
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(salt_src), F.lit(salt_buckets)))
    phase1 = salted.groupBy(*key_cols, "_salt").agg(
        *[fns[fn](c).alias(out) for out, (fn, c) in aggs.items()]
    )
    return phase1.groupBy(*key_cols).agg(
        *[combine[fn](out).alias(out) for out, (fn, _) in aggs.items()]
    )


def count_distinct_paginator(df: DataFrame, col: str) -> DataFrame:
    """The reference's derived COUNT(DISTINCT ?item) sizing query (A1).

    Generated at wikidata_index.py:173-179, executed :148-151 to size the
    pagination loop. At 100 TB prefer approx_count_distinct for sizing —
    exact kept here because the oracle checks exact values.
    """
    return df.agg(F.countDistinct(col).alias("count"))


def exact_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tiebreak_col: str,
    probs: list[float],
) -> DataFrame:
    """-> (group, p, quantile): exact nearest-rank quantiles per group —
    the value at row_number ceil(p * n) under (value, tiebreak) order.

    Pure integer rank selection (no interpolation arithmetic), so both
    engines pick the identical source row bit-for-bit. The per-group
    window sort is the scale bound: with few huge groups this
    single-partitions each group — at 100 TB use approx_quantiles
    (t-digest sketch, mergeable map-side) and reserve this exact tier
    for verification scales, the same exact/approx split as
    cosine_topk vs the LSH/IVF tiers.
    """
    from pyspark.sql.window import Window

    n = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy(group_col).orderBy(F.col(value_col), F.col(tiebreak_col))
    ranked = df.select(
        group_col, value_col, tiebreak_col
    ).withColumn("_rn", F.row_number().over(w))
    pdf = local_frame(df.sparkSession, [(p,) for p in probs], "p double")
    return (
        ranked.join(n, group_col)
        .join(F.broadcast(pdf), F.col("_rn") == F.ceil(F.col("p") * F.col("_n")))
        .select(group_col, "p", F.col(value_col).alias("quantile"))
    )


def approx_quantiles(
    df: DataFrame, group_col: str, value_col: str, probs: list[float]
) -> DataFrame:
    """-> (group, quantiles array): sketch-based quantiles via
    percentile_approx — mergeable partial aggregation, no per-group
    sort; the 100 TB path (sketch internals are engine-specific, so this
    tier is pytest-verified against the exact tier with a rank-error
    bound rather than oracle-hashed)."""
    return df.groupBy(group_col).agg(
        F.percentile_approx(value_col, probs, 10000).alias("quantiles")
    )


def profile_table(
    df: DataFrame, num_cols: list[str], str_cols: list[str]
) -> DataFrame:
    """-> one row per profiled column: (column, n_rows, n_nulls,
    n_distinct, min_num, max_num, min_str, max_str) — the data-quality
    profile a pipeline runs before training (null rates, cardinality,
    ranges).

    ONE aggregation pass computes every statistic (multiple exact
    COUNT(DISTINCT)s share a single Expand-based aggregate); the
    long-format result is then a constant-cost projection of the 1-row
    wide frame per column. min/max stay typed (double vs string columns)
    — no cross-engine float-to-string formatting in the contract.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in num_cols + str_cols:
        aggs.append(F.count(F.col(c)).alias(f"cnt_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"nd_{c}"))
    for c in num_cols:
        aggs.append(F.min(F.col(c)).cast("double").alias(f"min_{c}"))
        aggs.append(F.max(F.col(c)).cast("double").alias(f"max_{c}"))
    for c in str_cols:
        aggs.append(F.min(F.col(c)).alias(f"smin_{c}"))
        aggs.append(F.max(F.col(c)).alias(f"smax_{c}"))
    wide = df.agg(*aggs)
    # explode ONE array of per-column structs over the single wide row —
    # a union of per-column projections would re-plan (and re-scan) the
    # whole aggregate once per column
    rows = []
    for c in num_cols + str_cols:
        is_num = c in num_cols
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"cnt_{c}")).alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                (F.col(f"min_{c}") if is_num else F.lit(None).cast("double")).alias("min_num"),
                (F.col(f"max_{c}") if is_num else F.lit(None).cast("double")).alias("max_num"),
                (F.lit(None).cast("string") if is_num else F.col(f"smin_{c}")).alias("min_str"),
                (F.lit(None).cast("string") if is_num else F.col(f"smax_{c}")).alias("max_str"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def cusum_scaled(
    counts: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key CUSUM drift statistics over an ordered integer series, in
    EXACT integer arithmetic (no float drift across engines/partitions).

    The classic recursion S_t = max(0, S_{t-1} + (x_t - mu)) is
    sequential, but it has a closed prefix form:

        S_t = C_t - min(0, min_{j<=t} C_j),  C_t = sum_{i<=t} (x_i - mu)

    (reflection at the zero floor), so two running windows — a prefix
    sum and a running min — compute it with ONE shuffle on the key. To
    stay integral, values are scaled by the per-key series length D:
    y_t = x_t * D - T (T = per-key total), which is D * (x_t - mean).
    Output cusum_pos/cusum_neg are therefore in units of value x D —
    threshold comparisons scale the cutoff by D, ordering/shape are
    unaffected, and every engine agrees bit-for-bit.

    Scale: windows partition by the drift key (metric/tenant series);
    each series is one reducer's work, which is the natural lower bound
    for an ordered scan. The per-key (D, T) aggregation is map-side
    combinable.
    """
    from pyspark.sql.window import Window

    k, o, v = F.col(key_col), F.col(order_col), F.col(value_col)
    totals = counts.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("_d"), F.sum(v).alias("_t")
    )
    y = counts.join(totals, on=key_col).withColumn(
        "_y", v * F.col("_d") - F.col("_t")
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        y.withColumn("_c", F.sum("_y").over(w))
        .withColumn("_cmin", F.min("_c").over(w))
        .withColumn("_cmax", F.max("_c").over(w))
    )
    return cum.select(
        k.alias("key"),
        o.alias("bucket"),
        v.alias("value"),
        (F.col("_c") - F.least(F.lit(0), F.col("_cmin"))).alias("cusum_pos"),
        (F.greatest(F.lit(0), F.col("_cmax")) - F.col("_c")).alias("cusum_neg"),
    )


def islands(df: DataFrame, key_col: str, point_col: str) -> DataFrame:
    """Gaps-and-islands: collapse per-key DISTINCT integer points into
    maximal consecutive runs -> (key, island_start, island_end,
    island_len).

    The classic row_number trick: for points sorted per key,
    ``point - row_number`` is constant exactly within a consecutive run,
    so one window pass + one groupBy finds every island. Both shuffles
    key on the entity (user/device/tenant) — series windowize
    independently and in parallel; no global order.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(point_col)
    pts = df.select(key_col, point_col).distinct()
    grp = pts.withColumn("_grp", F.col(point_col) - F.row_number().over(w))
    return (
        grp.groupBy(key_col, "_grp")
        .agg(
            F.min(point_col).alias("island_start"),
            F.max(point_col).alias("island_end"),
            F.count(F.lit(1)).alias("island_len"),
        )
        .drop("_grp")
    )
