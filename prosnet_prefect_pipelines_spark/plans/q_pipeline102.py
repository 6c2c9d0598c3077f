"""Pipeline batch 102 (north-star extension): forensic data-quality
analytics — Benford's-law digit tests, digit-uniformity chi-square,
round-number spikes, duplicate-amount concentration and digit
entropy, all over ``orders.o_totalprice`` in exact CENT units.

These are the classic fraud/ingest-anomaly screens a training-data
pipeline runs over numeric columns before trusting them (Benford
deviation flags synthetic or truncated feeds; last-digit spikes flag
rounding/defaulting bugs; duplicate-amount floods flag feed replays).

Exactness conventions (the batch-95/99 discipline):
- prices scale to integer cents; every count/cell statistic is an
  exact BIGINT aggregate;
- Benford expected probabilities are 6-dp LITERAL constants written
  identically in the Spark expression and the DuckDB oracle — no
  cross-engine log10 calls on the hot path;
- uniformity chi-square collapses algebraically to integers:
  sum over all K cells of (c - n/K)^2 / (n/K)  ==  (K*S2 - n^2) / n
  with S2 = sum c^2 over PRESENT cells — absent cells need no rows;
- Shannon entropy terms use the proven scaled-BIGINT summation
  (round each -p*ln(p) to 6 dp, sum as micro-units) so summation
  order can't change the hash (same shape as char_entropy_filter).

Scale notes: every query is one narrow projection over orders + one
keyed aggregation with at most 100 groups (first digit: 9; last two
digits: 100; amounts: |distinct prices|, the only data-sized
grouping, still map-side combinable). The Benford dimension is a
9-row broadcast. Nothing shuffles more than the group keys; no
windows, no joins bigger than dim-broadcast.

Ref semantics: SURVEY §2 A2/P2 compositions; no reference
counterpart (extensions X-BENFORD-REPORT .. X-DIGITENTROPY).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# first-significant-digit Benford probabilities log10(1 + 1/d),
# rounded to 6 dp ONCE here and embedded as literals on both engines
# (they sum to exactly 1.000000)
_BENFORD_P = [
    (1, 0.301030),
    (2, 0.176091),
    (3, 0.124939),
    (4, 0.096910),
    (5, 0.079181),
    (6, 0.066947),
    (7, 0.057992),
    (8, 0.051153),
    (9, 0.045757),
]

_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"

_BENFORD_VALUES = ",\n           ".join(f"({d}, {p})" for d, p in _BENFORD_P)


def _cents_col():
    return F.round(F.col("o_totalprice") * 100).cast("long")


def _first_digit_counts(spark, sf_dir):
    """digit (int 1-9) -> count, via the leading character of the
    cents string (min price 1013.70 => cents >= 101370, no zeros)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.select(
            F.substring(_cents_col().cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("obs"))
    )


def _benford_dim(spark):
    return local_frame(spark, _BENFORD_P, "digit int, p double")


# ---------------------------------------------------------------------------
# 1. Benford first-digit report: per-digit observed vs expected + chi2 term.

BENFORD_REPORT_SQL = f"""
WITH dim(digit, p) AS (
    VALUES {_BENFORD_VALUES}
),
obs AS (
    SELECT CAST(substr(CAST({_CENTS} AS VARCHAR), 1, 1) AS INT) AS digit,
           COUNT(*) AS obs
    FROM orders GROUP BY 1
),
tot AS (SELECT SUM(obs) AS n FROM obs)
SELECT dim.digit AS digit,
       CAST(COALESCE(obs.obs, 0) AS BIGINT) AS obs_count,
       round(CAST(n AS DOUBLE) * dim.p, 6) AS expected_6,
       round((CAST(COALESCE(obs.obs, 0) AS DOUBLE)
              - CAST(n AS DOUBLE) * dim.p)
             * (CAST(COALESCE(obs.obs, 0) AS DOUBLE)
                - CAST(n AS DOUBLE) * dim.p)
             / (CAST(n AS DOUBLE) * dim.p), 6) AS chi2_term_6
FROM dim LEFT JOIN obs ON dim.digit = obs.digit CROSS JOIN tot
"""


@register("benford_first_digit_report", oracle=BENFORD_REPORT_SQL, covers=["A2", "J2", "J4"])
def q_benford_first_digit_report(spark, sf_dir):
    """Benford's-law first-digit screen: observed count per leading
    digit of the order price vs the expected n*log10(1+1/d), with the
    per-digit Pearson chi-square contribution. The 9-row probability
    dimension is a broadcast VALUES table (J4) left-joined (J2) so a
    digit absent from the data still reports obs=0.

    One 9-group aggregation + one 1-row total; the chi2 terms are
    (exact-count - n*literal)^2 / (n*literal), 6 dp.

    Ref semantics: SURVEY §2 A2/J2/J4 (extension X-BENFORD-REPORT)."""
    obs = _first_digit_counts(spark, sf_dir)
    dim = _benford_dim(spark)
    tot = obs.agg(F.sum("obs").alias("n"))
    nd = F.col("n").cast("double")
    obs_d = F.coalesce(F.col("obs"), F.lit(0)).cast("double")
    exp = nd * F.col("p")
    return (
        dim.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("digit"),
            F.coalesce(F.col("obs"), F.lit(0)).cast("long").alias("obs_count"),
            F.round(exp, 6).alias("expected_6"),
            F.round((obs_d - exp) * (obs_d - exp) / exp, 6).alias(
                "chi2_term_6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 2. Nigrini MAD conformity verdict.

BENFORD_MAD_SQL = f"""
WITH dim(digit, p) AS (
    VALUES {_BENFORD_VALUES}
),
obs AS (
    SELECT CAST(substr(CAST({_CENTS} AS VARCHAR), 1, 1) AS INT) AS digit,
           COUNT(*) AS obs
    FROM orders GROUP BY 1
),
tot AS (SELECT SUM(obs) AS n FROM obs),
terms AS (
    SELECT CAST(round(round(abs(CAST(COALESCE(obs.obs, 0) AS DOUBLE)
                                / CAST(n AS DOUBLE) - dim.p), 6)
                      * 1000000, 0) AS BIGINT) AS t6
    FROM dim LEFT JOIN obs ON dim.digit = obs.digit CROSS JOIN tot
),
mad AS (
    SELECT round(CAST(SUM(t6) AS BIGINT) / 9000000.0, 6) AS mad_6 FROM terms
)
SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_orders,
       mad_6,
       CASE WHEN mad_6 < 0.006 THEN 'close'
            WHEN mad_6 < 0.012 THEN 'acceptable'
            WHEN mad_6 < 0.015 THEN 'marginal'
            ELSE 'nonconforming' END AS conformity
FROM mad
"""


@register("benford_mad_nigrini", oracle=BENFORD_MAD_SQL, covers=["A2", "P7"])
def q_benford_mad_nigrini(spark, sf_dir):
    """Nigrini's MAD conformity verdict: mean absolute deviation of
    the observed first-digit proportions from Benford, bucketed by
    the published thresholds (0.006 / 0.012 / 0.015). Per-digit
    deviations round to 6 dp and sum as scaled BIGINT micro-units
    (summation-order-proof), then divide by 9.

    Ref semantics: SURVEY §2 A2 (extension X-BENFORD-MAD)."""
    obs = _first_digit_counts(spark, sf_dir)
    dim = _benford_dim(spark)
    tot = obs.agg(F.sum("obs").alias("n"))
    obs_d = F.coalesce(F.col("obs"), F.lit(0)).cast("double")
    t6 = F.round(
        F.round(F.abs(obs_d / F.col("n").cast("double") - F.col("p")), 6)
        * 1000000,
        0,
    ).cast("long")
    agg = (
        dim.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(t6).alias("s6"),
            F.max("n").alias("n"),
        )
    )
    mad = F.round(F.col("s6") / 9000000.0, 6)
    return agg.select(
        F.col("n").cast("long").alias("n_orders"),
        mad.alias("mad_6"),
        F.when(mad < 0.006, F.lit("close"))
        .when(mad < 0.012, F.lit("acceptable"))
        .when(mad < 0.015, F.lit("marginal"))
        .otherwise(F.lit("nonconforming"))
        .alias("conformity"),
    )


# ---------------------------------------------------------------------------
# 3. Last-two-digit (cents) uniformity chi-square — exact integer collapse.

CENTS_UNIFORMITY_SQL = f"""
WITH cells AS (
    SELECT {_CENTS} % 100 AS ll, COUNT(*) AS c
    FROM orders GROUP BY 1
),
agg AS (
    SELECT SUM(c) AS n, SUM(CAST(c AS HUGEINT) * c) AS s2,
           COUNT(*) AS cells_present, MAX(c) AS max_c
    FROM cells
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST(cells_present AS BIGINT) AS cells_present,
       round((100.0 * CAST(s2 AS DOUBLE) - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS chi2_6,
       CAST(max_c AS BIGINT) AS max_cell_count,
       CAST((SELECT MIN(ll) FROM cells, agg WHERE cells.c = agg.max_c)
            AS BIGINT) AS max_cell_digits
FROM agg
"""


@register("cents_uniformity_chi2", oracle=CENTS_UNIFORMITY_SQL, covers=["A2"])
def q_cents_uniformity_chi2(spark, sf_dir):
    """Last-two-digit uniformity screen: Pearson chi-square of the
    cents digits (00-99) against uniform, collapsed algebraically to
    exact integers — sum_K (c - n/K)^2/(n/K) == (K*S2 - n^2)/n with
    S2 = sum c^2 over present cells, so absent cells need no rows and
    the whole test is one 100-group aggregation. Also reports the
    hottest cell (min digit-pair on count ties).

    Ref semantics: SURVEY §2 A2 (extension X-DIGITUNIF)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cells = (
        o.select(F.pmod(_cents_col(), F.lit(100)).alias("ll"))
        .groupBy("ll")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = cells.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
        F.count(F.lit(1)).alias("cells_present"),
        F.max("c").alias("max_c"),
        F.min_by(
            F.col("ll"), F.struct((-F.col("c")).alias("nc"), F.col("ll"))
        ).alias("max_cell_digits"),
    )
    nd = F.col("n").cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("cells_present").cast("long").alias("cells_present"),
        F.round(
            (F.lit(100.0) * F.col("s2").cast("double") - nd * nd) / nd, 6
        ).alias("chi2_6"),
        F.col("max_c").cast("long").alias("max_cell_count"),
        F.col("max_cell_digits").cast("long").alias("max_cell_digits"),
    )


# ---------------------------------------------------------------------------
# 4. Round-number spikes per order priority.

ROUND_SPIKE_SQL = f"""
WITH v AS (
    SELECT o_orderpriority, {_CENTS} % 100 AS ll FROM orders
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN ll = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c00,
       CAST(SUM(CASE WHEN ll = 50 THEN 1 ELSE 0 END) AS BIGINT) AS c50,
       CAST(SUM(CASE WHEN ll = 99 THEN 1 ELSE 0 END) AS BIGINT) AS c99,
       round(CAST(SUM(CASE WHEN ll IN (0, 50, 99) THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS spike_share_6
FROM v GROUP BY o_orderpriority
"""


@register("round_price_spike", oracle=ROUND_SPIKE_SQL, covers=["A2", "P2"])
def q_round_price_spike(spark, sf_dir):
    """Round-number spike screen per order priority: counts of prices
    ending .00 / .50 / .99 and their combined share — the classic
    signature of hand-entered, defaulted or price-point data. One
    narrow projection + one 5-group aggregation; conditional counts
    are map-side combinable.

    Ref semantics: SURVEY §2 A2/P2 (extension X-ROUNDSPIKE)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ll = F.pmod(_cents_col(), F.lit(100))
    v = o.select(F.col("o_orderpriority"), ll.alias("ll"))
    c = lambda cond: F.sum(cond.cast("int"))  # noqa: E731
    return v.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        c(F.col("ll") == 0).cast("long").alias("c00"),
        c(F.col("ll") == 50).cast("long").alias("c50"),
        c(F.col("ll") == 99).cast("long").alias("c99"),
        F.round(
            c(F.col("ll").isin(0, 50, 99)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("spike_share_6"),
    )


# ---------------------------------------------------------------------------
# 5. Duplicate-amount concentration (feed-replay screen).

DUP_AMOUNT_SQL = f"""
WITH amounts AS (
    SELECT {_CENTS} AS cents, COUNT(*) AS c
    FROM orders GROUP BY 1
)
SELECT CAST(SUM(c) AS BIGINT) AS n_orders,
       CAST(COUNT(*) AS BIGINT) AS distinct_amounts,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_amounts,
       CAST(MAX(c) AS BIGINT) AS max_multiplicity,
       CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS rows_in_dups,
       round(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE), 6) AS dup_row_share_6
FROM amounts
"""


@register("duplicate_amount_concentration", oracle=DUP_AMOUNT_SQL, covers=["A2", "O3"])
def q_duplicate_amount_concentration(spark, sf_dir):
    """Duplicate-amount concentration: how much of the feed repeats
    an exact price — distinct amounts, amounts seen more than once,
    the hottest multiplicity and the share of rows inside duplicate
    groups. Feed replays and synthetic fills push dup_row_share
    toward 1. One amount-keyed aggregation (the only data-sized
    grouping in the batch, map-side combinable) + one 1-row rollup.

    Ref semantics: SURVEY §2 A2/O3 (extension X-DUPAMOUNT)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    amounts = (
        o.select(_cents_col().alias("cents"))
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dup_rows = F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
    return amounts.agg(
        F.sum("c").cast("long").alias("n_orders"),
        F.count(F.lit(1)).cast("long").alias("distinct_amounts"),
        F.sum((F.col("c") > 1).cast("int")).cast("long").alias("dup_amounts"),
        F.max("c").cast("long").alias("max_multiplicity"),
        dup_rows.cast("long").alias("rows_in_dups"),
        F.round(
            dup_rows.cast("double") / F.sum("c").cast("double"), 6
        ).alias("dup_row_share_6"),
    )


# ---------------------------------------------------------------------------
# 6. Digit-preference entropy (first digit + cents cells).

DIGIT_ENTROPY_SQL = f"""
WITH v AS (
    SELECT CAST(substr(CAST({_CENTS} AS VARCHAR), 1, 1) AS INT) AS d1,
           {_CENTS} % 100 AS ll
    FROM orders
),
tot AS (SELECT COUNT(*) AS n FROM v),
h1 AS (
    SELECT SUM(t6) AS s6 FROM (
        SELECT CAST(round(round(-(COUNT(*) / CAST(n AS DOUBLE))
                                * ln(COUNT(*) / CAST(n AS DOUBLE)), 6)
                          * 1000000, 0) AS BIGINT) AS t6
        FROM v CROSS JOIN tot GROUP BY d1, n
    )
),
h2 AS (
    SELECT SUM(t6) AS s6 FROM (
        SELECT CAST(round(round(-(COUNT(*) / CAST(n AS DOUBLE))
                                * ln(COUNT(*) / CAST(n AS DOUBLE)), 6)
                          * 1000000, 0) AS BIGINT) AS t6
        FROM v CROSS JOIN tot GROUP BY ll, n
    )
)
SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_orders,
       round(CAST(h1.s6 AS BIGINT) / 1000000.0, 6) AS first_digit_entropy,
       round(CAST(h1.s6 AS BIGINT) / 1000000.0 / 2.197225, 6)
           AS first_digit_efficiency,
       round(CAST(h2.s6 AS BIGINT) / 1000000.0, 6) AS cents_entropy,
       round(CAST(h2.s6 AS BIGINT) / 1000000.0 / 4.605170, 6)
           AS cents_efficiency
FROM h1 CROSS JOIN h2
"""


@register("amount_digit_entropy", oracle=DIGIT_ENTROPY_SQL, covers=["A2"])
def q_amount_digit_entropy(spark, sf_dir):
    """Digit-preference entropy: Shannon entropy (nats) of the
    first-digit and cents-cell distributions, normalized by the
    uniform maxima ln(9)=2.197225 / ln(100)=4.605170 (6-dp literals).
    Low efficiency on the cents cells = strong digit preference.
    Per-cell -p*ln(p) terms round to 6 dp and sum as scaled BIGINTs
    (the char_entropy_filter discipline), so summation order cannot
    change the hash. Two tiny keyed aggregations (9 + 100 groups).

    Ref semantics: SURVEY §2 A2 (extension X-DIGITENTROPY)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cents = _cents_col()
    v = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("d1"),
        F.pmod(cents, F.lit(100)).alias("ll"),
    )
    tot = v.agg(F.count(F.lit(1)).alias("n"))

    def _h(key):
        p = F.col("c").cast("double") / F.col("n").cast("double")
        t6 = F.round(F.round(-p * F.log(p), 6) * 1000000, 0).cast("long")
        cells = (
            v.groupBy(key)
            .agg(F.count(F.lit(1)).alias("c"))
            .crossJoin(F.broadcast(tot))
        )
        return cells.select(t6.alias("t6")).agg(F.sum("t6").alias("s6"))

    h1 = _h("d1").select(F.col("s6").alias("s1"))
    h2 = _h("ll").select(F.col("s6").alias("s2"))
    e1 = F.col("s1") / 1000000.0
    e2 = F.col("s2") / 1000000.0
    return (
        tot.crossJoin(F.broadcast(h1))
        .crossJoin(F.broadcast(h2))
        .select(
            F.col("n").cast("long").alias("n_orders"),
            F.round(e1, 6).alias("first_digit_entropy"),
            F.round(e1 / 2.197225, 6).alias("first_digit_efficiency"),
            F.round(e2, 6).alias("cents_entropy"),
            F.round(e2 / 4.605170, 6).alias("cents_efficiency"),
        )
    )
