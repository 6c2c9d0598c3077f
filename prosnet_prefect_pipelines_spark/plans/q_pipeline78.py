"""Pipeline batch 78 (north-star extension): cross-engine function
parity suites — NULL ordering, binary codecs, timezone conversion,
string functions, and date arithmetic.

Each query evaluates a matrix of builtin functions whose semantics two
ANSI engines can silently disagree on (null placement, DST handling,
padding/truncation edge cases, month-end arithmetic) and hash-compares
the results — the per-function contract tests of the engine surface."""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.session import local_frame

# ---------------------------------------------------------------------------
# NULL ordering matrix.

NULLORD_SQL = """
WITH src AS (
    SELECT CASE WHEN n_nationkey % 7 = 0 THEN NULL ELSE n_nationkey END AS k,
           n_name
    FROM nation
)
SELECT 'asc_nulls_first' AS ordering, n_name AS first_name
FROM (SELECT n_name FROM src ORDER BY k ASC NULLS FIRST, n_name LIMIT 1) t
UNION ALL
SELECT 'asc_nulls_last', n_name
FROM (SELECT n_name FROM src ORDER BY k ASC NULLS LAST, n_name LIMIT 1) t
UNION ALL
SELECT 'desc_nulls_first', n_name
FROM (SELECT n_name FROM src ORDER BY k DESC NULLS FIRST, n_name LIMIT 1) t
UNION ALL
SELECT 'desc_nulls_last', n_name
FROM (SELECT n_name FROM src ORDER BY k DESC NULLS LAST, n_name LIMIT 1) t
"""


@register("null_ordering_matrix", oracle=NULLORD_SQL, covers=["O1", "P7"])
def q_null_ordering_matrix(spark, sf_dir):
    """NULL ordering pinned in all four combinations: the head row
    under ASC/DESC x NULLS FIRST/LAST over a key column with planted
    NULLs. Engines DIFFER in their defaults (Spark: NULLS FIRST on
    ASC; DuckDB: NULLS LAST) — explicit clauses are the only portable
    spelling, and this matrix proves all four behave identically when
    spelled out."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    src = nation.select(
        F.when(F.col("n_nationkey") % 7 == 0, None)
        .otherwise(F.col("n_nationkey"))
        .alias("k"),
        "n_name",
    )
    combos = [
        ("asc_nulls_first", [F.col("k").asc_nulls_first(), F.col("n_name")]),
        ("asc_nulls_last", [F.col("k").asc_nulls_last(), F.col("n_name")]),
        ("desc_nulls_first", [F.col("k").desc_nulls_first(), F.col("n_name")]),
        ("desc_nulls_last", [F.col("k").desc_nulls_last(), F.col("n_name")]),
    ]
    parts = [
        src.orderBy(*order)
        .limit(1)
        .select(F.lit(name).alias("ordering"), F.col("n_name").alias("first_name"))
        for name, order in combos
    ]
    out = parts[0]
    for pp in parts[1:]:
        out = out.unionAll(pp)
    return out


# ---------------------------------------------------------------------------
# binary codec round-trip.

BINARY_SQL = """
SELECT n_nationkey,
       to_base64(CAST(n_name AS BLOB)) AS b64,
       CAST(from_base64(to_base64(CAST(n_name AS BLOB))) AS VARCHAR)
           AS roundtrip,
       lower(hex(CAST(n_name AS BLOB))) AS hex_str,
       md5(n_name) AS digest,
       CAST(octet_length(CAST(n_name AS BLOB)) AS BIGINT) AS n_bytes
FROM nation
"""


@register("binary_codec_roundtrip", oracle=BINARY_SQL, covers=["P2", "F15"])
def q_binary_codec_roundtrip(spark, sf_dir):
    """Binary codec parity: base64 encode/decode round-trip, hex
    encoding, md5 digest, and byte length over string payloads — the
    opaque-binary-column toolkit (multimodal columns ride exactly these
    codecs). The round-trip column must equal the source and every
    encoding must match byte-for-byte across engines."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    blob = F.col("n_name").cast("binary")
    return nation.select(
        "n_nationkey",
        F.base64(blob).alias("b64"),
        F.unbase64(F.base64(blob)).cast("string").alias("roundtrip"),
        F.lower(F.hex(blob)).alias("hex_str"),
        F.md5(blob).alias("digest"),
        F.length(blob).cast("long").alias("n_bytes"),
    )


# ---------------------------------------------------------------------------
# timezone conversion matrix (incl. a DST transition).

TZ_SQL = """
WITH src AS (
    SELECT t.s AS label, CAST(t.s AS TIMESTAMP) AS ts
    FROM (VALUES ('2024-01-15 12:00:00'), ('2024-03-10 06:30:00'),
                 ('2024-07-04 00:00:00'), ('2024-11-03 05:30:00')) t(s)
)
SELECT label,
       strftime(ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York',
                '%Y-%m-%d %H:%M:%S') AS new_york,
       strftime(ts AT TIME ZONE 'UTC' AT TIME ZONE 'Europe/Vienna',
                '%Y-%m-%d %H:%M:%S') AS vienna,
       strftime(ts AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Tokyo',
                '%Y-%m-%d %H:%M:%S') AS tokyo
FROM src
"""


@register("timezone_conversion_matrix", oracle=TZ_SQL, covers=["F16", "F1"])
def q_timezone_conversion_matrix(spark, sf_dir):
    """Timezone conversion parity across three IANA zones including
    instants DURING the US DST spring-forward and fall-back windows —
    the wall-clock math both engines must resolve through the same
    tzdb rules (the session is pinned UTC, so the source instants are
    unambiguous). Formatted output pins second-level agreement."""
    rows = [
        ("2024-01-15 12:00:00",),
        ("2024-03-10 06:30:00",),
        ("2024-07-04 00:00:00",),
        ("2024-11-03 05:30:00",),
    ]
    src = local_frame(spark, rows, "label string").select(
        "label", F.to_timestamp("label").alias("ts")
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return src.select(
        "label",
        F.date_format(
            F.from_utc_timestamp("ts", "America/New_York"), fmt
        ).alias("new_york"),
        F.date_format(F.from_utc_timestamp("ts", "Europe/Vienna"), fmt).alias(
            "vienna"
        ),
        F.date_format(F.from_utc_timestamp("ts", "Asia/Tokyo"), fmt).alias(
            "tokyo"
        ),
    )


# ---------------------------------------------------------------------------
# string function matrix.

STRFUNC_SQL = """
SELECT n_nationkey,
       upper(n_name) AS up, lower(n_name) AS lo,
       lpad(n_name, 12, '.') AS lpadded,
       rpad(n_name, 12, '.') AS rpadded,
       reverse(n_name) AS rev,
       replace(n_name, 'A', '@') AS repl,
       translate(n_name, 'AEIOU', '43105') AS transl,
       repeat(substr(n_name, 1, 2), 3) AS rep,
       split_part(n_name, 'A', 1) AS first_part,
       CAST(levenshtein(n_name, 'GERMANY') AS BIGINT) AS lev,
       CAST(strpos(n_name, 'AN') AS BIGINT) AS pos_an
FROM nation
"""


@register("string_func_matrix", oracle=STRFUNC_SQL, covers=["P2", "F19"])
def q_string_func_matrix(spark, sf_dir):
    """String builtin parity matrix: case mapping, both paddings
    (including the truncate-when-longer edge), reverse, replace,
    translate, repeat, split_part, Levenshtein, and 1-based substring
    position — the scalar-function surface ported pipelines leant on
    hardest, proven identical on real data."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n = F.col("n_name")
    return nation.select(
        "n_nationkey",
        F.upper(n).alias("up"),
        F.lower(n).alias("lo"),
        F.lpad(n, 12, ".").alias("lpadded"),
        F.rpad(n, 12, ".").alias("rpadded"),
        F.reverse(n).alias("rev"),
        F.replace(n, F.lit("A"), F.lit("@")).alias("repl"),
        F.translate(n, "AEIOU", "43105").alias("transl"),
        F.repeat(F.substring(n, 1, 2), 3).alias("rep"),
        F.split_part(n, F.lit("A"), F.lit(1)).alias("first_part"),
        F.levenshtein(n, F.lit("GERMANY")).cast("long").alias("lev"),
        F.locate("AN", n).cast("long").alias("pos_an"),
    )


# ---------------------------------------------------------------------------
# date arithmetic matrix.

DATEFUNC_SQL = """
WITH src AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
SELECT strftime(d, '%Y-%m-%d') AS d,
       strftime(d + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
       strftime(d + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus_2mo,
       strftime(last_day(d), '%Y-%m-%d') AS month_end,
       CAST(date_diff('day', DATE '1995-01-01', d) AS BIGINT) AS days_since_95,
       CAST(EXTRACT(quarter FROM d) AS BIGINT) AS q,
       CAST(EXTRACT(day FROM d) AS BIGINT) AS dom
FROM src
"""


@register("date_func_matrix", oracle=DATEFUNC_SQL, covers=["F1", "F16"])
def q_date_func_matrix(spark, sf_dir):
    """Date arithmetic parity matrix over every distinct order date:
    day addition, calendar-month addition (the month-end clamping
    rule), last_day, exact day differences, quarter and day-of-month
    extraction — the date algebra both engines must agree on for any
    temporal rollup to be portable."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src = orders.select(F.to_date("o_orderdate").alias("d")).distinct()
    fmt = "yyyy-MM-dd"
    return src.select(
        F.date_format("d", fmt).alias("d"),
        F.date_format(F.date_add("d", 30), fmt).alias("plus_30d"),
        F.date_format(F.add_months("d", 2), fmt).alias("plus_2mo"),
        F.date_format(F.last_day("d"), fmt).alias("month_end"),
        F.datediff("d", F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
        F.quarter("d").cast("long").alias("q"),
        F.dayofmonth("d").cast("long").alias("dom"),
    )
