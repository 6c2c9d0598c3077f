"""Scalar-function queries (SURVEY §2.7): F1-F21 checked against SQL twins.

Inputs are derived deterministically from the TPC-H tables in-query (both
engines build identical strings), then the registry expression under test
is applied. See tests/test_scalar_vs_reference.py for the property tests
against the reference's literal Python.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.functions import scalar
from prosnet_prefect_pipelines_spark.plans.catalog import register

# --- F1/F2: date postprocessing ---------------------------------------------------

SCALAR_DATES_SQL = """
WITH inputs AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 13 = 0
                THEN 'http://www.wikidata.org/.well-known/genid/' || CAST(o_orderkey AS VARCHAR)
                ELSE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') END AS dt,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') || ' '
               || strftime(o_orderdate + INTERVAL 400 DAY, '%Y-%m-%dT%H:%M:%SZ') AS multi
    FROM orders
)
SELECT o_orderkey,
       CASE WHEN dt LIKE 'http%' THEN NULL ELSE split_part(dt, 'T', 1) END AS date_clean,
       array_to_string(
           list_transform(string_split_regex(multi, '\\s+'),
                          x -> CASE WHEN x LIKE 'http%' THEN NULL ELSE split_part(x, 'T', 1) END),
           ' / ') AS dates_joined
FROM inputs
"""


@register("scalar_dates", oracle=SCALAR_DATES_SQL, covers=["F1", "F2", "P4"])
def q_scalar_dates(spark, sf_dir):
    """F1 date_postprocessing (http sentinel -> NULL) + F2 concatenated
    multi-value dates (wikidata_index.py:15-22)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    iso = F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    iso2 = F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 400 DAYS"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    inputs = orders.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 13 == 0,
            F.concat(F.lit("http://www.wikidata.org/.well-known/genid/"), F.col("o_orderkey").cast("string")),
        ).otherwise(iso).alias("dt"),
        F.concat(iso, F.lit(" "), iso2).alias("multi"),
    )
    return inputs.select(
        "o_orderkey",
        scalar.date_postprocessing(F.col("dt")).alias("date_clean"),
        scalar.cocatenated_dates_postprocessing(F.col("multi")).alias("dates_joined"),
    )


# --- F4: place labels ---------------------------------------------------------------

LABEL_PLACE_SQL = """
WITH inputs AS (
    SELECT n_nationkey, n_name AS name,
           CASE WHEN n_nationkey % 3 <> 0 THEN 'REGION_' || CAST(n_regionkey AS VARCHAR) END AS country,
           CASE WHEN n_nationkey % 4 <> 0 THEN 'PPL' END AS feature_code
    FROM nation
)
SELECT n_nationkey,
       name
       || CASE WHEN country IS NOT NULL THEN ' (' || country || ')' ELSE '' END
       || CASE WHEN feature_code IS NOT NULL THEN ' - ' || feature_code ELSE '' END AS label
FROM inputs
"""


@register("label_place", oracle=LABEL_PLACE_SQL, covers=["F4", "P5", "P7"])
def q_label_place(spark, sf_dir):
    """F4 label_creator_place over nullable country/feature_code
    (wikidata_index.py:42-50)."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    inputs = nation.select(
        "n_nationkey",
        F.col("n_name").alias("name"),
        F.when(F.col("n_nationkey") % 3 != 0,
               F.concat(F.lit("REGION_"), F.col("n_regionkey").cast("string"))).alias("country"),
        F.when(F.col("n_nationkey") % 4 != 0, F.lit("PPL")).alias("feature_code"),
    )
    return inputs.select(
        "n_nationkey",
        scalar.label_creator_place(F.col("name"), F.col("country"), F.col("feature_code")).alias("label"),
    )


# --- F5: organization labels (bracket-balancing quirks) -------------------------------

LABEL_ORG_SQL = """
WITH inputs AS (
    SELECT s_suppkey,
           CASE WHEN s_suppkey % 6 = 0 THEN s_name || ' (est.' ELSE s_name END AS name,
           CASE WHEN s_suppkey % 2 = 0 THEN '19' || CAST(50 + s_suppkey % 50 AS VARCHAR) || '-01-01'
                WHEN s_suppkey % 3 = 0 THEN '1950' END AS inception,
           CASE WHEN s_suppkey % 4 = 0 THEN '20' || CAST(s_suppkey % 24 AS VARCHAR) || '-12-31'
                WHEN s_suppkey % 5 = 0 THEN '2001' END AS dissolvement,
           CASE WHEN s_suppkey % 7 <> 0 THEN 'supplier org' END AS description
    FROM supplier
),
step1 AS (
    SELECT s_suppkey, description, inception, dissolvement,
           name || CASE WHEN inception IS NOT NULL AND length(inception) > 4
                        THEN ' (' || inception ELSE '' END AS l1
    FROM inputs
),
step2 AS (
    SELECT s_suppkey, description,
           CASE WHEN dissolvement IS NOT NULL AND length(dissolvement) > 4
                THEN l1 || CASE WHEN contains(l1, '(') THEN ' - ' ELSE '( - ' END
                        || dissolvement || ')'
                ELSE l1 END AS l2
    FROM step1
),
step3 AS (
    SELECT s_suppkey, description,
           CASE WHEN contains(l2, '(') AND NOT contains(l2, ')') THEN l2 || '-)' ELSE l2 END AS l3
    FROM step2
)
SELECT s_suppkey,
       l3 || CASE WHEN description IS NOT NULL THEN ': ' || description ELSE '' END AS label
FROM step3
"""


@register("label_org", oracle=LABEL_ORG_SQL, covers=["F5", "P5"])
def q_label_org(spark, sf_dir):
    """F5 label_creator_organization — len>4 gates, `( - ` separator when no
    paren yet (including parens inside the *name*), `-)` balancing
    (wikidata_index.py:53-69)."""
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    k = F.col("s_suppkey")
    inputs = supplier.select(
        "s_suppkey",
        F.when(k % 6 == 0, F.concat(F.col("s_name"), F.lit(" (est."))).otherwise(F.col("s_name")).alias("name"),
        F.when(k % 2 == 0, F.concat(F.lit("19"), (F.lit(50) + k % 50).cast("string"), F.lit("-01-01")))
        .when(k % 3 == 0, F.lit("1950")).alias("inception"),
        F.when(k % 4 == 0, F.concat(F.lit("20"), (k % 24).cast("string"), F.lit("-12-31")))
        .when(k % 5 == 0, F.lit("2001")).alias("dissolvement"),
        F.when(k % 7 != 0, F.lit("supplier org")).alias("description"),
    )
    return inputs.select(
        "s_suppkey",
        scalar.label_creator_organization(
            F.col("name"), F.col("inception"), F.col("dissolvement"), F.col("description")
        ).alias("label"),
    )


# --- F6/F12: WKT geopoints -------------------------------------------------------------

GEOPOINT_SQL = """
WITH inputs AS (
    SELECT s_suppkey,
           CAST((s_suppkey % 360) - 180 + 0.5 AS DOUBLE) AS lng,
           CAST((s_suppkey % 180) - 90 + 0.25 AS DOUBLE) AS lat
    FROM supplier
),
wkt AS (
    SELECT s_suppkey, lng, lat,
           CASE WHEN s_suppkey % 9 = 0 THEN 'http://unknown'
                ELSE 'Point(' || CAST(lng AS VARCHAR) || ' ' || CAST(lat AS VARCHAR) || ')' END AS compact
    FROM inputs
)
SELECT s_suppkey,
       -- [lat, lng] emitted as two scalar doubles: list-typed output columns
       -- break the harness canonicalizer's sort (unhashable), so the query
       -- surface stays scalar and the array shape is covered in pytest
       CASE WHEN compact LIKE 'Point%'
            THEN CAST(regexp_extract(compact, 'Point\\((\\S+) (\\S+)\\)', 2) AS DOUBLE)
       END AS geopoint_lat,
       CASE WHEN compact LIKE 'Point%'
            THEN CAST(regexp_extract(compact, 'Point\\((\\S+) (\\S+)\\)', 1) AS DOUBLE)
       END AS geopoint_lng,
       'Point ( ' || CASE WHEN lng > 0 THEN '+' ELSE '' END || CAST(lng AS VARCHAR)
       || ' ' || CASE WHEN lat > 0 THEN '+' ELSE '' END || CAST(lat AS VARCHAR) || ' )' AS wkt_literal
FROM wkt
"""


@register("geopoint_wkt", oracle=GEOPOINT_SQL, covers=["F6", "F12", "P2"])
def q_geopoint_wkt(spark, sf_dir):
    """F6 geopoint parse ([lat, lng] swap, non-Point -> NULL) + F12 WKT
    literal build with explicit + signs (wikidata_index.py:72-76,
    get_data_apis_vanilla.py:876-891)."""
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    k = F.col("s_suppkey")
    inputs = supplier.select(
        "s_suppkey",
        ((k % 360) - 180 + 0.5).cast("double").alias("lng"),
        ((k % 180) - 90 + 0.25).cast("double").alias("lat"),
    )
    wkt = inputs.withColumn(
        "compact",
        F.when(k % 9 == 0, F.lit("http://unknown")).otherwise(
            F.concat(F.lit("Point("), F.col("lng").cast("string"), F.lit(" "),
                     F.col("lat").cast("string"), F.lit(")"))
        ),
    )
    gp = scalar.geopoint_creator(F.col("compact"))
    return wkt.select(
        "s_suppkey",
        F.element_at(gp, 1).alias("geopoint_lat"),
        F.element_at(gp, 2).alias("geopoint_lng"),
        F.expr(scalar.wkt_point_literal("lng", "lat")).alias("wkt_literal"),
    )


# --- F7/O6: feature-code priority ranking ------------------------------------------------

_RANK_SQL_LIST = "[" + ", ".join(f"'{c}'" for c in scalar.FEATURE_CODES_RANK) + "]"

FEATURE_CODE_SQL = f"""
WITH rank_list AS (SELECT {_RANK_SQL_LIST} AS r),
inputs AS (
    SELECT p_partkey,
           CASE WHEN p_partkey % 7 = 0 THEN 'P.ZZZ9 A.QQQ1'
                WHEN p_partkey % 11 = 0 THEN 'FOO BAR'
                ELSE 'P.' || r[(p_partkey % 29) + 1] || ' A.' || r[(p_size % 29) + 1]
                     || CASE WHEN p_partkey % 5 = 0 THEN ' X.EXTRA' ELSE '' END
           END AS feature_code
    FROM part, rank_list
),
parsed AS (
    SELECT p_partkey, feature_code, r,
           list_transform(
               list_filter(string_split_regex(trim(feature_code), '\\s+'),
                           x -> x LIKE 'P%' OR x LIKE 'A%'),
               x -> string_split(x, '.')[2]) AS pa,
           string_split_regex(trim(feature_code), '\\s+') AS codes
    FROM inputs, rank_list
)
SELECT p_partkey,
       CASE WHEN len(pa) > 0
            THEN r[list_min(list_filter(list_transform(pa, x -> list_position(r, x)), p -> p > 0))]
            WHEN len(codes) > 0 AND length(codes[1]) > 0 THEN codes[1]
       END AS best_code
FROM parsed
"""


@register("feature_code_rank", oracle=FEATURE_CODE_SQL, covers=["F7", "O6"])
def q_feature_code_rank(spark, sf_dir):
    """F7/O6 min-by-priority-rank over space-separated codes, with the
    reference's default=None quirk for unranked P/A codes
    (wikidata_index.py:79-126)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    k = F.col("p_partkey")
    rank_arr = F.array(*[F.lit(x) for x in scalar.FEATURE_CODES_RANK])
    inputs = part.select(
        "p_partkey",
        F.when(k % 7 == 0, F.lit("P.ZZZ9 A.QQQ1"))
        .when(k % 11 == 0, F.lit("FOO BAR"))
        .otherwise(
            F.concat(
                F.lit("P."), F.element_at(rank_arr, (k % 29 + 1).cast("int")),
                F.lit(" A."), F.element_at(rank_arr, (F.col("p_size") % 29 + 1).cast("int")),
                F.when(k % 5 == 0, F.lit(" X.EXTRA")).otherwise(F.lit("")),
            )
        ).alias("feature_code"),
    )
    return inputs.select(
        "p_partkey",
        scalar.feature_code_postprocessing(F.col("feature_code")).alias("best_code"),
    )


# --- F11: time-span expansion ---------------------------------------------------------

TIMESPAN_SQL = """
WITH inputs AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y')
                ELSE strftime(o_orderdate, '%Y-%m-%d') END AS start_date_written,
           strftime(o_orderdate, '%Y-%m-%d') AS start_date,
           CASE WHEN o_orderkey % 2 = 0 THEN
               CASE WHEN o_orderkey % 5 = 0 THEN strftime(o_orderdate + INTERVAL 300 DAY, '%Y')
                    ELSE strftime(o_orderdate + INTERVAL 300 DAY, '%Y-%m-%d') END
           END AS end_date_written,
           strftime(o_orderdate + INTERVAL 300 DAY, '%Y-%m-%d') AS end_date
    FROM orders
)
SELECT o_orderkey,
       CASE WHEN length(start_date_written) = 4
            THEN start_date_written || '-01-01T00:00:00'
            ELSE start_date || 'T00:00:00' END AS begin_of_begin,
       CASE WHEN length(start_date_written) = 4
            THEN start_date_written || '-12-31T23:59:59' END AS end_of_begin,
       CASE WHEN end_date_written IS NULL THEN NULL
            WHEN length(end_date_written) = 4
            THEN end_date_written || '-12-31T23:59:59'
            ELSE end_date || 'T23:59:59' END AS end_of_end,
       CASE WHEN end_date_written IS NOT NULL AND length(end_date_written) = 4
            THEN end_date_written || '-01-01T00:00:00' END AS begin_of_end,
       CASE WHEN start_date_written IS NOT NULL AND length(start_date_written) > 0
            THEN start_date_written ||
                 CASE WHEN end_date_written IS NOT NULL AND length(end_date_written) > 0
                      THEN ' - ' || end_date_written ELSE '' END
       END AS span_label
FROM inputs
"""


@register("timespan_expand", oracle=TIMESPAN_SQL, covers=["F11"])
def q_timespan_expand(spark, sf_dir):
    """F11 CIDOC time-span bounds: year-only strings expand to the closed
    year interval; full dates get day-boundary suffixes
    (get_data_apis_vanilla.py:32-112)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    end_ts = F.col("o_orderdate") + F.expr("INTERVAL 300 DAYS")
    inputs = orders.select(
        "o_orderkey",
        F.when(k % 3 == 0, F.date_format("o_orderdate", "yyyy"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("start_date_written"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("start_date"),
        F.when(k % 2 == 0,
               F.when(k % 5 == 0, F.date_format(end_ts, "yyyy"))
               .otherwise(F.date_format(end_ts, "yyyy-MM-dd"))).alias("end_date_written"),
        F.date_format(end_ts, "yyyy-MM-dd").alias("end_date"),
    )
    start = scalar.time_span_bounds("start", "start_date_written", "start_date")
    end = scalar.time_span_bounds("end", "end_date_written", "end_date")
    return inputs.select(
        "o_orderkey",
        F.expr(start["crm:P82a_begin_of_the_begin"]).alias("begin_of_begin"),
        F.expr(start["crm:P81a_end_of_the_begin"]).alias("end_of_begin"),
        F.when(F.col("end_date_written").isNotNull(), F.expr(end["crm:P82b_end_of_the_end"]))
        .alias("end_of_end"),
        F.expr(end["crm:P81b_begin_of_the_end"]).alias("begin_of_end"),
        F.expr(scalar.time_span_label("start_date_written", "end_date_written")).alias("span_label"),
    )


# --- F8/F9/F19/F20: string formatting family ---------------------------------------------

STRING_FORMAT_SQL = """
SELECT c_custkey,
       printf('%s (%s) - %s', c_name, 'N' || CAST(c_nationkey AS VARCHAR), c_mktsegment) AS geo_label,
       'https://sws.geonames.org/' || CAST(c_custkey AS VARCHAR) || '/' AS geo_uri,
       upper(substr(lower(c_mktsegment), 1, 1)) || substr(lower(c_mktsegment), 2) AS gender_cap,
       coalesce(CASE WHEN c_custkey % 5 <> 0 THEN c_name END, '-') || ', ' ||
       coalesce(CASE WHEN c_custkey % 3 <> 0 THEN 'First_' || CAST(c_custkey AS VARCHAR) END, '-')
           AS appellation
FROM customer
"""


@register("string_format", oracle=STRING_FORMAT_SQL, covers=["F8", "F9", "F19", "F20", "P2"])
def q_string_format(spark, sf_dir):
    """F8 GeoNames label, F9 id URI, F19 capitalize, F20 `name, first_name`
    appellation (geonames_place_index.py:35-36,
    get_data_apis_vanilla.py:630,546-549)."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    return customer.select(
        "c_custkey",
        scalar.geonames_label(
            F.col("c_name"), F.concat(F.lit("N"), F.col("c_nationkey").cast("string")), F.col("c_mktsegment")
        ).alias("geo_label"),
        scalar.geonames_id_uri(k).alias("geo_uri"),
        F.expr(scalar.gender_capitalize("lower(c_mktsegment)")).alias("gender_cap"),
        F.expr(scalar.name_appellation(
            "CASE WHEN c_custkey % 5 != 0 THEN c_name END",
            "CASE WHEN c_custkey % 3 != 0 THEN concat('First_', CAST(c_custkey AS STRING)) END",
        )).alias("appellation"),
    )


# --- F21: JSON path probing ------------------------------------------------------------

JSON_PROBE_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
FROM events
"""


@register("json_probe", oracle=JSON_PROBE_SQL, covers=["F21"])
def q_json_probe(spark, sf_dir):
    """F21 swagger/JSON path probing, in-engine variant: get_json_object
    (get_data_from_apis_instance.py:144-173 analog)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )
