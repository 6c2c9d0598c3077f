"""Deterministic RDF-triples view derived from the driver's TPC-H-ish tables.

The reference's relational semantics live in SPARQL over RDF graphs
(SURVEY §2.3); the driver's correctness gate runs on TPC-H-ish parquet.
Bridge: derive a canonical triples table (s, p, o, o_lang) from
nation/region/customer/part **identically** in Spark (this module) and in
DuckDB SQL (``TRIPLES_CTE`` — prefixed onto the oracle queries), so every
graph operator (BGP join, OPTIONAL, property path closure, label-service
join, sameAs components) is checked end-to-end against an oracle.

Content mirrors FIXTURES.md A1:
- entity/type/label triples with mixed `en`/`de` language tags
  (language fallback tests — reference lang filters at
  prosnet-prefect-pipelines/sparql/wikidata-person.sparql:20)
- a `wdt:P279` subclass tree ≥10 levels deep derived from part keys
  (property-path closure, sparql/wikidata-city.sparql:6)
- an `owl:sameAs` graph of chains with deterministic breaks
  (entity resolution, pfp-prefect-pipelines/sparql/
  create_provided_entities_graph_v2.sparql:10-27)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from prosnet_prefect_pipelines_spark.render.templates import explode_structs, node, sql_lit
from prosnet_prefect_pipelines_spark.session import memo_fixture

# DuckDB-side definition. MUST stay semantically identical to
# triples_from_tpch() below; both derive only from the parquet views.
TRIPLES_CTE = """
triples AS (
    SELECT 'urn:nation/' || CAST(n_nationkey AS VARCHAR) AS s,
           'rdf:type' AS p, 'ex:Nation' AS o, CAST(NULL AS VARCHAR) AS o_lang
    FROM nation
    UNION ALL
    SELECT 'urn:nation/' || CAST(n_nationkey AS VARCHAR), 'ex:label', n_name, 'en'
    FROM nation
    UNION ALL
    SELECT 'urn:nation/' || CAST(n_nationkey AS VARCHAR), 'ex:label', 'DE ' || n_name, 'de'
    FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL
    SELECT 'urn:nation/' || CAST(n_nationkey AS VARCHAR), 'ex:inRegion',
           'urn:region/' || CAST(n_regionkey AS VARCHAR), NULL
    FROM nation
    UNION ALL
    SELECT 'urn:region/' || CAST(r_regionkey AS VARCHAR), 'rdf:type', 'ex:Region', NULL
    FROM region
    UNION ALL
    SELECT 'urn:region/' || CAST(r_regionkey AS VARCHAR), 'ex:label', r_name, 'en'
    FROM region
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'rdf:type', 'ex:Person', NULL
    FROM customer
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'ex:label', c_name, NULL
    FROM customer
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'ex:nation',
           'urn:nation/' || CAST(c_nationkey AS VARCHAR), NULL
    FROM customer
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'ex:segment', c_mktsegment, NULL
    FROM customer WHERE c_mktsegment IS NOT NULL
    UNION ALL
    -- subclass tree: every part key points at its integer half (root = 1)
    SELECT 'urn:class/' || CAST(p_partkey AS VARCHAR), 'wdt:P279',
           'urn:class/' || CAST(CAST(FLOOR(p_partkey / 2) AS BIGINT) AS VARCHAR), NULL
    FROM part WHERE p_partkey >= 2
    UNION ALL
    -- sameAs chains: consecutive customers linked, broken at multiples of 10
    -- and where c_acctbal < 0 (deterministic irregular cluster shapes)
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'owl:sameAs',
           'urn:cust/' || CAST(c_custkey - 1 AS VARCHAR), NULL
    FROM customer WHERE c_custkey % 10 <> 1 AND c_acctbal >= 0
    UNION ALL
    -- pre-existing provided-entity proxies for a sparse subset of customers
    SELECT 'urn:proxy/' || CAST(c_custkey AS VARCHAR), 'pfp:proxy_for',
           'urn:cust/' || CAST(c_custkey AS VARCHAR), NULL
    FROM customer WHERE c_custkey % 50 = 0
    UNION ALL
    -- city-index shape: customers typed into the subclass tree (wdt:P31),
    -- with 1-2 GeoNames-style feature codes and a WKT coordinate
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'wdt:P31',
           'urn:class/' || CAST(1 + c_custkey % 1999 AS VARCHAR), NULL
    FROM customer
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'wdt:P2452',
           'P.' || (['PPLC','PPLCH','PPLA','PPLA2','PPLA3','PPLA4','PPL','PPLF','PPLG',
                     'PPLH','PPLL','PPLQ','PPLR','PPLS','PPLW','PPLX','STLMT',
                     'ADM1','ADM1H','ADM2','ADM2H','ADM3','ADM3H','ADM4','ADM4H',
                     'ADM5','ADM5H','ADMD','ADMDH'])[(c_custkey % 29) + 1], NULL
    FROM customer WHERE c_custkey % 3 <> 0
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'wdt:P2452', 'X.UNK', NULL
    FROM customer WHERE c_custkey % 4 = 0
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'wdt:P625',
           'Point(' || CAST(CAST((c_custkey % 360) - 180 + 0.5 AS DOUBLE) AS VARCHAR)
           || ' ' || CAST(CAST((c_custkey % 180) - 90 + 0.25 AS DOUBLE) AS VARCHAR) || ')', NULL
    FROM customer WHERE c_custkey % 6 <> 0
    UNION ALL
    -- organization-index shape over suppliers: org typing, de/en labels,
    -- country link, inception/dissolvement date literals
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'rdf:type', 'ex:Organization', NULL
    FROM supplier
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'wdt:P31',
           'ex:orgtype' || CAST(s_suppkey % 9 AS VARCHAR), NULL
    FROM supplier
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'ex:label', s_name, 'en'
    FROM supplier
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'ex:label', 'DE ' || s_name, 'de'
    FROM supplier WHERE s_suppkey % 3 = 0
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'ex:country',
           'urn:nation/' || CAST(s_nationkey AS VARCHAR), NULL
    FROM supplier
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'wdt:P571',
           CAST(1800 + s_suppkey % 150 AS VARCHAR) || '-01-01T00:00:00Z', NULL
    FROM supplier WHERE s_suppkey % 2 = 0
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'wdt:P571',
           CAST(1810 + s_suppkey % 150 AS VARCHAR) || '-06-15T00:00:00Z', NULL
    FROM supplier WHERE s_suppkey % 10 = 0
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'wdt:P576',
           CAST(1900 + s_suppkey % 120 AS VARCHAR) || '-12-31T00:00:00Z', NULL
    FROM supplier WHERE s_suppkey % 4 = 0
)
"""


# one materialization of the derived triples view per (session, sf): a
# dozen catalog queries read it, and without memoization each re-scans
# the 5 source tables across 20+ union branches. localCheckpoint keeps
# the built rows as blocks — the shared-dimension-view pattern.
def triples_from_tpch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (or reuse) the triples DataFrame; TRIPLES_CTE is the oracle twin."""
    return memo_fixture(
        spark, ("triples", sf_dir),
        lambda: _build_triples(spark, sf_dir).localCheckpoint(eager=False),
    )


def _build_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE scan per source table: each row carries an array of
    conditionally-present (s, p, o, o_lang) template structs which is
    compacted and exploded (the render-module idiom) — at scale this is
    one pass over each fact table instead of one scan per union branch
    (the old shape read customer 9x and supplier 8x)."""
    from prosnet_prefect_pipelines_spark.functions.scalar import FEATURE_CODES_RANK

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")

    def tb(s: str, p: str, o: str, lang: str | None = None, cond: str | None = None) -> str:
        """One template branch (SQL text): a struct, or null when cond is false."""
        st = f"named_struct('s', {s}, 'p', {sql_lit(p)}, 'o', {o}, 'o_lang', {sql_lit(lang)})"
        return st if cond is None else f"CASE WHEN {cond} THEN {st} END"

    nat_s = node("urn:nation/", "n_nationkey")
    reg_s = node("urn:region/", "r_regionkey")
    cust_s = node("urn:cust/", "c_custkey")
    ck = "c_custkey"
    rank_arr = f"array({', '.join(sql_lit(x) for x in FEATURE_CODES_RANK)})"
    sup_s = node("urn:sup/", "s_suppkey")
    sk = "s_suppkey"

    nation_t = explode_structs(nation, [
        tb(nat_s, "rdf:type", sql_lit("ex:Nation")),
        tb(nat_s, "ex:label", "n_name", "en"),
        tb(nat_s, "ex:label", "concat('DE ', n_name)", "de", cond="n_nationkey % 2 = 0"),
        tb(nat_s, "ex:inRegion", node("urn:region/", "n_regionkey")),
    ])
    region_t = explode_structs(region, [
        tb(reg_s, "rdf:type", sql_lit("ex:Region")),
        tb(reg_s, "ex:label", "r_name", "en"),
    ])
    customer_t = explode_structs(customer, [
        tb(cust_s, "rdf:type", sql_lit("ex:Person")),
        tb(cust_s, "ex:label", "c_name"),
        tb(cust_s, "ex:nation", node("urn:nation/", "c_nationkey")),
        tb(cust_s, "ex:segment", "c_mktsegment", cond="c_mktsegment IS NOT NULL"),
        tb(cust_s, "owl:sameAs", node("urn:cust/", f"{ck} - 1"),
           cond=f"{ck} % 10 != 1 AND c_acctbal >= 0"),
        tb(node("urn:proxy/", ck), "pfp:proxy_for", cust_s, cond=f"{ck} % 50 = 0"),
        # city-index shape (wdt:P31 typing, feature codes, WKT coords)
        tb(cust_s, "wdt:P31", node("urn:class/", f"1 + {ck} % 1999")),
        tb(cust_s, "wdt:P2452",
           f"concat('P.', element_at({rank_arr}, CAST({ck} % 29 + 1 AS INT)))",
           cond=f"{ck} % 3 != 0"),
        tb(cust_s, "wdt:P2452", sql_lit("X.UNK"), cond=f"{ck} % 4 = 0"),
        tb(cust_s, "wdt:P625",
           f"concat('Point(', CAST(CAST(({ck} % 360) - 180 + 0.5D AS DOUBLE) AS STRING), ' ', "
           f"CAST(CAST(({ck} % 180) - 90 + 0.25D AS DOUBLE) AS STRING), ')')",
           cond=f"{ck} % 6 != 0"),
    ])
    part_t = part.filter("p_partkey >= 2").selectExpr(
        f"{node('urn:class/', 'p_partkey')} AS s",
        "'wdt:P279' AS p",
        f"{node('urn:class/', 'CAST(floor(p_partkey / 2) AS BIGINT)')} AS o",
        "CAST(NULL AS STRING) AS o_lang",
    )
    # organization-index shape over suppliers
    supplier_t = explode_structs(supplier, [
        tb(sup_s, "rdf:type", sql_lit("ex:Organization")),
        tb(sup_s, "wdt:P31", node("ex:orgtype", f"{sk} % 9")),
        tb(sup_s, "ex:label", "s_name", "en"),
        tb(sup_s, "ex:label", "concat('DE ', s_name)", "de", cond=f"{sk} % 3 = 0"),
        tb(sup_s, "ex:country", node("urn:nation/", "s_nationkey")),
        tb(sup_s, "wdt:P571", f"concat(CAST(1800 + {sk} % 150 AS STRING), '-01-01T00:00:00Z')",
           cond=f"{sk} % 2 = 0"),
        tb(sup_s, "wdt:P571", f"concat(CAST(1810 + {sk} % 150 AS STRING), '-06-15T00:00:00Z')",
           cond=f"{sk} % 10 = 0"),
        tb(sup_s, "wdt:P576", f"concat(CAST(1900 + {sk} % 120 AS STRING), '-12-31T00:00:00Z')",
           cond=f"{sk} % 4 = 0"),
    ])
    out = nation_t
    for p in (region_t, customer_t, part_t, supplier_t):
        out = out.unionByName(p)
    return out
