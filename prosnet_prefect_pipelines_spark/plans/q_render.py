"""Rendering queries (SURVEY §2.8): R1 person renderer + R12 inverses,
oracle-checked triple-by-triple against a UNION ALL twin in DuckDB.

APIS-person-shaped entities are derived deterministically from customer
(nested profession/sameAs/text arrays included), rendered to CIDOC triples
via the template-explode machinery, and compared as (s, p, o, o_lang) sets.
"""

from __future__ import annotations

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.render.person import materialize_inverses, render_person

_YEAR = "CAST(1900 + c_custkey % 100 AS STRING)"
_YEAR2 = "CAST(1930 + c_custkey % 100 AS STRING)"
_FULL = f"concat({_YEAR}, '-03-15')"
_FULL2 = f"concat({_YEAR2}, '-06-20')"
_TEXT_URL = "named_struct('url', concat('http://t/', CAST(c_custkey AS STRING), '{}'))"

# the person entity columns, as SQL text over customer's columns
_PERSON_COLS = [
    "c_custkey AS id",
    "CASE WHEN c_custkey % 17 != 0 THEN c_name END AS name",
    "CASE WHEN c_custkey % 3 != 0 THEN concat('First_', CAST(c_custkey AS STRING)) END AS first_name",
    f"CASE WHEN c_custkey % 5 != 0 THEN {_FULL} END AS start_date",
    f"CASE WHEN c_custkey % 5 != 0 THEN CASE WHEN c_custkey % 3 = 0 THEN {_YEAR} ELSE {_FULL} END END"
    " AS start_date_written",
    f"CASE WHEN c_custkey % 7 != 0 THEN {_FULL2} END AS end_date",
    f"CASE WHEN c_custkey % 7 != 0 THEN CASE WHEN c_custkey % 11 = 0 THEN {_YEAR2} ELSE {_FULL2} END END"
    " AS end_date_written",
    "CASE WHEN c_custkey % 16 = 0 THEN '' WHEN c_custkey % 4 != 0 THEN lower(c_mktsegment) END AS gender",
    """array_compact(array(
        CASE WHEN c_custkey % 2 = 0 THEN named_struct(
            'id', c_custkey * 10 + 1,
            'label', concat('prof_', lower(c_mktsegment)),
            'parent_id', CASE WHEN c_custkey % 4 = 0 THEN CAST(900 + c_nationkey AS BIGINT) END) END,
        CASE WHEN c_custkey % 6 = 0 THEN named_struct(
            'id', c_custkey * 10 + 2, 'label', 'prof_x', 'parent_id', CAST(NULL AS BIGINT)) END
    )) AS profession""",
    """array_compact(array(
        concat('http://d-nb.info/gnd/', CAST(c_custkey AS STRING)),
        CASE WHEN c_custkey % 9 = 0 THEN concat('http://viaf.org/', CAST(c_custkey AS STRING)) END
    )) AS sameAs""",
    f"""array_compact(array(
        CASE WHEN c_custkey % 6 = 0 THEN {_TEXT_URL.format('/1')}
             WHEN c_custkey % 13 = 0 THEN {_TEXT_URL.format('/only')} END,
        CASE WHEN c_custkey % 6 = 0 THEN {_TEXT_URL.format('/2')} END
    )) AS `text`""",
]


def persons_from_tpch(spark, sf_dir):
    """APIS person entities (model.APIS_PERSON_SCHEMA) from customer rows.

    Twin of the ``person`` CTE in RENDER_PERSON_SQL — keep in lockstep.
    """
    return spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(*_PERSON_COLS)


# The DuckDB twin renders every template as one UNION ALL branch over the
# same person CTE. Set semantics via final DISTINCT (rdflib Graph).
RENDER_PERSON_SQL = """
WITH person AS (
    SELECT c_custkey AS id,
           CASE WHEN c_custkey % 17 <> 0 THEN c_name END AS name,
           CASE WHEN c_custkey % 3 <> 0 THEN 'First_' || CAST(c_custkey AS VARCHAR) END AS first_name,
           CASE WHEN c_custkey % 5 <> 0
                THEN CAST(1900 + c_custkey % 100 AS VARCHAR) || '-03-15' END AS start_date,
           CASE WHEN c_custkey % 5 <> 0 THEN
                CASE WHEN c_custkey % 3 = 0 THEN CAST(1900 + c_custkey % 100 AS VARCHAR)
                     ELSE CAST(1900 + c_custkey % 100 AS VARCHAR) || '-03-15' END END AS start_date_written,
           CASE WHEN c_custkey % 7 <> 0
                THEN CAST(1930 + c_custkey % 100 AS VARCHAR) || '-06-20' END AS end_date,
           CASE WHEN c_custkey % 7 <> 0 THEN
                CASE WHEN c_custkey % 11 = 0 THEN CAST(1930 + c_custkey % 100 AS VARCHAR)
                     ELSE CAST(1930 + c_custkey % 100 AS VARCHAR) || '-06-20' END END AS end_date_written,
           CASE WHEN c_custkey % 16 = 0 THEN ''
                WHEN c_custkey % 4 <> 0 THEN lower(c_mktsegment) END AS gender,
           c_nationkey, c_mktsegment
    FROM customer
),
p2 AS (
    SELECT *,
           'idmapis:personproxy.' || CAST(id AS VARCHAR) AS pers,
           'idmapis:appellation.label.' || CAST(id AS VARCHAR) AS app,
           coalesce(first_name, 'None') || ' ' || coalesce(name, 'None') AS full_name,
           coalesce(name, '-') || ', ' || coalesce(first_name, '-') AS app_label
    FROM person
),
triples AS (
    SELECT pers AS s, 'rdf:type' AS p, 'crm:E21_Person' AS o, CAST(NULL AS VARCHAR) AS o_lang FROM p2
    UNION ALL SELECT pers, 'rdf:type', 'idmcore:Person_Proxy', NULL FROM p2
    UNION ALL SELECT pers, 'rdfs:label', full_name, 'de' FROM p2
    UNION ALL SELECT pers, 'owl:sameAs', 'https://apis.acdh.oeaw.ac.at/entity/' || CAST(id AS VARCHAR), NULL FROM p2
    UNION ALL SELECT app, 'rdf:type', 'crm:E33_E41_Linguistic_Appellation', NULL FROM p2
    UNION ALL SELECT app, 'rdfs:label', app_label, 'de' FROM p2
    UNION ALL SELECT pers, 'crm:P1_is_identified_by', app, NULL FROM p2
    -- first-name appellation
    UNION ALL SELECT 'idmapis:appellation.first_name.' || CAST(id AS VARCHAR), 'rdf:type',
                     'crm:E33_E41_Linguistic_Appellation', NULL FROM p2 WHERE first_name IS NOT NULL
    UNION ALL SELECT 'idmapis:appellation.first_name.' || CAST(id AS VARCHAR), 'rdfs:label',
                     first_name, 'de' FROM p2 WHERE first_name IS NOT NULL
    UNION ALL SELECT app, 'crm:P148_has_component',
                     'idmapis:appellation.first_name.' || CAST(id AS VARCHAR), NULL FROM p2 WHERE first_name IS NOT NULL
    -- last-name appellation
    UNION ALL SELECT 'idmapis:appellation.last_name.' || CAST(id AS VARCHAR), 'rdf:type',
                     'crm:E33_E41_Linguistic_Appellation', NULL FROM p2 WHERE name IS NOT NULL
    UNION ALL SELECT 'idmapis:appellation.last_name.' || CAST(id AS VARCHAR), 'rdfs:label',
                     name, 'de' FROM p2 WHERE name IS NOT NULL
    UNION ALL SELECT app, 'crm:P148_has_component',
                     'idmapis:appellation.last_name.' || CAST(id AS VARCHAR), NULL FROM p2 WHERE name IS NOT NULL
    -- birth event
    UNION ALL SELECT 'idmapis:born_person.' || CAST(id AS VARCHAR), 'bioc:inheres_in', pers, NULL FROM p2 WHERE start_date IS NOT NULL
    UNION ALL SELECT 'idmapis:born_person.' || CAST(id AS VARCHAR), 'rdf:type', 'idmrole:born_person', NULL FROM p2 WHERE start_date IS NOT NULL
    UNION ALL SELECT 'idmrole:born_person', 'rdfs:subClassOf', 'bioc:Event_Role', NULL FROM p2 WHERE start_date IS NOT NULL
    UNION ALL SELECT 'idmapis:birthevent.' || CAST(id AS VARCHAR), 'bioc:had_participant_in_role',
                     'idmapis:born_person.' || CAST(id AS VARCHAR), NULL FROM p2 WHERE start_date IS NOT NULL
    UNION ALL SELECT 'idmapis:birthevent.' || CAST(id AS VARCHAR), 'rdf:type', 'crm:E67_Birth', NULL FROM p2 WHERE start_date IS NOT NULL
    UNION ALL SELECT 'idmapis:birthevent.' || CAST(id AS VARCHAR), 'rdfs:label',
                     'Birth of ' || full_name, NULL FROM p2 WHERE start_date IS NOT NULL
    UNION ALL SELECT 'idmapis:birthevent.' || CAST(id AS VARCHAR), 'crm:P4_has_time-span',
                     'idmapis:birth.timespan.' || CAST(id AS VARCHAR), NULL FROM p2 WHERE start_date IS NOT NULL
    UNION ALL SELECT 'idmapis:birthevent.' || CAST(id AS VARCHAR), 'crm:P98_brought_into_life', pers, NULL FROM p2 WHERE start_date IS NOT NULL
    UNION ALL SELECT 'idmapis:birth.timespan.' || CAST(id AS VARCHAR), 'rdf:type', 'crm:E52_Time-Span', NULL FROM p2 WHERE start_date IS NOT NULL
    UNION ALL SELECT 'idmapis:birth.timespan.' || CAST(id AS VARCHAR), 'crm:P82a_begin_of_the_begin',
                     CASE WHEN length(start_date_written) = 4 THEN start_date_written || '-01-01T00:00:00'
                          ELSE start_date || 'T00:00:00' END, NULL FROM p2 WHERE start_date IS NOT NULL
    UNION ALL SELECT 'idmapis:birth.timespan.' || CAST(id AS VARCHAR), 'crm:P81a_end_of_the_begin',
                     start_date_written || '-12-31T23:59:59', NULL
              FROM p2 WHERE start_date IS NOT NULL AND length(start_date_written) = 4
    UNION ALL SELECT 'idmapis:birth.timespan.' || CAST(id AS VARCHAR), 'rdfs:label',
                     start_date_written || CASE WHEN end_date_written IS NOT NULL AND length(end_date_written) > 0
                                                THEN ' - ' || end_date_written ELSE '' END, NULL
              FROM p2 WHERE start_date IS NOT NULL AND start_date_written IS NOT NULL AND length(start_date_written) > 0
    -- death event
    UNION ALL SELECT 'idmapis:deceased_person.' || CAST(id AS VARCHAR), 'bioc:inheres_in', pers, NULL FROM p2 WHERE end_date IS NOT NULL
    UNION ALL SELECT 'idmapis:deceased_person.' || CAST(id AS VARCHAR), 'rdf:type', 'idmrole:deceased_person', NULL FROM p2 WHERE end_date IS NOT NULL
    UNION ALL SELECT 'idmrole:deceased_person', 'rdfs:subClassOf', 'bioc:Event_Role', NULL FROM p2 WHERE end_date IS NOT NULL
    UNION ALL SELECT 'idmapis:deathevent.' || CAST(id AS VARCHAR), 'bioc:had_participant_in_role',
                     'idmapis:deceased_person.' || CAST(id AS VARCHAR), NULL FROM p2 WHERE end_date IS NOT NULL
    UNION ALL SELECT 'idmapis:deathevent.' || CAST(id AS VARCHAR), 'rdf:type', 'crm:E69_Death', NULL FROM p2 WHERE end_date IS NOT NULL
    UNION ALL SELECT 'idmapis:deathevent.' || CAST(id AS VARCHAR), 'rdfs:label',
                     'Death of ' || full_name, 'de' FROM p2 WHERE end_date IS NOT NULL
    UNION ALL SELECT 'idmapis:deathevent.' || CAST(id AS VARCHAR), 'crm:P4_has_time-span',
                     'idmapis:death.timespan.' || CAST(id AS VARCHAR), NULL FROM p2 WHERE end_date IS NOT NULL
    UNION ALL SELECT 'idmapis:deathevent.' || CAST(id AS VARCHAR), 'crm:P100_was_death_of', pers, NULL FROM p2 WHERE end_date IS NOT NULL
    UNION ALL SELECT 'idmapis:death.timespan.' || CAST(id AS VARCHAR), 'rdf:type', 'crm:E52_Time-Span', NULL FROM p2 WHERE end_date IS NOT NULL
    UNION ALL SELECT 'idmapis:death.timespan.' || CAST(id AS VARCHAR), 'crm:P82b_end_of_the_end',
                     CASE WHEN length(end_date_written) = 4 THEN end_date_written || '-12-31T23:59:59'
                          ELSE end_date || 'T23:59:59' END, NULL FROM p2 WHERE end_date IS NOT NULL
    UNION ALL SELECT 'idmapis:death.timespan.' || CAST(id AS VARCHAR), 'crm:P81b_begin_of_the_end',
                     end_date_written || '-01-01T00:00:00', NULL
              FROM p2 WHERE end_date IS NOT NULL AND length(end_date_written) = 4
    -- gender
    UNION ALL SELECT pers, 'bioc:has_gender',
                     'bioc:' || upper(substr(gender, 1, 1)) || lower(substr(gender, 2)), NULL
              FROM p2 WHERE gender IS NOT NULL AND length(gender) > 0
    -- bio text links (len(text) > 1 <=> id % 6 = 0)
    UNION ALL SELECT pers, 'idmcore:bio_link', 'idmapis:text.' || CAST(id AS VARCHAR) || '.bio', NULL FROM p2 WHERE id % 6 = 0
    UNION ALL SELECT 'idmapis:text.' || CAST(id AS VARCHAR) || '.bio', 'idmcore:full_bio_link',
                     'http://t/' || CAST(id AS VARCHAR) || '/1', NULL FROM p2 WHERE id % 6 = 0
    UNION ALL SELECT 'idmapis:text.' || CAST(id AS VARCHAR) || '.bio', 'idmcore:short_bio_link',
                     'http://t/' || CAST(id AS VARCHAR) || '/2', NULL FROM p2 WHERE id % 6 = 0
    -- professions: element 1 (id % 2 = 0)
    UNION ALL SELECT pers, 'bioc:has_occupation', 'idmapis:occupation.' || CAST(id * 10 + 1 AS VARCHAR), NULL FROM p2 WHERE id % 2 = 0
    UNION ALL SELECT 'idmapis:occupation.' || CAST(id * 10 + 1 AS VARCHAR), 'rdfs:label',
                     'prof_' || lower(c_mktsegment), 'de' FROM p2 WHERE id % 2 = 0
    UNION ALL SELECT 'idmapis:occupation.' || CAST(id * 10 + 1 AS VARCHAR), 'rdfs:subClassOf',
                     'idmapis:occupation.' || CAST(900 + c_nationkey AS VARCHAR), NULL FROM p2 WHERE id % 2 = 0 AND id % 4 = 0
    UNION ALL SELECT 'idmapis:occupation.' || CAST(id * 10 + 1 AS VARCHAR), 'rdfs:subClassOf',
                     'bioc:Occupation', NULL FROM p2 WHERE id % 2 = 0
    -- professions: element 2 (id % 6 = 0)
    UNION ALL SELECT pers, 'bioc:has_occupation', 'idmapis:occupation.' || CAST(id * 10 + 2 AS VARCHAR), NULL FROM p2 WHERE id % 6 = 0
    UNION ALL SELECT 'idmapis:occupation.' || CAST(id * 10 + 2 AS VARCHAR), 'rdfs:label', 'prof_x', 'de' FROM p2 WHERE id % 6 = 0
    UNION ALL SELECT 'idmapis:occupation.' || CAST(id * 10 + 2 AS VARCHAR), 'rdfs:subClassOf', 'bioc:Occupation', NULL FROM p2 WHERE id % 6 = 0
    -- sameAs list
    UNION ALL SELECT pers, 'owl:sameAs', 'http://d-nb.info/gnd/' || CAST(id AS VARCHAR), NULL FROM p2
    UNION ALL SELECT pers, 'owl:sameAs', 'http://viaf.org/' || CAST(id AS VARCHAR), NULL FROM p2 WHERE id % 9 = 0
)
SELECT DISTINCT s, p, o, o_lang FROM triples
"""


@register("render_person_triples", oracle=RENDER_PERSON_SQL,
          covers=["R1", "F11", "F19", "F20", "P7", "S6"])
def q_render_person(spark, sf_dir):
    """R1: APIS person entities -> CIDOC proxy triples via template explode
    (get_data_apis_vanilla.py:513-674)."""
    return render_person(persons_from_tpch(spark, sf_dir))


INVERSES_SQL = (
    RENDER_PERSON_SQL.replace(
        "SELECT DISTINCT s, p, o, o_lang FROM triples",
        """
SELECT s, p, o, o_lang FROM (SELECT DISTINCT s, p, o, o_lang FROM triples) b
UNION ALL
SELECT o AS s, 'bioc:bearer_of' AS p, s AS o, CAST(NULL AS VARCHAR) AS o_lang
FROM (SELECT DISTINCT s, p, o FROM triples WHERE p = 'bioc:inheres_in') i
""",
    )
)


@register("inverse_materialization", oracle=INVERSES_SQL, covers=["R12"])
def q_inverse_materialization(spark, sf_dir):
    """R12: serialize-time bearer_of inverses for every inheres_in
    (get_data_apis_vanilla.py:1064-1065)."""
    return materialize_inverses(render_person(persons_from_tpch(spark, sf_dir)))
