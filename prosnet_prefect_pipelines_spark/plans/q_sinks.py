"""Source/sink-surface queries: K4 N-Triples serialization with R11
prefix expansion, oracle-checked line-for-line."""

from __future__ import annotations

from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.tpch_graph import TRIPLES_CTE, triples_from_tpch
from prosnet_prefect_pipelines_spark.render import namespaces
from prosnet_prefect_pipelines_spark.sources.rdf import triples_to_ntriples, triples_to_turtle_blocks

# the triples view's URI objects (SQL predicate): its other objects are literals
_OBJECT_IS_URI = "o_lang IS NULL AND (startswith(o, 'urn:') OR startswith(o, 'ex:'))"

_EXPAND_SQL = """
CASE WHEN {x} LIKE 'ex:%' THEN 'https://example.org/schema/' || substr({x}, 4)
     WHEN {x} LIKE 'rdf:%' THEN 'http://www.w3.org/1999/02/22-rdf-syntax-ns#' || substr({x}, 5)
     WHEN {x} LIKE 'owl:%' THEN 'http://www.w3.org/2002/07/owl#' || substr({x}, 5)
     WHEN {x} LIKE 'wdt:%' THEN 'http://www.wikidata.org/prop/direct/' || substr({x}, 5)
     WHEN {x} LIKE 'pfp:%' THEN 'https://pfp-schema.acdh.oeaw.ac.at/schema#' || substr({x}, 5)
     ELSE {x} END
"""

NTRIPLES_SQL = f"""
WITH {TRIPLES_CTE}
SELECT '<' || {_EXPAND_SQL.format(x="s")} || '> <' || {_EXPAND_SQL.format(x="p")} || '> '
       || CASE WHEN o_lang IS NULL AND (o LIKE 'urn:%' OR o LIKE 'ex:%')
               THEN '<' || {_EXPAND_SQL.format(x="o")} || '>'
               ELSE '"' || replace(replace(replace(o, '\\', '\\\\'), '"', '\\"'), chr(10), '\\n')
                    || '"'
                    || CASE WHEN o_lang IS NOT NULL THEN '@' || o_lang ELSE '' END
          END || ' .' AS line
FROM triples
"""


@register("ntriples_serialize", oracle=NTRIPLES_SQL, covers=["K4", "R11", "S9", "S10"])
def q_ntriples_serialize(spark, sf_dir):
    """K4: triples -> N-Triples lines with R11 prefix expansion — the RDF
    writer's exact formatting, checked line-for-line (serialize_graph,
    get_data_apis_vanilla.py:1050-1074)."""
    expanded = triples_from_tpch(spark, sf_dir).selectExpr(
        f"{namespaces.expand('s')} AS s",
        f"{namespaces.expand('p')} AS p",
        f"CASE WHEN {_OBJECT_IS_URI} THEN {namespaces.expand('o')} ELSE o END AS o",
        "o_lang",
        f"{_OBJECT_IS_URI} AS _is_uri",
    )
    return triples_to_ntriples(expanded, object_is_uri="_is_uri")


_PNAME_SQL = "regexp_matches({x}, '^[A-Za-z][A-Za-z0-9_-]*:[A-Za-z0-9_.-]+$')"
_KNOWN_SQL = (
    "({x} LIKE 'ex:%' OR {x} LIKE 'rdf:%' OR {x} LIKE 'owl:%' "
    "OR {x} LIKE 'wdt:%' OR {x} LIKE 'pfp:%')"
)


def _term_sql(x: str) -> str:
    """Turtle URI term: bare prefixed name when safe+declared, else <expanded>."""
    return (
        f"CASE WHEN {_PNAME_SQL.format(x=x)} AND {_KNOWN_SQL.format(x=x)} THEN {x} "
        f"ELSE '<' || {_EXPAND_SQL.format(x=x)} || '>' END"
    )


TURTLE_SQL = f"""
WITH {TRIPLES_CTE},
rendered AS (
    SELECT DISTINCT
        {_term_sql('s')} AS subj,
        {_term_sql('p')} || ' ' ||
        CASE WHEN o_lang IS NULL AND (o LIKE 'urn:%' OR o LIKE 'ex:%')
             THEN {_term_sql('o')}
             ELSE '"' || replace(replace(replace(o, '\\', '\\\\'), '"', '\\"'),
                                 chr(10), '\\n') || '"'
                  || CASE WHEN o_lang IS NOT NULL THEN '@' || o_lang ELSE '' END
        END AS po
    FROM triples
)
SELECT subj || ' ' || string_agg(po, ' ;' || chr(10) || '    ' ORDER BY po) || ' .'
           AS block
FROM rendered GROUP BY subj
"""


@register("turtle_serialize", oracle=TURTLE_SQL, covers=["K4", "R11"])
def q_turtle_serialize(spark, sf_dir):
    """K4, reference-default format: subject-grouped Turtle blocks with
    prefixed-name compaction (graph.serialize(format='ttl'),
    get_data_from_apis_instance.py:97-102) — deterministic (p,o) sort per
    block, checked block-for-block."""
    return triples_to_turtle_blocks(triples_from_tpch(spark, sf_dir), object_is_uri=_OBJECT_IS_URI)
