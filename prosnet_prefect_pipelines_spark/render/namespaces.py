"""R11: namespace prefix table (create_base_graph,
get_data_apis_vanilla.py:960-1047 declares 20 prefixes on the rdflib
Dataset). The engine carries compact prefixed names in the triples table;
serializers expand them here."""

from __future__ import annotations

from prosnet_prefect_pipelines_spark.render.templates import sql_lit

PREFIXES: dict[str, str] = {
    "crm": "http://www.cidoc-crm.org/cidoc-crm/",
    "bioc": "http://ldf.fi/schema/bioc/",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "geo": "http://www.opengis.net/ont/geosparql#",
    "idmcore": "https://www.intavia.eu/idm-core/",
    "idmrole": "https://www.intavia.eu/idm-role/",
    "idmapis": "https://www.intavia.eu/apis/",
    "pfp": "https://pfp-schema.acdh.oeaw.ac.at/schema#",
    "wdt": "http://www.wikidata.org/prop/direct/",
    "wd": "http://www.wikidata.org/entity/",
    "ex": "https://example.org/schema/",
    "urn:nation": "urn:nation",
    "urn:region": "urn:region",
}


# the prefixes declared in serialized output (urn: pseudo-prefixes are not)
DECLARED: dict[str, str] = {p: uri for p, uri in PREFIXES.items() if not p.startswith("urn:")}


def expand(term: str) -> str:
    """Compact prefixed name -> full URI, as SQL text over the SQL
    expression ``term``; terms that are already full URIs (or have no
    known prefix) pass through unchanged."""
    whens = " ".join(
        f"WHEN startswith({term}, {sql_lit(p + ':')}) "
        f"THEN concat({sql_lit(uri)}, substring({term}, {len(p) + 2}, length({term})))"
        for p, uri in DECLARED.items()
    )
    return f"CASE {whens} ELSE {term} END"
