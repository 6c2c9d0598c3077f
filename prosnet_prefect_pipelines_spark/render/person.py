"""R1 render_person: APIS person JSON entity -> CIDOC-CRM proxy triples.

Faithful Spark re-expression of pfp-prefect-pipelines/
get_data_apis_vanilla.py:513-674, including its quirks:

- the person rdfs:label is an f-string — a NULL first_name/name renders
  literally as ``None`` (``f"{person['first_name']} {person['name']}"``,
  :532)
- the birth-event label carries NO language tag while the death-event
  label is @de (:592 vs :613)
- profession nodes get ``rdfs:subClassOf bioc:Occupation`` in both the
  parent and no-parent branches (:625-630) — effectively unconditional
- the bio text link requires len(text) > 1 (:637)
- duplicate triples collapse (rdflib set semantics) -> final distinct()

Namespace URIs are carried as compact prefixed names ("crm:E21_Person");
sinks expand them via render.namespaces.PREFIXES (R11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from prosnet_prefect_pipelines_spark.functions import scalar
from prosnet_prefect_pipelines_spark.render.templates import (
    Template,
    explode_templates,
    node,
    sql_lit,
    with_nodes,
)

APIS_BASE = "https://apis.acdh.oeaw.ac.at"


def fstr(c: str) -> str:
    """Python f-string null rendering: None -> 'None' (quirk, :532)."""
    return f"coalesce(CAST({c} AS STRING), 'None')"


# node URIs and shared labels, computed once per person (templates.with_nodes)
_NODES = {
    "_pers": node("idmapis:personproxy.", "id"),
    "_app": node("idmapis:appellation.label.", "id"),
    "_app_first": node("idmapis:appellation.first_name.", "id"),
    "_app_last": node("idmapis:appellation.last_name.", "id"),
    "_full_name": f"concat({fstr('first_name')}, ' ', {fstr('name')})",
    "_birth_ev": node("idmapis:birthevent.", "id"),
    "_death_ev": node("idmapis:deathevent.", "id"),
    "_born_role": node("idmapis:born_person.", "id"),
    "_dec_role": node("idmapis:deceased_person.", "id"),
    "_birth_span": node("idmapis:birth.timespan.", "id"),
    "_death_span": node("idmapis:death.timespan.", "id"),
    "_bio": node("idmapis:text.", "id", sql_lit(".bio")),
}


def _person_templates() -> list[Template]:
    """The scalar templates over the _NODES projection."""
    E33 = sql_lit("crm:E33_E41_Linguistic_Appellation")
    ts = [
        Template("_pers", "rdf:type", sql_lit("crm:E21_Person")),
        Template("_pers", "rdf:type", sql_lit("idmcore:Person_Proxy")),
        Template("_pers", "rdfs:label", "_full_name", lang="de"),
        Template("_pers", "owl:sameAs", node(f"{APIS_BASE}/entity/", "id")),
        Template("_app", "rdf:type", E33),
        Template("_app", "rdfs:label", scalar.name_appellation("name", "first_name"), lang="de"),
        Template("_pers", "crm:P1_is_identified_by", "_app"),
    ]
    # component appellations (:553-577)
    has_first, has_name = "first_name IS NOT NULL", "name IS NOT NULL"
    ts += [
        Template("_app_first", "rdf:type", E33, cond=has_first),
        Template("_app_first", "rdfs:label", "first_name", lang="de", cond=has_first),
        Template("_app", "crm:P148_has_component", "_app_first", cond=has_first),
        Template("_app_last", "rdf:type", E33, cond=has_name),
        Template("_app_last", "rdfs:label", "name", lang="de", cond=has_name),
        Template("_app", "crm:P148_has_component", "_app_last", cond=has_name),
    ]

    # birth / death events with time-spans (:578-618; F11 :32-112)
    for kind, event_label, event_type, link_pred, role_name, ev, role, span in [
        ("start", "Birth of ", "crm:E67_Birth", "crm:P98_brought_into_life", "born_person",
         "_birth_ev", "_born_role", "_birth_span"),
        ("end", "Death of ", "crm:E69_Death", "crm:P100_was_death_of", "deceased_person",
         "_death_ev", "_dec_role", "_death_span"),
    ]:
        cond = f"{kind}_date IS NOT NULL"
        role_cls = sql_lit(f"idmrole:{role_name}")
        ts += [
            Template(role, "bioc:inheres_in", "_pers", cond=cond),
            Template(role, "rdf:type", role_cls, cond=cond),
            Template(role_cls, "rdfs:subClassOf", sql_lit("bioc:Event_Role"), cond=cond),
            Template(ev, "bioc:had_participant_in_role", role, cond=cond),
            Template(ev, "rdf:type", sql_lit(event_type), cond=cond),
            # quirk: birth label untagged, death label @de (:592 vs :613)
            Template(ev, "rdfs:label", f"concat({sql_lit(event_label)}, _full_name)",
                     lang=None if kind == "start" else "de", cond=cond),
            Template(ev, "crm:P4_has_time-span", span, cond=cond),
            Template(ev, link_pred, "_pers", cond=cond),
            Template(span, "rdf:type", sql_lit("crm:E52_Time-Span"), cond=cond),
        ]
        bounds = scalar.time_span_bounds(kind, f"{kind}_date_written", f"{kind}_date")
        for pred, literal in bounds.items():
            ts.append(Template(span, pred, literal, cond=f"{cond} AND ({literal}) IS NOT NULL"))
        if kind == "start":
            label = scalar.time_span_label("start_date_written", "end_date_written")
            ts.append(Template(span, "rdfs:label", label, cond=f"{cond} AND ({label}) IS NOT NULL"))

    # gender (:631-633) — None/empty guarded, str.capitalize
    ts.append(
        Template("_pers", "bioc:has_gender",
                 f"concat('bioc:', {scalar.gender_capitalize('gender')})",
                 cond="gender IS NOT NULL AND length(gender) > 0")
    )

    # bio text links (:634-656) — only when more than one text
    has_bio = "size(coalesce(`text`, array())) > 1"
    ts += [
        Template("_pers", "idmcore:bio_link", "_bio", cond=has_bio),
        Template("_bio", "idmcore:full_bio_link", "`text`[0].url", cond=has_bio),
        Template("_bio", "idmcore:short_bio_link", "`text`[1].url", cond=has_bio),
    ]
    return ts


# professions (:619-630) — list explode
_OCCUPATION = node("idmapis:occupation.", "pr.id")
_PROFESSION_TEMPLATES = [
    Template("pers", "bioc:has_occupation", _OCCUPATION),
    Template(_OCCUPATION, "rdfs:label", "pr.label", lang="de"),
    Template(_OCCUPATION, "rdfs:subClassOf", node("idmapis:occupation.", "pr.parent_id"),
             cond="pr.parent_id IS NOT NULL"),
    Template(_OCCUPATION, "rdfs:subClassOf", sql_lit("bioc:Occupation")),
]


def render_person(persons: DataFrame) -> DataFrame:
    """persons: model.APIS_PERSON_SCHEMA columns -> triples (s,p,o,o_lang).

    One narrow pass for scalar templates + two explodes for the
    profession/sameAs list fields, unioned, then distinct.
    """
    persons = with_nodes(persons, _NODES)

    scalar_triples = explode_templates(persons, _person_templates())
    prof_triples = explode_templates(
        persons.selectExpr("_pers AS pers", "explode(profession) AS pr"), _PROFESSION_TEMPLATES
    )
    # sameAs list (:634-635)
    same_triples = explode_templates(
        persons.selectExpr("_pers AS pers", "explode(sameAs) AS uri"),
        [Template("pers", "owl:sameAs", "uri")],
    )
    return scalar_triples.unionByName(prof_triples).unionByName(same_triples).distinct()


def materialize_inverses(triples: DataFrame) -> DataFrame:
    """R12: for every (s, bioc:inheres_in, o) add (o, bioc:bearer_of, s).

    Reference: serialize-time inverse materialization,
    get_data_apis_vanilla.py:1064-1065.
    """
    inv = triples.filter("p = 'bioc:inheres_in'").selectExpr(
        "o AS s", "'bioc:bearer_of' AS p", "s AS o", "CAST(NULL AS STRING) AS o_lang"
    )
    return triples.unionByName(inv)
