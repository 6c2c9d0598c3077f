"""R2/R8/R9/R10: place, organization, event, and person-place relation
renderers (SURVEY §2.8), faithful to pfp-prefect-pipelines/
get_data_apis_vanilla.py with quirks preserved:

- render_place (:834-895): place label AND appellation label both @de; the
  APIS identifier's label is the raw integer id (untagged); the WKT space
  primitive reuses ``crm:P168_place_is_defined_by`` from both the place
  and the space-primitive node (quirk), literal typed geo:wktLiteral (F12)
- render_organization (:699-779): begin/end-of-existence events gated on
  ``len(date_written) >= 4``; the time-span is only attached when the
  machine date is also non-null
- render_event (:782-831): the role label is added twice in the reference
  (:797-799 and :808-813) — collapsed by rdflib set semantics, so a single
  template here is observably identical
- render_personplace_relation (:115-162): relation_type 595 -> birth
  place, 596 -> death place, else a generic event node + P7; the unseen
  place worklist is the anti-join feed for the second fetch round (§3.3)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from prosnet_prefect_pipelines_spark.functions import scalar
from prosnet_prefect_pipelines_spark.render.person import APIS_BASE, fstr
from prosnet_prefect_pipelines_spark.render.templates import (
    Template,
    explode_templates,
    node,
    sql_lit,
    with_nodes,
)

E33 = sql_lit("crm:E33_E41_Linguistic_Appellation")
E52 = sql_lit("crm:E52_Time-Span")


def render_place(places: DataFrame) -> DataFrame:
    """places(id, name, sameAs array, lat, lng) -> triples with datatype col.

    Reference: get_data_apis_vanilla.py:834-895.
    """
    places = with_nodes(places, {
        "_plc": node("idmapis:place.", "id"),
        "_app": node("idmapis:placeappellation.", "id"),
        "_ident": node("idmapis:placeidentifier.", "id"),
        "_space": node("idmapis:spaceprimitive.", "id"),
    })
    has_coords = "lat IS NOT NULL AND lng IS NOT NULL"
    ts = [
        Template("_plc", "rdfs:label", "name", lang="de"),
        Template("_plc", "rdf:type", sql_lit("crm:E53_Place")),
        Template("_plc", "crm:P1_is_identified_by", "_app"),
        Template("_app", "rdf:type", E33),
        Template("_app", "rdfs:label", "name", lang="de"),
        Template("_plc", "owl:sameAs", node(f"{APIS_BASE}/entity/", "id")),
        Template("_plc", "crm:P1_is_identified_by", "_ident"),
        # reference typo kept: E_42_Identifier (:871)
        Template("_ident", "rdf:type", sql_lit("crm:E_42_Identifier")),
        Template("_ident", "rdfs:label", "CAST(id AS STRING)"),
        # space primitive (F12 WKT literal, geo:wktLiteral)
        Template("_plc", "crm:P168_place_is_defined_by", "_space", cond=has_coords),
        Template("_space", "rdf:type", sql_lit("crm:E94_Space_Primitive"), cond=has_coords),
        Template(
            "_space",
            "crm:P168_place_is_defined_by",
            scalar.wkt_point_literal("lng", "lat"),
            cond=has_coords,
            datatype="geo:wktLiteral",
        ),
    ]
    scalar_triples = explode_templates(places, ts, include_datatype=True)
    same_triples = explode_templates(
        places.selectExpr("_plc AS plc", "explode(sameAs) AS uri"),
        [Template("plc", "owl:sameAs", "uri")],
        include_datatype=True,
    )
    return scalar_triples.unionByName(same_triples).distinct()


def render_organization(orgs: DataFrame) -> DataFrame:
    """orgs(id, name, sameAs, start/end_date, start/end_date_written).

    Reference: get_data_apis_vanilla.py:699-779.
    """
    orgs = with_nodes(orgs, {
        "_org": node("idmapis:groupproxy.", "id"),
        "_app": node("idmapis:groupappellation.", "id"),
        "_start": node("idmapis:groupstart.", "id"),
        "_start_span": node("idmapis:groupstart.timespan.", "id"),
        "_end": node("idmapis:groupend.", "id"),
        "_end_span": node("idmapis:groupend.timespan.", "id"),
    })
    ts = [
        Template("_org", "rdf:type", sql_lit("crm:E74_Group")),
        Template("_org", "rdf:type", sql_lit("idmcore:Group")),
        Template("_org", "owl:sameAs", node(f"{APIS_BASE}/entity/", "id")),
        Template("_org", "crm:P1_is_identified_by", "_app"),
        Template("_app", "rdfs:label", "name", lang="de"),
        Template("_app", "rdf:type", E33),
    ]
    for kind, ev, span, ev_type, link in [
        ("start", "_start", "_start_span", "crm:E63_Beginning_of_Existence", "crm:P92_brought_into_existence"),
        ("end", "_end", "_end_span", "crm:E64_End_of_Existence", "crm:P93_took_out_of_existence"),
    ]:
        written, date = f"{kind}_date_written", f"{kind}_date"
        gate = f"{written} IS NOT NULL AND length({written}) >= 4"
        # time-span only when the machine date also exists (:729-740)
        dated = f"{gate} AND {date} IS NOT NULL"
        ts += [
            Template(ev, "rdf:type", sql_lit(ev_type), cond=gate),
            Template(ev, link, "_org", cond=gate),
            Template(ev, "crm:P4_has_time-span", span, cond=dated),
            Template(span, "rdf:type", E52, cond=dated),
        ]
        bounds = scalar.time_span_bounds(kind, written, date)
        for pred, literal in bounds.items():
            ts.append(Template(span, pred, literal, cond=f"{dated} AND ({literal}) IS NOT NULL"))
        if kind == "start":
            label = scalar.time_span_label("start_date_written", "end_date_written")
            ts.append(Template(span, "rdfs:label", label, cond=f"{dated} AND ({label}) IS NOT NULL"))
    scalar_triples = explode_templates(orgs, ts)
    same_triples = explode_templates(
        orgs.selectExpr("_org AS org", "explode(sameAs) AS uri"),
        [Template("org", "owl:sameAs", "uri")],
    )
    return scalar_triples.unionByName(same_triples).distinct()


def _event_templates(event_type: str) -> list[Template]:
    """R9 render_event over a relation row (get_data_apis_vanilla.py:782-831).

    Expects columns: id, relation_type (struct), related_person (struct),
    related_place (struct), start/end dates. The duplicate role-label add
    in the reference collapses under set semantics -> one template.
    """
    ev = node(f"idmapis:event.{event_type}.", "id")
    role = node(f"idmapis:{event_type}.eventrole.", "id")
    pers = node("idmapis:personproxy.", "related_person.id")
    roletype = node("idmrole:", "relation_type.id")
    span = node(f"idmapis:{event_type}.timespan.", "id")
    has_start = "start_date IS NOT NULL"
    has_end = f"{has_start} AND end_date IS NOT NULL"
    ts = [
        Template(role, "bioc:inheres_in", pers),
        Template(role, "rdf:type", roletype),
        Template(roletype, "rdfs:subClassOf", sql_lit("bioc:Event_Role")),
        Template(roletype, "rdfs:label", "relation_type.label", lang="de"),
        Template(ev, "bioc:had_participant_in_role", role),
        Template(ev, "rdf:type", sql_lit("crm:E5_Event")),
        Template(role, "rdfs:label", "relation_type.label", lang="de"),
        Template(
            ev,
            "rdfs:label",
            # f-string semantics: NULL renders as 'None' (:823-826)
            f"concat({fstr('related_person.label')}, ' ', {fstr('relation_type.label')}, ' ', "
            f"{fstr('related_place.label')})",
            lang="de",
        ),
        Template(ev, "crm:P4_has_time-span", span, cond=has_start),
        Template(span, "rdf:type", E52, cond=has_start),
    ]
    start = scalar.time_span_bounds("start", "start_date_written", "start_date")
    for pred, literal in start.items():
        ts.append(Template(span, pred, literal, cond=f"{has_start} AND ({literal}) IS NOT NULL"))
    label = scalar.time_span_label("start_date_written", "end_date_written")
    ts.append(Template(span, "rdfs:label", label, cond=f"{has_start} AND ({label}) IS NOT NULL"))
    end = scalar.time_span_bounds("end", "end_date_written", "end_date")
    for pred, literal in end.items():
        ts.append(Template(span, pred, literal, cond=f"{has_end} AND ({literal}) IS NOT NULL"))
    return ts


def render_personplace_relations(rels: DataFrame) -> tuple[DataFrame, DataFrame]:
    """R2: -> (triples, place_worklist).

    relation_type 595 -> birthevent P7, 596 -> deathevent P7, otherwise a
    generic personplace event (R9) + P7. The worklist is the distinct set
    of referenced place ids — the §3.3 second-round anti-join feed.
    Reference: get_data_apis_vanilla.py:115-162.
    """
    rels = rels.localCheckpoint(eager=False)
    place_uri = node("idmapis:place.", "related_place.id")
    generic = "NOT relation_type.id IN (595, 596)"
    p7 = [
        Template(node("idmapis:birthevent.", "related_person.id"),
                 "crm:P7_took_place_at", place_uri, cond="relation_type.id = 595"),
        Template(node("idmapis:deathevent.", "related_person.id"),
                 "crm:P7_took_place_at", place_uri, cond="relation_type.id = 596"),
        Template(node("idmapis:event.personplace.", "id"),
                 "crm:P7_took_place_at", place_uri, cond=generic),
    ]
    triples = (
        explode_templates(rels, p7)
        .unionByName(explode_templates(rels.filter(generic), _event_templates("personplace")))
        .distinct()
    )
    worklist = rels.selectExpr("related_place.id AS place_id").distinct()
    return triples, worklist


FAMILY_RELATIONS = [5870, 5871, 5741, 5414, 5413, 5412, 5411]


def render_personperson_relations(rels: DataFrame) -> tuple[DataFrame, DataFrame]:
    """R3: person-person relations; family vs person predicate chosen by
    relation_type membership in the 7-element family list.

    Reference: get_data_apis_vanilla.py:165-271. The ``relation_type is
    None`` else-branch there (:266-270) is dead code (the dict is always
    present); live semantics: the subclass triples hang off the parent
    when there is one, else off the type itself.
    Returns (triples, personB worklist).
    """
    rels = rels.localCheckpoint(eager=False)
    # a NULL relation type is not a family relation
    is_family = f"coalesce(relation_type.id IN ({', '.join(map(str, FAMILY_RELATIONS))}), false)"
    role_cls = (
        f"CASE WHEN {is_family} THEN 'bioc:Family_Relationship_Role' "
        "ELSE 'bioc:Person_Relationship_Role' END"
    )
    pers_a = node("idmapis:personproxy.", "related_person.id")
    pers_b = node("idmapis:personproxy.", "related_personB.id")
    n_rel = node("idmapis:personrelation.", "id")
    n_reltype = node("idmrelations:", "relation_type.id")
    n_parent = node("idmrelations:", "relation_type.parent_id")
    linked = f"({pers_a}) IS NOT NULL AND ({n_rel}) IS NOT NULL"
    has_parent = "relation_type.parent_id IS NOT NULL"
    ts = [
        Template(pers_a, "bioc:has_family_relation", n_rel, cond=f"{is_family} AND {linked}"),
        Template(pers_a, "bioc:has_person_relation", n_rel, cond=f"NOT {is_family} AND {linked}"),
        Template(n_rel, "rdf:type", n_reltype),
        Template(n_rel, "rdfs:label", "relation_type.label", lang="de"),
        Template(pers_b, "bioc:bearer_of", n_rel),
        Template(n_reltype, "rdfs:subClassOf", n_parent, cond=has_parent),
        Template(n_parent, "rdfs:subClassOf", role_cls, cond=has_parent),
        Template(n_reltype, "rdfs:subClassOf", role_cls, cond="relation_type.parent_id IS NULL"),
    ]
    triples = explode_templates(rels, ts).distinct()
    worklist = rels.selectExpr("related_personB.id AS person_id").distinct()
    return triples, worklist


def render_organizationplace_relations(rels: DataFrame) -> tuple[DataFrame, DataFrame]:
    """R7: org residence triples + place worklist
    (get_data_apis_vanilla.py:677-696)."""
    rels = rels.localCheckpoint(eager=False)
    triples = explode_templates(
        rels,
        [
            Template(
                node("idmapis:groupproxy.", "related_institution.id"),
                "crm:P74_has_current_or_former_residence",
                node("idmapis:place.", "related_place.id"),
            )
        ],
    ).distinct()
    worklist = rels.selectExpr("related_place.id AS place_id").distinct()
    return triples, worklist


def render_personinstitution_relations(
    rels: DataFrame, residence_triples: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """R6: career events (get_data_apis_vanilla.py:352-510) + J8 residence
    propagation.

    Quirks kept: the person-role hierarchy uses ``rdf:type`` (not
    subClassOf) toward the parent role (:433-441); the career time-span
    node is attached when either date exists (:471-479) while its bound
    triples come from whichever dates are present.

    J8 (:481-485): the reference copies whatever P74 residence objects are
    already in the rdflib graph at render time — an order-dependent
    read-your-writes join. Here it is the full deterministic join against
    ``residence_triples`` (R7 output) — a documented strengthening, same
    rationale as the deterministic proxy ids (SURVEY §7).
    Returns (triples, institution worklist).
    """
    rels = rels.localCheckpoint(eager=False)
    rt, parent = "relation_type.id", "relation_type.parent_id"
    pers = node("idmapis:personproxy.", "related_person.id")
    inst = node("idmapis:groupproxy.", "related_institution.id")
    n_rel = node("idmapis:grouprelation.", "id")
    grouprole_t = node("idmapis:grouprole.", rt)
    career = node("idmapis:career.", "id")
    span = node("idmapis:career.timespan.", "id")
    persrole = node("idmapis:personrole.", "id", sql_lit("."), "related_person.id")
    persrole_t = node("idmapis:personrole.", rt)
    grouprole_inst = node("idmapis:grouprole.", "id", sql_lit("."), "related_institution.id")
    has_parent = f"{parent} IS NOT NULL"
    has_start, has_end = "start_date IS NOT NULL", "end_date IS NOT NULL"
    ts = [
        Template(pers, "bioc:has_group_relation", n_rel),
        Template(n_rel, "rdf:type", grouprole_t),
        Template(grouprole_t, "rdfs:subClassOf", node("idmapis:grouprole.", parent),
                 cond=has_parent),
        Template(n_rel, "rdfs:label", "relation_type.label", lang="de"),
        Template(n_rel, "bioc:inheres_in", inst),
        Template(career, "rdf:type", sql_lit("idmcore:Career")),
        Template(sql_lit("idmcore:Career"), "rdfs:subClassOf", sql_lit("crm:E5_Event")),
        Template(
            career, "rdfs:label",
            f"concat({fstr('related_person.label')}, ' ', {fstr('relation_type.label')}, ' ', "
            f"{fstr('related_institution.label')})",
            lang="de",
        ),
        Template(career, "bioc:had_participant_in_role", persrole),
        Template(pers, "bioc:bearer_of", persrole),
        Template(persrole, "rdf:type", persrole_t),
        # quirk: rdf:type (not subClassOf) toward the parent role (:433)
        Template(persrole_t, "rdf:type", node("idmapis:personrole.", parent), cond=has_parent),
        Template(career, "bioc:had_participant_in_role", grouprole_inst),
        Template(grouprole_inst, "rdf:type", sql_lit("bioc:Group_Relationship_Role")),
        Template(grouprole_inst, "bioc:inheres_in", inst),
        Template(career, "crm:P4_has_time-span", span, cond=f"{has_start} OR {has_end}"),
    ]
    for kind, cond in [("start", has_start), ("end", has_end)]:
        bounds = scalar.time_span_bounds(kind, f"{kind}_date_written", f"{kind}_date")
        for pred, literal in bounds.items():
            ts.append(Template(span, pred, literal, cond=f"{cond} AND ({literal}) IS NOT NULL"))
        if kind == "start":
            label = scalar.time_span_label("start_date_written", "end_date_written")
            ts.append(Template(span, "rdfs:label", label, cond=f"{cond} AND ({label}) IS NOT NULL"))
        # E52 typing comes from create_time_span_tripels for each kind
        ts.append(Template(span, "rdf:type", E52, cond=cond))
    triples = explode_templates(rels, ts)
    if residence_triples is not None:
        # J8: copy the institution's residences onto the career as P7
        res = residence_triples.filter(
            "p = 'crm:P74_has_current_or_former_residence'"
        ).selectExpr("s AS _inst", "o AS _plc")
        j8 = (
            rels.selectExpr(f"{career} AS career", f"{inst} AS _inst")
            .join(res, on="_inst")
            .selectExpr(
                "career AS s", "'crm:P7_took_place_at' AS p", "_plc AS o",
                "CAST(NULL AS STRING) AS o_lang",
            )
        )
        triples = triples.unionByName(j8)
    worklist = rels.selectExpr("related_institution.id AS institution_id").distinct()
    return triples.distinct(), worklist


def render_personroles(roles: DataFrame) -> tuple[DataFrame, DataFrame]:
    """R4/R5: role-vocabulary rendering (get_data_apis_vanilla.py:274-349).

    roles(id, label, parent_id) -> (triples, parent worklist):
    - every role gets its rdfs:label @de
    - roles WITHOUT a parent are typed bioc:Actor_Role (:317-319, :347-349)
    - parents not themselves in the batch go to the worklist (the
      reference's glob_list_vocabs second-round fetch, :312-316) — the
      existence probe becomes a left_anti join (J7)
    """
    roles = roles.localCheckpoint(eager=False)
    n_role = node("idmapis:personrole.", "id")
    ts = [
        Template(n_role, "rdfs:label", "label", lang="de"),
        Template(n_role, "rdf:type", sql_lit("bioc:Actor_Role"), cond="parent_id IS NULL"),
    ]
    triples = explode_templates(roles, ts).distinct()
    known = roles.selectExpr("id AS parent_id").distinct()
    worklist = (
        roles.filter("parent_id IS NOT NULL")
        .select("parent_id")
        .distinct()
        .join(known, on="parent_id", how="left_anti")
    )
    return triples, worklist
