"""Scalar function registry (SURVEY §2.7 / §2.11).

The reference dispatches postprocessors by *name* via
``globals()[function_name](value)`` (prosnet-prefect-pipelines/
wikidata_index.py:194-205) with names arriving as config strings
(prefect.yaml:126-129). Here the registry maps the same names to native
``Column -> Column`` expressions so config stays data and execution stays
inside Catalyst/codegen — no Python UDFs in the hot path. The helpers the
triple templates share (``wkt_point_literal``, ``time_span_bounds``,
``name_appellation``) take and return SQL expression text instead.
"""

from prosnet_prefect_pipelines_spark.functions.scalar import (
    POSTPROCESSORS,
    LABEL_CREATORS,
    apply_postprocessing,
    cocatenated_dates_postprocessing,
    date_postprocessing,
    feature_code_postprocessing,
    geonames_id_uri,
    geonames_label,
    geopoint_creator,
    label_creator_organization,
    label_creator_person,
    label_creator_place,
    wikidata_id_rebuild,
    wkt_point_literal,
    time_span_bounds,
    name_appellation,
)

__all__ = [
    "POSTPROCESSORS",
    "LABEL_CREATORS",
    "apply_postprocessing",
    "cocatenated_dates_postprocessing",
    "date_postprocessing",
    "feature_code_postprocessing",
    "geonames_id_uri",
    "geonames_label",
    "geopoint_creator",
    "label_creator_organization",
    "label_creator_person",
    "label_creator_place",
    "wikidata_id_rebuild",
    "wkt_point_literal",
    "time_span_bounds",
    "name_appellation",
]
