"""Scalar transforms F1-F20 (SURVEY §2.7) as native Column expressions.

Each function reproduces the observable semantics of a reference function
(cited per-function) but runs JVM-side inside whole-stage codegen — no
Python UDFs. Inputs the reference would crash on (e.g. ``None``) map to
NULL here; that is the only intended deviation (documented per function).

The helpers the triple templates call (F11 time-span bounds and label,
F12 WKT literal, F19 capitalize, F20 appellation) take and return Spark
SQL expression text, like the templates (render/templates.py); Column
callers wrap the result in ``F.expr``.

Null-vs-absent: the reference consumes dict rows where SPARQL OPTIONAL
variables are *absent* keys; in the DataFrame model an absent binding is a
NULL column value (SURVEY §1 model #1), so ``x is None`` checks and
``"x" in data`` probes both become ``isNull()``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def _EMPTY():
    # lazy: building a Column requires an active SparkContext; keep module
    # importable before any session exists (driver import order is not ours)
    return F.lit("")


def _opt(cond: Column, then: Column) -> Column:
    """Append-if helper: `then` when cond else empty string (never NULL)."""
    return F.when(cond, then).otherwise(_EMPTY())


# --- F1 ----------------------------------------------------------------------
def date_postprocessing(c: Column) -> Column:
    """ISO timestamp -> date part; `http…` unknown-value sentinel -> NULL.

    Reference: prosnet-prefect-pipelines/wikidata_index.py:15-18.
    """
    return F.when(c.startswith("http"), F.lit(None).cast("string")).otherwise(
        F.split(c, "T").getItem(0)
    )


# --- F2 ----------------------------------------------------------------------
def cocatenated_dates_postprocessing(c: Column) -> Column:
    """Split a multi-value date string on whitespace, F1 each, join " / ".

    Reference: wikidata_index.py:21-22 (typo in name kept for parity).
    Deviation: elements mapping to NULL (http sentinels) are dropped; the
    reference raises TypeError on them.
    """
    return F.array_join(
        F.transform(F.split(c, r"\s+"), date_postprocessing), " / "
    )


# --- F3 ----------------------------------------------------------------------
def label_creator_person(
    name: Column,
    date_of_birth: Column,
    date_of_death: Column,
    description: Column,
    dob_bound: Column | None = None,
    dod_bound: Column | None = None,
) -> Column:
    """`name (YYYY - YYYY): description` with every part optional.

    Year = substring before the first ``-`` (reference quirk: breaks on
    negative years — kept). The parens appear when either date *key* was
    present in the bindings row — even if postprocessing (F1's http
    sentinel) nulled the value, matching the reference's ``"x" in data``
    vs ``data["x"] is not None`` distinction (wikidata_index.py:27-35).
    ``dob_bound``/``dod_bound`` carry that presence condition; they default
    to value-not-null.
    """
    if dob_bound is None:
        dob_bound = date_of_birth.isNotNull()
    if dod_bound is None:
        dod_bound = date_of_death.isNotNull()
    year = lambda d: F.split(d, "-").getItem(0)  # noqa: E731
    parens = F.concat(
        F.lit(" ("),
        _opt(date_of_birth.isNotNull(), year(date_of_birth)),
        _opt(date_of_death.isNotNull(), F.concat(F.lit(" - "), year(date_of_death))),
        F.lit(")"),
    )
    return F.concat(
        name,
        _opt(dob_bound | dod_bound, parens),
        _opt(description.isNotNull(), F.concat(F.lit(": "), description)),
    )


# --- F4 ----------------------------------------------------------------------
def label_creator_place(name: Column, country: Column, feature_code: Column) -> Column:
    """`name (country) - feature_code`, each suffix optional.

    Reference: wikidata_index.py:42-50.
    """
    return F.concat(
        name,
        _opt(country.isNotNull(), F.concat(F.lit(" ("), country, F.lit(")"))),
        _opt(feature_code.isNotNull(), F.concat(F.lit(" - "), feature_code)),
    )


# --- F5 ----------------------------------------------------------------------
def label_creator_organization(
    name: Column, inception: Column, dissolvement: Column, description: Column
) -> Column:
    """Organization label with the reference's quirky bracket balancing.

    - inception appended as ``" (" + inception`` only when len > 4
    - dissolvement (len > 4) joined with ``" - "`` if a ``(`` is already in
      the label (including one inside the *name*), else ``"( - "``
    - a lone ``(`` is closed with ``"-)"``
    Reference: wikidata_index.py:53-69 (all quirks observable output).
    """
    has_incep = inception.isNotNull() & (F.length(inception) > 4)
    l1 = F.concat(name, _opt(has_incep, F.concat(F.lit(" ("), inception)))
    has_diss = dissolvement.isNotNull() & (F.length(dissolvement) > 4)
    sep = F.when(F.instr(l1, "(") > 0, F.lit(" - ")).otherwise(F.lit("( - "))
    l2 = F.when(has_diss, F.concat(l1, sep, dissolvement, F.lit(")"))).otherwise(l1)
    l3 = F.when(
        (F.instr(l2, "(") > 0) & (F.instr(l2, ")") == 0), F.concat(l2, F.lit("-)"))
    ).otherwise(l2)
    return F.concat(l3, _opt(description.isNotNull(), F.concat(F.lit(": "), description)))


# --- F6 ----------------------------------------------------------------------
def geopoint_creator(c: Column) -> Column:
    """WKT ``Point(long lat)`` -> ``[lat, long]`` doubles (note the swap).

    Non-Point input -> NULL. Reference: wikidata_index.py:72-76.
    """
    lng = F.regexp_extract(c, r"^Point\((\S+) (\S+)\)$", 1)
    lat = F.regexp_extract(c, r"^Point\((\S+) (\S+)\)$", 2)
    return F.when(
        c.startswith("Point"),
        F.array(lat.cast("double"), lng.cast("double")),
    )


# --- F7 / O6 -------------------------------------------------------------------
FEATURE_CODES_RANK = [
    "PPLC", "PPLCH", "PPLA", "PPLA2", "PPLA3", "PPLA4", "PPL", "PPLF", "PPLG",
    "PPLH", "PPLL", "PPLQ", "PPLR", "PPLS", "PPLW", "PPLX", "STLMT",
    "ADM1", "ADM1H", "ADM2", "ADM2H", "ADM3", "ADM3H", "ADM4", "ADM4H",
    "ADM5", "ADM5H", "ADMD", "ADMDH",
]


def feature_code_postprocessing(c: Column) -> Column:
    """Pick the highest-priority GeoNames code from a space-separated list.

    Semantics (wikidata_index.py:79-126, exactly):
    - tokens starting with P/A are stripped of their ``X.`` class prefix
    - among those, return the one ranked earliest in FEATURE_CODES_RANK;
      if none is in the rank list -> NULL (the reference's ``default=None``
      — it does NOT fall back to the first raw token in that case)
    - only when there are NO P/A tokens at all: first raw token
    - empty input -> NULL
    """
    rank_arr = F.array(*[F.lit(x) for x in FEATURE_CODES_RANK])
    codes = F.split(F.trim(c), r"\s+")
    pa = F.transform(
        F.filter(codes, lambda x: x.startswith("P") | x.startswith("A")),
        lambda x: F.element_at(F.split(x, r"\."), 2),
    )
    positions = F.filter(
        F.transform(pa, lambda x: F.array_position(rank_arr, x)), lambda p: p > 0
    )
    # NB: element_at(arr, NULL) resolves to the LAST element in Spark 4
    # (observed) — guard the no-ranked-code case explicitly.
    best = F.when(
        F.size(positions) > 0, F.element_at(rank_arr, F.array_min(positions).cast("int"))
    )
    return (
        F.when(F.size(pa) > 0, best)
        .when((F.size(codes) > 0) & (F.length(codes.getItem(0)) > 0), codes.getItem(0))
        .otherwise(F.lit(None).cast("string"))
    )


# --- F8 ----------------------------------------------------------------------
def geonames_label(name: Column, country_code: Column, feature_code: Column) -> Column:
    """`{name} ({country_code}) - {feature_code}`.

    Reference: prosnet-prefect-pipelines/geonames_place_index.py:36.
    """
    return F.format_string("%s (%s) - %s", name, country_code, feature_code)


# --- F9 ----------------------------------------------------------------------
def geonames_id_uri(id_col: Column) -> Column:
    """`https://sws.geonames.org/{id}/` (geonames_place_index.py:35)."""
    return F.concat(F.lit("https://sws.geonames.org/"), id_col.cast("string"), F.lit("/"))


# --- F10 / P3 ------------------------------------------------------------------
def wikidata_id_rebuild(uri: Column) -> Column:
    """Last `/`-segment of an entity URI, rebuilt as canonical wikidata URI.

    Reference: wikidata_index.py:199-201.
    """
    return F.concat(
        F.lit("http://www.wikidata.org/entity/"),
        F.element_at(F.split(uri, "/"), -1),
    )


# --- F11 ----------------------------------------------------------------------
def time_span_bounds(kind: str, date_written: str, date_col: str) -> dict[str, str]:
    """CIDOC time-span bound literals for a start/end date, as SQL text
    over the SQL expressions ``date_written`` and ``date_col``.

    Year-only strings (len == 4) expand to the closed year interval; full
    dates get T00:00:00 / T23:59:59 suffixes from the machine date column.
    Returns the predicate->literal mapping this kind emits.
    Reference: pfp-prefect-pipelines/get_data_apis_vanilla.py:32-112.
    """
    is_year = f"length({date_written}) = 4"
    lo = f"concat({date_written}, '-01-01T00:00:00')"
    hi = f"concat({date_written}, '-12-31T23:59:59')"
    if kind == "start":
        return {
            "crm:P82a_begin_of_the_begin":
                f"CASE WHEN {is_year} THEN {lo} ELSE concat({date_col}, 'T00:00:00') END",
            "crm:P81a_end_of_the_begin": f"CASE WHEN {is_year} THEN {hi} END",
        }
    if kind == "end":
        return {
            "crm:P82b_end_of_the_end":
                f"CASE WHEN {is_year} THEN {hi} ELSE concat({date_col}, 'T23:59:59') END",
            "crm:P81b_begin_of_the_end": f"CASE WHEN {is_year} THEN {lo} END",
        }
    raise ValueError(f"kind must be start|end, got {kind!r}")


def time_span_label(start_written: str, end_written: str) -> str:
    """`start[ - end]` label (SQL text); NULL when start is NULL/empty.

    Reference: get_data_apis_vanilla.py:34-41.
    """
    return (
        f"CASE WHEN {start_written} IS NOT NULL AND length({start_written}) > 0 "
        f"THEN concat({start_written}, CASE WHEN {end_written} IS NOT NULL "
        f"AND length({end_written}) > 0 THEN concat(' - ', {end_written}) ELSE '' END) END"
    )


# --- F12 ----------------------------------------------------------------------
def wkt_point_literal(lng: str, lat: str) -> str:
    """`Point ( {+lng} {+lat} )` (SQL text) with explicit + sign for positives.

    Zero gets no sign (reference uses ``> 0``).
    Reference: get_data_apis_vanilla.py:876-891.
    """
    def signed(v: str) -> str:
        return f"CASE WHEN {v} > 0 THEN '+' ELSE '' END, CAST({v} AS STRING)"

    return (
        f"CASE WHEN {lng} IS NOT NULL AND {lat} IS NOT NULL "
        f"THEN concat('Point ( ', {signed(lng)}, ' ', {signed(lat)}, ' )') END"
    )


# --- F19 ----------------------------------------------------------------------
def gender_capitalize(c: str) -> str:
    """`male` -> `Male` (str.capitalize, SQL text; get_data_apis_vanilla.py:630)."""
    return f"concat(upper(substring({c}, 1, 1)), lower(substring({c}, 2, length({c}))))"


# --- F20 ----------------------------------------------------------------------
def name_appellation(name: str, first_name: str) -> str:
    """`"{name or -}, {first_name or -}"` (SQL text; get_data_apis_vanilla.py:546-549)."""
    return f"concat_ws(', ', coalesce({name}, '-'), coalesce({first_name}, '-'))"


# --- Registry (SURVEY §2.11): config strings -> Catalyst expressions ----------
POSTPROCESSORS = {
    "date_postprocessing": date_postprocessing,
    "cocatenated_dates_postprocessing": cocatenated_dates_postprocessing,
    "feature_code_postprocessing": feature_code_postprocessing,
    "geopoint_creator": geopoint_creator,
}

LABEL_CREATORS = {
    "label_creator_person": label_creator_person,
    "label_creator_place": label_creator_place,
    "label_creator_organization": label_creator_organization,
}


def apply_postprocessing(df, postprocessing: dict[str, str]):
    """Apply named postprocessors to columns (wikidata_index.py:194-198).

    ``postprocessing`` maps column name -> registry function name, exactly
    like the reference's prefect.yaml `postprocessing_functions` config.
    """
    for col_name, fn_name in postprocessing.items():
        df = df.withColumn(col_name, POSTPROCESSORS[fn_name](F.col(col_name)))
    return df
