"""S9/S10 + K4: N-Triples/N-Quads text <-> triples DataFrame.

The reference loads whole ttl directories into a pyoxigraph Store
(enrich_via_sparql.py:12-46), unions page chunks into one rdflib Graph
(get_data_from_apis_instance.py:78-94), and serializes with
``graph.serialize`` (:97-102, get_data_apis_vanilla.py:1050-1074).

Engine shape: line-based N-Triples — ``spark.read.text`` is splittable,
the grammar is per-line regular, parse/serialize are pure Column
expressions (no Python in the loop). Turtle prettification, like the
reference's, is a presentation concern at the driver edge.

Named graphs (S10): a constant ``g`` column per chunk source
(``lit(named_graph_uri)``) — the rdflib Dataset context at
get_data_from_apis_instance.py:84-88.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.render import namespaces
from prosnet_prefect_pipelines_spark.render.templates import sql_lit

# N-Triples line: <s> <p> (<uri> | "literal"(@lang|^^<dt>)?) .
_NT_PATTERN = (
    r'^<([^>]*)> <([^>]*)> (?:<([^>]*)>|"((?:[^"\\]|\\.)*)"'
    r"(?:@([a-zA-Z-]+)|\^\^<([^>]*)>)?) \.$"
)


def _escape(x: str) -> str:
    """N-Triples string escaping of the SQL expression ``x`` (SQL text)."""
    for pattern, repl in ((r"\\", r"\\\\"), ('"', r'\\"'), ("\n", r"\\n")):
        x = f"regexp_replace({x}, {sql_lit(pattern)}, {sql_lit(repl)})"
    return x


def _o_datatype(triples: DataFrame) -> str:
    # typed literals carry ^^datatype (mutually exclusive with @lang per
    # the RDF spec); frames without the column serialize as plain/tagged
    return "o_datatype" if "o_datatype" in triples.columns else "CAST(NULL AS STRING)"


def _object_looks_like_uri(o_datatype: str) -> str:
    return (
        f"o_lang IS NULL AND {o_datatype} IS NULL AND (startswith(o, 'http') "
        "OR startswith(o, 'urn:') OR contains(o, ':') AND NOT contains(o, ' '))"
    )


def _literal(o_datatype: str, datatype_term: str) -> str:
    """Quoted, escaped ``o`` with its @lang or ^^``datatype_term`` suffix."""
    return (
        f"""concat('"', {_escape('o')}, '"', CASE WHEN o_lang IS NOT NULL THEN concat('@', o_lang) """
        f"WHEN {o_datatype} IS NOT NULL THEN concat('^^', {datatype_term}) ELSE '' END)"
    )


def _unescape(c):
    # escaped backslashes first (via sentinel) so the remaining \n / \"
    # sequences are genuine escapes — order matters for inputs like `a\"b`
    c = F.regexp_replace(c, r"\\\\", "\x00")
    c = F.regexp_replace(c, r"\\n", "\n")
    c = F.regexp_replace(c, r'\\"', '"')
    return F.regexp_replace(c, "\x00", r"\\")


def triples_to_ntriples(triples: DataFrame, object_is_uri: str | None = None) -> DataFrame:
    """-> one-column DF of N-Triples ``line``s (K4).

    ``object_is_uri``: SQL predicate deciding URI vs literal objects;
    defaults to o_datatype/o_lang being NULL and o looking like a URI/node.
    """
    o_datatype = _o_datatype(triples)
    if object_is_uri is None:
        object_is_uri = _object_looks_like_uri(o_datatype)
    literal = _literal(o_datatype, f"concat('<', {o_datatype}, '>')")
    obj = f"CASE WHEN {object_is_uri} THEN concat('<', o, '>') ELSE {literal} END"
    return triples.selectExpr(f"concat('<', s, '> <', p, '> ', {obj}, ' .') AS line")


def ntriples_to_triples(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse N-Triples lines -> (s, p, o, o_lang, o_datatype); malformed or
    comment lines are dropped (the reference delegates strictness to
    rdflib; we keep the scan resilient)."""
    c = F.col(line_col)
    parsed = lines.select(
        F.regexp_extract(c, _NT_PATTERN, 1).alias("s"),
        F.regexp_extract(c, _NT_PATTERN, 2).alias("p"),
        F.regexp_extract(c, _NT_PATTERN, 3).alias("o_uri"),
        F.regexp_extract(c, _NT_PATTERN, 4).alias("o_lit"),
        F.regexp_extract(c, _NT_PATTERN, 5).alias("o_lang"),
        F.regexp_extract(c, _NT_PATTERN, 6).alias("o_datatype"),
    ).filter(F.col("s") != "")
    return parsed.select(
        "s",
        "p",
        F.when(F.col("o_uri") != "", F.col("o_uri")).otherwise(_unescape(F.col("o_lit"))).alias("o"),
        F.when(F.col("o_lang") != "", F.col("o_lang")).alias("o_lang"),
        F.when(F.col("o_datatype") != "", F.col("o_datatype")).alias("o_datatype"),
    )


def read_rdf_directory(spark: SparkSession, path: str, named_graph: str | None = None) -> DataFrame:
    """S9: load every .nt file under ``path`` into one triples DF; S10:
    optional constant named-graph column."""
    lines = spark.read.text(f"{path}")
    triples = ntriples_to_triples(lines.withColumnRenamed("value", "line"))
    return triples.withColumn("g", F.lit(named_graph))


def write_ntriples(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K4 sink: distributed text write (one shard per partition; cat-able)."""
    triples_to_ntriples(triples).write.mode(mode).text(path)


# Turtle local names may not contain these (PN_LOCAL subset we accept for
# bare prefixed names; anything else renders as an expanded <uri>)
_PNAME_RE = r"^[A-Za-z][A-Za-z0-9_-]*:[A-Za-z0-9_.-]+$"


def _turtle_uri_term(x: str) -> str:
    """Compact prefixed name when Turtle-safe and declared, else <uri>
    (SQL text over the SQL expression ``x``)."""
    declared = " OR ".join(f"startswith({x}, {sql_lit(p + ':')})" for p in namespaces.DECLARED)
    return (
        f"CASE WHEN {x} RLIKE {sql_lit(_PNAME_RE)} AND ({declared}) THEN {x} "
        f"ELSE concat('<', {namespaces.expand(x)}, '>') END"
    )


def turtle_header() -> str:
    """@prefix block from the R11 namespace table
    (get_data_apis_vanilla.py:960-1047; serialize at
    get_data_from_apis_instance.py:97-102 — the reference's default
    output format is .ttl)."""
    return "\n".join(f"@prefix {p}: <{uri}> ." for p, uri in namespaces.DECLARED.items())


def triples_to_turtle_blocks(triples: DataFrame, object_is_uri: str | None = None) -> DataFrame:
    """-> one-column DF of subject-grouped Turtle ``block``s:

        <subject> p1 o1 ;
            p2 o2 .

    SQL expressions end-to-end: object rendering reuses the N-Triples
    literal logic, predicates/URIs compact to declared prefixed names when
    Turtle-safe; the per-subject block is one groupBy(s) + array_sort +
    array_join — a single shuffle on the subject key, embarrassingly
    parallel at any scale. Deterministic: (p, o) pairs sorted within each
    block. ``object_is_uri`` is an SQL predicate, as in
    :func:`triples_to_ntriples`.
    """
    o_datatype = _o_datatype(triples)
    if object_is_uri is None:
        object_is_uri = _object_looks_like_uri(o_datatype)
    literal = _literal(o_datatype, _turtle_uri_term(o_datatype))
    rendered = triples.selectExpr(
        f"{_turtle_uri_term('s')} AS subj",
        f"concat({_turtle_uri_term('p')}, ' ', "
        f"CASE WHEN {object_is_uri} THEN {_turtle_uri_term('o')} ELSE {literal} END) AS po",
    )
    return (
        rendered.groupBy("subj")
        .agg(F.expr("array_sort(collect_set(po)) AS pos"))
        .selectExpr(f"concat(subj, ' ', array_join(pos, {sql_lit(' ;' + chr(10) + '    ')}), ' .')"
                    " AS block")
    )


def write_turtle(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K4 sink, reference-default format: distributed subject-grouped
    Turtle. Every output shard starts with the @prefix header (Turtle
    permits re-declaration), so shards are independently parseable AND
    their concatenation is one valid document. The header prepend is an
    Arrow-batched mapInPandas over whole partitions — no per-row Python.
    """
    from collections.abc import Iterator

    header = turtle_header()
    blocks = triples_to_turtle_blocks(triples)

    def add_header(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        first = True
        for pdf in it:
            if first and len(pdf):
                pdf = pd.concat(
                    [pd.DataFrame({"block": [header]}), pdf], ignore_index=True
                )
                first = False
            yield pdf

    blocks.mapInPandas(add_header, "block string").write.mode(mode).text(path)
