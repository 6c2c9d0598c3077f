"""Triple-template machinery: one entity row -> N conditional triples.

The reference's render_* functions (SURVEY §2.8, R1-R10;
pfp-prefect-pipelines/get_data_apis_vanilla.py:115-895) each emit 5-40
``g.add(...)`` calls per entity, guarded by null checks. Spark shape: build
an array of conditional (s, p, o, o_lang) structs per row, drop the NULLs,
explode — a single narrow pass over the entity DataFrame, fully parallel,
no UDFs.

Templates are Spark SQL expression text, not Column trees. A Column tree
costs one Py4J round trip per ``lit``/``col``/``struct``/``when`` node —
thousands per renderer — while SQL text crosses to the JVM once, in the
``selectExpr`` that parses it. Constants enter the text only through
:func:`sql_lit`, which quotes IRIs and labels holding ``'``, ``\\`` or
``${``. Column references are written as SQL identifiers over the input
frame's fields.

Templates are still applied in chunks of 12, one ``selectExpr`` and one
union branch per chunk: a single array over 40+ conditional structs
compiles to a generated method too large to JIT (and too slow
interpreted — observed 70 s for 15k entities at sf0.1 vs ~8 s chunked).

rdflib ``Graph.add`` has set semantics (duplicate triples collapse), so
renderers end with ``.distinct()`` to match observable output.

Scale: explode multiplies rows ~20-40x but stays pipelined inside
whole-stage codegen; the only shuffle is the final distinct, which a real
deployment partitions by subject (``s``) so downstream per-subject
operations reuse the partitioning.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


def sql_lit(v: str | None) -> str:
    """Spark SQL string literal equal to ``v`` (None -> a NULL string).

    Backslashes and quotes are escaped for the SQL lexer; ``${`` is split
    so the parser's variable substitution leaves the text alone.
    """
    if v is None:
        return "CAST(NULL AS STRING)"
    escaped = v.replace("\\", "\\\\").replace("'", "\\'").replace("${", "$\\{")
    return f"'{escaped}'"


@dataclass
class Template:
    """One conditional triple: emitted when ``cond`` is true (None = always).

    ``s``, ``o`` and ``cond`` are SQL expression text; ``p``, ``lang`` and
    ``datatype`` (e.g. geo:wktLiteral, R10 space primitives) are constants.
    """

    s: str
    p: str
    o: str
    lang: str | None = None
    cond: str | None = None
    datatype: str | None = None


def _struct(t: Template, include_datatype: bool) -> str:
    fields = [f"'s', {t.s}", f"'p', {sql_lit(t.p)}", f"'o', {t.o}", f"'o_lang', {sql_lit(t.lang)}"]
    if include_datatype:
        fields.append(f"'o_datatype', {sql_lit(t.datatype)}")
    # a NULL s or o also suppresses the triple (rdflib would crash on None;
    # the reference guards every such case — cond is the explicit guard)
    cond = t.cond if t.cond is not None else f"({t.s}) IS NOT NULL AND ({t.o}) IS NOT NULL"
    return f"CASE WHEN {cond} THEN named_struct({', '.join(fields)}) END"


def explode_structs(df: DataFrame, structs: list[str]) -> DataFrame:
    """One row per non-NULL struct of ``structs`` (SQL text), the struct's
    fields as columns: a single ``selectExpr`` parse."""
    return df.selectExpr(f"inline(array_compact(array({', '.join(structs)})))")


def explode_templates(
    df: DataFrame,
    templates: list[Template],
    chunk_size: int = 12,
    include_datatype: bool = False,
) -> DataFrame:
    """Apply all templates -> (s, p, o, o_lang[, o_datatype]) rows, one
    union branch per chunk of ``chunk_size``.

    The input should be (local)checkpointed or cached by the caller when
    chunks > 1 so each union branch reads the materialized frame, not a
    recomputed lineage.
    """
    out = None
    for i in range(0, len(templates), chunk_size):
        chunk = explode_structs(
            df, [_struct(t, include_datatype) for t in templates[i : i + chunk_size]]
        )
        out = chunk if out is None else out.unionByName(chunk)
    return out


def with_nodes(df: DataFrame, nodes: dict[str, str]) -> DataFrame:
    """Add the ``{name: SQL text}`` node-URI / shared-label columns once,
    then checkpoint. Templates then reference plain columns: repeating the
    concat chains inside ~45 conditional structs pushes the generated
    method past the JIT huge-method limit (observed: 10-90 s erratic
    runtimes at sf0.01; ~1 s after)."""
    return df.selectExpr("*", *[f"{e} AS {name}" for name, e in nodes.items()]).localCheckpoint(
        eager=False
    )


def node(prefix: str, *parts: str) -> str:
    """URI minting helper: ``prefix`` + parts (SQL text, cast to string).

    Mirrors the reference's ``idmapis[f"personproxy.{id}"]`` pattern.
    """
    return f"concat({', '.join([sql_lit(prefix), *[f'CAST({p} AS STRING)' for p in parts]])})"
