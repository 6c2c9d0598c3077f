"""Triple templates are Spark SQL text, parsed once per chunk.

``sql_lit`` must quote any string so that it selects equal to ``F.lit``
of the same value, and a template's constant label must reach the triple
unchanged. Building the rendering plans must stay within a Py4J-call
budget: a Column tree costs one round trip per node, so a renderer that
goes back to Column trees blows the budget. A source scan keeps
``pyspark.sql.functions`` out of the template modules.
"""

from __future__ import annotations

import ast
import os

import pytest
from conftest import py4j_calls
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.render.templates import (
    Template,
    explode_templates,
    node,
    sql_lit,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "prosnet_prefect_pipelines_spark",
)

_TRICKY = [
    "it's",
    "back\\slash",
    "\\\\'",
    "two\nlines",
    "Grüße aus Łódź — 東京",
    "${spark.app.name}",
    "",
    None,
]


def test_sql_lit_selects_like_f_lit(spark):
    one = spark.range(1)
    via_sql = one.selectExpr(*[f"{sql_lit(v)} AS c{i}" for i, v in enumerate(_TRICKY)]).first()
    via_lit = one.select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(_TRICKY)]).first()
    assert tuple(via_sql) == tuple(via_lit) == tuple(_TRICKY)


def test_template_constants_reach_the_triple(spark):
    label = "O'Brien \\ Söhne"
    df = spark.range(1).selectExpr("7 AS id")
    triples = explode_templates(
        df, [Template(node("ex:it's\\", "id"), "rdfs:label", sql_lit(label), lang="de")]
    )
    assert [tuple(r) for r in triples.collect()] == [("ex:it's\\7", "rdfs:label", label, "de")]


def _builders():
    import __spark_entry__
    from prosnet_prefect_pipelines_spark.plans.tpch_graph import triples_from_tpch

    qs = __spark_entry__.queries()
    return {
        "render_person_triples": qs["render_person_triples"],
        "triples_from_tpch": triples_from_tpch,
        "turtle_serialize": qs["turtle_serialize"],
        "render_place_triples": qs["render_place_triples"],
    }


# Built as Column trees these sent about 7.5k, 4.3k, 9.1k and 5.2k commands
# (sf0.001); built as SQL text, 150-370.
@pytest.mark.parametrize(
    "name, budget",
    [
        ("render_person_triples", 800),
        ("triples_from_tpch", 800),
        ("turtle_serialize", 2000),
        ("render_place_triples", 1000),
    ],
)
def test_construct_py4j_budget(spark, sf_dir, name, budget):
    """Construct-time Py4J commands after the memo fixtures are reset."""
    from prosnet_prefect_pipelines_spark.session import reset_memo_fixtures

    build = _builders()[name]
    build(spark, sf_dir)  # first touch: JVM class loading, file listings
    reset_memo_fixtures(spark)
    with py4j_calls() as calls:
        build(spark, sf_dir)
    assert calls["n"] <= budget, f"{name}: {calls['n']} Py4J commands > {budget}"


def _functions_imports(path: str) -> list[int]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    lines = []
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom) and (
            n.module == "pyspark.sql.functions"
            or n.module == "pyspark.sql" and any(a.name == "functions" for a in n.names)
        ):
            lines.append(n.lineno)
        elif isinstance(n, ast.Import) and any(
            a.name.startswith("pyspark.sql.functions") for a in n.names
        ):
            lines.append(n.lineno)
    return lines


def test_templates_build_no_column_trees():
    """render/ and the triples view build expressions as SQL text only."""
    render = os.path.join(PKG, "render")
    paths = [os.path.join(render, f) for f in os.listdir(render) if f.endswith(".py")]
    paths.append(os.path.join(PKG, "plans", "tpch_graph.py"))
    found = {os.path.relpath(p, PKG): ln for p in paths if (ln := _functions_imports(p))}
    assert not found, f"build SQL text through sql_lit, not Column trees: {found}"
    assert _functions_imports(os.path.join(PKG, "plans", "q_functions.py"))
