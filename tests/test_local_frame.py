"""``session.local_frame``: the one way the engine builds a DataFrame
from driver-side rows.

It must give the rows and schema ``createDataFrame(list)`` gave, keep
that path's input checks, and plan as a JVM-side ``LocalTableScan`` (no
``ExistingRDD`` over a pickled Python RDD, so no Python worker runs when
the frame is scanned). A source scan keeps ``createDataFrame(`` out of
every package module but ``session.py``.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from prosnet_prefect_pipelines_spark.session import local_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "prosnet_prefect_pipelines_spark",
)

_DDL = "s string, i int, l long, d double, b boolean"
_ROWS = [
    ("a", 1, 2**40, 0.5, True),
    ("b", -7, -1, 1e300, False),
    (None, None, None, None, None),
    ("", 2**31 - 1, 2**63 - 1, -0.0, None),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local_scan(df):
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_rows_and_schema_match_list_path(spark):
    via_list = spark.createDataFrame(_ROWS, _DDL)
    via_arrow = local_frame(spark, _ROWS, _DDL)
    assert via_arrow.schema == via_list.schema
    assert via_arrow.collect() == via_list.collect()
    _assert_local_scan(via_arrow)


@pytest.mark.parametrize(
    "schema",
    [
        "node string, comp long",
        StructType([StructField("node", StringType()), StructField("comp", LongType())]),
    ],
    ids=["ddl", "structtype"],
)
def test_empty_rows(spark, schema):
    df = local_frame(spark, [], schema)
    assert df.count() == 0
    assert df.schema == spark.createDataFrame([], schema).schema


def test_int_in_string_column_renders_like_list_path(spark):
    rows = [(1, "x"), (-20, None), ("s", "y")]
    assert (
        local_frame(spark, rows, "a string, b string").collect()
        == spark.createDataFrame(rows, "a string, b string").collect()
    )


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([("x",)], "k long"),  # a string in an integer column
        ([(1.5,)], "k long"),  # a float would truncate
        ([(True,)], "k long"),
        ([(2**31,)], "k int"),  # out of int's range
        ([(2**63,)], "k long"),
        ([(1.5,)], "k string"),
        ([(1,)], "k double"),  # the list path takes only float here
        ([(1, 2)], "k long"),  # row wider than the schema
    ],
)
def test_input_checks_raise(spark, rows, ddl):
    with pytest.raises((TypeError, ValueError, OverflowError)):
        local_frame(spark, rows, ddl)


def test_null_in_non_nullable_column_raises(spark):
    schema = StructType([StructField("k", LongType(), nullable=False)])
    with pytest.raises(ValueError):
        local_frame(spark, [(1,), (None,)], schema)


def test_large_frame_is_a_jvm_arrow_scan(spark, monkeypatch):
    """Past the row cut the frame is an RDD of Arrow batches held in the
    JVM: same rows, no pickled Python RDD under it, and the session's
    localRelationThreshold is back to what it was."""
    from prosnet_prefect_pipelines_spark import session

    key = "spark.sql.execution.arrow.localRelationThreshold"
    before = spark.conf.get(key)
    monkeypatch.setattr(session, "_LOCAL_RELATION_ROWS", 2)
    df = local_frame(spark, _ROWS, _DDL)
    assert spark.conf.get(key) == before
    assert "ExistingRDD arrow" in _plan(df), _plan(df)
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    assert df.collect() == spark.createDataFrame(_ROWS, _DDL).collect()
    _assert_local_scan(local_frame(spark, _ROWS[:2], _DDL))  # at the cut


def test_driver_built_results_plan_as_local_scans(spark):
    from prosnet_prefect_pipelines_spark.operators import graph as G
    from prosnet_prefect_pipelines_spark.streaming.resolve import IncrementalResolver

    edges = local_frame(
        spark, [("b", "a"), ("c", "b"), ("d", "x")], "src string, dst string"
    )
    cc = G.connected_components(edges)
    _assert_local_scan(cc)
    assert {tuple(r) for r in cc.collect()} == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("x", "d")
    }
    tc = G.transitive_closure(edges)
    _assert_local_scan(tc)
    assert {tuple(r) for r in tc.collect()} == {
        ("b", "a"), ("c", "b"), ("c", "a"), ("d", "x")
    }
    r = IncrementalResolver(spark)
    _assert_local_scan(r.mapping())
    r.update(edges)
    _assert_local_scan(r.mapping())
    assert {tuple(x) for x in r.mapping().collect()} == {
        tuple(x) for x in cc.collect()
    }


def _create_dataframe_calls(path: str) -> list[int]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_only_local_frame_calls_create_dataframe():
    """Driver-built frames have one idiom: ``session.local_frame``."""
    found = {}
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(PKG, "session.py"):
                continue
            lines = _create_dataframe_calls(path)
            if lines:
                found[os.path.relpath(path, PKG)] = lines
    assert not found, f"use session.local_frame instead of createDataFrame: {found}"
    assert _create_dataframe_calls(os.path.join(PKG, "session.py"))
