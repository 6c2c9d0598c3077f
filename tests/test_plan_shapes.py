"""The plan-shape record and its catalog-wide predicates
(``scripts/plan_shapes.py``) on real plans with known shapes: each
record field reads what the plan holds, each planted violation makes the
compare fail, and the single-partition cardinality classifier keeps its
rules."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

SCRIPT = os.path.join(os.path.dirname(__file__), "..", "scripts", "plan_shapes.py")


@pytest.fixture(scope="module")
def ps():
    spec = importlib.util.spec_from_file_location("plan_shapes_under_test", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rec(ps, df) -> dict:
    return ps.record(ps.plan_json(df))


def _problems(ps, clean, planted) -> list[str]:
    """What the check reports for ``planted`` against a snapshot of ``clean``."""
    plan = ps.plan_json(planted)
    rec = ps.record(plan)
    return ps.compare({"q": _rec(ps, clean)}, {"q": rec}) + ps.violations("q", plan, rec)


def _ranked_over(spark, key_alias: str):
    return (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias(key_alias))
        .agg(F.sum("id").alias("s"))
        .select(key_alias, F.row_number().over(Window.orderBy("s")).alias("rn"))
    )


# --- record fields ----------------------------------------------------------


def test_global_window_gives_single_partition_exchange(spark, ps):
    rec = _rec(ps, spark.range(100).select("id", F.row_number().over(Window.orderBy("id")).alias("rn")))
    assert rec["exchanges"] == {"single": 1}
    assert rec["windows"] == {"global": 1}


def test_keyed_aggregation_gives_hash_exchange(spark, ps):
    rec = _rec(ps, spark.range(100).groupBy((F.col("id") % 7).alias("k")).agg(F.sum("id").alias("s")))
    assert rec["exchanges"] == {"hash": 1}
    assert rec["partial"] is True


def test_cross_join_counts_as_product(spark, ps):
    a, b = spark.range(10), spark.range(10)
    joins = _rec(ps, a.crossJoin(b))["joins"]
    assert set(joins) & {"BroadcastNestedLoop Cross", "BroadcastNestedLoop Inner",
                         "CartesianProduct Inner"}, joins
    assert not any(j.startswith("CartesianProduct") for j in _rec(ps, a.join(b, "id"))["joins"])


def test_prefix_sums_window_is_keyed(spark, ps):
    from prosnet_prefect_pipelines_spark.operators.distrank import prefix_sums

    df = spark.range(100).select((F.col("id") % 11).alias("v"), F.col("id").alias("uid"))
    ranked = prefix_sums(df, [F.col("v").asc(), F.col("uid").asc()], rn_out="rn")
    plan = ps.plan_json(ranked)
    # the rank windows partition on the range-block id; the one global
    # window runs over the per-block offsets aggregate
    assert ps.record(plan)["windows"].get("keyed"), ps.record(plan)
    assert ps.single_partition_bounded(plan)[0]
    plain = df.select("v", F.row_number().over(Window.orderBy("v", "uid")).alias("rn"))
    assert _rec(ps, plain)["windows"] == {"global": 1}


def test_record_ignores_partition_numbers(spark, ps):
    base = spark.range(100)
    assert _rec(ps, base.repartition(3)) == _rec(ps, base.repartition(5))


def test_scan_fields(spark, ps, tmp_path):
    path = str(tmp_path / "t")
    spark.range(50).select("id", (F.col("id") % 3).alias("p")).write.partitionBy("p").parquet(path)
    rec = _rec(ps, spark.read.parquet(path).filter((F.col("id") > 10) & (F.col("p") == 1)).select("id"))
    assert rec["scans"] == {"1,2,2": 1}


# --- planted violations -----------------------------------------------------


def test_extra_shuffle_fails(spark, ps):
    base = spark.range(100)
    clean = base.groupBy((F.col("id") % 7).alias("k")).count()
    planted = base.repartition(3).groupBy((F.col("id") % 7).alias("k")).count()
    assert any("exchanges" in p for p in _problems(ps, clean, planted))


def test_broadcast_turned_sort_merge_fails(spark, ps):
    a = spark.range(100).withColumnRenamed("id", "k")
    b = spark.range(10).withColumnRenamed("id", "k")
    problems = _problems(ps, a.join(b.hint("broadcast"), "k"), a.join(b.hint("merge"), "k"))
    assert any("joins" in p and "SortMerge" in p for p in problems), problems


def test_lost_pushdown_fails(spark, ps, tmp_path):
    path = str(tmp_path / "t")
    spark.range(50).write.parquet(path)
    df = spark.read.parquet(path)
    clean = df.filter(F.col("id") > 10).withColumn("r", F.rand(0))
    # a filter cannot pass a non-deterministic projection to the scan
    planted = df.withColumn("r", F.rand(0)).filter(F.col("id") > 10)
    assert any(p.startswith("q: scans") for p in _problems(ps, clean, planted))


def test_new_cartesian_product_fails(spark, ps):
    a, b = spark.range(10), spark.range(10).withColumnRenamed("id", "j")
    planted = a.hint("shuffle_replicate_nl").join(b)
    problems = _problems(ps, a.join(b.withColumnRenamed("j", "id"), "id"), planted)
    assert "q: CartesianProduct Inner" in problems, problems
    assert any(p.startswith("q: joins") for p in problems)


def test_unbounded_single_partition_fails(spark, ps):
    clean = _ranked_over(spark, "nation")
    planted = spark.range(1000).select("id", F.row_number().over(Window.orderBy("id")).alias("rn"))
    problems = _problems(ps, clean, planted)
    assert any("subtree has no aggregate" in p for p in problems), problems


# --- single-partition cardinality classifier --------------------------------


def _bounded(ps, df, name=None):
    return ps.single_partition_bounded(ps.plan_json(df), name)


def test_entity_key_fails_bounded_key_passes(spark, ps):
    ok, why = _bounded(ps, _ranked_over(spark, "user_id"))
    assert not ok and "entity-cardinality" in why, why
    ok, why = _bounded(ps, _ranked_over(spark, "nation"))
    assert ok and "bounded key 'nation'" in why, why


def test_alias_resolves_through_modulo(spark, ps):
    ok, why = _bounded(ps, _ranked_over(spark, "mystery"))
    assert ok and ("modulo-literal" in why or "bounded sources" in why), why


def test_unresolvable_key_fails_unless_attributed(spark, ps):
    df = (
        spark.createDataFrame([(i % 3,) for i in range(30)], "mystery long")
        .groupBy("mystery")
        .agg(F.sum("mystery").alias("s"))
        .select("mystery", F.row_number().over(Window.orderBy("s")).alias("rn"))
    )
    ok, why = _bounded(ps, df, "some_query")
    assert not ok and "SINGLE_PARTITION_KEY_ATTRIBUTION" in why, why
    ps.SINGLE_PARTITION_KEY_ATTRIBUTION[("some_query", "mystery")] = "test: 3 distinct values"
    try:
        ok, why = _bounded(ps, df, "some_query")
        assert ok and "attributed" in why, why
    finally:
        del ps.SINGLE_PARTITION_KEY_ATTRIBUTION[("some_query", "mystery")]


def test_entity_key_cannot_hide_behind_alias(spark, ps):
    df = (
        spark.createDataFrame([(i,) for i in range(30)], "user_id long")
        .groupBy((F.col("user_id") * 2).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select("k", F.row_number().over(Window.orderBy("c")).alias("rn"))
    )
    ok, why = _bounded(ps, df, "q")
    assert not ok and "entity" in why, why


def test_modulo_inside_larger_expression_is_not_bounding(spark, ps):
    eid = F.col("event_id")
    df = (
        spark.createDataFrame([(i,) for i in range(100)], "event_id long")
        .groupBy(F.floor((eid + F.when(eid % 10 == 0, F.lit(5)).otherwise(F.lit(0))) / 65536).alias("blk"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select("blk", F.row_number().over(Window.orderBy("c")).alias("rn"))
    )
    ok, why = _bounded(ps, df, "q")
    assert not ok and "blk" in why, why


def test_calendar_rule_is_whole_expression(spark, ps):
    base = spark.createDataFrame(
        [(i, "2024-0%d-01" % (i % 9 + 1)) for i in range(20)], "x long, d string"
    ).select("x", F.col("d").cast("date").alias("d"))

    def ranked(key):
        return (
            base.groupBy(key.alias("m"))
            .agg(F.count(F.lit(1)).alias("c"))
            .select("m", F.row_number().over(Window.orderBy("c")).alias("rn"))
        )

    ok, why = _bounded(ps, ranked(F.year("d") * 12 + F.month("d")), "q")
    assert ok and ("calendar-unit" in why or "bounded sources" in why), why
    ok, why = _bounded(ps, ranked(F.col("x") + F.month("d")), "q")
    assert not ok, why


# --- the committed snapshot -------------------------------------------------


def test_snapshot_covers_the_catalog():
    """One record per catalog query, in a file small enough to review."""
    import __spark_entry__ as entry_mod

    with open(os.path.join(os.path.dirname(SCRIPT), "plan_shapes.json")) as fh:
        text = fh.read()
    assert len(text.encode()) <= 100 * 1024
    assert set(json.loads(text)) == set(entry_mod.queries())
    assert len(text.splitlines()) == len(entry_mod.queries()) + 2


def test_catalog_matches_snapshot():
    """The whole-catalog compare: every query's plan shape equals the
    committed snapshot and passes the catalog-wide predicates."""
    out = subprocess.run([sys.executable, SCRIPT], capture_output=True, text=True, timeout=1200)
    assert out.returncode == 0, out.stdout[-4000:] + out.stderr[-2000:]
