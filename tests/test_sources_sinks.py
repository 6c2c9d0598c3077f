"""Tests for sources (TSV, SPARQL bindings, paginated HTTP) and sinks
(N-Triples roundtrip, upsert foreachPartition)."""

from __future__ import annotations

import glob
import json

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark import sinks
from prosnet_prefect_pipelines_spark.sources import geonames, http, rdf, sparql_bindings

GEONAMES_ROW = (
    "2761369\tVienna\tVienna\tWien,Vienne\t48.20849\t16.37208\tP\tPPLC\tAT\t\t"
    "09\t901\t\t\t1691468\t\t171\tEurope/Vienna\t2022-08-16"
)


def test_geonames_tsv_pipeline(spark, tmp_path):
    p = tmp_path / "cities.tsv"
    p.write_text(GEONAMES_ROW + "\n")
    df = geonames.read_geonames_tsv(spark, str(p))
    docs = geonames.build_place_docs(df).collect()
    assert len(docs) == 1
    d = docs[0]
    assert d.id == "https://sws.geonames.org/2761369/"
    assert d.label == "Vienna (AT) - PPLC"
    assert d.coordinates == [48.20849, 16.37208]  # [lat, lng]


def test_sparql_bindings_parse(spark):
    rows = [
        json.dumps(
            {
                "id": {"type": "uri", "value": "http://www.wikidata.org/entity/Q1"},
                "itemLabel": {"type": "literal", "value": "Uni Wien", "xml:lang": "de"},
                "date_of_birth": {
                    "type": "literal",
                    "value": "1365-03-12T00:00:00Z",
                    "datatype": "http://www.w3.org/2001/XMLSchema#dateTime",
                },
            }
        ),
        json.dumps({"id": {"type": "uri", "value": "http://www.wikidata.org/entity/Q2"}}),
    ]
    src = spark.createDataFrame([(r,) for r in rows], "value string")
    out = sparql_bindings.parse_bindings_json(
        spark, src, ["id", "itemLabel", "date_of_birth"]
    ).collect()
    assert out[0].itemLabel == "Uni Wien"
    assert out[0].itemLabel__lang == "de"
    assert out[0].date_of_birth__datatype.endswith("dateTime")
    # absent OPTIONAL binding -> NULL (SURVEY §1 model #1)
    assert out[1].itemLabel is None and out[1].date_of_birth is None


def test_paginated_fetch_stop_and_retry(spark, tmp_path):
    # fetch runs in executor workers (separate processes): observe calls
    # through the shared filesystem, not driver-side closures
    marker_dir = str(tmp_path)

    def fetch(offset: int, limit: int) -> str | None:
        import os

        marker = os.path.join(marker_dir, f"seen-{offset}")
        first_call = not os.path.exists(marker)
        open(marker, "a").write("x")
        if offset == 40 and first_call:
            raise ConnectionError("transient")
        if offset >= 80:
            return None  # empty page (T3 stop condition)
        return f"page-{offset}"

    df = http.paginated_fetch(
        spark, fetch, total=120, page_size=20, num_partitions=2,
        rate_per_sec=1000, max_retries=2, retry_backoff_s=0.01,
    )
    rows = {r.offset: r.body for r in df.collect()}
    assert rows == {0: "page-0", 20: "page-20", 40: "page-40", 60: "page-60"}
    import os

    assert len(open(os.path.join(marker_dir, "seen-40")).read()) == 2  # retried once


def test_ntriples_roundtrip(spark):
    triples = spark.createDataFrame(
        [
            ("http://ex/s1", "http://ex/p", "http://ex/o", None, None),
            ("http://ex/s2", "http://ex/p", 'say "hi"\\now', "de", None),
            ("http://ex/s3", "http://ex/p", "plain text", None, None),
        ],
        "s string, p string, o string, o_lang string, o_datatype string",
    )
    lines = rdf.triples_to_ntriples(triples)
    back = rdf.ntriples_to_triples(lines).collect()
    got = {(r.s, r.o, r.o_lang) for r in back}
    assert got == {
        ("http://ex/s1", "http://ex/o", None),
        ("http://ex/s2", 'say "hi"\\now', "de"),
        ("http://ex/s3", "plain text", None),
    }


def test_ntriples_typed_literal_roundtrip(spark):
    """Typed literals must serialize with ^^<datatype> (mutually exclusive
    with @lang) and parse back symmetric — the geo:wktLiteral shape the
    place renderer emits."""
    triples = spark.createDataFrame(
        [
            ("http://ex/s1", "http://ex/p", "POINT (16.4 48.2)", None,
             "http://www.opengis.net/ont/geosparql#wktLiteral"),
            ("http://ex/s2", "http://ex/p", "1889-04-01T00:00:00", None,
             "http://www.w3.org/2001/XMLSchema#dateTime"),
            ("http://ex/s3", "http://ex/p", "tagged", "de", None),
        ],
        "s string, p string, o string, o_lang string, o_datatype string",
    )
    lines = [r.line for r in rdf.triples_to_ntriples(triples).collect()]
    assert any('"POINT (16.4 48.2)"^^<http://www.opengis.net/ont/geosparql#wktLiteral>'
               in ln for ln in lines)
    back = rdf.ntriples_to_triples(
        spark.createDataFrame([(ln,) for ln in lines], "line string")
    ).collect()
    got = {(r.s, r.o, r.o_lang, r.o_datatype) for r in back}
    assert got == {
        ("http://ex/s1", "POINT (16.4 48.2)", None,
         "http://www.opengis.net/ont/geosparql#wktLiteral"),
        ("http://ex/s2", "1889-04-01T00:00:00", None,
         "http://www.w3.org/2001/XMLSchema#dateTime"),
        ("http://ex/s3", "tagged", "de", None),
    }


def _parse_turtle(text):
    """Minimal Turtle parser for the subset write_turtle emits: @prefix
    lines, subject blocks with `;`-separated predicate-objects, terms as
    <uri> / pname / "literal"(@lang|^^dt)?. Returns expanded triples."""
    import re

    prefixes = {}
    triples = set()

    def expand(term):
        if term.startswith("<"):
            return term[1:-1]
        p, _, local = term.partition(":")
        return prefixes[p] + local if p in prefixes else term

    # blocks end with ' .' at line end; prefix lines handled separately
    body = []
    for line in text.split("\n"):
        m = re.match(r"@prefix (\S+): <([^>]*)> \.$", line)
        if m:
            prefixes[m.group(1)] = m.group(2)
        else:
            body.append(line)
    for block in re.split(r" \.\n|\s*\.$", "\n".join(body)):
        block = block.strip()
        if not block:
            continue
        subj_str, rest = block.split(" ", 1)
        for po in rest.split(" ;\n    "):
            pred, obj = po.split(" ", 1)
            m = re.match(r'^"((?:[^"\\]|\\.)*)"(?:@([A-Za-z-]+)|\^\^(\S+))?$', obj)
            if m:
                lit = m.group(1).replace("\\\\", "\x00").replace('\\n', "\n") \
                    .replace('\\"', '"').replace("\x00", "\\")
                triples.add((expand(subj_str), expand(pred), lit,
                             m.group(2), expand(m.group(3)) if m.group(3) else None))
            else:
                triples.add((expand(subj_str), expand(pred), expand(obj), None, None))
    return triples


def test_write_turtle_reparses_to_same_triples(spark, tmp_path):
    """K4 Turtle sink (the reference's default serialization): shards each
    start with the @prefix header and re-parse to the original triple set
    after prefix expansion."""
    import glob

    from prosnet_prefect_pipelines_spark.render.namespaces import expand as ns_expand

    triples = spark.createDataFrame(
        [
            ("urn:cust/1", "wdt:P31", "wd:Q5", None, None),
            ("urn:cust/1", "ex:name", 'Alice "A." Doe', None, None),
            ("urn:cust/1", "rdfs:label", "Alice", "en", None),
            ("urn:place/2", "geo:asWKT", "POINT (16.4 48.2)", None, "geo:wktLiteral"),
            ("urn:place/2", "owl:sameAs", "http://www.wikidata.org/entity/Q1741", None, None),
        ],
        "s string, p string, o string, o_lang string, o_datatype string",
    )
    out = tmp_path / "ttl"
    rdf.write_turtle(triples.repartition(3), str(out))

    got = set()
    for shard in glob.glob(f"{out}/part-*"):
        text = open(shard).read()
        if text.strip():
            assert text.startswith("@prefix"), "every shard carries the header"
            got |= _parse_turtle(text)

    expanded = triples.select(
        F.expr(ns_expand("s")).alias("s"), F.expr(ns_expand("p")).alias("p"),
        F.when(F.col("o_lang").isNull() & F.col("o_datatype").isNull()
               & (F.col("o").startswith("urn:") | F.col("o").startswith("http")
                  | F.col("o").startswith("wd:")),
               F.expr(ns_expand("o"))).otherwise(F.col("o")).alias("o"),
        "o_lang",
        F.expr(ns_expand("o_datatype")).alias("o_datatype"),
    )
    want = {(r.s, r.p, r.o, r.o_lang, r.o_datatype) for r in expanded.collect()}
    assert got == want


def test_rdf_directory_read_with_named_graph(spark, tmp_path):
    triples = spark.createDataFrame(
        [("http://ex/a", "http://ex/p", "http://ex/b", None, None)],
        "s string, p string, o string, o_lang string, o_datatype string",
    )
    out = tmp_path / "nt"
    rdf.write_ntriples(triples, str(out))
    loaded = rdf.read_rdf_directory(spark, str(out), named_graph="http://ex/graph1")
    rows = loaded.collect()
    assert len(rows) == 1
    assert rows[0].g == "http://ex/graph1"


def test_upsert_sink_idempotent(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b")], "id long, label string"
    ).repartition(2)
    target = str(tmp_path / "upserts")

    sinks.upsert_foreach_partition(
        df, lambda: sinks.LocalJsonUpsertClient(target), batch_size=2
    )
    # run twice: upsert-by-id must make redelivery idempotent at read-back
    sinks.upsert_foreach_partition(
        df, lambda: sinks.LocalJsonUpsertClient(target), batch_size=2
    )
    docs = {}
    for f in glob.glob(f"{target}/*.jsonl"):
        for line in open(f):
            d = json.loads(line)
            docs[d["id"]] = d["label"]
    assert docs == {1: "a", 2: "b"}


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key by the same bucket count join
    without any shuffle (co-located join)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from prosnet_prefect_pipelines_spark.sinks import bucketed_materialize

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        a = spark.range(5000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
        b = spark.range(5000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
        ta = bucketed_materialize(a, "bkt_a", "k", n_buckets=8, sort_col="k")
        tb = bucketed_materialize(b, "bkt_b", "k", n_buckets=8, sort_col="k")
        joined = ta.join(tb, on="k")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert joined.count() == 5000
        # sanity: the same join on unbucketed frames DOES shuffle
        buf2 = io.StringIO()
        with redirect_stdout(buf2):
            a.join(b, on="k").explain("formatted")
        assert "Exchange" in buf2.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_paginated_rest_datasource_pushdown(spark):
    """PySpark 4 Python Data Source: offset pages become input partitions;
    an incremental-date predicate is pushed into the fetcher (server-side
    filter), not applied post-scan."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from prosnet_prefect_pipelines_spark.sources.rest_datasource import (
        PaginatedRestDataSource,
        demo_fetch_page,
    )

    spark.dataSource.register(PaginatedRestDataSource)
    reader = (
        spark.read.format("paginated_rest")
        .schema("id long, name string, date_modified string")
        .option("fetcher",
                "prosnet_prefect_pipelines_spark.sources.rest_datasource:demo_fetch_page")
        .option("count", 1000)
        .option("page_size", 100)
    )
    df = reader.load().filter(F.col("date_modified") > "2024-01-20")

    # ground truth from the fetcher itself, unfiltered
    want = [r for r in demo_fetch_page(0, 1000, {}) if r["date_modified"] > "2024-01-20"]
    got = df.collect()
    assert len(got) == len(want)
    assert {r.id for r in got} == {r["id"] for r in want}
    # 10 pages -> 10 partitions
    assert reader.load().rdd.getNumPartitions() == 10


def test_paginated_rest_requires_count(spark):
    """Omitting 'count' must error, not silently fetch one page."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from prosnet_prefect_pipelines_spark.sources.rest_datasource import (
        PaginatedRestDataSource,
    )

    spark.dataSource.register(PaginatedRestDataSource)
    df = (
        spark.read.format("paginated_rest")
        .schema("id long, name string, date_modified string")
        .option("fetcher",
                "prosnet_prefect_pipelines_spark.sources.rest_datasource:demo_fetch_page")
        .load()
    )
    with pytest.raises((Py4JJavaError, Exception), match="count"):
        df.count()


def test_paginated_rest_residual_filter_guard(spark):
    """A fetcher that ignores the pushed dict must not leak unfiltered
    rows — read() re-applies accepted comparisons as a residual guard."""
    from pyspark.sql import functions as F

    from prosnet_prefect_pipelines_spark.sources.rest_datasource import (
        PaginatedRestDataSource,
    )

    spark.dataSource.register(PaginatedRestDataSource)
    df = (
        spark.read.format("paginated_rest")
        .schema("id long, name string, date_modified string")
        .option("fetcher",
                "prosnet_prefect_pipelines_spark.sources.rest_datasource:ignores_pushdown_fetch_page")
        .option("count", 1000)
        .option("page_size", 100)
        .load()
        .filter(F.col("date_modified") > "2024-01-20")
    )
    got = df.collect()
    assert got, "filter should keep some rows"
    assert all(r.date_modified > "2024-01-20" for r in got)
