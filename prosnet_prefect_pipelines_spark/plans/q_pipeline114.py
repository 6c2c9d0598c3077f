"""Pipeline batch 114: streaming entity resolution (r6 verdict stretch)
— incremental sameAs connected components with an exact replay oracle.

``stream_entity_resolution``: the owl:sameAs assertions of the entity-
resolution corpus (the same customer-chain graph as q_graph.py's
entity_resolution) arrive as a 4-micro-batch stream in arbitrary order;
``streaming/resolve.IncrementalResolver`` folds each batch into the
component state via contraction (batch-sized work per batch, see its
module docstring), and the final (entity -> provided-entity proxy)
CONSTRUCT is produced from the accumulated mapping with the same
``resolve.resolve_from_components`` the batch path uses. Min-label
merging is confluent, so the replayed answer equals the batch answer
for ANY slicing — hash-checked against the identical
``RESOLUTION_SQL`` DuckDB oracle as the batch query.

Reference parity: the reference's enrichment loop re-runs the full
sameAs CONSTRUCT over the whole store every scheduled pass
(pfp-prefect-pipelines enrich_via_sparql.py:146-166 +
create_provided_entities_graph_v2.sparql); this is the streaming-native
replacement where an incremental batch of assertions pays contraction
over the delta only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark import resolve
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_graph import RESOLUTION_SQL
from prosnet_prefect_pipelines_spark.streaming.resolve import IncrementalResolver
from prosnet_prefect_pipelines_spark.streaming.tuning import run_available_now


@register("stream_entity_resolution", oracle=RESOLUTION_SQL,
          covers=["T1", "T2", "J9", "R13", "F15", "F14"])
def q_stream_entity_resolution(spark, sf_dir):
    """Streaming sameAs ingest -> incremental components -> proxy mint:
    availableNow replay over 4 arbitrary-order micro-batches must
    hash-match the single-shot batch resolution (confluent min-label
    merge), against the same oracle as `entity_resolution`."""
    from prosnet_prefect_pipelines_spark.streaming.staging import replay_stage

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_acctbal"
    )
    # 4-file replay stage, built once per SOURCE CONTENT and reused:
    # rewriting the identical staging parquet on every invocation is a
    # shuffle + write the warm bench should not pay. Content-keyed,
    # user-private, atomically published — see streaming/staging.py.
    stage = replay_stage(cust, f"{sf_dir}/customer.parquet", "ser")
    schema = spark.read.parquet(stage).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    # the sameAs assertions (RESOLUTION_SQL `sameas` CTE), derived
    # map-side on the stream
    edges = src.where(
        (F.col("c_custkey") % 10 != 1) & (F.col("c_acctbal") >= 0)
    ).select(
        F.concat(F.lit("urn:cust/"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(
            F.lit("urn:cust/"), (F.col("c_custkey") - 1).cast("string")
        ).alias("dst"),
    )

    resolver = IncrementalResolver(spark)
    run_available_now(
        edges, sink=lambda b, _bid: resolver.update(b),
        name="stream_entity_resolution",
    )
    # stage is intentionally retained for reuse by later invocations

    persons = cust.select(
        F.concat(F.lit("urn:cust/"), F.col("c_custkey").cast("string")).alias(
            "entity"
        )
    )
    proxies = cust.where(F.col("c_custkey") % 50 == 0).select(
        F.concat(F.lit("urn:proxy/"), F.col("c_custkey").cast("string")).alias(
            "proxy"
        ),
        F.concat(F.lit("urn:cust/"), F.col("c_custkey").cast("string")).alias(
            "entity"
        ),
    )
    resolved = resolve.resolve_from_components(
        persons, resolver.mapping(), proxies
    )
    return resolve.provided_entity_triples(resolved)
