"""S1/S4/S6: offset-partitioned, rate-limited paginated HTTP source.

The reference drives pagination with a driver-side while loop — one page
at a time, 5 s sleeps, retries with exponential backoff
(wikidata_index.py:291-319, get_data_from_apis_instance.py:11-75,
get_data_apis_vanilla.py:911-957). Engine shape:

1. a count/sizing call determines the offset range (A2; the reference's
   derived COUNT query, wikidata_index.py:148-151)
2. offsets become a DataFrame partitioned so each task owns a contiguous
   page run
3. ``mapPartitions`` performs the HTTP calls with a token-bucket rate
   limit per task and bounded retries — Spark task retry
   (spark.task.maxFailures) covers the rest

The fetch callable is injected, so tests run hermetically and production
wires requests/SPARQLWrapper in. Page results return as raw text rows
(TTL chunks, JSON bodies) for the downstream parsers.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Row, SparkSession

from prosnet_prefect_pipelines_spark.session import local_frame


class TokenBucket:
    """Minimal token bucket: `rate` requests/sec, burst `capacity`."""

    def __init__(self, rate: float, capacity: int = 1) -> None:
        self.rate = rate
        self.capacity = capacity
        self.tokens = float(capacity)
        self.last = time.monotonic()

    def acquire(self) -> None:
        while True:
            now = time.monotonic()
            self.tokens = min(self.capacity, self.tokens + (now - self.last) * self.rate)
            self.last = now
            if self.tokens >= 1:
                self.tokens -= 1
                return
            time.sleep(max((1 - self.tokens) / self.rate, 0.0))


def paginated_fetch(
    spark: SparkSession,
    fetch_page: Callable[[int, int], str | None],
    total: int,
    page_size: int,
    num_partitions: int = 8,
    rate_per_sec: float = 10.0,
    max_retries: int = 3,
    retry_backoff_s: float = 0.1,
) -> DataFrame:
    """-> DataFrame(offset long, body string) — one row per fetched page.

    ``fetch_page(offset, limit)`` returns the page body or None for an
    empty page (the reference's stop condition, T3 — empty pages are
    dropped). Retries: ``max_retries`` with exponential backoff
    (wikidata_index.py:129 models 6 x 30 s; tests shrink the constants).
    """
    offsets = list(range(0, total, page_size))
    offsets_df = local_frame(
        spark, [(o,) for o in offsets], "offset long"
    ).repartition(min(num_partitions, max(len(offsets), 1)))

    def run(rows: Iterator[Row]) -> Iterator[Row]:
        bucket = TokenBucket(rate_per_sec)
        for row in rows:
            attempt = 0
            while True:
                bucket.acquire()
                try:
                    body = fetch_page(row.offset, page_size)
                    break
                except Exception:
                    attempt += 1
                    if attempt > max_retries:
                        raise
                    time.sleep(retry_backoff_s * (2 ** (attempt - 1)))
            if body is not None:
                yield Row(offset=row.offset, body=body)

    return offsets_df.rdd.mapPartitions(run).toDF("offset long, body string")
