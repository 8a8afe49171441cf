"""Distributed paginated REST source (reference ``code/fetch.py:49-246``).

The reference loops page-by-page on one thread: GET with ``limit``/
``offset``, read ``total`` from the response, stop on empty page / short
page / total reached / ``max_records`` cap, sleep between pages.

Spark-first design:

1. **Page discovery on the driver** — ONE probe request reads ``total``
   (reference ``request_page`` reads it from the header/aggregations,
   fetch.py:68-80). The cap (``max_records``) is applied here: this is
   the source-side LIMIT pushdown (fetch.py:239-240).
2. **Page fan-out on executors** — ``spark.range(n_pages)`` repartitioned
   to the wanted parallelism, then ``mapInPandas`` fetches each page and
   yields its records. Politeness is a per-partition token bucket, not a
   driver sleep — N partitions × rate = cluster-wide request rate, sized
   to the API quota independent of data volume.
3. **Transport is pluggable.** Tests use :class:`FileBackedTransport`
   (pages pre-materialized as JSON on disk — no network); production
   wires an HTTP callable with retry/backoff.

At 100 TB this is the right shape: page-count scales the *task list*
(cheap driver-side range), record payloads never touch the driver, and
a failed page is retried by Spark task retry without refetching others.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ipes_data_pipeline_spark.operators.enrich import TokenBucket
from ipes_data_pipeline_spark.operators.util import local_frame

#: transport(query, limit, offset) -> (records: list[dict], total: int)
Transport = Callable[[str, int, int], tuple[list[dict], int]]


@dataclass
class FileBackedTransport:
    """Network-free transport: pages are ``{query}/page_{i}.json`` files
    produced by :func:`materialize_pages`. Deterministic, test-friendly."""

    root: str

    def __call__(self, query: str, limit: int, offset: int) -> tuple[list[dict], int]:
        qdir = os.path.join(self.root, query.replace(" ", "_"))
        with open(os.path.join(qdir, "meta.json")) as f:
            total = json.load(f)["total"]
        page = offset // limit
        path = os.path.join(qdir, f"page_{page}.json")
        if not os.path.exists(path):
            return [], total
        with open(path) as f:
            return json.load(f), total


@dataclass
class HttpTransport:
    """JSON-over-HTTP page transport with bounded retry + backoff
    (reference ``request_page``, fetch.py:49-87, incl. its retry loop).

    ``GET {base_url}?q=<query>&limit=<limit>&offset=<offset>`` expecting a
    ``{"total": N, "records": [...]}`` body. Plain-field dataclass, so it
    pickles into executor tasks; urllib is stdlib (no dependency). Spark
    task retry handles page-level failure beyond these attempts — a dead
    page never forces refetching the others.
    """

    base_url: str
    max_retries: int = 3
    backoff_s: float = 0.2
    timeout_s: float = 30.0

    def __call__(self, query: str, limit: int, offset: int) -> tuple[list[dict], int]:
        import time
        import urllib.parse
        import urllib.request

        qs = urllib.parse.urlencode({"q": query, "limit": limit, "offset": offset})
        # '&' when the base already carries a query string — "base?key=v?q=…"
        # would make the server parse key as "v?q=…" and ignore pagination
        sep = "&" if "?" in self.base_url else "?"
        url = f"{self.base_url}{sep}{qs}"
        attempts = max(1, self.max_retries)  # 0 would raise None below
        for attempt in range(attempts):
            try:
                with urllib.request.urlopen(url, timeout=self.timeout_s) as resp:
                    payload = json.loads(resp.read().decode("utf-8"))
                return payload.get("records", []), int(payload.get("total", 0))
            except Exception as e:  # noqa: BLE001 — retry any transport error
                if attempt + 1 >= attempts:
                    raise
                # back off only BETWEEN attempts — sleeping after the
                # final failure just delays the raise
                time.sleep(self.backoff_s * (2**attempt))
        raise AssertionError("unreachable")


def materialize_pages(
    root: str, query: str, records: list[dict], page_size: int
) -> None:
    """Write records as paged JSON files for :class:`FileBackedTransport`."""
    qdir = os.path.join(root, query.replace(" ", "_"))
    os.makedirs(qdir, exist_ok=True)
    with open(os.path.join(qdir, "meta.json"), "w") as f:
        json.dump({"total": len(records)}, f)
    for page in range(max(1, math.ceil(len(records) / page_size))):
        with open(os.path.join(qdir, f"page_{page}.json"), "w") as f:
            json.dump(records[page * page_size : (page + 1) * page_size], f)


def read_paginated(
    spark: SparkSession,
    transport: Transport,
    query: str,
    schema,
    page_size: int = 100,
    max_records: int = 0,
    n_partitions: int = 8,
    requests_per_second: float = 0.0,
) -> DataFrame:
    """Fan a paginated scan out across executors; returns records as JSON
    strings parsed through ``schema`` (explicit — never inferred in prod).
    """
    # driver-side probe: page count only; no record payload kept
    probe, total = transport(query, 1, 0)
    if max_records:  # LIMIT pushdown into the scan (fetch.py:239-240)
        total = min(total, max_records)
    n_pages = math.ceil(total / page_size) if total else 0
    if n_pages == 0:
        return local_frame(spark, [], schema)

    pages = spark.range(n_pages).repartition(min(n_partitions, n_pages))

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bucket = (
            TokenBucket(requests_per_second) if requests_per_second > 0 else None
        )
        for pdf in batches:
            for page in pdf["id"]:
                if bucket:
                    bucket.acquire()
                records, _ = transport(query, page_size, int(page) * page_size)
                if max_records:  # trim the final page to the cap
                    start = int(page) * page_size
                    records = records[: max(0, max_records - start)]
                if records:
                    yield pd.DataFrame({"json": [json.dumps(r) for r in records]})

    raw = pages.mapInPandas(fetch, schema="json string")
    from pyspark.sql import functions as F

    return raw.select(F.from_json("json", schema).alias("r")).select("r.*")


def read_federated(
    spark: SparkSession,
    transport: Transport,
    queries: list[str],
    schema,
    dedup_key: str = "id_submission",
    **kwargs,
) -> DataFrame:
    """A3+F3: union N query scans, first-wins dedup on the submission key
    (deterministic winner: lowest query index, reference fetch.py:292-299).
    """
    from functools import reduce

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    scans = [
        read_paginated(spark, transport, q, schema, **kwargs).withColumn(
            "_query_rank", F.lit(i)
        )
        for i, q in enumerate(queries)
    ]
    unioned = reduce(DataFrame.unionByName, scans)
    # tiebreak BEYOND the query rank: the same key can appear twice
    # within one query (record updated between page fetches, overlapping
    # pages) — without a total order, row_number picks a run-dependent
    # winner. Ordering by the remaining payload columns pins it.
    payload_order = [c for c in unioned.columns if c not in (dedup_key, "_query_rank")]
    w = Window.partitionBy(dedup_key).orderBy("_query_rank", *payload_order)
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_query_rank")
    )
