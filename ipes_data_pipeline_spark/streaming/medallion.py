"""Incremental medallion: file-source streaming bronze→silver→gold.

Reference analog: ``run_pipeline.py`` re-runs stages over materialized
files with ``--skip-*`` flags (I2) and a 10-second poll-loop scheduler
(I3). Structured Streaming replaces both:

- **replay / catch-up** = ``Trigger.AvailableNow`` over a file source:
  processes everything not yet in the checkpoint, then stops — the
  exactly-once version of "re-run the stage on what changed";
- **scheduler** = ``trigger(processingTime=...)`` on the same query;
- **enrichment cache across batches** = ``foreachBatch`` that (1) joins
  the micro-batch against the cache Parquet, (2) calls the backend only
  for misses, (3) appends the new cache rows — the streaming form of
  the batch cache-append contract (operators/enrich.py).

Each layer is restartable from its own checkpoint, so a 100 TB backfill
interrupted at bronze→silver resumes without reprocessing bronze.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ipes_data_pipeline_spark.operators.enrich import successful_cache_rows
from ipes_data_pipeline_spark.pipeline.bronze import flatten_filings
from ipes_data_pipeline_spark.pipeline.gold import build_gold, read_cache
from ipes_data_pipeline_spark.pipeline.silver import structure
from ipes_data_pipeline_spark.schemas import RAW_FILING_FLAT, RAW_FILING_NESTED



def stream_bronze(
    spark: SparkSession,
    raw_dir: str,
    bronze_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Raw JSON landing dir → typed flat bronze Parquet, exactly-once.

    Explicit schema (never inferred — schema inference would scan 100 TB
    twice and silently widen types between runs).
    """
    raw = (
        spark.readStream.schema(RAW_FILING_NESTED)
        .option("maxFilesPerTrigger", 1024)
        .json(raw_dir)
    )
    flat = flatten_filings(raw)
    writer = (
        flat.writeStream.format("parquet")
        .option("path", bronze_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_silver_refresh(spark: SparkSession, bronze_dir: str, silver_dir: str) -> None:
    """Recompute silver from the full bronze table (idempotent overwrite).

    Silver's star build is a *global* grouped computation (canonical
    entities span micro-batches: a new filing can merge two existing
    entities), so each refresh recomputes the star from the full bronze
    table — correct, idempotent, and the same semantics as the
    reference, which rebuilds silver every run. Called after a bronze
    catch-up or from a scheduler tick."""
    flat = spark.read.schema(RAW_FILING_FLAT).parquet(bronze_dir)
    star = structure(flat)
    star.companies.write.mode("overwrite").parquet(
        os.path.join(silver_dir, "companies")
    )
    star.filings.write.mode("overwrite").parquet(os.path.join(silver_dir, "filings"))


def stream_gold_enrichment(
    spark: SparkSession,
    companies_stream: DataFrame,
    filings: DataFrame,
    cache_dir: str,
    gold_dir: str,
    checkpoint_dir: str,
    backend: Callable | None = None,
    available_now: bool = True,
):
    """Streaming enrichment with a cross-batch memoization cache.

    foreachBatch gives exactly-once *effects* per micro-batch: read the
    cache table, enrich only misses, append new cache rows, upsert gold.
    The cache read happens inside the batch fn so batch N+1 sees batch
    N's appends (a stream-static join would snapshot the cache at query
    start and never observe growth). ``spark`` is accepted for signature
    symmetry with the other stream builders; the batch fn deliberately
    uses the MICRO-BATCH's own session.
    """

    def enrich_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        cache = read_cache(s, cache_dir)
        out = build_gold(batch_df, filings, cache, backend=backend)
        successful_cache_rows(out.new_cache_rows).coalesce(1).write.mode(
            "append"
        ).parquet(cache_dir)
        out.enriched.write.mode("append").parquet(gold_dir)
        # enrich_with_cache persists the fresh-enrichment frame so both
        # writes above share one backend pass; release it or thousands
        # of micro-batches accumulate dead cached partitions
        out.new_cache_rows.unpersist()

    writer = (
        companies_stream.writeStream.foreachBatch(enrich_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_gold_upsert(
    spark: SparkSession,
    companies_stream: DataFrame,
    filings: DataFrame,
    cache_dir: str,
    gold_dir: str,
    checkpoint_dir: str,
    backend: Callable | None = None,
    available_now: bool = True,
):
    """Streaming enrichment whose gold sink is MERGED, not appended.

    :func:`stream_gold_enrichment` appends — replaying or re-enriching a
    company accumulates duplicate gold rows (the test suite demonstrates
    it). This variant upserts each micro-batch on ``id`` via
    :func:`~ipes_data_pipeline_spark.operators.upsert.upsert_partitioned`,
    so gold converges to one row per company no matter how batches
    replay. Gold is partitioned by the first hex char of the key
    (16 stable buckets): an upsert rewrites only the buckets its batch
    touches, and the bucket of a key never changes. NOTE: the bucket
    rides along as an ``id_bucket`` column when reading this gold table
    (partition columns surface in the schema) — readers wanting the
    append-variant's exact schema drop it.
    """
    from ipes_data_pipeline_spark.operators.upsert import upsert_partitioned

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        cache = read_cache(s, cache_dir)
        out = build_gold(batch_df, filings, cache, backend=backend)
        successful_cache_rows(out.new_cache_rows).coalesce(1).write.mode(
            "append"
        ).parquet(cache_dir)
        enriched = out.enriched.withColumn(
            "id_bucket", F.substring("id", 1, 1)
        )
        upsert_partitioned(s, gold_dir, enriched, ["id"], "id_bucket")
        out.new_cache_rows.unpersist()  # see enrich_batch

    writer = (
        companies_stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
