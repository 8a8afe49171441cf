"""Gold: enrichment join (reference ``code/enrich_data.py:145-235``).

silver companies ⟕ enrichment (memoized external calls) → gold table
with the closed-enum enrichment attributes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.operators.enrich import (
    ENRICH_COLS,
    EnrichmentOutput,
    enrich_with_cache,
)
from ipes_data_pipeline_spark.operators.util import local_frame
from ipes_data_pipeline_spark.schemas import ENRICHMENT_CACHE


def empty_cache(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], ENRICHMENT_CACHE)


def read_cache(spark: SparkSession, cache_dir: str) -> DataFrame:
    """The enrichment cache table, or an empty frame before first write.

    Existence is probed through Hadoop's FileSystem (valid on any
    supported store) rather than read-and-catch — a failed read dumps a
    PATH_NOT_FOUND stack into the driver log and trips the execution
    listener on every cold start."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(cache_dir)
    if jpath.getFileSystem(hconf).exists(jpath):
        return spark.read.schema(ENRICHMENT_CACHE).parquet(cache_dir)
    return empty_cache(spark)


def build_gold(
    companies: DataFrame,
    filings: DataFrame,
    cache: DataFrame,
    backend: Callable | None = None,
    calls_per_second: float = 0.0,
) -> EnrichmentOutput:
    """Companies + per-company distinct dockets → enriched gold table.

    The docket context aggregation mirrors the reference's prompt-context
    collection (enrich_data.py:170-173, collect_set + sort); the bureau
    post-filter mirrors :155.
    """
    dockets = (
        filings.groupBy("company_id")
        .agg(F.array_sort(F.collect_set("docket_number")).alias("dockets"))
    )
    eligible = (
        companies.filter(
            ~F.lower(F.col("normalized_name")).contains("wireline competition bureau")
        )
        .join(dockets, companies.id == dockets.company_id, "left")
        .select(
            "id",
            "entity_name",
            "normalized_name",
            "filing_count",
            F.coalesce("dockets", F.array().cast("array<string>")).alias("dockets"),
        )
    )
    out = enrich_with_cache(eligible, cache, backend, calls_per_second)
    gold = out.enriched.select(
        "id", "entity_name", "filing_count", *ENRICH_COLS
    )
    return EnrichmentOutput(enriched=gold, new_cache_rows=out.new_cache_rows)
