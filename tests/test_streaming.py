"""Phase-5 streaming: batch≡streaming equivalence for window operators,
incremental medallion with cross-batch enrichment cache, watermark dedup.

Streaming runs use file sources + ``Trigger.AvailableNow`` (bounded, no
sleeps); results are compared against the identical transformation over
a batch read — the SURVEY §2.2 rule for non-SQL-expressible semantics.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.queries import t
from ipes_data_pipeline_spark.schemas import ENRICHMENT_CACHE
from ipes_data_pipeline_spark.streaming.medallion import (
    run_silver_refresh,
    stream_bronze,
    stream_gold_enrichment,
)
from ipes_data_pipeline_spark.streaming.windows import (
    dedup_within_watermark,
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from tests.conftest import SF_SMOKE
from tests.fixtures import RAW_FILINGS

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@pytest.fixture(scope="module")
def events_batch(spark):
    return t(spark, SF_SMOKE, "events").cache()


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory, events_batch):
    """Events as a 4-file landing dir so AvailableNow sees multiple
    micro-batch splits."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    events_batch.repartition(4).write.mode("overwrite").parquet(d)
    return d


def run_stream(spark, stream_df, tmp_path, mode="append"):
    """Run a bounded streaming query to a memory sink; return result df."""
    name = f"mem_{abs(hash(str(tmp_path))) % 10**9}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def canon(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize(
    "fn,cols,mode",
    [
        (tumbling_counts,
         ["window_start", "window_end", "event_type", "n_events", "sum_value"],
         "complete"),
        (sliding_counts, ["window_start", "window_end", "n_events"], "complete"),
        (session_counts,
         ["session_start", "session_end", "user_id", "n_events"], "complete"),
    ],
    ids=["tumbling", "sliding", "session"],
)
def test_window_batch_streaming_equivalence(
    spark, events_batch, events_stream_dir, tmp_path, fn, cols, mode
):
    batch_out = canon(fn(events_batch), cols)
    stream_src = spark.readStream.schema(EVENT_SCHEMA).parquet(events_stream_dir)
    stream_out = canon(run_stream(spark, fn(stream_src), tmp_path, mode), cols)
    assert stream_out == batch_out
    assert len(batch_out) > 0


def test_dedup_within_watermark(spark, events_batch, tmp_path):
    # duplicate the stream (at-least-once delivery): each event twice
    dup_dir = str(tmp_path / "dup")
    events_batch.union(events_batch).repartition(4).write.parquet(dup_dir)
    stream_src = spark.readStream.schema(EVENT_SCHEMA).parquet(dup_dir)
    deduped = run_stream(
        spark, dedup_within_watermark(stream_src), tmp_path, "append"
    )
    assert deduped.count() == events_batch.count()
    # batch limit of the same operator
    assert dedup_within_watermark(
        events_batch.union(events_batch)
    ).count() == events_batch.count()


def test_incremental_medallion(spark, tmp_path):
    """Two-wave ingest: bronze stream catches up exactly-once; silver
    refresh is idempotent; gold cache persists across micro-batches."""
    raw_dir = tmp_path / "raw"
    bronze_dir = str(tmp_path / "bronze")
    silver_dir = str(tmp_path / "silver")
    raw_dir.mkdir()

    def land(records, name):
        with open(raw_dir / name, "w") as f:
            for r in records:
                f.write(json.dumps(r) + "\n")

    # wave 1: first 10 records
    land(RAW_FILINGS[:10], "wave1.jsonl")
    q = stream_bronze(spark, str(raw_dir), bronze_dir, str(tmp_path / "ck_bronze"))
    q.awaitTermination(300)
    n1 = spark.read.parquet(bronze_dir).count()
    assert n1 == 10

    # wave 2: remainder — AvailableNow picks up ONLY the new file
    land(RAW_FILINGS[10:], "wave2.jsonl")
    q = stream_bronze(spark, str(raw_dir), bronze_dir, str(tmp_path / "ck_bronze"))
    q.awaitTermination(300)
    bronze = spark.read.parquet(bronze_dir)
    assert bronze.count() == len(RAW_FILINGS)  # no reprocessing of wave 1

    run_silver_refresh(spark, bronze_dir, silver_dir)
    companies = spark.read.parquet(os.path.join(silver_dir, "companies"))
    filings = spark.read.parquet(os.path.join(silver_dir, "filings"))
    assert companies.count() > 0
    # same result as the batch pipeline over the same data
    from ipes_data_pipeline_spark.pipeline.bronze import flatten_filings
    from ipes_data_pipeline_spark.pipeline.silver import structure
    from ipes_data_pipeline_spark.schemas import RAW_FILING_NESTED

    batch_star = structure(
        flatten_filings(spark.createDataFrame(RAW_FILINGS, RAW_FILING_NESTED))
    )
    assert canon(companies, ["normalized_name", "filing_count"]) == canon(
        batch_star.companies, ["normalized_name", "filing_count"]
    )

    # gold: stream the companies dir; cache must carry across batches
    cache_dir = str(tmp_path / "cache")
    gold_dir = str(tmp_path / "gold")
    comp_stream = spark.readStream.schema(companies.schema).parquet(
        os.path.join(silver_dir, "companies")
    )
    q = stream_gold_enrichment(
        spark, comp_stream, filings, cache_dir, gold_dir,
        str(tmp_path / "ck_gold"),
    )
    q.awaitTermination(300)
    gold = spark.read.parquet(gold_dir)
    assert gold.count() == companies.count()
    cache = spark.read.schema(ENRICHMENT_CACHE).parquet(cache_dir)
    assert cache.count() == companies.count()

    # re-run over the same companies (new checkpoint → reprocess): the
    # warmed cache serves every row; no new cache rows appear
    def exploding_backend(name, dockets):
        raise AssertionError("cache must serve the second pass")

    q = stream_gold_enrichment(
        spark, comp_stream, filings, cache_dir, gold_dir,
        str(tmp_path / "ck_gold2"), backend=exploding_backend,
    )
    q.awaitTermination(300)
    assert cache.count() == companies.count()  # unchanged
    gold2 = spark.read.parquet(gold_dir)
    assert gold2.count() == 2 * companies.count()
    assert gold2.filter(F.col("industry_segment").isNull()).count() == 0


def test_gold_upsert_converges(spark, tmp_path):
    """stream_gold_upsert: replaying the same companies merges on id —
    gold stays one row per company (the append variant doubles)."""
    from ipes_data_pipeline_spark.pipeline.bronze import flatten_filings
    from ipes_data_pipeline_spark.pipeline.silver import structure
    from ipes_data_pipeline_spark.schemas import RAW_FILING_NESTED
    from ipes_data_pipeline_spark.streaming.medallion import stream_gold_upsert

    star = structure(
        flatten_filings(spark.createDataFrame(RAW_FILINGS, RAW_FILING_NESTED))
    )
    silver_dir = str(tmp_path / "silver_companies")
    star.companies.write.parquet(silver_dir)
    star.filings.write.parquet(str(tmp_path / "silver_filings"))
    companies = spark.read.parquet(silver_dir)
    filings = spark.read.parquet(str(tmp_path / "silver_filings"))
    n = companies.count()

    cache_dir = str(tmp_path / "cache")
    gold_dir = str(tmp_path / "gold")
    comp_stream = spark.readStream.schema(companies.schema).parquet(silver_dir)

    q = stream_gold_upsert(
        spark, comp_stream, filings, cache_dir, gold_dir,
        str(tmp_path / "ck1"),
    )
    q.awaitTermination(300)
    gold = spark.read.parquet(gold_dir)
    assert gold.count() == n
    assert gold.select("id").distinct().count() == n

    # replay with a fresh checkpoint: same companies re-enriched from
    # cache; gold must CONVERGE (merge on id), not double
    q = stream_gold_upsert(
        spark, comp_stream, filings, cache_dir, gold_dir,
        str(tmp_path / "ck2"),
    )
    q.awaitTermination(300)
    gold2 = spark.read.parquet(gold_dir)
    assert gold2.count() == n
    assert gold2.select("id").distinct().count() == n
    assert gold2.filter(F.col("industry_segment").isNull()).count() == 0


def test_failed_enrichment_never_poisons_cache(spark, tmp_path):
    """A backend failure yields an all-null enrichment row; that row
    must NOT enter the cache table — a cached failure would be a
    permanent miss that re-pays the backend AND re-appends every batch,
    and its duplicate cache rows would fan out every later join. The
    failed name stays uncached and succeeds on the next run."""
    import os

    from ipes_data_pipeline_spark.pipeline.bronze import flatten_filings
    from ipes_data_pipeline_spark.pipeline.silver import structure
    from ipes_data_pipeline_spark.schemas import ENRICHMENT_CACHE, RAW_FILING_NESTED
    from ipes_data_pipeline_spark.streaming.medallion import stream_gold_enrichment
    from ipes_data_pipeline_spark.operators.enrich import DeterministicMockBackend
    from tests.fixtures import RAW_FILINGS

    star = structure(
        flatten_filings(spark.createDataFrame(RAW_FILINGS, RAW_FILING_NESTED))
    )
    silver_dir = str(tmp_path / "companies")
    star.companies.write.parquet(silver_dir)
    star.filings.write.parquet(str(tmp_path / "filings"))
    companies = spark.read.parquet(silver_dir)
    filings = spark.read.parquet(str(tmp_path / "filings"))
    victim = companies.select("normalized_name").first()[0]
    mock = DeterministicMockBackend()

    def flaky(name, dockets):
        if name == victim:
            raise RuntimeError("backend down for this name")
        return mock(name, dockets)

    cache_dir = str(tmp_path / "cache")
    gold_dir = str(tmp_path / "gold")
    comp_stream = spark.readStream.schema(companies.schema).parquet(silver_dir)
    q = stream_gold_enrichment(
        spark, comp_stream, filings, cache_dir, gold_dir,
        str(tmp_path / "ck1"), backend=flaky,
    )
    q.awaitTermination(300)
    cache = spark.read.schema(ENRICHMENT_CACHE).parquet(cache_dir)
    n = companies.count()
    assert cache.count() == n - 1  # the failed name is NOT cached
    assert cache.where(f"normalized_name = '{victim}'").count() == 0

    # next run (healthy backend): the victim is re-tried, cached ONCE,
    # and no duplicate cache rows exist for anyone
    comp_stream = spark.readStream.schema(companies.schema).parquet(silver_dir)
    q = stream_gold_enrichment(
        spark, comp_stream, filings, cache_dir, gold_dir,
        str(tmp_path / "ck2"), backend=mock,
    )
    q.awaitTermination(300)
    cache = spark.read.schema(ENRICHMENT_CACHE).parquet(cache_dir)
    assert cache.count() == n
    assert cache.select("normalized_name").distinct().count() == n


def test_stream_state_partitions_knob_is_value_invariant(
    spark, sf_dir, monkeypatch
):
    """tpch_shapes.STREAM_STATE_PARTITIONS sizes state stores for the
    bounded streaming demos: values must be identical at any setting
    (only wall clock moves), and the session's shuffle partition conf
    must be restored after the run — including the registered default
    path."""
    from ipes_data_pipeline_spark.queries import REGISTRY, load_all, tpch_shapes

    load_all()
    run = REGISTRY["q70_streaming_tumbling"].spark
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def rows(n_parts):
        monkeypatch.setattr(tpch_shapes, "STREAM_STATE_PARTITIONS", n_parts)
        return sorted(map(tuple, run(spark, sf_dir).collect()))

    assert rows(2) == rows(16)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
