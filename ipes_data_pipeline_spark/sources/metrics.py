"""Run telemetry: append-only metrics history (reference
``run_pipeline.py:107-144`` and ``code/structure_data.py:291-309``).

The reference read-modify-appends a growing JSON list per run — O(runs)
rewrite cost and racy under concurrency. Here each run appends ONE
Parquet row (append mode is atomic per file); history queries are plain
DataFrame reads with "latest run" = max_by over the timestamp (the
reference's ``iloc[-1]``, Monitoring.py:36).

Unlike the reference's always-empty ``step_metrics`` (run_pipeline.py
initializes it at :154 but never populates it — SURVEY §2.3.2), stage
durations here are real, passed by the stage runner.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

RUN_STATS_SCHEMA = T.StructType(
    [
        T.StructField("run_ts", T.TimestampType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("total_duration_seconds", T.DoubleType(), False),
        T.StructField("steps", T.MapType(T.StringType(), T.DoubleType()), False),
        T.StructField("validation", T.StringType(), True),  # JSON blob
    ]
)


def record_run(
    spark: SparkSession,
    stats_dir: str,
    status: str,
    duration_seconds: float,
    step_durations: dict[str, float],
    validation: dict | None = None,
    run_ts: float | None = None,
) -> None:
    """Append one run record to the metrics table.

    The row is built on the JVM from literals over ``spark.range`` —
    ``createDataFrame`` of a local list would ship pickled rows to a
    Python worker just to write one record."""
    # epoch micros → TIMESTAMP is an instant: no session-timezone
    # reinterpretation on write (as a naive datetime would suffer)
    micros = round((run_ts if run_ts is not None else time.time()) * 1_000_000)
    steps = [
        x for k, v in step_durations.items() for x in (F.lit(k), F.lit(float(v)))
    ]
    values = {
        "run_ts": F.timestamp_micros(F.lit(micros)),
        "status": F.lit(status),
        "total_duration_seconds": F.lit(float(duration_seconds)),
        "steps": F.create_map(*steps),
        "validation": F.lit(
            json.dumps(validation) if validation is not None else None
        ),
    }
    spark.range(0, 1, 1, 1).select(
        *[values[f.name].cast(f.dataType).alias(f.name) for f in RUN_STATS_SCHEMA]
    ).write.mode("append").parquet(stats_dir)


def run_history(spark: SparkSession, stats_dir: str) -> DataFrame:
    return spark.read.schema(RUN_STATS_SCHEMA).parquet(stats_dir)


def latest_run(spark: SparkSession, stats_dir: str) -> dict:
    """G6 'latest run' lookup: max_by over run_ts, single reduce —
    no global sort, no driver-side history scan."""
    df = run_history(spark, stats_dir)
    row = df.select(
        F.max_by(F.struct(*df.columns), "run_ts").alias("r")
    ).select("r.*").collect()[0]
    return row.asDict()
