"""Declared query surface: every operator family from SURVEY.md §2.

Each query is registered as a :class:`QuerySpec` with

- ``spark``  — ``(SparkSession, sf_dir) -> DataFrame`` (idiomatic DataFrame
  API; Catalyst owns the physical plan), and
- ``oracle`` — the equivalent ANSI SQL DuckDB runs on the same parquet
  tables (``None`` for ops SQL cannot express; the driver then records a
  rows-only check).

Cross-engine determinism rules (SURVEY.md §2.2):

- double aggregates go through ``DECIMAL(18,6)`` (exact arithmetic,
  identical in both engines) and are cast back to double — see
  :func:`dsum` / :data:`SQL_DSUM`; raw column pass-throughs are safe
  because both engines read the same parquet bits;
- timestamps are session-UTC (``tune``), matching DuckDB's naive UTC;
- every computed column is aliased identically on both sides (the
  driver's comparator sorts columns by name before hashing);
- no nondeterministic functions; ties in top-k/mode are broken by an
  explicit deterministic key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ipes_data_pipeline_spark.schemas import TABLE_SCHEMAS
from ipes_data_pipeline_spark.session import tune

TABLES = tuple(TABLE_SCHEMAS)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    family: str  # SURVEY.md §2 operator family this query declares


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, family: str, oracle: str | None):
    """Decorator registering a (spark_fn, oracle_sql) pair."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(name=name, spark=wrapped, oracle=oracle, family=family)
        return wrapped

    return deco


def _ts_type(spark: SparkSession, path: str) -> T.DataType:
    """Spark type of the ``ts`` column stored at ``path`` (a parquet file
    or a directory of them), from one footer read on the driver through
    the Parquet API on the JVM: no Spark job.

    TIMESTAMP(NANOS) reads as a nanos long (``nanosAsLong``, set by
    ``tune``); micros/millis without UTC adjustment as TIMESTAMP_NTZ;
    UTC-adjusted as TIMESTAMP."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    status = fs.getFileStatus(jpath)
    if status.isDirectory():
        status = next(
            s
            for s in fs.listStatus(jpath)
            if s.isFile() and s.getPath().getName().endswith(".parquet")
        )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf)
    )
    try:
        col = reader.getFileMetaData().getSchema().getType("ts")
        ann = col.getLogicalTypeAnnotation()
    finally:
        reader.close()
    if ann is not None and ann.getUnit().name() == "NANOS":
        return T.LongType()
    if ann is None or ann.isAdjustedToUTC():
        return T.TimestampType()
    return T.TimestampNTZType()


def events_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """The declared ``events`` schema with ``ts`` in the encoding of
    ``{sf_dir}/events.parquet`` (see :func:`_ts_type`)."""
    ts = _ts_type(spark, f"{sf_dir}/events.parquet")
    return T.StructType(
        [
            T.StructField("ts", ts, True) if f.name == "ts" else f
            for f in TABLE_SCHEMAS["events"]
        ]
    )


def normalize_ts(events: DataFrame) -> DataFrame:
    """``ts`` as a session-tz TIMESTAMP, whichever encoding was read.

    The nanos data is micro-aligned, so ``timestamp_micros(ts div 1000)``
    is lossless; the session is pinned UTC (session.py), so the NTZ cast
    is wall-clock identity. Both match DuckDB's ``CAST(ts AS TIMESTAMP)``.
    """
    dt = events.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (parquet scan; pushdown-friendly).

    The read uses the table's declared schema (``schemas.TABLE_SCHEMAS``),
    so no schema-inference job runs per load. ``events.ts`` comes in one
    of two encodings: TIMESTAMP(MICROS) without UTC adjustment (read as
    TIMESTAMP_NTZ; the testdata and the benchmark's generated tables) or
    TIMESTAMP(NANOS) (read as a nanos long under ``nanosAsLong``). One
    driver-side footer read picks the encoding and :func:`normalize_ts`
    turns both into the same TIMESTAMP values.

    No blanket repartition here: joins/aggs parallelize at their own
    exchange, and an extra round-robin shuffle before them measurably
    hurts. CPU-heavy per-row operators (minhash/simhash/features) call
    :func:`~ipes_data_pipeline_spark.operators.util.spread` themselves.
    """
    schema = events_schema(spark, sf_dir) if name == "events" else TABLE_SCHEMAS[name]
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    return normalize_ts(df) if name == "events" else df


# --- deterministic double aggregation helpers -------------------------------
def dec(c, scale: int = 6):
    """Column cast to exact decimal — identical rounding in Spark/DuckDB."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal(18,{scale})")


def dsum(c, alias: str):
    """Exact decimal sum of a double column, emitted as double."""
    return F.sum(dec(c)).cast("double").alias(alias)


def davg(c, alias: str):
    """Deterministic average: exact decimal sum, double division by count."""
    col = F.col(c) if isinstance(c, str) else c
    return (F.sum(dec(col)).cast("double") / F.count(col)).alias(alias)


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"(CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) / COUNT({expr}))"


def load_all() -> None:
    """Import all query modules so REGISTRY is fully populated."""
    from ipes_data_pipeline_spark.queries import (  # noqa: F401
        curation,
        dataops,
        extras,
        mixing,
        prep,
        relational,
        retrieval,
        tpch_shapes,
        windows_batch,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    load_all()
    return {name: spec.spark for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    load_all()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}
