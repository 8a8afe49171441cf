"""ipes_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the query and data-processing
capabilities of the reference system ``Godskid89/ipes_data_pipeline``
(a single-node Python ETL + analytics pipeline), generalized into a
distributed engine designed for 100 TB scale:

- typed medallion layers (bronze/silver/gold) as Parquet DataFrames,
- a relational query surface (projections, filters, joins, windows,
  aggregations — SURVEY.md §2.2 Q01–Q40),
- LLM-training-data operators (exact/fuzzy/minhash/simhash dedup,
  similarity search, text analysis, enrichment),
- Structured Streaming equivalents for the incremental paths.

Everything is declared through the DataFrame/SQL API so Catalyst + AQE
pick the physical strategy; Python UDFs appear only where built-in
operators cannot express the semantics (and then as Arrow-batched
Pandas UDFs).
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # Lazy (PEP 562): ``python -m ipes_data_pipeline_spark.worker_daemon``
    # imports this package before the daemon module may touch pyspark.
    if name in ("get_session", "tune"):
        from ipes_data_pipeline_spark import session

        return getattr(session, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
