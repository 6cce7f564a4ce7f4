"""etl_spark_spark — a PySpark-native analytics engine.

A reusable operator library with the query and data-processing
capabilities of the reference ETL system (Marcus-Holanda777/etl-spark,
surveyed in SURVEY.md), re-expressed Spark-first: declarative DataFrame
plans that Catalyst/Tungsten optimize, Spark-native sinks instead of
collect-to-driver, and LLM-data-pipeline extensions (dedup, similarity
search, text analysis, streaming windows) designed for 100 TB scale.

Layout:
    session    — SparkSession factory tuned for local testing & cluster scale
    execution  — execution policy (fan-out, computed-once columns,
                 concurrent actions)
    sources/   — parquet scans (explicit schema, date-range pruning)
    functions/ — Column-expression builders (normalization, money, nulls, text)
    operators/ — relational operators (dedup, windows, joins, set ops,
                 reconciliation, allocation, similarity)
    sinks/     — Spark-native write/upsert
    plans/     — plan inspection helpers (explain, pushdown assertions)
    streaming/ — event-time windowing (batch + Structured Streaming)
    pipelines/ — composite pipelines mirroring the reference's two jobs
"""

__version__ = "0.1.0"
