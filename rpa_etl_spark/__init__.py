"""rpa_etl_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of th1agOx/RPA-ETL (a single-process Brazilian fiscal-document
ETL pipeline), generalized to a distributed relational + streaming + LLM-data
engine designed for 100 TB scale.

Layout:
    session    — SparkSession factory (scale-minded confs, AQE, Arrow)
    tables     — loaders for the driver's synthetic parquet tables
    registry   — declared-query registry (queries + DuckDB oracle SQL)
    plans/     — declared query plans (relational core, flagship, ...)
    functions/ — scalar-function parity (text normalization, validators, ...)
    operators/ — custom operators (dedup, similarity, text analysis, as-of)
    sources/   — ingestion (PDF via binaryFile+mapInPandas, multimodal)
    streaming/ — Structured Streaming pipelines (watermark, windows, dedup)
"""

__version__ = "0.1.0"

from rpa_etl_spark._worker import install_zipimport_guard

install_zipimport_guard()
