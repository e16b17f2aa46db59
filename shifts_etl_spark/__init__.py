"""shifts_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference ETL pipeline
(ivanovicnikola/shifts-etl), re-expressed Spark-first.

Layout (see SURVEY.md §7):
  schemas.py    explicit StructTypes for the nested ingest doc + 5 tables
  session.py    SparkSession factory (UTC, AQE, tuned shuffle partitions)
  caching.py    one owner per persisted frame (caching.scope)
  sources/      paginated JSON ingestion (driver- and executor-side),
                synthetic generator, parquet testdata registry
  operators/    flatten, kpi, quality, dedup, simsearch, textstats, windows,
                multimodal, curation and the other extension operators
  functions/    scalar/vector column helpers (epoch-ms parsing, cosine, ...)
  sinks/        staged atomic multi-table parquet writes; JDBC sink
  streaming.py  micro-batch analog of the paginated ingest (stream_etl)
  plans/        the named-query catalog with DuckDB oracle twins
  pipeline.py   end-to-end orchestration (run_etl / clear_data, curate,
                prepare_training_data)
  control.py    HTTP control surface (/run-etl, /clear-data)
"""

__version__ = "0.1.0"
