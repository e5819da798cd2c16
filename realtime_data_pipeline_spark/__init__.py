"""realtime_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new, idiomatic Spark implementation of the query and
data-processing capabilities of the reference pipeline
(jaygupta12300/realtime_data_pipeline): streaming event ingest with
watermarked sliding-window aggregations, keyed-upsert aggregate
tables, the dashboard's serving analytics as first-class DataFrame
queries, and LLM-data-pipeline extensions (dedup, similarity search,
text analysis, multimodal columns) designed for 100 TB scale.

Layout:
    session     — SparkSession factory (AQE, UTC, Arrow)
    tables      — testdata loaders (schema fixes, ns→µs timestamps)
    operators/  — KPIs, relational analytics
    functions/  — text analysis, dedup, similarity primitives
    sources/    — synthetic event generator, Kafka adapters
    streaming/  — watermark+window pipeline, upsert sink, monitor
    plans/      — the query registry (Spark fn + DuckDB oracle SQL)
"""

__version__ = "0.1.0"
