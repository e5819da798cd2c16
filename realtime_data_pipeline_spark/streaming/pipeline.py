"""Streaming ingest → parse → watermark → windowed aggregation.

The reference consumer end to end (consumer/consumer.py:88-140),
re-expressed as a parameterized library:

  S5  Kafka stream scan          — kafka_stream()
  P1  binary→string cast         — parse_events()
  P2  from_json w/ declared      — EVENT_SCHEMA (consumer:79-84)
  P3  struct flatten             — parse_events()
  P4  conjunctive null filter    — parse_events()
  W1  10-minute watermark        — windowed_stream_counts()
  W2  sliding 10m/5m window      — windowed_stream_counts()
  W3  append-mode finalized emit — start_upsert_query (sinks.py)

The same `windowed_stream_counts` expression works on batch and
streaming DataFrames — batch–stream parity is a test invariant, not a
hope.  File-replay sources with availableNow triggers make streaming
tests deterministic.

Scale: state is keyed on (window, key) — bounded by the watermark;
at high key cardinality use the RocksDB state store provider
(session conf) instead of the default in-memory map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

# The reference's declared event schema (consumer/consumer.py:79-84):
# fixed StructType, never inferred on the hot path.
EVENT_SCHEMA = StructType(
    [
        StructField("user_id", StringType(), True),
        StructField("item_id", StringType(), True),
        StructField("interaction_type", StringType(), True),
        StructField("timestamp", TimestampType(), True),
    ]
)


def kafka_source_options(
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int = 10_000,
) -> dict[str, str]:
    """S5 option contract (reference consumer/consumer.py:88-94), as a
    pure function so the plumbing is testable without a broker: all
    values stringified, admission control and lossy-recovery tolerance
    always present."""
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "maxOffsetsPerTrigger": str(max_offsets_per_trigger),
        "failOnDataLoss": "false",
    }


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int = 10_000,
) -> DataFrame:
    """S5: Kafka source with admission control (maxOffsetsPerTrigger) and
    lossy-recovery tolerance, as the reference configures it
    (consumer/consumer.py:88-94)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
        brokers, topic, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def parse_events(raw: DataFrame, schema: StructType = EVENT_SCHEMA) -> DataFrame:
    """P1-P4: CAST(value AS STRING) → from_json(declared schema) →
    flatten → drop rows with null key/timestamp
    (consumer/consumer.py:108-111)."""
    return (
        raw.selectExpr("CAST(value AS STRING) AS json_str")
        .select(F.from_json(F.col("json_str"), schema).alias("data"))
        .select("data.*")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("item_id").isNotNull()
            & F.col("timestamp").isNotNull()
        )
    )


def windowed_stream_counts(
    events: DataFrame,
    key_col: str,
    ts_col: str = "timestamp",
    slide: str | None = "5 minutes",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """W1+A1/A2: watermarked 10-minute sliding-window count per key
    (consumer/consumer.py:112-140).

    Works identically on batch DataFrames (withWatermark is a no-op in
    batch) — the basis of the batch–stream parity tests, and the
    registry's batch A1/A2/W2 queries run it as is.  slide=None gives
    tumbling windows (W2).  Pass watermark=None when the input already
    carries one (an upstream stateful operator such as
    dropDuplicatesWithinWatermark) — Spark forbids redefining it.
    """
    win = F.window(F.col(ts_col), "10 minutes", slide)
    return (
        (events.withWatermark(ts_col, watermark) if watermark else events)
        .groupBy(win.alias("window"), F.col(key_col))
        .agg(F.count("*").alias("total_interactions"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            F.col(key_col),
            F.col("total_interactions"),
        )
    )


def file_replay_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Deterministic test source: replay parquet files as a stream
    (stands in for Kafka; same downstream plan)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)
