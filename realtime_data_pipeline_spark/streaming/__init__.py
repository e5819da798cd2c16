from realtime_data_pipeline_spark.streaming.pipeline import (  # noqa: F401
    EVENT_SCHEMA,
    parse_events,
    windowed_stream_counts,
)
from realtime_data_pipeline_spark.streaming.sinks import (  # noqa: F401
    start_upsert_query,
)
