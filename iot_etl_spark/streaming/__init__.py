from iot_etl_spark.streaming.pipeline import (
    read_stream_source,
    apply_stream_transforms,
    windowed_aggregate,
    run_stream_to_memory,
)

__all__ = [
    "read_stream_source",
    "apply_stream_transforms",
    "windowed_aggregate",
    "run_stream_to_memory",
]
