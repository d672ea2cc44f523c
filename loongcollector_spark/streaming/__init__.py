"""Structured Streaming variant of the pipeline."""

from loongcollector_spark.streaming.pipeline import (  # noqa: F401
    StreamingTranscriptPipeline,
)
