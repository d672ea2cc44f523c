"""Sinks (flushers) and serializers."""

from loongcollector_spark.sinks.writers import (  # noqa: F401
    BlackholeSink,
    FileSink,
    json_serialize,
    write_dynamic_topic,
)
