"""YAML pipeline configs → executable jobs.

The reference is driven by YAML pipelines (inputs → processors →
aggregators → flushers; e.g. example_config/data_pipelines/file-json.yaml,
config load path core/config/CollectionConfig.h:35-41). This module reads
the same document shape and compiles it to DataFrame machinery:

    processors:            # SAME Type/params as the reference plugins
      - Type: processor_parse_regex_native
        SourceKey: text
        Regex: '(\\w+)\\t(\\w+)'
        Keys: [k1, k2]
      - Type: processor_dict_map
        ...
    aggregators:           # optional: shardhash / content group
      - Type: aggregator_shardhash
        SourceKeys: [conv_id]
        ShardCount: 16
    flushers:              # routes: Match conditions mirror the router
      - Name: sink_a
        Match: {Key: role_class, Value: model}
      - Name: sink_all     # unconditional

``CompiledConfig.run`` returns the routed frame (``__sink__`` column,
see routing.py); with no flushers every row goes to one unconditional
route named ``default``. ``router.sink(routed, name)`` is one sink.
"""

from __future__ import annotations

from dataclasses import dataclass

import yaml
from pyspark.sql import DataFrame

from loongcollector_spark.aggregators import (
    content_value_group,
    shardhash_repartition,
)
from loongcollector_spark.operators.base import Pipeline, compile_pipeline
from loongcollector_spark.routing import Route, Router, TagCondition, ExprCondition


@dataclass
class CompiledConfig:
    processors: Pipeline
    aggregators: list
    router: Router

    def run(self, df: DataFrame) -> DataFrame:
        out = self.processors(df)
        for agg in self.aggregators:
            out = agg(out)
        return self.router.route_multicast_exploded(out)


def _build_aggregator(spec: dict):
    spec = dict(spec)
    typ = spec.pop("Type")
    if typ == "aggregator_shardhash":
        keys = spec["SourceKeys"]
        n = spec.get("ShardCount", 16)
        conn = spec.get("Connector", "_")
        return lambda df: shardhash_repartition(df, keys, n, connector=conn)
    if typ == "aggregator_content_value_group":
        keys = spec["GroupKeys"]
        return lambda df: content_value_group(df, keys)
    if typ == "aggregator_context":
        from loongcollector_spark.aggregators import context_order

        return lambda df: context_order(
            df, spec.get("ConvKey", "conv_id"), spec.get("OrderKey", "turn_idx")
        )
    raise KeyError(f"unknown aggregator {typ!r}")


def compile_config(doc: dict) -> CompiledConfig:
    """Compile a reference-shaped pipeline document (already parsed)."""
    processors = compile_pipeline(doc.get("processors", []))
    aggregators = [_build_aggregator(a) for a in doc.get("aggregators", [])]
    routes = []
    for f in doc.get("flushers") or [{"Name": "default"}]:
        cond = None
        if "Match" in f:
            m = f["Match"]
            if "Expr" in m:
                cond = ExprCondition(m["Expr"])
            else:
                cond = TagCondition(
                    m["Key"], m["Value"], m.get("DiscardingTag", False)
                )
        routes.append(Route(f["Name"], cond))
    return CompiledConfig(processors, aggregators, Router(routes))


def load_config(path_or_text: str) -> CompiledConfig:
    """Load a YAML pipeline config from a file path or inline text."""
    try:
        with open(path_or_text) as f:
            doc = yaml.safe_load(f)
    except (OSError, ValueError):
        doc = yaml.safe_load(path_or_text)
    return compile_config(doc)
