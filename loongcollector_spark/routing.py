"""Tag router: fan one DataFrame out to conditional sinks, multicast.

Reference: core/collection_pipeline/route/Router.cpp:50-82 — each flusher
may declare a Condition; unconditional flushers always receive; a group
matching k conditions is copied k times (multicast, non-exclusive).
Conditions (core/collection_pipeline/route/Condition.h:28-73) are either
event-type equality or tag equality, with optional ``DiscardingTag``
(the matched tag is removed after routing).

Spark realization: ONE routed frame. ``Router.route_multicast_exploded``
gives every row one copy per matching sink, named in a ``__sink__``
column; the copies are made inside the same codegen stage, with no
cache, no second scan and no shuffle. Everything downstream derives
from that frame: one ``partitionBy("__sink__")`` write lays it out as
``<root>/__sink__=<name>`` directories, one grouped aggregation gives
every sink's metrics, and ``Router.sink`` is the per-sink view.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class TagCondition:
    """Equality on a tag (column) value — Condition.h:41-56."""

    key: str
    value: str
    discarding_tag: bool = False

    def predicate(self) -> Column:
        return F.col(self.key) == F.lit(self.value)


@dataclass
class ExprCondition:
    """Engine extension: arbitrary SQL boolean expression condition
    (covers EventTypeCondition and the Go logstorerouter regex route)."""

    expr: str

    def predicate(self) -> Column:
        return F.expr(self.expr)


@dataclass
class Route:
    """One flusher's route: name + optional condition."""

    name: str
    condition: TagCondition | ExprCondition | None = None  # None = unconditional


def _discarded_tag(route: Route) -> str | None:
    c = route.condition
    return c.key if isinstance(c, TagCondition) and c.discarding_tag else None


class Router:
    """Multicast router: a row matching several conditions is copied to
    every matching sink (deep-copy semantics of Router.cpp:66-77);
    unconditional routes receive everything (Router.cpp:50-54)."""

    def __init__(self, routes: list[Route]):
        if not routes:
            raise ValueError("at least one route required")
        names = [r.name for r in routes]
        if len(set(names)) != len(names):
            raise ValueError("duplicate sink names")
        self.routes = list(routes)

    def route_multicast_exploded(self, df: DataFrame) -> DataFrame:
        """The routed frame: one row per (row, matching sink), the sink
        named in ``__sink__``. A ``DiscardingTag`` condition sets its tag
        to NULL on that sink's copies only; the other copies keep it."""
        matched = F.array(
            *[
                F.when(
                    F.lit(True)
                    if r.condition is None
                    else r.condition.predicate(),
                    F.lit(r.name),
                )
                for r in self.routes
            ]
        )
        out = df.withColumn(
            "__sink__", F.explode(F.filter(matched, lambda x: x.isNotNull()))
        )
        for r in self.routes:
            key = _discarded_tag(r)
            if key:
                out = out.withColumn(key, F.when(F.col("__sink__") != r.name, F.col(key)))
        return out

    def sink(self, routed: DataFrame, name: str) -> DataFrame:
        """One sink's rows of the routed frame, without ``__sink__`` and
        without the tag its condition discards."""
        (route,) = [r for r in self.routes if r.name == name]
        out = routed.filter(F.col("__sink__") == name).drop("__sink__")
        key = _discarded_tag(route)
        return out.drop(key) if key else out

    def route_exclusive_tagged(self, df: DataFrame) -> DataFrame:
        """Alternative single-pass physical strategy for *exclusive* routes:
        tag each row with its first matching sink in ``__sink__`` (the Go
        aggregator_logstorerouter semantics —
        plugins/aggregator/logstorerouter/aggregator_router.go:44-60), then
        one partitioned write handles all sinks in a single job. Use when
        conditions are disjoint and sinks share a format."""
        expr = F.lit(None).cast("string")
        for r in reversed(self.routes):
            pred = F.lit(True) if r.condition is None else r.condition.predicate()
            expr = F.when(pred, F.lit(r.name)).otherwise(expr)
        # reversed() + otherwise chaining makes the FIRST route win
        return df.withColumn("__sink__", expr)


@dataclass
class LogstoreRouter:
    """Go row-level router: first matching regex (on SourceKey value) wins
    (plugins/aggregator/logstorerouter/aggregator_router.go:44-60).

    ``DropDisMatch``: rows matching nothing are dropped, else they go to
    ``DefaultLogstore``.
    """

    source_key: str
    router_regex: list[str] = field(default_factory=list)
    router_logstore: list[str] = field(default_factory=list)
    drop_dis_match: bool = False
    default_logstore: str = "default"
    dest_col: str = "__logstore__"

    def __call__(self, df: DataFrame) -> DataFrame:
        src = F.col(self.source_key)
        expr = (
            F.lit(None).cast("string")
            if self.drop_dis_match
            else F.lit(self.default_logstore)
        )
        for rx, store in zip(reversed(self.router_regex), reversed(self.router_logstore)):
            # reference uses regex search (not full match) here
            expr = F.when(src.rlike(rx), F.lit(store)).otherwise(expr)
        out = df.withColumn(self.dest_col, expr)
        if self.drop_dis_match:
            out = out.filter(F.col(self.dest_col).isNotNull())
        return out
