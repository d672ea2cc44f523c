"""Sinks (flusher analogues) + serializers (SURVEY.md §2.5).

The reference's flushers are network producers (SLS/Kafka/HTTP/...); in a
Spark batch engine every sink is a table write. What carries over:

* **serializer**: JSON one-object-per-event — group tags inlined,
  ``__time__`` epoch field, then contents
  (core/collection_pipeline/serializer/JsonSerializer.cpp:29-85)
* **dynamic topic** (``%{content.field}`` of flusher_kafka_v2 —
  plugins/flusher/kafkav2/flusher_kafka_v2.go:317-332, pkg/fmtstr/
  format_topic.go:18) → ``partitionBy(topic_col)`` — one job writes every
  topic directory, Spark's dynamic partition insert
* **batcher flush thresholds** (MinCnt/MinSizeBytes —
  core/collection_pipeline/batch/FlushStrategy.h:31-64) →
  ``maxRecordsPerFile`` + AQE-coalesced partitions: output file sizing
* **blackhole** (benchmark sink) → ``noop`` format
* **exactly-once** → atomic directory commit (_SUCCESS) or Iceberg
  snapshot when the runtime has it; plus the checkpoint table
  (loongcollector_spark/checkpoint.py)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def json_serialize(
    df: DataFrame,
    time_col: str = "ts",
    tag_cols: list[str] | None = None,
    content_cols: list[str] | None = None,
) -> DataFrame:
    """Serialize rows to the reference's JSON event shape:
    ``{"__time__": <epoch>, <tags...>, <contents...>}``
    (JsonSerializer.cpp:29-85 inlines group tags + __time__ + contents).
    Returns a 1-column DataFrame ``value: string`` — the shape any
    byte-oriented sink (kafka, http) consumes."""
    tag_cols = tag_cols or []
    content_cols = content_cols or [
        c for c in df.columns if c != time_col and c not in tag_cols
    ]
    return df.select(_event_json(time_col, tag_cols, content_cols).alias("value"))


def _event_json(time_col: str, tag_cols: list[str], content_cols: list[str]):
    """The reference's JSON event shape as one expression:
    ``{"__time__": <epoch>, <tags...>, <contents...>}``
    (JsonSerializer.cpp:29-85) — shared by json_serialize and the
    flusher_http request bodies so the shape cannot drift."""
    return F.to_json(
        F.struct(
            F.unix_timestamp(F.col(time_col)).alias("__time__"),
            *[F.col(c) for c in tag_cols],
            *[F.col(c) for c in content_cols],
        )
    )


def write_dynamic_topic(
    df: DataFrame,
    path: str,
    topic_col: str = "__topic__",
    fmt: str = "parquet",
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """flusher_kafka dynamic-topic analogue: rows fan out to per-topic
    directories in ONE write job via ``partitionBy`` (dynamic partition
    insert). The topic column is typically the router's ``__sink__``
    (Router.route_multicast_exploded / route_exclusive_tagged) or a
    fmtstr-style expression."""
    (
        df.write.format(fmt)
        .mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(topic_col)
        .save(path)
    )


# the reference's %{content.field}/%{tag.field} variable syntax
# (pkg/fmtstr/format_topic.go:18, flusher_http.go buildVarKeys :599-620)
VAR_TEMPLATE_RX = r"%\{(?:content|tag)\.([\w.]+)\}"


def topic_fmtstr(template: str) -> Column:
    """``%{content.field}``/``%{tag.field}`` topic templates
    (pkg/fmtstr/format_topic.go:18) → a concat expression."""
    import re

    parts: list[Column] = []
    pos = 0
    for m in re.finditer(VAR_TEMPLATE_RX, template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        parts.append(F.col(m.group(1)))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    return F.concat(*parts) if parts else F.lit(template)


def flusher_http_requests(
    df: DataFrame,
    remote_url: str,
    query: dict[str, str] | None = None,
    headers: dict[str, str] | None = None,
    time_col: str = "ts",
    tag_cols: list[str] | None = None,
    content_cols: list[str] | None = None,
    max_events_per_request: int = 1024,
) -> DataFrame:
    """flusher_http modeled as a REQUEST TABLE — one row per POST the
    reference would issue (plugins/flusher/http/flusher_http.go:74-95).

    Reference semantics reproduced:
    * ``%{content.x}`` / ``%{tag.x}`` templates in Query/Headers values
      become varKeys (buildVarKeys, :599-620); the converter groups
      events by those selected fields so every request body has uniform
      var values (ToByteStreamWithSelectedFields, :422), substituted into
      the query/header values (flush, :529-560).
    * body = newline-separated JSON events (the custom_single converter
      protocol), deterministic (time, payload) order, bounded by
      ``max_events_per_request`` chunks (the converter's batch split).

    The POST itself is an external side effect: at cluster scale a
    ``foreachPartition`` HTTP sender drains this table (retry/backoff/
    compression are sender concerns); the request set IS the verifiable
    output, so correctness is testable without a network."""
    import re as _re

    query = query or {}
    headers = headers or {}
    var_fields = sorted(
        {
            m
            for tmpl in list(query.values()) + list(headers.values())
            for m in _re.findall(VAR_TEMPLATE_RX, tmpl)
        }
    )
    tag_cols = tag_cols or []
    content_cols = content_cols or [
        c
        for c in df.columns
        if c != time_col and c not in tag_cols and c not in var_fields
    ]
    event = _event_json(time_col, tag_cols, content_cols)
    out = df.withColumn("__event__", event).withColumn(
        "__ord__", F.struct(F.col(time_col), F.col("__event__"))
    )
    from loongcollector_spark.aggregators import metadata_group_bounded

    if var_fields:
        chunked = metadata_group_bounded(
            out, var_fields, "__ord__", max_events=max_events_per_request
        )
        group_cols = [*var_fields, "group_seq"]
    else:
        w_all = F.floor(
            (F.row_number().over(Window.orderBy("__ord__")) - 1)
            / F.lit(max_events_per_request)
        )
        chunked = out.withColumn("group_seq", w_all.cast("int"))
        group_cols = ["group_seq"]
    agg = chunked.groupBy(*group_cols).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__ord__", "__event__"))),
                lambda e: e["__event__"],
            ),
            "\n",
        ).alias("payload"),
        F.count(F.lit(1)).alias("n_events"),
    )

    def resolved(tmpls: dict[str, str]) -> Column:
        if not tmpls:
            return F.create_map().cast("map<string,string>")
        pairs: list[Column] = []
        for k, v in tmpls.items():
            pairs += [F.lit(k), topic_fmtstr(v)]
        return F.create_map(*pairs)

    return agg.select(
        F.lit(remote_url).alias("url"),
        resolved(query).alias("query"),
        resolved(headers).alias("headers"),
        "payload",
        "n_events",
        *var_fields,
    )


class FileSink:
    """flusher_file: serialized JSON rows to rotating files → here,
    size-bounded json/parquet files (FlusherFile.h:31-48)."""

    def __init__(self, path: str, fmt: str = "json", max_records_per_file: int = 500_000):
        self.path = path
        self.fmt = fmt
        self.max_records = max_records_per_file

    def write(self, df: DataFrame, mode: str = "overwrite") -> None:
        (
            df.write.format(self.fmt)
            .mode(mode)
            .option("maxRecordsPerFile", self.max_records)
            .save(self.path)
        )


class BlackholeSink:
    """flusher_blackhole: full execution, discarded output (bench sink)."""

    def write(self, df: DataFrame, mode: str = "overwrite") -> None:
        df.write.format("noop").mode(mode).save()


def compact_snapshot(
    spark,
    path: str,
    target_mb: int = 128,
    partition_cols: list[str] | None = None,
) -> dict:
    """Small-file compaction for a written (parquet) sink snapshot —
    the table-maintenance job every streaming/fan-out sink needs: a
    micro-batched or per-sink-partitioned writer leaves thousands of
    small files; scans then pay per-file open cost and the NameNode/
    manifest pays per-file metadata (on Iceberg this is
    rewrite_data_files; the parquet stand-in rewrites in place).

    Sizes the output by MEASURED bytes (sum of current file sizes /
    target), not row counts — compression-aware. Rewrites via
    repartition(n) (one shuffle) into a temp dir, then atomically
    swaps. Returns {files_before, files_after, bytes}.

    Scale note: at 10^12 turns this runs per PARTITION of the sink
    table (compact yesterday's partition after the day closes), never
    whole-table — pass the partition's path.
    """
    import math
    import os
    import shutil

    def _files(p):
        out = []
        for root, _, names in os.walk(p):
            out += [
                os.path.join(root, x)
                for x in names
                if x.endswith(".parquet")
            ]
        return out

    before = _files(path)
    total = sum(os.path.getsize(f) for f in before)
    n_out = max(1, math.ceil(total / (target_mb * (1 << 20))))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    w = df.repartition(n_out).write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(tmp)
    # two renames, then delete (ADVICE r5): a crash between steps leaves
    # either the original or the new snapshot intact — never neither.
    # (Same-filesystem renames; a cross-fs tmp would have failed the
    # parquet write into `tmp` long before this point.)
    old = path.rstrip("/") + "__compact_old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old, path)  # restore the original snapshot
        raise
    shutil.rmtree(old)
    return {
        "files_before": len(before),
        "files_after": len(_files(path)),
        "bytes": total,
    }
