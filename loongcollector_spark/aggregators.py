"""Aggregators: grouping / batching / shard-hash routing + sink metrics.

The reference's "aggregation" is physical batching and grouping, not
numeric reduction (SURVEY.md §2.4); its only numeric aggregation is the
self-monitor counter set (§2.7). Both are represented here:

* grouping/batching → ``repartition`` / ``groupBy`` (Batcher tag-hash ≙
  shuffle-by-key; flush thresholds ≙ output file sizing)
* shard hash       → ``repartition(n, xxhash64(...))``
* self-monitor     → the per-sink counters are one ``groupBy`` over the
  routed frame (``TranscriptPipeline.metrics``) and per-stage
  observations (monitor.py)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def shardhash_repartition(
    df: DataFrame,
    source_keys: list[str],
    shard_count: int,
    connector: str = "_",
    shard_col: str | None = "__shardhash__",
) -> DataFrame:
    """aggregator_shardhash: route each row to one of ``shard_count``
    (power of two) shards by ``xxhash64(concat(values, connector)) %
    shard_count`` (plugins/aggregator/shardhash/aggregator_shardhash.go:
    68-84,158-190). Spark's built-in ``xxhash64`` gives the same keyed
    distribution (seed differs from the Go impl — we assert distribution
    properties, not hash equality). The repartition IS the shard routing:
    co-located shards, deterministic key → partition mapping.
    """
    if shard_count & (shard_count - 1):
        raise ValueError("ShardCount must be a power of 2")
    key = F.concat_ws(connector, *[F.col(k) for k in source_keys])
    bucket = F.pmod(F.xxhash64(key), F.lit(shard_count)).cast("int")
    out = df.withColumn("__lc_bucket__", bucket)
    out = out.repartition(shard_count, F.col("__lc_bucket__"))
    if shard_col:
        out = out.withColumn(shard_col, F.md5(key.cast("binary")))
    return out.drop("__lc_bucket__")


def content_value_group(
    df: DataFrame, group_keys: list[str], partitions: int | None = None
) -> DataFrame:
    """aggregator_content_value_group: co-locate rows by the *values* of
    content fields (plugins/aggregator/contentvaluegroup/
    aggregator_content_value_group.go:67-77). One shuffle; downstream
    per-group work (batch serialization, per-group files) is then narrow.
    """
    cols = [F.col(k) for k in group_keys]
    return df.repartition(partitions, *cols) if partitions else df.repartition(*cols)


def context_order(df: DataFrame, conv_col: str = "conv_id", idx_col: str = "turn_idx") -> DataFrame:
    """aggregator_context: preserve per-source ordering
    (plugins/aggregator/context/aggregator_context.go:45-61). Our stable
    invariant: rows of one conversation are contiguous and ordered by
    turn_idx — ``sortWithinPartitions`` after a key repartition, which is
    a local sort, no extra shuffle."""
    return df.sortWithinPartitions(conv_col, idx_col)


def batch_pack_ids(
    df: DataFrame, pack_col: str = "__pack_id__"
) -> DataFrame:
    """aggregator_base emits a ``__pack_id__`` prefix+seq per LogGroup
    (plugins/aggregator/baseagg/aggregator_base.go). Distributed analogue:
    (partition id, monotonic seq) — unique, lineage-traceable, no driver
    coordination."""
    return df.withColumn(
        pack_col,
        F.concat_ws(
            "-",
            F.spark_partition_id().cast("string"),
            F.monotonically_increasing_id().cast("string"),
        ),
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    salt_buckets: int = 16,
    salt_col: str = "__salt__",
) -> DataFrame:
    """Two-phase aggregation with key salting for hot-key skew.

    A plain ``groupBy(conv_id).agg(...)`` sends ALL rows of the hot
    conversation (20%+ of the table in our skew model) to ONE reducer.
    Salting splits each key into ``salt_buckets`` sub-keys for the first
    (wide) aggregation, then combines the small per-key partials — the
    explicit version of what the reference sidesteps via shard hashing
    (aggregator_shardhash.go:158-162) and what AQE skew handling does for
    joins but NOT for aggregations.

    ``aggs``: output_col → "count" | "sum:<col>" | "max:<col>" | "min:<col>"
    (the re-aggregatable functions; avg = sum+count at the call site).
    Exact results — both phases are algebraic.
    """
    salted = df.withColumn(
        salt_col, F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    phase1_aggs, phase2_aggs = [], []
    for out, spec in aggs.items():
        if spec == "count":
            phase1_aggs.append(F.count(F.lit(1)).alias(out))
            phase2_aggs.append(F.sum(out).alias(out))
        else:
            fn, col = spec.split(":", 1)
            phase1_aggs.append(getattr(F, fn)(F.col(col)).alias(out))
            combine = F.sum if fn == "sum" else (F.max if fn == "max" else F.min)
            phase2_aggs.append(combine(out).alias(out))
    partial = salted.groupBy(*keys, salt_col).agg(*phase1_aggs)
    return partial.groupBy(*keys).agg(*phase2_aggs)


def otel_signal_route(
    df: DataFrame,
    contents_col: str = "contents",
    metrics_logstore: str = "otlp-metrics",
    trace_logstore: str = "otlp-traces",
    log_logstore: str = "otlp-logs",
    out_col: str = "logstore",
) -> DataFrame:
    """aggregator_opentelemetry: route each event to a per-signal
    logstore by CONTENT COUNT — ≤5 contents → metrics, ≥19 → traces,
    else logs; events with no contents are dropped
    (plugins/aggregator/opentelemetry/aggregator_opentelemetry.go:92-106,
    thresholds from the OTel reshape column counts: metric datapoints
    carry ≤5 kvs, the 19-field trace shape ≥19). Downstream bounded
    LogGroup packing is :func:`metadata_group_bounded` on ``out_col``
    (MaxLogCount=1024, MaxLogGroupSize=3MiB in the reference). Pure
    narrow projection — the routing adds no shuffle.

    Scale note: ``out_col`` has only 3 distinct values, so chunking
    partitioned by it ALONE serializes into 3 tasks at 10^12 rows. The
    reference packs per agent instance, not globally — the faithful
    scale path is ``metadata_group_bounded(df, [out_col, shard], ...)``
    with a shard column (e.g. ``pmod(xxhash64(conv_id), n_shards)``),
    each shard being the analogue of one agent's pack sequence."""
    n = F.size(F.col(contents_col))
    route = (
        F.when(n <= 5, F.lit(metrics_logstore))
        .when(n >= 19, F.lit(trace_logstore))
        .otherwise(F.lit(log_logstore))
    )
    return df.filter(n > 0).withColumn(out_col, route)


def skywalking_signal_route(
    df: DataFrame,
    contents_col: str = "contents",
    metrics_logstore: str = "skywalking-metrics",
    trace_logstore: str = "skywalking-traces",
    log_logstore: str = "skywalking-logs",
    out_col: str = "logstore",
) -> DataFrame:
    """aggregator_skywalking: route by the FIRST content's key —
    '__name__' → metrics, 'links' → traces, 'otlp.name' → logs,
    anything else → logs with a warning counter
    (plugins/aggregator/skywalking/aggregator_skywalking.go:92-111).
    ``contents_col`` is an ordered array<struct<key,value>> (first
    content is meaningful, so a map type would be wrong here). Adds
    ``__sw_unrecognized__`` (the self-monitor warning analogue) alongside
    the route."""
    first_key = F.col(contents_col)[0]["key"]
    known = first_key.isin("__name__", "links", "otlp.name")
    route = (
        F.when(first_key == "__name__", F.lit(metrics_logstore))
        .when(first_key == "links", F.lit(trace_logstore))
        .otherwise(F.lit(log_logstore))
    )
    return (
        df.filter(F.size(F.col(contents_col)) > 0)
        .withColumn(out_col, route)
        .withColumn("__sw_unrecognized__", ~known)
    )


def metadata_group_bounded(
    df: DataFrame,
    group_keys: list[str],
    order_col: str,
    max_events: int | None = None,
    max_bytes: int | None = None,
    bytes_col: str | None = None,
    out_col: str = "group_seq",
) -> DataFrame:
    """aggregator_metadata_group's v2 size bounds
    (plugins/aggregator/metadatagroup: GroupMaxEventLength /
    GroupMaxByteLength): rows sharing the metadata keys are split into
    bounded chunks — ``out_col`` is the chunk ordinal, so (group_keys,
    out_col) is the LogGroup identity for downstream batch serialization
    (serialize_log_groups) or per-group files.

    Chunking is the deterministic window form: event chunk = ordinal //
    max_events, byte chunk = division of the RUNNING byte total — one
    shuffle on the metadata keys, no sequential packing loop. This
    matches the reference's greedy packer exactly for uniform record
    sizes and bounds every chunk by the same limits; with skewed record
    sizes chunk boundaries may differ from greedy packing (byte chunks
    can exceed max_bytes only by the final record, same as the
    reference's append-then-check). When BOTH bounds are set, the event
    ordinal is recomputed WITHIN each byte chunk and the final chunk is
    the dense rank of the (byte_chunk, event_sub) pair — max of two
    independent ordinals would pool rows across event boundaries and
    break the max_events guarantee (ADVICE r2).
    """
    if not (max_events or max_bytes):
        raise ValueError("at least one of max_events/max_bytes required")
    if max_bytes and not bytes_col:
        raise ValueError("bytes_col required with max_bytes")
    w = Window.partitionBy(*group_keys).orderBy(order_col)
    if max_bytes:
        # bytes BEFORE the record: a record belongs to the chunk it
        # STARTS in (greedy append-then-check), so the first record of a
        # group is always chunk 0 even when oversized
        before = F.coalesce(
            F.sum(F.octet_length(F.col(bytes_col))).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        byte_chunk = F.floor(before / F.lit(max_bytes))
        if not max_events:
            return df.withColumn(out_col, byte_chunk.cast("int"))
        out = df.withColumn("__bchunk__", byte_chunk)
        w_sub = Window.partitionBy(*group_keys, "__bchunk__").orderBy(order_col)
        out = out.withColumn(
            "__esub__",
            F.floor((F.row_number().over(w_sub) - 1) / F.lit(max_events)),
        )
        w_rank = Window.partitionBy(*group_keys).orderBy("__bchunk__", "__esub__")
        return (
            out.withColumn(
                out_col, (F.dense_rank().over(w_rank) - 1).cast("int")
            )
            .drop("__bchunk__", "__esub__")
        )
    return df.withColumn(
        out_col,
        F.floor((F.row_number().over(w) - 1) / F.lit(max_events)).cast("int"),
    )


def key_skew_stats(
    df: DataFrame, key_cols: list[str], top_k: int = 10
) -> DataFrame:
    """Shuffle-key skew diagnosis — the tuning input for every
    salting / AQE-skew-join decision in this engine: per-key row
    counts, the ``top_k`` heaviest keys with their share of the
    corpus, and the global skew ratio (max key count / mean key
    count; ≈1 = uniform, ≫1 = salt or split before shuffling on
    this key).

    One map-side-combined groupBy collapses the corpus to the key
    table; every statistic (rank, share, totals, ratio) rides
    unpartitioned windows over that collapsed table — |keys| rows,
    not |corpus| rows, so the single-partition window is deliberate
    and bounded (at 10^12 turns the conv-key table is ~10^8 rows; for
    key spaces that large, pre-filter with a count threshold).
    Shares/ratios round to 6dp; ranks tie-break on the key columns.
    """
    cnt = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    w_all = Window.partitionBy()
    w_rank = Window.partitionBy().orderBy(
        F.desc("n_rows"), *[F.asc(c) for c in key_cols]
    )
    total = F.sum("n_rows").over(w_all)
    n_keys = F.count(F.lit(1)).over(w_all)
    return (
        cnt.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .withColumn("share", F.round(F.col("n_rows") / total, 6))
        .withColumn("n_keys_total", n_keys.cast("long"))
        .withColumn(
            "skew_ratio",
            F.round(
                F.max("n_rows").over(w_all)
                / (total / n_keys),
                6,
            ),
        )
        .filter(F.col("rank") <= top_k)
        .select(
            *key_cols, F.col("n_rows").cast("long").alias("n_rows"),
            "rank", "share", "n_keys_total", "skew_ratio",
        )
    )
