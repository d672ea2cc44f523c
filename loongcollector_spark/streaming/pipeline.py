"""Structured Streaming: the same parse → enrich → route → aggregate over
an unbounded transcript stream.

The reference's streaming semantics are arrival-time + timeout-flush with
NO watermark/late-data handling (Batcher FlushStrategy.h:54-58; SURVEY.md
§2.9). The Spark-native upgrade is event-time windows + watermark — we
provide both: ``metrics_stream`` uses a watermark (late rows dropped after
``late_threshold``); sinks are plain append streams (arrival order, like
the reference's flushers).

The batch ``TranscriptPipeline.parse/enrich`` transforms are reused
verbatim — they're pure column expressions, legal on streaming frames;
the broadcast dict join is stream-static (no state). Routing is the
batch routed frame too (``run_single_pass``: a stateless explode, so
one stream carries every sink in its ``__sink__`` column).

Every operator here either wraps a batch operator unmodified or is pinned
to its batch operator by a differential test; each docstring states the
law (over a replayed stream, the batch result over the union of its
micro-batches, up to what the docstring names).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from loongcollector_spark.plans.transcript_pipeline import (
    CONV_PREFIX_LEN,
    TranscriptPipeline,
)


class StreamingTranscriptPipeline:
    """Streaming wrapper around the batch pipeline's transforms."""

    def __init__(self, late_threshold: str = "10 minutes",
                 window: str = "1 hour"):
        self.batch = TranscriptPipeline()
        self.late_threshold = late_threshold
        self.window = window

    # -- source ---------------------------------------------------------
    def read_stream(self, spark, path: str, schema=None,
                    max_files: int = 4) -> DataFrame:
        """File-source stream over a transcripts parquet directory —
        the batch-test-friendly source; swap for kafka/iceberg streaming
        reads in production."""
        reader = spark.readStream.format("parquet").option(
            "maxFilesPerTrigger", max_files
        )
        if schema is not None:
            reader = reader.schema(schema)
        else:
            static = spark.read.parquet(path)
            reader = reader.schema(static.schema)
        return reader.load(path)

    # -- transforms (shared with batch) ----------------------------------
    def parse_enrich(self, stream: DataFrame) -> DataFrame:
        return self.batch.enrich(self.batch.parse(stream))

    def metrics_stream(self, enriched: DataFrame) -> DataFrame:
        """Watermarked per-sink-ready aggregates: (conv_prefix, window) →
        counts/bytes. Late rows beyond the watermark are dropped —
        the semantics the reference lacks (SURVEY.md §2.9)."""
        # watermarks require TIMESTAMP (with zone); transcripts carry NTZ
        enriched = enriched.withColumn("__evt_ts__", F.col("ts").cast("timestamp"))
        return (
            enriched.withWatermark("__evt_ts__", self.late_threshold)
            .groupBy(
                F.window("__evt_ts__", self.window).alias("ts_window"),
                F.substring(F.col("conv_id"), 1, CONV_PREFIX_LEN).alias("conv_prefix"),
                F.coalesce(F.col("error_class"), F.lit("")).alias("error_class"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.octet_length(F.col("text"))).alias("n_bytes"),
            )
        )

    def session_rollup_stream(
        self, stream: DataFrame, gap: str = "24 hours"
    ) -> DataFrame:
        """Streaming twin of :func:`functions.sessions.sessionize`'s
        rollup, via Spark's NATIVE ``session_window``: turns whose
        time gaps stay under ``gap`` merge into one session; output is
        (conv_id, session_start, session_end, n_turns).

        Equivalence law vs the batch operator (tested, incl. the exact
        boundary): on turn streams whose ``ts`` is non-decreasing in
        turn order, AND whose watermark delay (``late_threshold``)
        covers the maximum cross-batch event-time disorder, the session
        sets match batch ``sessionize`` exactly — session_window merges
        touching windows, so a gap EXACTLY equal to the threshold stays
        one session, the same as the batch rule's strict ``>``.

        The second condition is load-bearing across micro-batches: the
        watermark is GLOBAL, so with a short delay a conversation's
        open session can be evicted from state because *other*
        conversations carried later timestamps in an earlier batch —
        its next turn then opens a fresh session (a split batch would
        never produce) or is dropped as late. For an availableNow
        replay of a static directory, ``late_threshold`` ≥ the corpus
        time-span guarantees exact equality; in continuous production
        the delay is the operator's late-data tolerance and sessions
        older than it are finalized best-effort (streaming-only
        semantics)."""
        evt = stream.withColumn("__evt_ts__", F.col("ts").cast("timestamp"))
        return (
            evt.withWatermark("__evt_ts__", self.late_threshold)
            .groupBy(
                F.col("conv_id"),
                F.session_window(F.col("__evt_ts__"), gap).alias("sw"),
            )
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .select(
                "conv_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_turns",
            )
        )

    def dedup_stream(self, stream: DataFrame, text_col: str = "text",
                     ts_col: str = "ts") -> DataFrame:
        """Streaming twin of :func:`functions.dedup.exact_dedup`:
        at-source exact dedup on the normalized-text digest via
        ``dropDuplicatesWithinWatermark`` — state holds one digest per
        distinct text and the watermark bounds it (digests older than
        ``late_threshold`` age out, so state is O(distinct texts per
        watermark window), not O(corpus)).

        Equivalence law vs batch (tested): the kept rows' DIGEST SET
        equals the batch distinct-digest set and every digest survives
        exactly once, provided duplicates arrive within the watermark.
        WHICH copy survives is arrival order (streaming) vs
        ``min(doc_id)`` (batch) — at-source dedup keeps the first copy
        it sees, the same semantics as the reference's collector-side
        event dedup."""
        from loongcollector_spark.functions.dedup import normalize_text

        evt = (
            stream.withColumn("__evt_ts__", F.col(ts_col).cast("timestamp"))
            .withColumn(
                "__digest__", F.xxhash64(normalize_text(F.col(text_col)))
            )
        )
        return evt.withWatermark(
            "__evt_ts__", self.late_threshold
        ).dropDuplicatesWithinWatermark(["__digest__"])

    def start_to_memory(self, spark, path: str, name: str = "lc_stream",
                        mode: str = "append") -> "StreamingQuery":  # noqa: F821
        """Test harness: run the parse+enrich stream into a memory sink."""
        stream = self.read_stream(spark, path)
        out = self.parse_enrich(stream)
        return (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )


class ForeachBatchMultilineMerge:
    """Cross-trigger multiline merge with FULL batch-operator semantics
    (all six Start/Continue/End pattern modes + unmatched treatment) —
    the ``foreachBatch`` completion of the streaming story (VERDICT r3
    #4; reference: ProcessorMergeMultilineLogNative.cpp:161-345 merges
    as the file tails).

    Key fact making this exact: the merge FSM is *prefix-determined* —
    only the EOF-*open* region (the event/run still open after the last
    line) can change when more lines arrive; everything before its head
    is final. Per micro-batch we (1) prepend each group's carried
    trailing lines, (2) shift the batch's dense per-group ordinals by
    the carried high-water mark, (3) run the UNMODIFIED batch
    ``MergeMultilineLog`` plus its ``open_region_heads`` (same flag
    vectors), (4) emit every merged row before the group's open head,
    and (5) carry the raw lines from the head onward. ``flush()``
    merges the final carry — end-of-stream == end-of-input, applying
    the operator's unmatched treatment to the tail exactly once. The
    emitted union + flush is row-for-row equal to the batch operator
    over the concatenated input (differential-tested across modes,
    treatments, and chunkings).

    State lives in epoch-versioned parquet (``carry/epoch=N``,
    ``out/epoch=N``) written with overwrite, so a retried micro-batch
    re-reads its predecessor's carry and rewrites the same epoch —
    idempotent under foreachBatch's at-least-once replays (the same
    lineage discipline as checkpoint.py).

    Feed it batches whose ``OrderKey`` is the DENSE 0-based per-group
    line ordinal within the batch (``sources.files.per_file_line_offsets``
    with ``file_col=GroupKey``); arrange one file chunk per trigger
    (``maxFilesPerTrigger=1``) when one logical stream spans several
    physical files.
    """

    def __init__(self, merger, carry_dir: str, out_dir: str) -> None:
        self.merger = merger
        self.carry_dir = carry_dir.rstrip("/")
        self.out_dir = out_dir.rstrip("/")

    # -- epoch bookkeeping ------------------------------------------------
    def _prev_epoch(self, before: int) -> int | None:
        import os

        if not os.path.isdir(self.carry_dir):
            return None
        epochs = [
            int(d.split("=", 1)[1])
            for d in os.listdir(self.carry_dir)
            if d.startswith("epoch=")
        ]
        prior = [e for e in epochs if e < before]
        return max(prior) if prior else None

    def _read_carry(self, spark, schema, before: int):
        """(pending-lines DF, high-water-mark DF) from the newest epoch
        before ``before`` — empties on the first trigger."""
        hwm_schema = T.StructType(
            [schema[0], T.StructField("__next__", T.LongType())]
        )
        prev = self._prev_epoch(before)
        if prev is None:
            return (
                spark.createDataFrame([], schema),
                spark.createDataFrame([], hwm_schema),
            )
        base = f"{self.carry_dir}/epoch={prev}"
        return (
            spark.read.schema(schema).parquet(f"{base}/lines"),
            spark.read.schema(hwm_schema).parquet(f"{base}/hwm"),
        )

    # -- per-trigger work -------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        m = self.merger
        g, o, s = m.group_key, m.order_key, m.source_key
        spark = batch_df.sparkSession
        lines = batch_df.select(g, o, s)
        carry, hwm = self._read_carry(spark, lines.schema, int(batch_id))

        # stream-cumulative per-group ordinals: shift this batch's dense
        # ordinals by the group's high-water mark (kept even for groups
        # whose tail closed cleanly and carried no lines)
        shifted = (
            lines.join(hwm, g, "left")
            .withColumn(o, F.col(o) + F.coalesce(F.col("__next__"), F.lit(0)))
            .drop("__next__")
        )
        all_lines = carry.unionByName(shifted)
        merged = m(all_lines)
        # the EOF-open region head per group: rows before it are final
        heads = m.open_region_heads(all_lines)
        closed = (
            merged.join(heads, g, "left")
            .filter(
                F.col("__open_head__").isNull()
                | (F.col(o) < F.col("__open_head__"))
            )
            .drop("__open_head__")
        )
        closed.write.mode("overwrite").parquet(
            f"{self.out_dir}/epoch={batch_id}"
        )
        pending = (
            all_lines.join(heads, g)
            .filter(F.col(o) >= F.col("__open_head__"))
            .drop("__open_head__")
        )
        new_hwm = (
            all_lines.groupBy(g).agg((F.max(o) + 1).alias("__b__"))
            .join(hwm, g, "full")
            .select(
                g,
                F.greatest(
                    F.coalesce(F.col("__b__"), F.lit(0)),
                    F.coalesce(F.col("__next__"), F.lit(0)),
                ).alias("__next__"),
            )
        )
        base = f"{self.carry_dir}/epoch={batch_id}"
        pending.write.mode("overwrite").parquet(f"{base}/lines")
        new_hwm.write.mode("overwrite").parquet(f"{base}/hwm")

    def flush(self, spark) -> None:
        """End-of-stream: merge the final carry (applying the operator's
        end-of-input unmatched treatment) and emit it."""
        m = self.merger
        final = self._prev_epoch(before=1 << 62)
        if final is None:
            return
        carry = spark.read.parquet(f"{self.carry_dir}/epoch={final}/lines")
        m(carry).write.mode("overwrite").parquet(
            f"{self.out_dir}/epoch=flush"
        )

    def results(self, spark) -> DataFrame:
        """All emitted merged events so far (epochs + flush)."""
        return spark.read.option("basePath", self.out_dir).parquet(
            f"{self.out_dir}/epoch=*"
        ).drop("epoch")
