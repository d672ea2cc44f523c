"""Checkpoint / lineage table: idempotent resume for the batch pipeline.

Reference contract: per-file dev+inode → offset checkpoints, periodically
dumped, loaded on restart (core/file_server/checkpoint/CheckPointManager.h:
43,99,137-140), plus exactly-once sender queues replaying from range
checkpoints (core/collection_pipeline/queue/ExactlyOnceQueueManager.h:41-90).

Spark-first realization: work is keyed by **partition unit** (here: a date
or hash bucket of the input table — anything enumerable and stable). A
checkpoint table records one row per (run_id, unit, sink) committed. Resume
= anti-join the unit list against committed units, process only the rest,
and commit each unit's row together with its output (write-then-commit
order makes re-runs idempotent: a unit missing its checkpoint row is
re-processed and its output overwritten via dynamic partition overwrite).

With Iceberg the output commit and the checkpoint row ride one atomic
snapshot; on plain parquet (this sandbox) we emulate with
partition-directory overwrite + a parquet checkpoint table written after.

Per-stage metrics (the reference's self-monitor counters) are recorded in
the same table: rows_in / rows_out / bytes_out per unit per sink.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("unit", T.StringType(), False),
        T.StructField("sink", T.StringType(), False),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("bytes_out", T.LongType(), True),
        T.StructField("committed_at", T.DoubleType(), True),
    ]
)


class CheckpointTable:
    """Parquet-backed checkpoint/lineage table (one dir, append-only)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def committed_units(self, sink: str) -> set[str]:
        if not self._exists():
            return set()
        rows = (
            self.spark.read.schema(CHECKPOINT_SCHEMA)
            .parquet(self.path)
            .filter(F.col("sink") == sink)
            .select("unit")
            .distinct()
            .collect()
        )
        return {r.unit for r in rows}

    def commit(self, run_id: str, unit: str, sink: str, rows_out: int, bytes_out: int) -> None:
        self.commit_many([(run_id, unit, sink, rows_out, bytes_out)])

    def commit_many(self, rows: list[tuple]) -> None:
        """Append many checkpoint rows in ONE write job (per-unit commit
        loops otherwise dominate wall time for many small units)."""
        if not rows:
            return
        now = time.time()
        df = self.spark.createDataFrame(
            [(*r, now) for r in rows], CHECKPOINT_SCHEMA
        )
        df.coalesce(1).write.mode("append").parquet(self.path)

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)

    def _exists(self) -> bool:
        return os.path.exists(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )


class BatchedResumableRunner:
    """Scalable resume: ONE write job per sink covering all uncommitted
    units, via dynamic partition overwrite (partitionBy(unit) replaces
    only the partitions present in the frame — interrupted units re-write
    cleanly). Per-unit stats come from one groupBy over the same frame;
    checkpoint rows append after the write commits.

    This is the shape that holds at 10^12 rows: the driver does O(sinks)
    jobs, not O(units × sinks); the unit anti-join is a tiny isin filter
    (units are table partitions — thousands at most).
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint: CheckpointTable,
        output_root: str,
        unit_col: str = "unit",
    ):
        self.spark = spark
        self.checkpoint = checkpoint
        self.output_root = output_root
        self.unit_col = unit_col

    #: checkpoint-row sentinel for rows whose unit column is NULL — they
    #: land in the parquet null partition and must neither be silently
    #: dropped on resume nor re-counted once committed.
    NULL_UNIT = "__NULL_UNIT__"

    def run(self, df: DataFrame, transform, run_id: str | None = None) -> dict[str, list[str]]:
        run_id = run_id or uuid.uuid4().hex[:12]
        processed: dict[str, list[str]] = {}
        outs = transform(df)
        for sink, out in outs.items():
            committed = self.checkpoint.committed_units(sink)
            null_committed = self.NULL_UNIT in committed
            real_committed = committed - {self.NULL_UNIT}
            unit_str = F.col(self.unit_col).cast("string")
            remaining = out
            if committed:
                keep_nonnull = (
                    ~unit_str.isin(*real_committed)
                    if real_committed
                    else F.lit(True)
                )
                remaining = out.filter(
                    F.when(
                        F.col(self.unit_col).isNull(), F.lit(not null_committed)
                    ).otherwise(keep_nonnull)
                )
            remaining = remaining.withColumn(
                "__lineage__",
                F.concat_ws(
                    ":", F.lit(run_id), F.coalesce(unit_str, F.lit(self.NULL_UNIT)),
                    F.spark_partition_id().cast("string"),
                ),
            )
            path = f"{self.output_root}/{sink}"
            (
                remaining.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(self.unit_col)
                .parquet(path)
            )
            # Per-unit stats from a READ-BACK of the written output, not a
            # second execution of the transform: counts equal rows actually
            # written even when an upstream expression is nondeterministic,
            # and the scan is columnar + pruned (unit [+ text]) rather than
            # the full pipeline re-run.
            try:
                written = self.spark.read.parquet(path)
            except Exception:
                continue  # zero rows written, nothing to commit
            w_unit = F.coalesce(
                F.col(self.unit_col).cast("string"), F.lit(self.NULL_UNIT)
            )
            # Only rows THIS run wrote count as fresh: the lineage column
            # carries the run_id, so a readable-but-uncommitted partition
            # left by an interrupted earlier run (for a unit absent from
            # this run's input, hence not overwritten) is neither counted
            # nor committed under the new run_id (ADVICE r2).
            fresh = written.filter(
                F.col("__lineage__").startswith(f"{run_id}:")
            )
            if committed:
                fresh = fresh.filter(~w_unit.isin(*committed))
            stats_aggs = [F.count(F.lit(1)).alias("n")]
            if "text" in written.columns:
                stats_aggs.append(
                    F.coalesce(F.sum(F.octet_length(F.col("text"))), F.lit(0)).alias("b")
                )
            stats = fresh.groupBy(w_unit.alias("u")).agg(*stats_aggs).collect()
            self.checkpoint.commit_many(
                [
                    (run_id, r["u"], sink, r["n"],
                     r["b"] if "b" in r.asDict() else 0)
                    for r in stats
                ]
            )
            for r in stats:
                processed.setdefault(sink, []).append(r["u"])
        return processed
