"""Self-monitor metrics: the reference's per-plugin counters, Spark-native.

Every reference plugin maintains counters (mInEventsTotal,
mOutSuccessfulEventsTotal, mDiscardedEventsTotal, ... —
core/monitor/metric_constants/MetricConstants.h:80-171,
ProcessorParseRegexNative.h:64-67). The Spark-native equivalents:

* ``Observation`` (``df.observe``) — zero-cost aggregates computed during
  the action that already runs, no extra job. Used for per-stage
  in/out/discard counts.
* the per-sink metrics table (``TranscriptPipeline.metrics`` over the
  routed frame, or ``metrics_from_snapshot`` over the written one) —
  the durable, queryable form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class StageMonitor:
    """Attach named observations to pipeline stages; read after an action.

    Usage::

        mon = StageMonitor()
        df = mon.observe(df, "parse", error_class_col="error_class")
        df.write...   # action
        mon.results() # {'parse': {'in_events_total': ..., ...}}
    """

    def __init__(self) -> None:
        self._obs: dict[str, Observation] = {}

    def observe(
        self,
        df: DataFrame,
        stage: str,
        text_col: str | None = "text",
        error_class_col: str | None = None,
    ) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("in_events_total")]
        if text_col and text_col in df.columns:
            aggs.append(
                F.coalesce(F.sum(F.octet_length(F.col(text_col))), F.lit(0)).alias(
                    "in_bytes_total"
                )
            )
        if error_class_col and error_class_col in df.columns:
            aggs.append(
                F.count(F.when(F.col(error_class_col) != "", 1)).alias(
                    "discarded_events_total"
                )
            )
            aggs.append(
                F.count(F.when(F.coalesce(F.col(error_class_col), F.lit("")) == "", 1))
                .alias("out_successful_events_total")
            )
        obs = Observation(stage)
        self._obs[stage] = obs
        return df.observe(obs, *aggs)

    def results(self) -> dict[str, dict]:
        return {name: obs.get for name, obs in self._obs.items()}


class StreamingProgressRecorder:
    """Per-micro-batch progress observability for streaming queries —
    the streaming face of the reference's agent self-monitor (events/s,
    batch latency, backlog): a ``StreamingQueryListener`` that records
    every progress event into an in-memory log and exposes it as a
    DataFrame for the monitoring sink.

    Records per batch: query id/name, batchId, numInputRows,
    inputRowsPerSecond, processedRowsPerSecond, batch duration
    (triggerExecution ms), and per-source start/end offsets
    (stringified). ``detach()`` removes the listener; ``frame(spark)``
    returns the log as a DataFrame (write it to the metrics table with
    the same sink machinery batch metrics use).

    Scale note: listener callbacks run on the driver and the log holds
    one SHORT row per micro-batch (not per input row), so memory is
    bounded by trigger count; in production flush ``frame()`` to the
    checkpoint/metrics table periodically and clear.
    """

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                try:
                    dur = (p.durationMs or {}).get("triggerExecution")
                except Exception:
                    dur = None
                rec.rows.append(
                    {
                        "query_id": str(p.id),
                        "name": p.name,
                        "batch_id": int(p.batchId),
                        "num_input_rows": int(p.numInputRows or 0),
                        "input_rows_per_sec": float(
                            p.inputRowsPerSecond or 0.0
                        ),
                        "processed_rows_per_sec": float(
                            p.processedRowsPerSecond or 0.0
                        ),
                        "trigger_ms": int(dur) if dur is not None else None,
                        "timestamp": p.timestamp,
                    }
                )

            def onQueryTerminated(self, event) -> None:
                pass

            def onQueryIdle(self, event) -> None:
                pass

        self.rows: list[dict] = []
        self._listener = _Listener()

    def attach(self, spark) -> "StreamingProgressRecorder":
        spark.streams.addListener(self._listener)
        return self

    def detach(self, spark) -> None:
        spark.streams.removeListener(self._listener)

    def frame(self, spark) -> DataFrame:
        schema = (
            "query_id string, name string, batch_id long, "
            "num_input_rows long, input_rows_per_sec double, "
            "processed_rows_per_sec double, trigger_ms long, "
            "timestamp string"
        )
        return spark.createDataFrame(
            [tuple(r.values()) for r in self.rows], schema
        )
