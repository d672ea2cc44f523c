"""spark-submit entry point for the flagship pipeline.

Cluster usage (the north-rule deployment shape)::

    scripts/package.sh                       # builds dist/loongcollector_spark.zip
    spark-submit \\
        --py-files dist/loongcollector_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.adaptive.skewJoin.enabled=true \\
        jobs/run_pipeline.py \\
        --input  <transcripts table path / iceberg table> \\
        --output <sink root> \\
        --checkpoint <checkpoint table path> \\
        --unit-expr "date_format(ts, 'yyyy-MM-dd')"

Local smoke::

    python jobs/run_pipeline.py --input /root/testdata/sf0.001 \\
        --from-events --output /tmp/lc_out [--checkpoint /tmp/lc_cp]

Output layout. The default mode runs parse → enrich → route once
(``TranscriptPipeline.run_single_pass``, observed by a ``StageMonitor``),
writes the routed frame in one job as ``<out>/routed/__sink__=<name>``
(rows sorted by (conv_id, turn_idx) within each file), then aggregates
the per-sink metrics from that written snapshot into
``<out>/__metrics__`` — the input is parsed once. ``--config`` writes a
YAML pipeline's routed frame the same way. ``--checkpoint`` (resumable)
writes ``<out>/<sink>/unit=<u>`` per sink and records committed units,
so a rerun skips them.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# repo-root import when run directly (spark-submit ships the zip instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="transcripts parquet/iceberg path, or sf dir with --from-events")
    ap.add_argument("--from-events", action="store_true",
                    help="derive transcripts from <input>/events.parquet")
    ap.add_argument("--output", required=True, help="sink root directory")
    ap.add_argument("--checkpoint", default=None, help="checkpoint table path (enables resume)")
    ap.add_argument("--unit-expr", default="date_format(ts, 'yyyy-MM-dd')",
                    help="SQL expr defining the resume unit (partition) of each row")
    ap.add_argument("--master", default=None)
    ap.add_argument("--config", default=None,
                    help="YAML pipeline config (the reference's plugin-chain "
                         "shape); replaces the built-in flagship pipeline")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from loongcollector_spark.session import get_spark
    from loongcollector_spark.monitor import StageMonitor
    from loongcollector_spark.plans.transcript_pipeline import TranscriptPipeline
    from loongcollector_spark.sinks.writers import write_dynamic_topic
    from loongcollector_spark.sources.transcripts import transcripts_from_events

    spark = get_spark(app_name="lc_pipeline", master=args.master)
    if args.from_events:
        transcripts = transcripts_from_events(spark, args.input)
    else:
        transcripts = spark.read.parquet(args.input)

    pipe = TranscriptPipeline()
    mon = StageMonitor()
    routed_path = f"{args.output}/routed"
    t0 = time.time()

    def write_sorted(routed):
        if {"conv_id", "turn_idx"} <= set(routed.columns):
            routed = routed.sortWithinPartitions("conv_id", "turn_idx")
        write_dynamic_topic(routed, routed_path, topic_col="__sink__")

    if args.config:
        # config-driven mode: the YAML plugin chain is the pipeline,
        # exactly like the reference's CollectionConfig entry path
        from loongcollector_spark.plans.config_pipeline import load_config

        write_sorted(load_config(args.config).run(transcripts))
        summary = {"mode": "config", "config": args.config, "output": routed_path}
    elif args.checkpoint:
        from loongcollector_spark.checkpoint import (
            BatchedResumableRunner,
            CheckpointTable,
        )

        cp = CheckpointTable(spark, args.checkpoint)
        runner = BatchedResumableRunner(spark, cp, args.output)
        with_unit = transcripts.withColumn("unit", F.expr(args.unit_expr))
        # every sink's write reads the routed frame: compute it once
        routed = pipe.run_single_pass(with_unit).persist()
        try:
            processed = runner.run(
                routed,
                transform=lambda r: {s: pipe.router.sink(r, s) for s in pipe.SINKS},
            )
        finally:
            routed.unpersist()
        summary = {
            "mode": "resumable",
            "processed_units": {k: len(v) for k, v in processed.items()},
        }
    else:
        write_sorted(mon.observe(
            pipe.run_single_pass(transcripts), "routed",
            error_class_col="error_class",
        ))
        pipe.metrics_from_snapshot(spark, routed_path).write.mode(
            "overwrite"
        ).parquet(f"{args.output}/__metrics__")
        summary = {
            "mode": "full",
            "output": routed_path,
            "stage_metrics": {
                k: {m: int(v) for m, v in d.items()}
                for k, d in mon.results().items()
            },
        }

    summary["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
