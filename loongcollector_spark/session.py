"""SparkSession factory tuned for the pipeline engine.

Local-mode testing uses ``local[N]``; the same configs are what we'd ship
in ``spark-submit --py-files`` on a real cluster (AQE, skew-join handling,
Arrow for pandas UDFs). Nothing here is local-only except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "loongcollector_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard configs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster the caller passes no master and spark-submit decides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 32
        except ValueError:
            n = 32
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Log pipelines are permissive: bad casts yield NULL, never abort the
        # job (the reference keeps/flags unparseable events, it never dies).
        .config("spark.sql.ansi.enabled", "false")
        # Presto/SPL map semantics: duplicate map keys keep the last value
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.ui.enabled", "false")
        # Generated-class cache (static, JVM-wide). The default 100 is below
        # one functions-layer unit's ~120 classes, and an LRU cycled by a
        # larger working set never hits: every repeat recompiled them all.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Keep the whole-stage codegen stage id out of the generated class:
        # AQE numbers stages in completion order, so with the id in the
        # class name the same code recompiles whenever that order changes.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
