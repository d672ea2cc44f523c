"""SparkSession factory tuned for the pipeline engine.

Local-mode testing uses ``local[N]``; the same configs are what we'd ship
in ``spark-submit --py-files`` on a real cluster (AQE, skew-join handling,
Arrow for pandas UDFs). Nothing here is local-only except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cores() -> int:
    """Cores for a local master: ``$SPARK_GRAFT_CPUS``, else the cores this
    process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _partitions(master: str) -> int:
    """The default shuffle width: the master's core count, at least 8; 32
    when the master names none."""
    cores = master.partition("[")[2].rstrip("]*")
    return max(int(cores), 8) if cores.isdigit() else 32


def _export_source_root() -> None:
    """Put the directory this package was imported from first on
    ``PYTHONPATH``, once. The JVM a new session starts copies this
    process's environment, and its Python workers inherit it: they then
    import the package the driver imported, from any working directory."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])


def get_spark(
    app_name: str = "loongcollector_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard configs.

    ``master`` defaults to ``local[local_cores()]``, except when
    spark-submit launched this driver (it exports ``PYSPARK_GATEWAY_PORT``
    to the Python process): then spark-submit's ``--master`` stands.
    ``shuffle_partitions`` defaults to :func:`_partitions` of the master.
    Python workers import the package from where the driver did
    (:func:`_export_source_root`).
    """
    _export_source_root()
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{local_cores()}]"
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
        if shuffle_partitions is None:
            shuffle_partitions = _partitions(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
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
    if shuffle_partitions is None:
        # spark-submit's master is known only once the session exists
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(_partitions(spark.sparkContext.master)),
        )
    return spark
