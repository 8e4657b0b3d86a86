"""SparkSession builder with scale-aware defaults.

The reference tunes each of its 19 ``spark-submit`` stages by hand
(executor-memory 10-50g, ``spark.task.maxFailures=100``, dynamic
allocation — reference ``scripts/virapipe.sh:38-63``). Here a single
session carries the whole pipeline; the defaults below are the ones that
matter both on ``local[N]`` and on a multi-executor cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — replaces most hand tuning.
- ``spark.sql.shuffle.partitions`` sized to the parallelism at hand, not
  the 200 default; AQE coalesces down, so err high on a cluster.
- Arrow on for every Python <-> JVM boundary (pandas UDFs, toPandas).
- Session timezone pinned to UTC so results are reproducible and
  comparable against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs applied to every session; override via ``extra_conf``.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: the reference tolerates malformed records (null-safe field
    # parsing, SQLQueryBlast.java:81-92); permissive casts match that.
    "spark.sql.ansi.enabled": "false",
    # Parquet scans: 128m split target is the right default for a cluster;
    # AQE handles the small-file end.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # The driver's events.parquet stores TIMESTAMP(NANOS), which Spark
    # rejects by default; read nanos as long once, globally (catalog.table
    # truncates to microseconds, the same truncation DuckDB applies).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def session(
    app_name: str = "virapipe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    machine's core count) when no cluster master is configured. ``shuffle_partitions`` defaults
    to the local core count — on a real cluster pass ~2-3x total cores.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    conf.setdefault("spark.ui.enabled", "false")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
