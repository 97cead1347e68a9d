"""SparkSession factory with scale-oriented defaults.

The reference engine holds a ``MySQLConnector`` as its session object
(``engine/include/mysql_connector.h:10-69``) and a string->variant Config
(``engine/include/config.h:10-28``).  Our session object is a
:class:`pyspark.sql.SparkSession` configured so that every optimization the
reference performs by hand is switched on in Catalyst:

- CBO + join reordering (reference: Selinger-style DP, ``sqlopt.cpp:607-670``)
- histogram statistics (reference: top-K MCV histograms,
  ``engine/src/statistics_manager.cpp:95-109``)
- AQE for runtime re-planning, partition coalescing, and skew-join handling
  (no reference equivalent; required at 100 TB)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for local[$SPARK_GRAFT_CPUS] testing; on a real cluster the
# same knobs apply, only master/memory change.  Shuffle partitions track core
# count locally; at 100 TB you would size this to ~2-3x total executor cores
# (AQE coalesces down, so err high).
_DEFAULTS: dict[str, str] = {
    # Spark's 1g driver default is sized for a thin cluster client, not a
    # local[32] engine: one long-lived session that plans/caches hundreds
    # of distinct queries (codegen classes, broadcasts, AQE stats) will
    # eventually OOM the 1g JVM — observed as a mid-suite py4j
    # ConnectionRefused cascade.  Builder-time only; ignored by already-
    # running embedder JVMs.
    "spark.driver.memory": "8g",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce the shuffle partitions of the plans that fill
    # persisted frames too.  Off (Spark's default), a cached plan keeps
    # all shuffle.partitions output partitions, so every scan of a small
    # persisted frame (a dedup shingle set, a candidate-pair frame) runs
    # that many tasks, mostly empty.  The cost: a consumer can no longer
    # rely on the cached frame's partitioning and may shuffle it again.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.statistics.histogram.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 64 MiB input splits: good parallelism on sf0.1 while keeping task count
    # sane; at 100 TB the same value yields ~1.6M tasks over the job which is
    # what a 1000-executor cluster wants.
    "spark.sql.files.maxPartitionBytes": "67108864",
    "spark.ui.enabled": "false",
    # events.parquet stores TIMESTAMP(NANOS) which Spark cannot map to its
    # microsecond TimestampType; read as int64 and convert in catalog.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_session(
    app_name: str = "sql_query_optimizer_cpp_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``extra_conf`` entries override the engine defaults, mirroring the
    reference's Config key-value override surface
    (``engine/src/config.cpp:5-15``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(_DEFAULTS)
    # per-process warehouse keeps ANALYZE'd managed tables out of the repo
    # and avoids stale-location collisions across runs
    conf.setdefault(
        "spark.sql.warehouse.dir", f"/tmp/sqoc-warehouse-{os.getpid()}"
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
