"""SparkSession factory.

Local testing runs ``local[N]`` (single JVM); production target is a
1000-executor cluster over ~100 TB. Every config here is chosen to be
correct in both regimes:

* AQE on — runtime shuffle-partition coalescing, skew-join splitting,
  and broadcast demotion/promotion are the main levers that keep a plan
  tuned for sf0.1 valid at 1000x the data.
* ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster AQE's coalescing makes the initial number mostly
  irrelevant as long as it is not too small.
* Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (UTC-naive) bit-for-bit.
* Arrow enabled — every Pandas UDF / toPandas crosses the JVM/Python
  boundary in columnar batches.
* Python workers fork from the engine's daemon
  (``functions/zipimports.py``), which stops each task re-reading
  ``pyspark.zip`` and the Spark jar; the package's parent directory is
  on the workers' ``PYTHONPATH`` so the daemon imports from any cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Named, not imported: the daemon runs this module as ``__main__``, and
# runpy warns when the package import has already loaded it.
_DAEMON_MODULE = "mock_map_reduce_spark.functions.zipimports"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "mock_map_reduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for tests; on a real cluster pass ``None`` after setting the master
    via spark-submit and this keeps whatever the environment provides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Long-lived local sessions: executor-side broadcast/shuffle
        # blocks are only released after a DRIVER GC notices the refs
        # are dead; on a large heap organic GCs are ~never, so dead
        # blocks pile up and late queries inherit multi-second pauses.
        # The periodic GC (Spark default: 30 min) bounds that drift.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # Allow custom Python data sources (sources/pysource.py) to
        # receive pushed-down filters for partition pruning.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # events.parquet stores ts as TIMESTAMP(NANOS), which the Spark
        # parquet reader rejects; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", _DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
