"""SparkSession factory with scale-oriented defaults.

The same builder is used by tests, bench.py and the driver entry point so
every plan runs under the configuration we'd deploy on a real cluster:
AQE on (runtime shuffle-partition coalescing + skew-join splitting),
Arrow for any pandas exchange, and parquet nanos handling for the
`events` table (written as TIMESTAMP(NANOS), which Spark only reads via
the nanosAsLong legacy flag — we convert back to timestamps in the
sources layer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs that are safe & desirable at any scale. On a 1000-executor
#: cluster the same keys apply; only master/memory sizing changes.
ENGINE_CONFS: dict[str, str] = {
    # Adaptive execution: coalesce tiny shuffle partitions, split skewed
    # ones, convert sort-merge joins to broadcast when runtime stats allow.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for toPandas / pandas UDFs (10-100x over pickled rows).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS); Spark 4 refuses it unless
    # read as raw int64 nanos (sources.catalog converts to timestamp).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics for oracle parity.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast threshold: dims (region/nation/supplier/part at test SF)
    # should broadcast; AQE may still upgrade larger joins at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # No Python call-site capture: with it on, every classic Column
    # method and F.col call makes ~5 extra py4j round trips (and tries
    # `import IPython`) to record its file:line.  The cost: analysis
    # errors no longer name the Python line that built the failing
    # expression.  PySpark reads this once per process, from the first
    # active session.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "pharma-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you'd leave AQE's coalescing to right-size it per stage.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
