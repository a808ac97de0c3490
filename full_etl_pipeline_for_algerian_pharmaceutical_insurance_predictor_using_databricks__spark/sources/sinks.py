"""Table sinks (operators S4/S5, SURVEY.md §2.1): managed-table write
with Delta when available, parquet fallback — same `saveAsTable` /
`spark.table` API shape as the reference (ING:211, 218).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

#: SparkContext -> whether Delta Lake's `DeltaLog` is on its classpath.
_DELTA_ON_CLASSPATH: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def delta_available(spark: SparkSession) -> bool:
    """Whether `format("delta")` is on the classpath, looked up once per
    SparkContext (a failed `Class.forName` costs ~77 py4j round trips)."""
    sc = spark.sparkContext
    if sc not in _DELTA_ON_CLASSPATH:
        try:
            spark._jvm.Class.forName("org.apache.spark.sql.delta.DeltaLog")  # type: ignore[union-attr]
            _DELTA_ON_CLASSPATH[sc] = True
        except Exception:
            _DELTA_ON_CLASSPATH[sc] = False
    return _DELTA_ON_CLASSPATH[sc]


def save_as_table(df: DataFrame, name: str, mode: str = "overwrite") -> str:
    """Write a managed catalog table; returns the format used.

    Overwrite mode keeps the ingest idempotent (re-runs replace, never
    duplicate — ING:209-211)."""
    spark = df.sparkSession
    fmt = "delta" if delta_available(spark) else "parquet"
    df.write.format(fmt).mode(mode).saveAsTable(name)
    return fmt


def swap_in_table(spark: SparkSession, staged: str, name: str) -> None:
    """Replace catalog table `name` by table `staged`: drop the old one,
    then rename the staged one.  Neither step runs a Spark job, so a
    caller that writes `staged` first takes the old table away only
    once that write has succeeded."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"ALTER TABLE {staged} RENAME TO {name}")


def write_partitioned(
    df: DataFrame, path: str, partition_col: str, mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet layout (`col=value/` dirs).

    At 100 TB this is the first line of defense: a filter on the
    partition column prunes whole directories at planning time
    (PartitionFilters in the scan, zero bytes read for pruned values) —
    asserted in tests/test_ingestion.py. Natural partition columns here:
    `first_letter` for medications, date for events."""
    df.write.mode(mode).partitionBy(partition_col).parquet(path)


def overwrite_partitions_dynamic(
    spark: SparkSession, df: DataFrame, path: str, partition_col: str
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in `df`, leave every other partition untouched — the idempotent
    partition-reload primitive (re-land one day of a 100-TB events
    table without static-overwrite nuking the rest, and re-running the
    same load converges to the same state).

    Implemented with Spark's `partitionOverwriteMode=dynamic` session
    conf scoped to this write and restored after; the write itself is
    a plain INSERT OVERWRITE on the Hive-style layout that
    `write_partitioned` produced."""
    key = "spark.sql.sources.partitionOverwriteMode"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def read_back_verified(spark: SparkSession, name: str, expected_rows: int) -> DataFrame:
    """Catalog round-trip check (parity with ING:217-224): read the
    table back and assert the row count survived the write."""
    saved = spark.table(name)
    got = saved.count()
    if got != expected_rows:
        raise AssertionError(
            f"catalog round-trip lost rows: wrote {expected_rows}, read {got}"
        )
    return saved
