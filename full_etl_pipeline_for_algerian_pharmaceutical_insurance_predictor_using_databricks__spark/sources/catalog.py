"""Table loading layer (reference operators S3/S5, SURVEY.md §2.1).

Reads the driver-generated parquet fixtures. Parquet scans here are the
leaves of every plan, so this layer is where pushdown/pruning quality is
decided: we read by path with no driver-side materialization, never
`.collect()` to re-create, and leave filters/projections to the caller so
Catalyst pushes them into the scan (`PushedFilters` / `ReadSchema`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """events.parquet stores `ts` as TIMESTAMP(NANOS,false) — a physical
    type Spark's vectorized reader rejects. We read nanos as int64
    (legacy flag) and rebuild a timestamp at microsecond precision.
    Integer division stays in whole-stage codegen; no UDF, no shuffle.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # integer div, not `/`: epoch-nanos (~1.7e18) exceed double's
        # 2^53 exact range, so float division can truncate off-by-1µs
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """`createDataFrame` for SMALL driver-side row lists (file
    manifests, lineage anchors, DV blobs, metadata tables) without
    fanning the rows over `defaultParallelism` pickled Python slices:
    every slice costs one Python-worker round trip per downstream
    evaluation — measured ~140 ms each at local[32], i.e. a 2-row
    metadata frame consumed by a single task paid 4.5 s, and even a
    fully parallel consumer pays 32 task launches for a handful of
    rows.  Slices scale with the data (1 per ~10k rows, capped at the
    cluster parallelism) so a genuinely large caller still spreads.
    Rows/schema semantics are exactly `createDataFrame(rows, schema)`."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    slices = max(1, min(
        spark.sparkContext.defaultParallelism, len(rows) // 10_000 + 1
    ))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema
    )


#: Session-scoped buffer pool: (app_id, sf_dir, table) -> persisted DF.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _base_load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _read_events(spark, path)
    return spark.read.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy scan, no action).

    With SPARK_GRAFT_CACHE=1 the table is persisted
    (MEMORY_AND_DISK_DESER) on first touch and reused across queries —
    the engine's buffer pool. The fixtures are single-row-group parquet
    (a byte-range split can't parallelize one row group), so repeated
    queries would otherwise re-run a serial scan each time; one cached
    columnar materialization amortizes it, exactly the `.cache()` the
    reference never does (SURVEY §4.3.3). The pool returns the same
    DataFrame object on every call, so `operators.medications` keys
    its derived plan on the pooled `part` and builds it once — a plan,
    not bytes, living as long as the pooled `part` does. Off by
    default: correctness runs and ad-hoc use read straight from
    parquet. At cluster scale the same knob caches dims/derived
    tables, not 100 TB facts."""
    if os.environ.get("SPARK_GRAFT_CACHE") == "1":
        key = (spark.sparkContext.applicationId, sf_dir, name)
        if key not in _TABLE_CACHE:
            df = _base_load(spark, sf_dir, name)
            # single-row-group files scan serially AND stay serial once
            # cached (cache keeps scan partitioning) — spread big
            # tables across the cluster before the one-time persist
            try:
                n_bytes = os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
            except OSError:
                n_bytes = 0
            if n_bytes > 4 << 20:
                df = df.repartition(spark.sparkContext.defaultParallelism)
            _TABLE_CACHE[key] = df.persist()
        return _TABLE_CACHE[key]
    return _base_load(spark, sf_dir, name)


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each fixture as a temp view so `spark.sql` queries and the
    SQL entry points resolve the same relations the DataFrame API uses."""
    for name in names or TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_with_provenance(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fresh file scan with lineage columns from the hidden `_metadata`
    struct (file_name, file_size, file_modification_time) — the
    row-level provenance a 100-TB audit needs ("which landed file did
    this row come from") without writing the path into the data.

    Separate from `load_table` on purpose: `_metadata` rides only a
    direct file-source scan (a cached/persisted materialization drops
    it), and the events nanos rebuild projects it away."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return df.withColumns(
        {
            "_file_name": F.col("_metadata.file_name"),
            "_file_size": F.col("_metadata.file_size"),
        }
    )
