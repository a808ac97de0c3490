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


def _recover_merge_state(target_dir: str, tmp: str, old: str) -> None:
    """Entry-time repair of a crashed `merge_upsert`, making reruns
    idempotent instead of failing on leftover `_merge_tmp`/`_merge_old`
    dirs (os.rename onto a non-empty dir raises):

    - a leftover `_merge_tmp` is an UNPUBLISHED partial write → drop it
      (the caller re-applies the updates; the merge is idempotent);
    - a leftover `_merge_old` with NO target means the crash hit
      between the two whole-dir renames → restore it as the target;
    - a leftover `_merge_old` WITH a target holds displaced partition
      dirs from a partition-pruned swap → restore any partition the
      target is missing (its replacement was never published), then
      drop the rest (they were superseded)."""
    import glob as g
    import os
    import shutil

    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    if os.path.isdir(old):
        if not os.path.isdir(target_dir):
            os.rename(old, target_dir)
            return
        for d in g.glob(os.path.join(old, "*=*")):
            dest = os.path.join(target_dir, os.path.basename(d))
            if not os.path.exists(dest):
                os.rename(d, dest)
        shutil.rmtree(old)


def merge_upsert(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str | None = None,
    partition_col: str | None = None,
) -> None:
    """Delta `MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT`
    semantics on a plain parquet directory — the CDC-apply core without
    the table-format dependency.

    Default (`order_col=None`): rows kept = (target ANTI-JOIN updates
    on keys) ∪ updates — matched target rows are replaced wholesale,
    unmatched updates insert, untouched rows carry over.  Mirrors
    Delta's duplicate-match rule: an updates frame with two rows for
    one key is rejected up front (which row wins would be
    nondeterministic).

    With `order_col` (the `WHEN MATCHED AND s.v > t.v` variant): the
    HIGHEST-order row per key wins across target ∪ updates, so a
    late-arriving OLDER change cannot clobber newer state — the rule a
    CDC apply needs when batches aren't in commit order.  Duplicate
    keys in updates are then legal (resolved by the same rule; ties
    break on the remaining columns for determinism).

    With `partition_col` (the Delta MERGE file-pruning contract): the
    target is a hive-partitioned layout (`write_partitioned`), only the
    partitions holding an updated row are read (PartitionFilters prune
    the rest at planning time) and ONLY those partition dirs are
    rewritten — untouched partitions' files are never opened, never
    rewritten, byte-identical after the merge (asserted in
    tests/test_ingestion.py).  At 100 TB this is the difference between
    a full-table rewrite and touching a handful of directories.
    Correctness requires the partition value to be STABLE per key
    (partition_col functionally dependent on the merge keys) — the same
    contract a user-supplied partition predicate has in Delta MERGE; a
    key that migrates partitions would orphan its old-partition copy.

    Crash contract: the rewrite lands in a `_merge_tmp` sibling first
    and publishes via rename.  A crash mid-WRITE leaves the old target
    intact (readers ignore `_`-prefixed dirs).  A crash mid-SWAP can
    leave the target missing (whole-dir path) or part-old/part-new
    (partitioned path, each partition internally consistent) — the next
    `merge_upsert` on the same dir repairs both at entry
    (`_recover_merge_state`) and re-applying the same updates then
    converges, because the merge is idempotent.  At Delta/Iceberg tier
    the swap becomes a transaction-log commit and this window closes."""
    import glob as g
    import os
    import shutil

    from pyspark.sql import Window, functions as F

    parent = os.path.dirname(target_dir.rstrip("/"))
    tmp = os.path.join(parent or ".", "_merge_tmp")
    old = os.path.join(parent or ".", "_merge_old")
    _recover_merge_state(target_dir, tmp, old)

    if order_col is None:
        dup = (
            updates.groupBy(*keys).count().filter("count > 1").limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"merge_upsert: updates contain multiple rows for key "
                f"{tuple(dup[0][k] for k in keys)} — resolve to one row per key "
                f"before merging (Delta MERGE rejects this for the same reason), "
                f"or pass order_col to resolve by recency."
            )

    def _win_per_key(both: DataFrame) -> DataFrame:
        tiebreak = [
            F.desc(c) for c in both.columns if c not in keys and c != order_col
        ]
        w = Window.partitionBy(*keys).orderBy(F.desc(order_col), *tiebreak)
        return (
            both.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _merge_into(target: DataFrame) -> DataFrame:
        if order_col is None:
            return target.join(updates, keys, "left_anti").unionByName(updates)
        return _win_per_key(target.unionByName(updates))

    exists = bool(
        g.glob(os.path.join(target_dir, "part-*.parquet"))
        or g.glob(os.path.join(target_dir, "*.parquet"))
        or g.glob(os.path.join(target_dir, "*=*"))
    )

    if partition_col is not None:
        if partition_col not in updates.columns:
            raise ValueError(
                f"merge_upsert: partition_col {partition_col!r} not in updates"
            )
        if exists:
            # read only the touched partitions: the isin() predicate on
            # the partition column prunes every other directory at
            # planning time (zero bytes read from untouched partitions)
            touched = [
                r[0]
                for r in updates.select(partition_col).distinct().collect()
            ]
            target = spark.read.parquet(target_dir).withColumn(
                partition_col,
                F.col(partition_col).cast(
                    updates.schema[partition_col].dataType
                ),
            )
            merged = _merge_into(
                target.filter(F.col(partition_col).isin(touched))
            )
        else:
            merged = _win_per_key(updates) if order_col is not None else updates
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(tmp)
        # swap ONLY the touched partition dirs; everything else in the
        # target is never moved, so its files stay byte-identical
        os.makedirs(old, exist_ok=True)
        for d in g.glob(os.path.join(tmp, "*=*")):
            name = os.path.basename(d)
            dest = os.path.join(target_dir, name)
            os.makedirs(target_dir, exist_ok=True)
            if os.path.exists(dest):
                os.rename(dest, os.path.join(old, name))
            os.rename(d, dest)
        shutil.rmtree(tmp)
        shutil.rmtree(old)
        return

    if exists:
        merged = _merge_into(spark.read.parquet(target_dir))
    elif order_col is not None:
        merged = _win_per_key(updates)
    else:
        merged = updates
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.exists(target_dir):
        os.rename(target_dir, old)
    os.rename(tmp, target_dir)
    if os.path.exists(old):
        shutil.rmtree(old)

