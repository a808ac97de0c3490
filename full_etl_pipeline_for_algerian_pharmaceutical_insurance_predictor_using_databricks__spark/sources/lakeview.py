"""Incremental materialized views over the Delta change feed — the
lakehouse capability the CDF exists to enable (Delta Live Tables /
materialized-view maintenance): keep a grouped aggregate table fresh
by applying each commit's row DELTAS instead of recomputing from the
base table.

At 100 TB the difference is the whole point: a full refresh rescans
the table per refresh; the incremental path reads ONLY the change
files of the commits since the last sync (appends, deletes, updates,
merges), aggregates the delta (map-side partial + shuffle on the group
key — the same shape as the view itself), and folds the per-group
adjustments into the view.  Pure rewrites (OPTIMIZE) carry
`dataChange: false`, so the feed skips them and they cost nothing.

Self-maintainable aggregates only (COUNT / SUM — and anything
derivable from them, e.g. AVG = sum/count): deltas apply as
additions/subtractions with no need to see the base table.  MIN/MAX
are NOT self-maintainable under deletes (a deleted minimum forces a
re-scan of its group).  `insert` and `update_postimage` rows count +1,
`delete` and `update_preimage` rows −1.  A commit the feed cannot
derive raises from `read_changes_delta`; `full_refresh` is then the
fallback, mirroring how production IVM systems degrade.

The view is itself a Delta table; its sync position is the spec's
`txn` action (appId `lakeview`, version = the synced base version),
committed atomically WITH the new rows, so refresh is idempotent and
crash-safe: a replayed refresh is dropped by `write_delta`'s txn rule,
and a re-run reads the position back and applies only what's missing.
Of two refreshes racing on one view, the later either sees the
earlier's txn (and is dropped) or aborts with `ConcurrentDeltaCommit`
at its claim, so the view never holds rows older than its position.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import deltaproto as dp

_TXN_APP = "lakeview"


def _synced_version(spark: SparkSession, view_path: str) -> int:
    """Base version the view is synced to; -1 for an absent view."""
    if not dp.delta_versions(view_path):
        return -1
    return dp.delta_txn_versions(spark, view_path).get(_TXN_APP, -1)


def _grouped_counts(df: DataFrame, group_cols: list[str], value_col: str):
    return df.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(value_col).cast("bigint").alias("sum_value"),
    )


def full_refresh(
    spark: SparkSession,
    base_path: str,
    view_path: str,
    group_cols: list[str],
    value_col: str,
) -> int:
    """Recompute the view from the base snapshot (the bootstrap, and
    the fallback when the feed is not applicable).  Commits the result
    as an overwrite carrying the synced base version; a view already
    synced to the base's current version is left as is (the txn
    rule drops the replay)."""
    base_v = dp.delta_versions(base_path)[-1]
    agg = _grouped_counts(dp.read_delta(spark, base_path), group_cols, value_col)
    return dp.write_delta(
        agg, view_path, mode="overwrite", txn=(_TXN_APP, base_v)
    )


def refresh(
    spark: SparkSession,
    base_path: str,
    view_path: str,
    group_cols: list[str],
    value_col: str,
) -> int | None:
    """INCREMENTAL refresh: apply the change feed since the view's
    synced position.  Returns the view's new commit version, None if
    already current.  Groups whose row count reaches zero are dropped
    from the view (SQL GROUP BY semantics)."""
    base_v = dp.delta_versions(base_path)[-1]
    synced = _synced_version(spark, view_path)
    if synced < 0:
        return full_refresh(spark, base_path, view_path, group_cols, value_col)
    if base_v <= synced:
        return None
    feed = dp.read_changes_delta(
        spark, base_path, since_version=synced + 1, end_version=base_v
    )
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        feed.withColumn("_sign", sign)
        .groupBy(*group_cols)
        .agg(
            F.sum("_sign").cast("bigint").alias("d_rows"),
            F.sum(F.col(value_col) * F.col("_sign"))
            .cast("bigint")
            .alias("d_value"),
        )
        .filter((F.col("d_rows") != 0) | (F.col("d_value") != 0))
    )
    current = dp.read_delta(spark, view_path)
    merged = (
        current.alias("v")
        .join(delta.alias("d"), group_cols, "full_outer")
        .select(
            *group_cols,
            (
                F.coalesce(F.col("v.n_rows"), F.lit(0))
                + F.coalesce(F.col("d.d_rows"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_rows"),
            (
                F.coalesce(F.col("v.sum_value"), F.lit(0))
                + F.coalesce(F.col("d.d_value"), F.lit(0))
            )
            .cast("bigint")
            .alias("sum_value"),
        )
        .filter(F.col("n_rows") > 0)
    )
    return dp.write_delta(
        merged, view_path, mode="overwrite", txn=(_TXN_APP, base_v)
    )


# --------------------------------------------------------------------------
# Driver entry
# --------------------------------------------------------------------------

_VIEW_LAKE_VERSION = 1


def incremental_view_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate entry for incremental view maintenance: build a
    documents lake, bootstrap a per-source (count, sum-of-chars) view,
    then drive appends, a predicate DELETE, a DV DELETE, and a
    compaction through INCREMENTAL refreshes only — and return the
    view.  The DuckDB oracle recomputes the same aggregate from
    scratch over the raw parquet minus the deleted ranges, so a value
    match proves delta application (±signs, group drops, DV deletes,
    maintenance skips) is exact — the view was never fully
    recomputed after bootstrap."""
    import os

    from ..functions.scale import default_index_dir
    from . import load_table

    root = default_index_dir("lakeview_delta", _VIEW_LAKE_VERSION, sf_dir)
    base = os.path.join(root, "docs_base")
    view = os.path.join(root, "docs_view")
    if not dp.delta_versions(view):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", F.length("text").cast("bigint").alias("chars")
        )
        first = docs.filter(F.col("doc_id") % 2 == 0)
        rest = docs.filter(F.col("doc_id") % 2 == 1)
        dp.write_delta(first.repartitionByRange(4, "doc_id"), base)
        refresh(spark, base, view, ["source"], "chars")  # bootstrap
        dp.write_delta(rest, base)
        refresh(spark, base, view, ["source"], "chars")
        dp.delete_where_delta(spark, base, "doc_id", 100, 199)
        dp.delete_where_delta(spark, base, "doc_id", 300, 349, strategy="dv")
        dp.compact_delta(spark, base)
        refresh(spark, base, view, ["source"], "chars")
    return (
        dp.read_delta(spark, view)
        .select("source", "n_rows", "sum_value")
        .orderBy("source")
    )


VIEW_ORACLE_SQL = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_value
FROM documents
WHERE doc_id NOT BETWEEN 100 AND 199
  AND doc_id NOT BETWEEN 300 AND 349
GROUP BY source
ORDER BY source
"""


QUERIES = {"lake_incremental_view": incremental_view_entry}

ORACLES = {"lake_incremental_view": VIEW_ORACLE_SQL}
