"""Incremental materialized views over the minilake change feed — the
lakehouse capability the CDF exists to enable (Delta Live Tables /
materialized-view maintenance): keep a grouped aggregate table fresh
by applying each commit's insert/delete DELTAS instead of recomputing
from the base table.

At 100 TB the difference is the whole point: a full refresh rescans
the table per refresh; the incremental path reads ONLY the files of
the commits since the last sync (appends/deletes), aggregates the
delta (map-side partial + shuffle on the group key — the same shape as
the view itself), and MERGEs the per-group adjustments into the view
with minilake's file-pruned upsert.  Pure rewrites (compact/OPTIMIZE)
contribute nothing and cost nothing, because the feed skips them.

Self-maintainable aggregates only (COUNT / SUM — and anything
derivable from them, e.g. AVG = sum/count): deltas apply as
additions/subtractions with no need to see the base table.  MIN/MAX
are NOT self-maintainable under deletes (a deleted minimum forces a
re-scan of its group) — `refresh()` raises if the feed cannot be
applied (a merge commit in range) and the caller falls back to
`full_refresh`, mirroring how production IVM systems degrade.

The view is itself a minilake table; its sync position rides in the
view table's commit log (a `view_synced_version` field on each view
commit), so refresh is idempotent and crash-safe: a refresh that
commits records the new position atomically WITH the new rows, and a
re-run reads the position back and re-applies only what's missing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import minilake


def _view_state(view_path: str) -> tuple[int, int]:
    """(view's latest version, base version the view is synced to);
    (-1, -1) for an absent view."""
    vs = minilake.versions(view_path)
    if not vs:
        return -1, -1
    c = minilake._read_commit(view_path, vs[-1])
    return vs[-1], int(c.get("view_synced_version", -1))


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
    as an overwrite carrying the synced base version."""
    base_v = minilake.versions(base_path)[-1]
    agg = _grouped_counts(
        minilake.read_snapshot(spark, base_path), group_cols, value_col
    )
    files = minilake._land_data_files(agg, view_path)
    return minilake._claim_version(
        view_path,
        {
            "mode": "overwrite",
            "add": files,
            "remove": sorted(minilake._live_files(view_path)),
            "schema": agg.schema.json(),
            "view_synced_version": base_v,
        },
        refresh=lambda c: c.__setitem__(
            "remove", sorted(minilake._live_files(view_path))
        ),
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
    from the view (SQL GROUP BY semantics).  Raises ValueError when
    the range contains a commit the feed cannot replay (merge) — fall
    back to `full_refresh`."""
    base_v = minilake.versions(base_path)[-1]
    _view_v, synced = _view_state(view_path)
    if synced < 0:
        return full_refresh(spark, base_path, view_path, group_cols, value_col)
    if base_v <= synced:
        return None
    feed = minilake.read_changes(
        spark, base_path, since_version=synced, to_version=base_v,
        change_feed=True,
    )
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
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
    current = minilake.read_snapshot(spark, view_path)
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
    files = minilake._land_data_files(merged, view_path)
    return minilake._claim_version(
        view_path,
        {
            "mode": "overwrite",
            "add": files,
            "remove": sorted(minilake._live_files(view_path)),
            "schema": merged.schema.json(),
            "view_synced_version": base_v,
        },
        refresh=lambda c: c.__setitem__(
            "remove", sorted(minilake._live_files(view_path))
        ),
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
    match proves delta application (±signs, group drops, DV position
    sets, maintenance skips) is exact — the view was never fully
    recomputed after bootstrap."""
    import os

    from ..functions.scale import default_index_dir
    from . import load_table

    root = default_index_dir("lakeview", _VIEW_LAKE_VERSION, sf_dir)
    base = os.path.join(root, "docs_base")
    view = os.path.join(root, "docs_view")
    if not minilake.versions(view):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", F.length("text").cast("bigint").alias("chars")
        )
        first = docs.filter(F.col("doc_id") % 2 == 0)
        rest = docs.filter(F.col("doc_id") % 2 == 1)
        minilake.commit_append(
            first.repartitionByRange(4, "doc_id"), base, stat_cols=["doc_id"]
        )
        refresh(spark, base, view, ["source"], "chars")  # bootstrap
        minilake.commit_append(rest, base)
        refresh(spark, base, view, ["source"], "chars")
        minilake.delete_where(spark, base, "doc_id", 100, 199)
        minilake.delete_where(spark, base, "doc_id", 300, 349, strategy="dv")
        minilake.compact(spark, base)
        refresh(spark, base, view, ["source"], "chars")
    return (
        minilake.read_snapshot(spark, view)
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
