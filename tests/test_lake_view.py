"""Incremental materialized views (sources/lakeview.py) over Delta
tables: delta application parity vs full recompute across appends,
both delete strategies, maintenance and MERGE; zero-group drops;
idempotence through the view's `txn` sync position."""

from __future__ import annotations

from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    deltaproto as dp,
    lakeview,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id") * 3).cast("bigint").alias("val"),
    )


def _view_rows(spark, view):
    return sorted(
        (r["grp"], r["n_rows"], r["sum_value"])
        for r in dp.read_delta(spark, view).collect()
    )


def _expected(spark, base):
    return sorted(
        (r["grp"], r["n_rows"], r["sum_value"])
        for r in dp.read_delta(spark, base)
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("val").cast("bigint").alias("sum_value"),
        )
        .collect()
    )


def test_incremental_refresh_parity_and_idempotence(spark, tmp_path):
    base = str(tmp_path / "base")
    view = str(tmp_path / "view")
    dp.write_delta(_df(spark, 0, 80).repartitionByRange(4, "doc_id"), base)
    lakeview.refresh(spark, base, view, ["grp"], "val")  # bootstrap
    assert _view_rows(spark, view) == _expected(spark, base)

    # append + both delete strategies + compaction, one refresh
    dp.write_delta(_df(spark, 80, 120), base)
    dp.delete_where_delta(spark, base, "doc_id", 10, 29)
    dp.delete_where_delta(spark, base, "doc_id", 50, 59, strategy="dv")
    dp.compact_delta(spark, base)
    assert lakeview.refresh(spark, base, view, ["grp"], "val") is not None
    assert _view_rows(spark, view) == _expected(spark, base)

    # already current: no-op; re-running stays exact (idempotent)
    view_vs = dp.delta_versions(view)
    assert lakeview.refresh(spark, base, view, ["grp"], "val") is None
    assert _view_rows(spark, view) == _expected(spark, base)
    # a replayed full refresh at the synced base version is dropped by
    # the view's txn position: no new view commit
    base_v = dp.delta_versions(base)[-1]
    assert dp.delta_txn_versions(spark, view) == {"lakeview": base_v}
    lakeview.full_refresh(spark, base, view, ["grp"], "val")
    assert dp.delta_versions(view) == view_vs


def test_group_drops_to_zero(spark, tmp_path):
    base = str(tmp_path / "base")
    view = str(tmp_path / "view")
    dp.write_delta(_df(spark, 0, 8).repartitionByRange(2, "doc_id"), base)
    lakeview.refresh(spark, base, view, ["grp"], "val")
    # delete every row of grp '3' (ids 3 and 7)
    dp.delete_where_delta(spark, base, "doc_id", 3, 3)
    dp.delete_where_delta(spark, base, "doc_id", 7, 7)
    lakeview.refresh(spark, base, view, ["grp"], "val")
    got = _view_rows(spark, view)
    assert all(g != "3" for g, _n, _s in got)  # group gone, not zero-row
    assert got == _expected(spark, base)


def test_merge_refreshes_incrementally_and_equals_full_refresh(spark, tmp_path):
    """A MERGE commit's change feed carries update_preimage (-1) and
    update_postimage (+1) rows plus inserts, so the view refreshes
    incrementally across it and equals a from-scratch full refresh."""
    base = str(tmp_path / "base")
    view = str(tmp_path / "view")
    full = str(tmp_path / "full")
    dp.write_delta(_df(spark, 0, 40), base)
    lakeview.refresh(spark, base, view, ["grp"], "val")
    # keys 30..44: 30..39 update (val 999), 40..44 insert
    dp.merge_upsert_delta(
        spark,
        _df(spark, 30, 45).withColumn("val", F.lit(999).cast("bigint")),
        base,
        "doc_id",
    )
    assert lakeview.refresh(spark, base, view, ["grp"], "val") is not None
    assert _view_rows(spark, view) == _expected(spark, base)
    lakeview.full_refresh(spark, base, full, ["grp"], "val")
    assert _view_rows(spark, view) == _view_rows(spark, full)
    # and incremental refresh keeps going from the new position
    dp.write_delta(_df(spark, 100, 120), base)
    lakeview.refresh(spark, base, view, ["grp"], "val")
    assert _view_rows(spark, view) == _expected(spark, base)


def test_racing_refresh_aborts_instead_of_landing_a_stale_view(
    spark, tmp_path, monkeypatch
):
    """Two refreshes of one view: when the other one commits after this
    one read the view's sync position, this overwrite aborts, so the
    view never holds contents older than the position its log reports."""
    import pytest

    base = str(tmp_path / "base")
    view = str(tmp_path / "view")
    dp.write_delta(_df(spark, 0, 40), base)
    lakeview.refresh(spark, base, view, ["grp"], "val")
    dp.write_delta(_df(spark, 40, 60), base)

    raced = {"inside": False, "done": False}
    orig_write, orig_txns = dp.write_delta, dp.delta_txn_versions

    def writing(df, path, *args, **kwargs):
        raced["inside"] = path == view
        try:
            return orig_write(df, path, *args, **kwargs)
        finally:
            raced["inside"] = False

    def racing_txns(sp, path):
        got = orig_txns(sp, path)
        if raced["inside"] and not raced["done"]:
            # the other refresh lands right after this write read the
            # view's txn state
            raced["done"] = True
            dp.write_delta(_df(spark, 60, 80), base)
            lakeview.refresh(spark, base, view, ["grp"], "val")
        return got

    monkeypatch.setattr(dp, "write_delta", writing)
    monkeypatch.setattr(dp, "delta_txn_versions", racing_txns)
    with pytest.raises(dp.ConcurrentDeltaCommit):
        lakeview.refresh(spark, base, view, ["grp"], "val")
    monkeypatch.undo()
    assert raced["done"]
    base_v = dp.delta_versions(base)[-1]
    assert dp.delta_txn_versions(spark, view) == {"lakeview": base_v}
    assert _view_rows(spark, view) == _expected(spark, base)
