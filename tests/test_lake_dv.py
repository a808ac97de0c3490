"""Deletion vectors on Delta tables: merge-on-read deletes that re-add
the touched files with a DeletionVectorDescriptor instead of rewriting
them, applied at scan time — plus their interactions with stacking,
rewrites, compaction, merge, restore, the change feed, the pruned read,
the DataSource reader, and vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    deltaproto as dp,
    deltastream,
)


def _df(spark, lo, hi, tag=0):
    return spark.range(lo, hi).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") * 10 + tag).cast("bigint").alias("v"),
    )


def _ids(spark, path, version=None):
    return sorted(
        r["doc_id"] for r in dp.read_delta(spark, path, version).collect()
    )


def _live(spark, path):
    return dp._fold_delta_state(spark, path, None)[1]


def _dv_files(path):
    return [f for f in os.listdir(path) if f.startswith("deletion_vector_")]


@pytest.fixture()
def lake(spark, tmp_path):
    path = str(tmp_path / "lake")
    dp.write_delta(_df(spark, 0, 100).repartitionByRange(4, "doc_id"), path)
    return path


def test_dv_delete_hides_without_rewrite(spark, lake):
    live_before = set(_live(spark, lake))
    v = dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    # no data file rewritten — the commit re-adds the same paths with DVs
    assert set(_live(spark, lake)) == live_before
    acts = dp._read_actions(lake, v)
    adds = [a["add"] for a in acts if "add" in a]
    assert adds and all(a["deletionVector"] for a in adds)
    assert sorted(a["path"] for a in adds) == sorted(
        a["remove"]["path"] for a in acts if "remove" in a
    )
    assert _ids(spark, lake) == [i for i in range(100) if not 10 <= i <= 29]
    # time travel: the pre-delete snapshot still shows every row
    assert _ids(spark, lake, version=v - 1) == list(range(100))
    files = dp.read_delta_meta(spark, lake, "files").collect()
    assert sum(r["has_dv"] for r in files) >= 1


def test_dv_stacking_and_exact_increments(spark, lake):
    """Overlapping second delete: its change feed holds ONLY the newly
    hidden rows (the DVs union, so 20..29 are not counted twice)."""
    dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    v2 = dp.delete_where_delta(spark, lake, "doc_id", 20, 39, strategy="dv")
    assert _ids(spark, lake) == [i for i in range(100) if not 10 <= i <= 39]
    ch = dp.read_changes_delta(spark, lake, v2, v2)
    assert sorted(r["doc_id"] for r in ch.collect()) == list(range(30, 40))
    # zero-match DV delete is a no-op commit
    vs = dp.delta_versions(lake)
    assert (
        dp.delete_where_delta(spark, lake, "doc_id", 15, 25, strategy="dv")
        == vs[-1]
    )
    assert dp.delta_versions(lake) == vs


def test_rewrite_and_compact_materialize_dvs(spark, lake):
    """A copy-on-write delete or a compaction applies pending DVs
    physically: the descriptors drop from the live adds and the data
    stays exactly the visible set."""
    dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    dp.delete_where_delta(spark, lake, "doc_id", 50, 59)  # rewrite path
    want = [i for i in range(100) if not (10 <= i <= 29 or 50 <= i <= 59)]
    assert _ids(spark, lake) == want
    dp.compact_delta(spark, lake)
    assert not any(a.get("deletionVector") for a in _live(spark, lake).values())
    assert _ids(spark, lake) == want


def test_merge_does_not_resurrect_dv_rows(spark, lake):
    dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    dp.merge_upsert_delta(spark, _df(spark, 25, 35, tag=7), lake, "doc_id")
    snap = {r["doc_id"]: r["v"] for r in dp.read_delta(spark, lake).collect()}
    # 25..34 upserted (back) with tag 7; 10..24 stay deleted
    assert all(snap[i] == i * 10 + 7 for i in range(25, 35))
    assert all(i not in snap for i in range(10, 25))
    assert len(snap) == 100 - 20 + 5


def test_scan_pruned_and_datasource_apply_dvs(spark, lake):
    dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    df, n_read, n_skipped = dp.read_delta_pruned(spark, lake, "doc_id", 0, 49)
    got = sorted(r["doc_id"] for r in df.collect())
    assert got == [i for i in range(50) if not 10 <= i <= 29]
    assert n_skipped > 0
    deltastream.register(spark)
    ds = spark.read.format("deltaproto").load(lake)
    assert sorted(r["doc_id"] for r in ds.collect()) == [
        i for i in range(100) if not 10 <= i <= 29
    ]


def test_change_feed_and_restore_across_dvs(spark, lake):
    """CDF legs for DV deletes are exact (only newly-hidden rows) and
    replaying them reproduces the snapshot; a restore across both DV
    deletes brings every row back by re-adding the target's DV-free
    add actions, while the DV'd versions stay travelable."""
    v_pre = dp.delta_versions(lake)[-1]
    v1 = dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    v2 = dp.delete_where_delta(spark, lake, "doc_id", 20, 39, strategy="dv")

    feed = dp.read_changes_delta(spark, lake, since_version=0)
    rows = [
        (r["doc_id"], r["_change_type"], r["_commit_version"])
        for r in feed.collect()
    ]
    state: set = set()
    for doc_id, ctype, _v in sorted(rows, key=lambda t: t[2]):
        if ctype == "insert":
            assert doc_id not in state
            state.add(doc_id)
        else:
            state.remove(doc_id)
    assert sorted(state) == _ids(spark, lake)
    by_commit: dict = {}
    for doc_id, ctype, v in rows:
        by_commit.setdefault((v, ctype), set()).add(doc_id)
    assert sorted(by_commit[(v1, "delete")]) == list(range(10, 30))
    assert sorted(by_commit[(v2, "delete")]) == list(range(30, 40))

    dp.restore_delta(spark, lake, v_pre)
    assert _ids(spark, lake) == list(range(100))
    assert not any(a.get("deletionVector") for a in _live(spark, lake).values())
    assert _ids(spark, lake, version=v2) == [
        i for i in range(100) if not 10 <= i <= 39
    ]


def test_vacuum_sweeps_obsolete_dv_files(spark, lake):
    dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    assert len(_dv_files(lake)) >= 1
    dp.compact_delta(spark, lake)  # materializes: DVs now unreferenced
    want = _ids(spark, lake)
    deleted = dp.vacuum_delta(spark, lake, retain_versions=0, min_age_s=0.0)
    assert deleted >= 1
    assert _dv_files(lake) == []
    assert _ids(spark, lake) == want
