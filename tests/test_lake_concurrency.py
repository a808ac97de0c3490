"""Concurrency-conflict tests for Delta commits (sources/deltaproto.py).

The optimistic-concurrency windows are deterministic here: every
rewrite op reads its snapshot, lands files, then claims a version
through `_claim_delta_version`, which validates every commit that
landed since the snapshot.  These tests inject a RACING commit inside
that window (the `race_before_claim` fixture wraps
`_claim_delta_version`) and assert the conflict rules:

- compact vs delete            → compact ABORTS, no resurrection or
  duplication; its landed rewrite stays invisible until VACUUM;
- compact vs append            → commutes (the appended file survives);
- merge vs compact             → merge ABORTS (stale remove list);
- restore vs append            → restore ABORTS (the append landed
  inside the whole-table scope it read), a retry restores exactly;
- stream sink across drains    → a persisted checkpoint makes a grown
  source deliver NEW batch ids (no silent skip / data loss);
- stream batch schema          → divergent schema rejected at commit;
- vacuum                       → one forward fold over the log.

The 8-writer append stress test (`test_ingestion.py`) covers the
append-append race; appends never conflict, so these rewrites are the
cases it cannot reach.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    deltaproto as dp,
    deltastream,
)


def _seed(spark, path, n=200, files=4):
    df = spark.range(n).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") * 7).cast("bigint").alias("v"),
    )
    dp.write_delta(df.repartitionByRange(files, "doc_id"), path)
    return df


def _rows(spark, path):
    return sorted(
        (r["doc_id"], r["v"]) for r in dp.read_delta(spark, path).collect()
    )


def _data_files(path):
    return {
        os.path.relpath(os.path.join(d, f), path)
        for d, _dirs, files in os.walk(path)
        if "_delta_log" not in d and "_change_data" not in d
        for f in files
        if f.endswith(".parquet")
    }


def test_compact_aborts_on_racing_delete(
    spark, tmp_path, monkeypatch, race_before_claim
):
    """A delete that commits inside compact's land→claim window must
    abort the compaction: committing the stale remove list would
    resurrect the deleted rows AND double the kept rows of the file
    the delete rewrote."""
    path = str(tmp_path / "lake")
    _seed(spark, path)
    raced = race_before_claim(
        "OPTIMIZE",
        lambda p: dp.delete_where_delta(spark, p, "doc_id", 50, 99),
    )
    with pytest.raises(dp.ConcurrentDeltaCommit, match="rewrote"):
        dp.compact_delta(spark, path)
    assert raced["done"]
    monkeypatch.undo()

    got = _rows(spark, path)
    want = [(i, i * 7) for i in range(200) if not 50 <= i <= 99]
    assert got == want  # no resurrection, no duplication
    assert dp.delta_history(path)[-1]["operation"] == "DELETE"
    # compact's landed rewrite is referenced by no version; VACUUM
    # reclaims exactly such files and the table still reads the same
    referenced = set()
    for v in dp.delta_versions(path):
        referenced |= set(dp._fold_delta_state(spark, path, v)[1])
    orphans = _data_files(path) - referenced
    assert orphans
    assert dp.vacuum_delta(spark, path, retain_versions=0, min_age_s=0) >= len(
        orphans
    )
    assert not (_data_files(path) & orphans)
    # and a clean re-run against the new snapshot succeeds
    dp.compact_delta(spark, path)
    assert _rows(spark, path) == want


def test_compact_commutes_with_racing_append(
    spark, tmp_path, monkeypatch, race_before_claim
):
    """A concurrent APPEND is not a conflict: its file is not in
    compact's remove list, so both commits land and every row survives
    exactly once."""
    path = str(tmp_path / "lake")
    _seed(spark, path)
    extra = spark.range(200, 230).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") * 7).cast("bigint").alias("v"),
    )
    raced = race_before_claim("OPTIMIZE", lambda p: dp.write_delta(extra, p))
    dp.compact_delta(spark, path)
    assert raced["done"]
    monkeypatch.undo()

    assert _rows(spark, path) == [(i, i * 7) for i in range(230)]
    assert dp.delta_history(path)[-1]["operation"] == "OPTIMIZE"


def test_merge_aborts_on_racing_compact(
    spark, tmp_path, monkeypatch, race_before_claim
):
    """merge_upsert_delta computes its touched-file list from a
    pre-claim snapshot; a compaction that commits first removes every
    name in it, so the merge must abort instead of committing stale
    removes."""
    path = str(tmp_path / "lake")
    _seed(spark, path)
    updates = spark.range(10, 20).select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.lit(-1).cast("bigint").alias("v"),
    )
    raced = race_before_claim("MERGE", lambda p: dp.compact_delta(spark, p))
    with pytest.raises(dp.ConcurrentDeltaCommit):
        dp.merge_upsert_delta(spark, updates, path, "doc_id")
    assert raced["done"]
    monkeypatch.undo()

    # table is exactly the compacted seed — the merge left no trace
    assert _rows(spark, path) == [(i, i * 7) for i in range(200)]
    assert dp.delta_history(path)[-1]["operation"] == "OPTIMIZE"
    # retry succeeds against the new snapshot
    dp.merge_upsert_delta(spark, updates, path, "doc_id")
    want = [(i, -1 if 10 <= i <= 19 else i * 7) for i in range(200)]
    assert _rows(spark, path) == want


def test_restore_accounts_for_racing_append(
    spark, tmp_path, monkeypatch, race_before_claim
):
    """restore's postcondition is 'the live set becomes exactly the
    target version's'.  It reads the whole table, so an append that
    lands between its fold and its claim is a read conflict: the
    restore refuses rather than letting the append silently survive,
    and a retry restores exactly."""
    path = str(tmp_path / "lake")
    _seed(spark, path)
    v0 = dp.delta_versions(path)[-1]
    dp.write_delta(
        spark.range(500, 510).select(
            F.col("id").cast("bigint").alias("doc_id"),
            F.lit(0).cast("bigint").alias("v"),
        ),
        path,
    )
    extra = spark.range(600, 610).select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.lit(1).cast("bigint").alias("v"),
    )
    raced = race_before_claim("RESTORE", lambda p: dp.write_delta(extra, p))
    with pytest.raises(dp.ConcurrentDeltaCommit, match="appended"):
        dp.restore_delta(spark, path, v0)
    assert raced["done"]
    monkeypatch.undo()
    assert len(_rows(spark, path)) == 220  # nothing restored yet

    dp.restore_delta(spark, path, v0)
    live_now = dp._fold_delta_state(spark, path, None)[1]
    assert set(live_now) == set(dp._fold_delta_state(spark, path, v0)[1])
    assert _rows(spark, path) == [(i, i * 7) for i in range(200)]


def test_stream_sink_persisted_checkpoint_survives_source_growth(
    spark, tmp_path
):
    """Exactly-once ACROSS drains: with the checkpoint persisted, a
    second drain of a GROWN source delivers only the new rows under a
    fresh batch id, and an unchanged source is a pure no-op."""
    deltastream.register(spark)
    src = tmp_path / "src"
    src.mkdir()
    path = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    df1 = spark.range(100).select(F.col("id").alias("doc_id"))
    df1.coalesce(1).write.mode("append").parquet(str(src))

    def drain():
        stream = spark.readStream.schema("doc_id bigint").parquet(str(src))
        q = (
            stream.writeStream.format("deltaproto")
            .option("path", path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    assert dp.read_delta(spark, path).count() == 100

    spark.range(100, 130).select(F.col("id").alias("doc_id")).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    drain()
    got = sorted(r["doc_id"] for r in dp.read_delta(spark, path).collect())
    assert got == list(range(130))  # the new file was NOT skipped
    # batch ids are monotonic — the second drain used a fresh id
    assert max(dp.delta_txn_versions(spark, path).values()) >= 1

    # unchanged source: a third drain is a pure no-op
    n_versions = len(dp.delta_versions(path))
    drain()
    assert len(dp.delta_versions(path)) == n_versions


def test_commit_stream_batch_enforces_schema(spark, tmp_path):
    """Idempotent (txn-keyed) batch commits honor the same write-time
    schema contract as plain appends — a divergent frame is rejected,
    and neither its rows nor its txn version are committed."""
    path = str(tmp_path / "lake")
    _seed(spark, path)
    bad = spark.range(5).select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.lit("x").alias("v"),  # string where the table says bigint
    )
    vs = dp.delta_versions(path)
    with pytest.raises(ValueError, match="table schema says bigint"):
        dp.write_delta(bad, path, txn=("stream", 999))
    # nothing landed, nothing committed
    assert dp.delta_versions(path) == vs
    assert "stream" not in dp.delta_txn_versions(spark, path)


def test_vacuum_single_forward_fold(spark, tmp_path):
    """vacuum_delta over a retention window: every file live in any
    retained version survives, the rest (and the cdc files of dropped
    commits) go, and every retained version stays readable."""
    path = str(tmp_path / "lake")
    n_commits = 24
    for i in range(n_commits):
        if i % 3 == 2:  # periodically rewrite half of an earlier batch
            lo = (i - 2) * 10
            dp.delete_where_delta(spark, path, "doc_id", lo, lo + 4)
        else:
            df = spark.range(i * 10, (i + 1) * 10).select(
                F.col("id").cast("bigint").alias("doc_id")
            )
            dp.write_delta(df.coalesce(1), path)
    vs = dp.delta_versions(path)
    assert len(vs) == n_commits
    retained = vs[-13:]
    referenced = set()
    for v in retained:
        referenced |= set(dp._fold_delta_state(spark, path, v)[1])
    before = _data_files(path)
    want = dp.read_delta(spark, path).count()

    def n_files():  # data and cdc files alike
        return sum(len(fs) for d, _, fs in os.walk(path) if "_delta_log" not in d)

    n_before = n_files()

    deleted = dp.vacuum_delta(spark, path, retain_versions=12, min_age_s=0.0)
    assert _data_files(path) == referenced
    assert deleted == n_before - n_files() > len(before - referenced) > 0
    assert dp.read_delta(spark, path).count() == want
    assert dp.read_delta(spark, path, version=retained[0]).count() > 0
