"""Change-data-feed across rewrites (deltaproto.read_changes_delta):

- the feed and the format('deltaproto') stream source SKIP pure
  rewrites (OPTIMIZE / z-order, `dataChange: false`) — routine
  maintenance never breaks incremental consumers;
- the feed emits exact insert/delete rows for append, DELETE (its
  `cdc` file) and OVERWRITE — verified by APPLYING the feed and
  comparing with the real snapshot; a RESTORE (a mixed rewrite with no
  `cdc` actions) refuses instead of mis-reading.
"""

from __future__ import annotations

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


def _apply_feed(feed_df):
    """Replay a CDF feed in commit order onto an empty multiset."""
    rows = [
        ((r["doc_id"], r["v"]), r["_change_type"], r["_commit_version"])
        for r in feed_df.collect()
    ]
    state: list = []
    for key, ctype, _v in sorted(rows, key=lambda t: t[2]):
        if ctype == "insert":
            state.append(key)
        else:
            state.remove(key)
    return sorted(state)


def test_plain_feed_skips_compaction(spark, tmp_path):
    path = str(tmp_path / "lake")
    dp.write_delta(_df(spark, 0, 50), path)
    v1 = dp.write_delta(_df(spark, 50, 80), path)
    dp.compact_delta(spark, path)
    dp.write_delta(_df(spark, 80, 90), path)
    # consumer synced through v1: sees ONLY the post-compact append
    got = sorted(
        r["doc_id"]
        for r in dp.read_changes_delta(spark, path, since_version=v1 + 1)
        .collect()
    )
    assert got == list(range(80, 90))
    # a full-history feed over appends+compact = all appended rows
    allrows = dp.read_changes_delta(spark, path, since_version=0)
    assert allrows.count() == 90
    assert {r["_change_type"] for r in allrows.collect()} == {"insert"}


def test_change_feed_apply_parity_delete_restore_overwrite(spark, tmp_path):
    """The acid test: replaying the feed reproduces the live snapshot
    exactly through append → delete → compact → overwrite; a RESTORE
    after that is a mixed rewrite without `cdc` actions, so a feed
    spanning it refuses loudly while the feed up to it stays exact."""
    path = str(tmp_path / "lake")
    dp.write_delta(_df(spark, 0, 100).repartitionByRange(4, "doc_id"), path)
    dp.delete_where_delta(spark, path, "doc_id", 20, 39)
    v_compact = dp.compact_delta(spark, path)
    v_over = dp.write_delta(_df(spark, 500, 520, tag=1), path, mode="overwrite")

    feed = dp.read_changes_delta(spark, path, since_version=0)
    applied = _apply_feed(feed)
    snap = sorted(
        (r["doc_id"], r["v"]) for r in dp.read_delta(spark, path).collect()
    )
    assert applied == snap
    # the delete leg is exactly the predicate rows, tagged per commit
    deletes = feed.filter(
        (F.col("_change_type") == "delete") & (F.col("_commit_version") == 1)
    )
    assert sorted(r["doc_id"] for r in deletes.collect()) == list(range(20, 40))
    # compaction contributed nothing
    assert feed.filter(F.col("_commit_version") == v_compact).count() == 0

    dp.restore_delta(spark, path, v_compact)
    with pytest.raises(ValueError, match="without cdc"):
        dp.read_changes_delta(spark, path, since_version=0).collect()
    up_to = dp.read_changes_delta(spark, path, since_version=0, end_version=v_over)
    assert _apply_feed(up_to) == snap


def test_stream_source_survives_interleaved_optimize(spark, sf_dir, tmp_path):
    """format('deltaproto') stream: append → drain → OPTIMIZE/z-order
    → append → drain again.  The second drain skips the rewrite commits
    and delivers ONLY the new append — parity with the batch rows."""
    deltastream.register(spark)
    path = str(tmp_path / "lake")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    dp.write_delta(_df(spark, 0, 40), path)

    def drain():
        q = (
            spark.readStream.format("deltaproto")
            .load(path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 40

    dp.compact_delta(spark, path)
    dp.optimize_zorder_delta(spark, path, "doc_id", "v", n_files=2)
    dp.write_delta(_df(spark, 40, 55), path)
    drain()
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(55))  # new rows once, rewrites never re-sent


def test_registry_ingest_survives_optimize(spark, sf_dir, tmp_path):
    """Registry batches fed from a format('deltaproto') stream keep
    exactly-once row delivery when an OPTIMIZE lands between drains."""
    import glob

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        load_table,
    )

    deltastream.register(spark)
    path = str(tmp_path / "lake")
    reg = str(tmp_path / "registry")
    ckpt = str(tmp_path / "ckpt")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    dp.write_delta(half, path)

    def drain():
        stream = spark.readStream.format("deltaproto").load(path)
        q = (
            stream.writeStream.foreachBatch(
                lambda b, bid: b.write.mode("overwrite").parquet(
                    f"{reg}/batch={bid}"
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    dp.compact_delta(spark, path)
    dp.write_delta(rest, path)
    drain()  # must not raise on the compact commit
    landed = spark.read.parquet(*sorted(glob.glob(f"{reg}/batch=*")))
    assert landed.count() == docs.count()
    assert landed.select("doc_id").distinct().count() == docs.count()


def test_stream_change_feed_option(spark, tmp_path):
    """format('deltaproto') with readChangeFeed=true streams the CHANGE
    FEED: inserts for appends, exact delete rows for DV and predicate
    deletes, nothing for compaction — exactly-once across drains with
    a persistent checkpoint."""
    deltastream.register(spark)
    path = str(tmp_path / "lake")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    dp.write_delta(_df(spark, 0, 60).repartitionByRange(3, "doc_id"), path)

    def drain():
        q = (
            spark.readStream.format("deltaproto")
            .option("readChangeFeed", "true")
            .load(path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    first = spark.read.parquet(out)
    assert first.count() == 60
    assert {r["_change_type"] for r in first.collect()} == {"insert"}

    dp.delete_where_delta(spark, path, "doc_id", 10, 19, strategy="dv")
    dp.delete_where_delta(spark, path, "doc_id", 40, 44)  # rewrite path
    dp.compact_delta(spark, path)
    drain()
    feed = spark.read.parquet(out)
    deletes = feed.filter(F.col("_change_type") == "delete")
    assert sorted(r["doc_id"] for r in deletes.collect()) == list(
        range(10, 20)
    ) + list(range(40, 45))
    # compaction contributed nothing; replay state matches the snapshot
    inserts = feed.filter(F.col("_change_type") == "insert")
    assert inserts.count() == 60
    net = {r["doc_id"] for r in inserts.collect()} - {
        r["doc_id"] for r in deletes.collect()
    }
    snap_ids = {
        r["doc_id"] for r in dp.read_delta(spark, path).collect()
    }
    assert net == snap_ids
    # third drain with nothing new: no extra rows
    n = feed.count()
    drain()
    assert spark.read.parquet(out).count() == n
