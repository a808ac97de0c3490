"""Partitioned Delta tables: hive-layout landing (partition columns live
in the log's `partitionValues` and the directory names, not in the
data files), partition- and stats-tier pruning from the log alone,
spec enforcement across commits, maintenance ops preserving partition
values, NULL partition values, timestamp travel and CHECK constraints."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    deltaproto as dp,
    deltastream,
    load_table,
)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )


def _live(spark, path):
    return dp._fold_delta_state(spark, path, None)[1]


@pytest.fixture()
def part_lake(spark, sf_dir, tmp_path):
    path = str(tmp_path / "plake")
    docs = _docs(spark, sf_dir)
    dp.write_delta(
        docs.repartitionByRange(4, "doc_id"), path, partition_by=["lang"]
    )
    return path, docs


def test_partition_tuples_recorded_and_rows_complete(spark, part_lake):
    """Every live file carries its exact partition value in the log and
    lives under the matching hive directory; the snapshot reads back
    every row WITH its partition column, rebuilt from the log."""
    path, docs = part_lake
    live = _live(spark, path)
    assert live and all(
        set(a["partitionValues"]) == {"lang"} for a in live.values()
    )
    langs = {a["partitionValues"]["lang"] for a in live.values()}
    want_langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert langs == want_langs
    snap = dp.read_delta(spark, path)
    assert snap.columns == docs.columns
    assert sorted(
        (r["doc_id"], r["lang"]) for r in snap.select("doc_id", "lang").collect()
    ) == sorted(
        (r["doc_id"], r["lang"]) for r in docs.select("doc_id", "lang").collect()
    )
    # per-file purity: each file sits in its own partition directory
    for f, a in live.items():
        assert f.startswith(f"lang={a['partitionValues']['lang']}/")


def test_two_tier_pruning_counts(spark, part_lake):
    """The partition tier alone (exact values from the log, no footer
    reads) drops every non-'en' file; the stats tier then drops files
    whose doc_id range cannot match.  Together they give exactly the
    brute-force filter."""
    path, docs = part_lake
    live = _live(spark, path)
    n_en = sum(1 for a in live.values() if a["partitionValues"]["lang"] == "en")
    en_df, n_read, n_skipped = dp.read_delta_pruned(spark, path, "lang", "en", "en")
    assert (n_read, n_skipped) == (n_en, len(live) - n_en)
    id_df, id_read, id_skipped = dp.read_delta_pruned(
        spark, path, "doc_id", 0, 249
    )
    assert id_read + id_skipped == len(live) and id_skipped > 0
    want = docs.filter(
        (F.col("lang") == "en") & F.col("doc_id").between(0, 249)
    )
    got = en_df.filter(F.col("doc_id").between(0, 249))
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in want.collect()
    )
    assert sorted(
        r["doc_id"] for r in id_df.filter(F.col("lang") == "en").collect()
    ) == sorted(r["doc_id"] for r in want.collect())


def test_partition_pruned_delete_touches_only_matching_partition(
    spark, part_lake
):
    """DELETE WHERE lang='fr' removes ONLY the fr files — every other
    partition's files keep their names in the log."""
    path, docs = part_lake
    before = _live(spark, path)
    fr_files = {
        f for f, a in before.items() if a["partitionValues"]["lang"] == "fr"
    }
    other = set(before) - fr_files
    dp.delete_where_delta(spark, path, "lang", "fr", "fr")
    after = set(_live(spark, path))
    assert other <= after  # untouched partitions survive by name
    assert not (fr_files & after)  # fr files all removed
    snap = dp.read_delta(spark, path)
    assert snap.filter(F.col("lang") == "fr").count() == 0
    assert snap.count() == docs.filter(F.col("lang") != "fr").count()


def test_spec_enforced_and_inherited(spark, sf_dir, part_lake):
    """Later appends inherit the table's partition spec automatically;
    an explicitly contradicting spec is rejected; the detail and
    partitions metadata tables surface the spec and partition count."""
    path, docs = part_lake
    with pytest.raises(ValueError, match="contradicts the table's partition"):
        dp.write_delta(docs, path, partition_by=["source"])
    extra = docs.withColumn("doc_id", F.col("doc_id") + 100000).limit(40)
    dp.write_delta(extra, path)  # inherits ["lang"]
    live = _live(spark, path)
    assert all("lang" in a["partitionValues"] for a in live.values())
    detail = dp.read_delta_meta(spark, path, "detail").first()
    assert json.loads(detail["partitionColumns"]) == ["lang"]
    n_parts = dp.read_delta_meta(spark, path, "partitions").count()
    assert n_parts == docs.select("lang").distinct().count()


def test_compact_and_stream_append_preserve_tuples(spark, sf_dir, part_lake):
    """compact_delta re-lands through the partition spec, so partition
    values (and partition pruning) survive compaction; a txn-keyed
    micro-batch append on a partitioned table records them too."""
    path, docs = part_lake
    dp.write_delta(
        docs.withColumn("doc_id", F.col("doc_id") + 200000).limit(30),
        path,
        txn=("stream", 7),
    )
    dp.compact_delta(spark, path, target_mb=128)
    live = _live(spark, path)
    assert live and all("lang" in a["partitionValues"] for a in live.values())
    _df, n_read, n_skipped = dp.read_delta_pruned(spark, path, "lang", "zh", "zh")
    assert n_skipped > 0  # pruning still works post-compact
    total = dp.read_delta(spark, path).count()
    assert total == docs.count() + 30


def test_null_partition_values_roundtrip_and_prune(spark, sf_dir, tmp_path):
    """A NULL partition value lands under Hive's default-partition
    directory with a null `partitionValues` entry, reads back as NULL
    next to the non-null partition, and a BETWEEN predicate provably
    skips its file (three-valued logic: NULL never matches)."""
    path = str(tmp_path / "plake_null")
    df = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("en")).alias("lang"),
    )
    dp.write_delta(df.coalesce(1), path, partition_by=["lang"])
    live = _live(spark, path)
    assert {a["partitionValues"]["lang"] for a in live.values()} == {None, "en"}
    assert any(f.startswith("lang=__HIVE_DEFAULT_PARTITION__/") for f in live)
    snap = dp.read_delta(spark, path)
    assert snap.filter(F.col("lang").isNull()).count() == 10
    assert snap.filter(F.col("lang") == "en").count() == 10
    en, n_read, n_skipped = dp.read_delta_pruned(spark, path, "lang", "en", "en")
    assert n_skipped >= 1  # the NULL-partition file is provably outside
    assert en.count() == 10
    # a DV delete over a table with a NULL partition keeps both legs
    dp.delete_where_delta(spark, path, "doc_id", 0, 3, strategy="dv")
    after = dp.read_delta(spark, path)
    assert sorted(r["doc_id"] for r in after.collect()) == list(range(4, 20))
    assert after.filter(F.col("lang").isNull()).count() == 8


def test_datasource_reader_works_writer_refuses(spark, part_lake):
    """format('deltaproto') READS a partitioned table (partition values
    rebuilt from the log), but it has no batch write path: a batch
    `.write` refuses instead of landing files outside the log."""
    path, docs = part_lake
    deltastream.register(spark)
    got = spark.read.format("deltaproto").load(path)
    assert got.count() == docs.count()
    assert "lang" in got.columns
    n_versions = len(dp.delta_versions(path))
    with pytest.raises(Exception):
        docs.limit(5).write.format("deltaproto").mode("append").save(path)
    assert len(dp.delta_versions(path)) == n_versions


def test_timestamp_time_travel(spark, tmp_path, monkeypatch):
    """TIMESTAMP AS OF: commits carry wall-clock stamps; a read at a
    past instant resolves to the last version committed by then."""
    import time as time_mod

    path = str(tmp_path / "ts_lake")
    clock = {"now": 1_000.0}
    monkeypatch.setattr(time_mod, "time", lambda: clock["now"])
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    dp.write_delta(df, path)  # v0 @ t=1000s
    clock["now"] = 2_000.0
    dp.write_delta(df.withColumn("doc_id", F.col("doc_id") + 10), path)
    clock["now"] = 3_000.0
    dp.delete_where_delta(spark, path, "doc_id", 0, 4)

    assert dp.delta_version_at_timestamp(path, 1_500_000) == 0
    assert dp.read_delta(spark, path, timestamp_ms=1_500_000).count() == 10
    assert dp.read_delta(spark, path, timestamp_ms=2_500_000).count() == 20
    assert dp.read_delta(spark, path, timestamp_ms=9_999_999).count() == 15
    with pytest.raises(ValueError, match="no Delta commit at or before"):
        dp.delta_version_at_timestamp(path, 500_000)
    with pytest.raises(ValueError, match="not both"):
        dp.read_delta(spark, path, version=0, timestamp_ms=1_500_000)


def test_isnull_pruning_via_null_counts(spark, tmp_path):
    """Per-file `nullCount` stats in the add actions: the files holding
    the NULL rows are identifiable from the log alone (the others
    record zero nulls), and the counts are exact."""
    path = str(tmp_path / "null_lake")
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") >= 20, F.col("id")).alias("maybe"),  # NULL < 20
    )
    # range-partition by doc_id (5 x 20-row files): the NULLs live
    # entirely in the bottom file; the other four record zero nulls
    dp.write_delta(df.repartitionByRange(5, "doc_id"), path)
    counts = [
        json.loads(a["stats"])["nullCount"]["maybe"]
        for a in _live(spark, path).values()
    ]
    assert sum(counts) == 20
    assert sum(1 for c in counts if c == 0) >= 3
    nulls = dp.read_delta(spark, path).filter(F.col("maybe").isNull())
    assert sorted(r["doc_id"] for r in nulls.collect()) == list(range(20))


def test_check_constraints_enforced_at_write_time(spark, tmp_path):
    """ALTER TABLE ADD CONSTRAINT: validated against existing rows,
    enforced on append / txn-keyed batch / merge BEFORE anything lands
    (SQL CHECK semantics: NULL passes) and visible in the table
    metadata."""
    path = str(tmp_path / "cons_lake")
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, F.col("id") * 2).alias("price"),
    )
    dp.write_delta(df, path)
    dp.add_delta_constraint(spark, path, "price_nonneg", "price >= 0")
    with pytest.raises(ValueError, match="already exists"):
        dp.add_delta_constraint(spark, path, "price_nonneg", "price >= 0")
    # a constraint the current rows violate cannot be added
    with pytest.raises(ValueError, match="existing row"):
        dp.add_delta_constraint(spark, path, "big_ids", "doc_id >= 5")
    meta = dp._fold_delta_state(spark, path, None)[0]
    assert dp._table_constraints(meta) == {"price_nonneg": "price >= 0"}

    good = spark.range(20, 25).select(
        F.col("id").alias("doc_id"), F.lit(None).cast("bigint").alias("price")
    )
    dp.write_delta(good, path)  # NULL price passes CHECK

    bad = spark.range(30, 35).select(
        F.col("id").alias("doc_id"),
        (F.lit(-1) * F.col("id")).alias("price"),
    )
    n_before = len(_live(spark, path))
    with pytest.raises(ValueError, match="price_nonneg"):
        dp.write_delta(bad, path)
    with pytest.raises(ValueError, match="price_nonneg"):
        dp.write_delta(bad, path, txn=("stream", 99))
    with pytest.raises(ValueError, match="price_nonneg"):
        dp.merge_upsert_delta(spark, bad, path, "doc_id")
    # rejected writes left no trace
    assert len(_live(spark, path)) == n_before
    assert "stream" not in dp.delta_txn_versions(spark, path)
    assert dp.read_delta(spark, path).count() == 15
