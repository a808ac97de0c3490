"""SQL-text DML/DDL dispatcher + named catalog (sources/lakesql.py).

The contract under test: every statement `lake_sql` accepts lowers onto
the protocol helper that owns its correctness, ROW-IDENTICALLY to
calling that helper directly — and every unsupported shape refuses
loudly with the workaround named, never a silent misparse.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    deltaproto as dp,
    iceberg as ib,
    lakesql as lq,
    load_table,
)


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )


# --------------------------------------------------------------------------
# parser units (no Spark needed)
# --------------------------------------------------------------------------


def test_literal_parser():
    from datetime import date, datetime

    assert lq._parse_literal("42") == 42
    assert lq._parse_literal("-3.5") == -3.5
    assert lq._parse_literal("'it''s'") == "it's"
    assert lq._parse_literal("TRUE") is True
    assert lq._parse_literal("null") is None
    assert lq._parse_literal("DATE '2024-02-29'") == date(2024, 2, 29)
    ts = lq._parse_literal("TIMESTAMP '2024-01-02 03:04:05'")
    assert isinstance(ts, datetime) and ts.year == 2024
    with pytest.raises(ValueError, match="literal"):
        lq._parse_literal("o_orderkey + 1")


def test_range_pred_shapes():
    assert lq._parse_range_pred("x BETWEEN 1 AND 9") == ("range", "x", 1, 9)
    assert lq._parse_range_pred("x = 'a'") == ("range", "x", "a", "a")
    assert lq._parse_range_pred("x >= 1 AND x <= 9") == ("range", "x", 1, 9)
    assert lq._parse_range_pred("x <= 9 AND x >= 1") == ("range", "x", 1, 9)
    assert lq._parse_range_pred("x IN (1, 2, 3)") == ("in", "x", [1, 2, 3])
    # AND inside a string literal is not a conjunction
    assert lq._parse_range_pred("x = 'black and white'") == (
        "range", "x", "black and white", "black and white",
    )
    # strict bounds and disjunctions refuse with the supported forms
    with pytest.raises(ValueError, match="BETWEEN"):
        lq._parse_range_pred("x > 1 AND x < 9")
    with pytest.raises(ValueError, match="unsupported WHERE"):
        lq._parse_range_pred("x = 1 OR x = 2")


def test_split_top_respects_parens_and_strings():
    assert lq._split_top("a = ROUND(x, 2), b = 'y,z', c = 1") == [
        "a = ROUND(x, 2)",
        "b = 'y,z'",
        "c = 1",
    ]


def test_registry_loud_on_miss_and_validates():
    with pytest.raises(KeyError, match="no lake table"):
        lq.lake_table_location("nope_never_registered")
    with pytest.raises(ValueError, match="format"):
        lq.register_lake_table("t_bad", "orc", "/tmp/x")
    with pytest.raises(ValueError, match="invalid table name"):
        lq.register_lake_table("1bad", "delta", "/tmp/x")


def test_catalog_json_roundtrip(tmp_path):
    lq.register_lake_table("t_json_rt", "delta", "/tmp/somewhere")
    f = str(tmp_path / "catalog.json")
    lq.save_lake_catalog(f)
    lq.unregister_lake_table("t_json_rt")
    names = lq.load_lake_catalog(f)
    assert "t_json_rt" in names
    assert lq.lake_table_location("t_json_rt") == ("delta", "/tmp/somewhere")
    lq.unregister_lake_table("t_json_rt")


# --------------------------------------------------------------------------
# SQL ↔ Python-API parity (row-identical, both tiers)
# --------------------------------------------------------------------------


def test_delta_merge_sql_matches_python_twin(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    ups = docs.filter(F.col("doc_id").between(5, 14)).withColumn(
        "text", F.upper("text")
    )
    p_sql, p_py = str(tmp_path / "d_sql"), str(tmp_path / "d_py")
    for p in (p_sql, p_py):
        dp.write_delta(docs.repartitionByRange(4, "doc_id"), p)
    dp.merge_upsert_delta(spark, ups, p_py, "doc_id")
    lq.register_lake_table("t_msql_twin", "delta", p_sql)
    ups.createOrReplaceTempView("ups_msql_twin")
    receipt = lq.lake_sql(
        spark,
        "MERGE INTO t_msql_twin AS t USING ups_msql_twin AS s "
        "ON t.doc_id = s.doc_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    ).collect()
    assert receipt[0]["operation"] == "MERGE"
    assert _rows(dp.read_delta(spark, p_sql), "doc_id") == _rows(
        dp.read_delta(spark, p_py), "doc_id"
    )


def test_iceberg_composite_key_merge_sql(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    p_sql, p_py = str(tmp_path / "i_sql"), str(tmp_path / "i_py")
    for p in (p_sql, p_py):
        ib.write_iceberg(docs.repartitionByRange(4, "doc_id"), p)
    ups = docs.filter(F.col("doc_id").between(5, 14)).withColumn(
        "text", F.lower("text")
    )
    ib.upsert_iceberg(spark, ups, p_py, ["doc_id", "source"])
    lq.register_lake_table("t_imsql_twin", "iceberg", p_sql)
    ups.createOrReplaceTempView("ups_imsql_twin")
    lq.lake_sql(
        spark,
        "MERGE INTO t_imsql_twin t USING ups_imsql_twin s "
        "ON t.doc_id = s.doc_id AND s.source = t.source "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    assert _rows(ib.read_iceberg(spark, p_sql), "doc_id") == _rows(
        ib.read_iceberg(spark, p_py), "doc_id"
    )


def test_delete_update_sql_match_python_twins(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    p_sql, p_py = str(tmp_path / "du_sql"), str(tmp_path / "du_py")
    for p in (p_sql, p_py):
        dp.write_delta(docs.repartitionByRange(4, "doc_id"), p)
    dp.delete_where_delta(spark, p_py, "doc_id", 20, 49)
    dp.update_where_delta(
        spark, p_py, {"text": "CONCAT(text, '!')"}, "doc_id", 60, 79
    )
    lq.register_lake_table("t_du_twin", "delta", p_sql)
    lq.lake_sql(spark, "DELETE FROM t_du_twin WHERE doc_id BETWEEN 20 AND 49")
    lq.lake_sql(
        spark,
        "UPDATE t_du_twin SET text = CONCAT(text, '!') "
        "WHERE doc_id >= 60 AND doc_id <= 79",
    )
    assert _rows(dp.read_delta(spark, p_sql), "doc_id") == _rows(
        dp.read_delta(spark, p_py), "doc_id"
    )


def test_iceberg_update_where_cow(spark, sf_dir, tmp_path):
    """update_where_iceberg itself: matched rows transformed, carried
    rows verbatim, untouched files never rewritten (file-level prune),
    snapshot operation `overwrite`."""
    docs = _docs(spark, sf_dir)
    p = str(tmp_path / "iud")
    ib.write_iceberg(docs.repartitionByRange(8, "doc_id"), p)
    meta0 = ib.current_metadata(p)
    files0 = {
        e["data_file"]["file_path"]
        for e in ib._live_entries(p, meta0, ib._snapshot(meta0, None))
    }
    ib.update_where_iceberg(
        spark, p, {"lang": "'xx'"}, "doc_id", 0, 49
    )
    meta1 = ib.current_metadata(p)
    files1 = {
        e["data_file"]["file_path"]
        for e in ib._live_entries(p, meta1, ib._snapshot(meta1, None))
    }
    # pruning: most range-partitioned files survive untouched
    assert len(files0 & files1) >= len(files0) - 2
    snap = ib._snapshot(meta1, None)
    assert (snap.get("summary") or {}).get("operation") == "overwrite"
    got = ib.read_iceberg(spark, p)
    assert got.filter("doc_id <= 49 AND lang <> 'xx'").count() == 0
    assert got.filter("doc_id > 49 AND lang = 'xx'").count() == 0
    assert got.count() == docs.count()
    # guard rails
    with pytest.raises(ValueError, match="unknown"):
        ib.update_where_iceberg(spark, p, {"nope": "1"}, "doc_id", 0, 1)


def test_iceberg_update_refuses_partition_source(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    p = str(tmp_path / "iup")
    ib.write_iceberg(docs, p, partition_by=["lang"])
    with pytest.raises(ValueError, match="partition source"):
        ib.update_where_iceberg(spark, p, {"lang": "'xx'"}, "doc_id", 0, 9)


def test_insert_values_and_positional_cast(spark, tmp_path):
    p = str(tmp_path / "ins")
    df = spark.createDataFrame(
        [(1, "a", 1.0)], "id bigint, tag string, score double"
    )
    dp.write_delta(df, p)
    lq.register_lake_table("t_ins_vals", "delta", p)
    lq.lake_sql(
        spark, "INSERT INTO t_ins_vals VALUES (2, 'b', 2.5), (3, 'c', 3.5)"
    )
    got = _rows(dp.read_delta(spark, p), "id")
    assert got == [(1, "a", 1.0), (2, "b", 2.5), (3, "c", 3.5)]
    # arity mismatch refuses before any write
    with pytest.raises(ValueError, match="arity"):
        lq.lake_sql(spark, "INSERT INTO t_ins_vals VALUES (4, 'd')")
    assert dp.delta_versions(p)[-1] == 1


def test_time_travel_select_delta_timestamp(spark, sf_dir, tmp_path):
    from datetime import datetime, timezone

    docs = _docs(spark, sf_dir)
    p = str(tmp_path / "tt")
    import time as _time

    dp.write_delta(docs.limit(10), p)
    acts = dp._read_actions(p, 0)
    ts0 = next(
        a["commitInfo"]["timestamp"] for a in acts if "commitInfo" in a
    )
    _time.sleep(0.05)  # the overwrite must get a strictly later stamp
    dp.write_delta(docs.limit(30), p, mode="overwrite")
    lq.register_lake_table("t_tt_delta", "delta", p)
    iso = datetime.fromtimestamp(ts0 / 1000, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f+00:00"
    )
    n0 = lq.lake_sql(
        spark,
        f"SELECT COUNT(*) AS n FROM t_tt_delta TIMESTAMP AS OF '{iso}'",
    ).collect()[0]["n"]
    n1 = lq.lake_sql(
        spark, "SELECT COUNT(*) AS n FROM t_tt_delta"
    ).collect()[0]["n"]
    assert (n0, n1) == (10, 30)


def test_loud_refusals(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    p = str(tmp_path / "ref")
    dp.write_delta(docs.limit(5), p)
    lq.register_lake_table("t_refuse", "delta", p)
    with pytest.raises(ValueError, match="single-key"):
        lq.lake_sql(
            spark,
            "MERGE INTO t_refuse t USING t_refuse s ON t.doc_id = s.doc_id "
            "AND t.source = s.source WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
        )
    # the retired commit-log format is no longer a registrable tier
    with pytest.raises(ValueError, match="unknown format 'minilake'"):
        lq.register_lake_table("t_refuse_ml", "minilake", p)
    with pytest.raises(ValueError, match="unsupported"):
        lq.lake_sql(
            spark, "CREATE TABLE t_refuse_ml USING minilake AS SELECT 1 AS x"
        )
    with pytest.raises(ValueError, match="cannot parse MERGE"):
        lq.lake_sql(
            spark,
            "MERGE INTO t_refuse t USING t_refuse s ON t.doc_id = s.doc_id "
            "WHEN MATCHED THEN UPDATE SET text = 'x'",
        )
    with pytest.raises(ValueError, match="two statements"):
        lq.lake_sql(
            spark,
            "MERGE INTO t_refuse t USING t_refuse s ON t.doc_id = s.doc_id "
            "WHEN MATCHED THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *",
        )
    with pytest.raises(ValueError, match="DEFAULT"):
        lq.lake_sql(
            spark, "ALTER TABLE t_refuse ADD COLUMN c STRING DEFAULT 'x'"
        )
    with pytest.raises(ValueError, match="unsupported statement"):
        lq.lake_sql(spark, "GRANT SELECT ON t_refuse TO analyst")
    with pytest.raises(ValueError, match="version number"):
        lq.lake_sql(spark, "SELECT * FROM t_refuse VERSION AS OF 'tagname'")


def test_alter_sql_sets_delta_default_for_future_inserts(spark, tmp_path):
    p = str(tmp_path / "dflt")
    dp.write_delta(
        spark.createDataFrame([(1, "a")], "id bigint, tag string"), p
    )
    lq.register_lake_table("t_dflt", "delta", p)
    lq.lake_sql(spark, "ALTER TABLE t_dflt ADD COLUMN note STRING")
    lq.lake_sql(
        spark, "ALTER TABLE t_dflt ALTER COLUMN note SET DEFAULT 'n/a'"
    )
    # a write omitting the column fills from the default (writer-only)
    dp.write_delta(
        spark.createDataFrame([(2, "b")], "id bigint, tag string"), p
    )
    got = {
        (r["id"], r["note"]) for r in dp.read_delta(spark, p).collect()
    }
    assert got == {(1, None), (2, "n/a")}


def test_iceberg_alter_add_default_and_rename_sql(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    p = str(tmp_path / "ialt")
    ib.write_iceberg(docs.limit(20), p, format_version=3)
    lq.register_lake_table("t_ialt", "iceberg", p)
    lq.lake_sql(
        spark, "ALTER TABLE t_ialt ADD COLUMN score DOUBLE DEFAULT 2.5"
    )
    lq.lake_sql(spark, "ALTER TABLE t_ialt RENAME COLUMN source TO src")
    got = lq.lake_sql(
        spark,
        "SELECT CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(score), 1) AS s, "
        "CAST(COUNT(src) AS BIGINT) AS nsrc FROM t_ialt",
    ).collect()[0]
    assert (got["n"], got["s"], got["nsrc"]) == (20, 50.0, 20)


def test_entry_sql_read_plan_is_pushed_down(spark, sf_dir):
    """A SELECT through the registered views gets real pushdown AND
    the advisor's metadata broadcast decision (r14): the named-catalog
    entry's lake views fit the threshold by MANIFEST bytes, get the
    broadcast hint, the plan shows BroadcastHashJoin, and the decision
    is recorded with its evidence in LAST_SELECT_ADVICE."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        lakesql,
    )

    df = lakesql.named_catalog_entry(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    adv = lakesql.LAST_SELECT_ADVICE
    assert adv["customer_cat"]["broadcast"] is True
    assert adv["customer_cat"]["bytes"] > 0
    assert "iceberg:manifest-entries" in adv["customer_cat"]["sources"]
    assert adv["orders_cat"]["sources"] == ["delta:add-stats"]
    assert adv["nation_cat"] is None  # parquet: Spark sizes natively


def test_select_advice_skips_oversized_tables(spark, sf_dir, tmp_path):
    """A lake view whose manifest bytes exceed the threshold registers
    WITHOUT the hint, decision recorded as broadcast=False."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        advisor,
        lakesql,
    )

    docs = _docs(spark, sf_dir)
    p = str(tmp_path / "big")
    dp.write_delta(docs, p)
    lq.register_lake_table("t_big_advice", "delta", p)
    old = advisor.DEFAULT_BROADCAST_BYTES
    advisor.DEFAULT_BROADCAST_BYTES = 1
    try:
        lq.lake_sql(spark, "SELECT COUNT(*) AS n FROM t_big_advice")
    finally:
        advisor.DEFAULT_BROADCAST_BYTES = old
    assert lakesql.LAST_SELECT_ADVICE["t_big_advice"]["broadcast"] is False


# --------------------------------------------------------------------------
# CTAS / DROP / OPTIMIZE / VACUUM / DESCRIBE HISTORY (r14 second batch)
# --------------------------------------------------------------------------


def test_ctas_drop_roundtrip_both_tiers(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    docs.limit(40).createOrReplaceTempView("ctas_src")
    dloc = str(tmp_path / "ctas_d")
    iloc = str(tmp_path / "ctas_i")
    r = lq.lake_sql(
        spark,
        f"CREATE TABLE t_ctas_d USING delta LOCATION '{dloc}' AS "
        "SELECT doc_id, lang, text FROM ctas_src WHERE doc_id < 30",
    ).collect()[0]
    assert r["operation"] == "CREATE TABLE" and r["version"] == 0
    lq.lake_sql(
        spark,
        f"CREATE TABLE t_ctas_i USING iceberg PARTITIONED BY (lang) "
        f"LOCATION '{iloc}' AS SELECT doc_id, lang FROM ctas_src",
    )
    assert (
        lq.lake_sql(spark, "SELECT COUNT(*) AS n FROM t_ctas_d").collect()[0][
            "n"
        ]
        == 30
    )
    assert ib._spec_of(ib.current_metadata(iloc))  # partitioned CTAS
    # re-create refuses; OR REPLACE overwrites (time travel keeps v0)
    with pytest.raises(ValueError, match="already registered"):
        lq.lake_sql(
            spark,
            f"CREATE TABLE t_ctas_d USING delta LOCATION '{dloc}' AS "
            "SELECT * FROM ctas_src",
        )
    lq.lake_sql(
        spark,
        f"CREATE OR REPLACE TABLE t_ctas_d USING delta LOCATION "
        f"'{dloc}' AS SELECT doc_id, lang, text FROM ctas_src",
    )
    assert dp.read_delta(spark, dloc).count() == 40
    assert dp.read_delta(spark, dloc, version=0).count() == 30
    # DROP unregisters the name, leaves the files (external semantics)
    lq.lake_sql(spark, "DROP TABLE t_ctas_d")
    with pytest.raises(KeyError, match="no lake table"):
        lq.lake_table_location("t_ctas_d")
    assert dp.read_delta(spark, dloc).count() == 40  # data untouched
    lq.lake_sql(spark, "DROP TABLE IF EXISTS t_ctas_d")  # idempotent
    with pytest.raises(KeyError, match="IF EXISTS"):
        lq.lake_sql(spark, "DROP TABLE t_ctas_d")
    lq.lake_sql(spark, "DROP TABLE t_ctas_i")


def test_optimize_vacuum_history_sql(spark, sf_dir, tmp_path):
    """OPTIMIZE compacts (dataChange=false commit), VACUUM RETAIN 0
    HOURS reclaims the pre-compaction files, DESCRIBE HISTORY shows the
    lifecycle — all as SQL text, content pinned before/after."""
    docs = _docs(spark, sf_dir)
    p = str(tmp_path / "maint_d")
    dp.write_delta(docs.limit(60).repartition(6), p)
    dp.write_delta(docs.filter("doc_id >= 60 AND doc_id < 90").repartition(3), p)
    lq.register_lake_table("t_maint_d", "delta", p)
    before = _rows(dp.read_delta(spark, p), "doc_id")
    v = lq.lake_sql(spark, "OPTIMIZE t_maint_d").collect()[0]["version"]
    assert v == 2
    assert _rows(dp.read_delta(spark, p), "doc_id") == before
    n = lq.lake_sql(
        spark, "VACUUM t_maint_d RETAIN 0 HOURS"
    ).collect()[0]["version"]
    assert n >= 9  # the 9 pre-compaction files reclaimed
    assert _rows(dp.read_delta(spark, p), "doc_id") == before
    hist = lq.lake_sql(spark, "DESCRIBE HISTORY t_maint_d").collect()
    assert [h["version"] for h in hist] == [2, 1, 0]
    assert hist[0]["operation"] == "OPTIMIZE"
    # iceberg twin: zorder compaction + vacuum + history
    ip = str(tmp_path / "maint_i")
    idocs = docs.withColumn("nchars", F.length("text").cast("long"))
    ib.write_iceberg(idocs.limit(50).repartition(4), ip)
    ib.write_iceberg(
        idocs.filter("doc_id >= 50 AND doc_id < 80"), ip, mode="append"
    )
    lq.register_lake_table("t_maint_i", "iceberg", ip)
    ibefore = _rows(ib.read_iceberg(spark, ip), "doc_id")
    # string zorder refuses loudly up front (r14), numeric runs
    with pytest.raises(ValueError, match="numeric"):
        lq.lake_sql(spark, "OPTIMIZE t_maint_i ZORDER BY (doc_id, lang)")
    lq.lake_sql(spark, "OPTIMIZE t_maint_i ZORDER BY (doc_id, nchars)")
    assert _rows(ib.read_iceberg(spark, ip), "doc_id") == ibefore
    nfiles = lq.lake_sql(
        spark, "VACUUM t_maint_i RETAIN 0 HOURS"
    ).collect()[0]["version"]
    assert nfiles >= 4  # pre-compaction data files reclaimed
    assert _rows(ib.read_iceberg(spark, ip), "doc_id") == ibefore
    ihist = lq.lake_sql(spark, "DESCRIBE HISTORY t_maint_i").collect()
    assert ihist[0]["operation"] == "replace"  # the compaction
    # delta 3-col zorder refuses with the iceberg pointer
    with pytest.raises(ValueError, match="exactly two"):
        lq.lake_sql(
            spark, "OPTIMIZE t_maint_d ZORDER BY (doc_id, lang, source)"
        )


def test_merge_delete_both_tiers(spark, sf_dir, tmp_path):
    """MERGE … WHEN MATCHED THEN DELETE: Delta lowers onto the new
    stats-pruned delete_keys_delta rewrite (pinned vs the plain
    filter), Iceberg onto the O(keys) equality-delete commit; the CDF
    carries row-level `delete` rows on the Delta side."""
    docs = _docs(spark, sf_dir)
    doomed = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "lang")
    doomed = doomed.withColumn("junk", F.lit("x"))  # extra cols ignored
    doomed.createOrReplaceTempView("doomed_mdel")
    dpth, ipth = str(tmp_path / "mdel_d"), str(tmp_path / "mdel_i")
    dp.write_delta(docs.repartitionByRange(4, "doc_id"), dpth)
    ib.write_iceberg(docs.repartitionByRange(4, "doc_id"), ipth)
    lq.register_lake_table("t_mdel_d", "delta", dpth)
    lq.register_lake_table("t_mdel_i", "iceberg", ipth)
    for t in ("t_mdel_d", "t_mdel_i"):
        r = lq.lake_sql(
            spark,
            f"MERGE INTO {t} t USING doomed_mdel s ON t.doc_id = s.doc_id "
            "WHEN MATCHED THEN DELETE",
        ).collect()[0]
        assert r["operation"] == "MERGE DELETE"
    want = _rows(docs.filter(F.col("doc_id") % 7 != 0), "doc_id")
    assert _rows(dp.read_delta(spark, dpth), "doc_id") == want
    assert _rows(ib.read_iceberg(spark, ipth), "doc_id") == want
    # the Delta change feed carries the deleted rows
    changes = dp.read_changes_delta(spark, dpth, 1, 1)
    got_del = sorted(
        r["doc_id"]
        for r in changes.filter("_change_type = 'delete'").collect()
    )
    assert got_del == sorted(
        r["doc_id"] for r in doomed.select("doc_id").distinct().collect()
    )


def test_minilake_full_sql_lifecycle(spark, sf_dir, tmp_path):
    """The full SQL lifecycle through the dispatcher on a Delta table
    (the tier that replaced the engine's own commit-log format): CTAS,
    MERGE upsert, range DELETE, OPTIMIZE, VACUUM, DESCRIBE HISTORY,
    INSERT OVERWRITE, SHOW TABLES — content pinned at every step."""
    docs = _docs(spark, sf_dir)
    docs.limit(100).createOrReplaceTempView("ml_src")
    loc = str(tmp_path / "ml_t")
    lq.lake_sql(
        spark,
        f"CREATE TABLE t_ml_sql USING delta LOCATION '{loc}' AS "
        "SELECT doc_id, lang, text FROM ml_src",
    )
    ups = (
        docs.limit(100)
        .filter("doc_id < 10")
        .select("doc_id", "lang", F.upper("text").alias("text"))
    )
    ups.createOrReplaceTempView("ml_ups")
    lq.lake_sql(
        spark,
        "MERGE INTO t_ml_sql t USING ml_ups s ON t.doc_id = s.doc_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    lq.lake_sql(spark, "DELETE FROM t_ml_sql WHERE doc_id BETWEEN 50 AND 69")
    snap = dp.read_delta(spark, loc)
    assert snap.count() == 80
    assert snap.filter("doc_id < 10 AND text <> UPPER(text)").count() == 0
    lq.lake_sql(spark, "OPTIMIZE t_ml_sql")
    lq.lake_sql(spark, "VACUUM t_ml_sql RETAIN 0 HOURS")
    assert dp.read_delta(spark, loc).count() == 80
    hist = lq.lake_sql(spark, "DESCRIBE HISTORY t_ml_sql").collect()
    assert [h["version"] for h in hist] == [3, 2, 1, 0]
    lq.lake_sql(
        spark,
        "INSERT OVERWRITE t_ml_sql SELECT doc_id, lang, text FROM "
        "ml_src WHERE doc_id < 5",
    )
    assert dp.read_delta(spark, loc).count() == 5
    shown = {
        (r["name"], r["format"])
        for r in lq.lake_sql(spark, "SHOW TABLES").collect()
    }
    assert ("t_ml_sql", "delta") in shown
    lq.lake_sql(spark, "DROP TABLE t_ml_sql")


def test_iceberg_update_merge_on_read(spark, sf_dir, tmp_path):
    """update_where_iceberg(strategy='merge-on-read'): no touched data
    file is rewritten — matched positions land as position deletes
    (v2) / deletion vectors (v3) and the post-image rows as new data
    files in ONE snapshot; content pinned vs the COW twin, and on v3
    the updated rows KEEP their pre-image _row_id."""
    docs = _docs(spark, sf_dir)
    p2, pc = str(tmp_path / "mor2"), str(tmp_path / "cow2")
    for p in (p2, pc):
        ib.write_iceberg(
            docs.repartitionByRange(8, "doc_id"), p, format_version=2
        )
    ib.update_where_iceberg(
        spark, pc, {"lang": "'xx'"}, "doc_id", 10, 39
    )
    meta0 = ib.current_metadata(p2)
    files0 = {
        e["data_file"]["file_path"]
        for e in ib._live_entries(p2, meta0, ib._snapshot(meta0, None))
    }
    ib.update_where_iceberg(
        spark, p2, {"lang": "'xx'"}, "doc_id", 10, 39,
        strategy="merge-on-read",
    )
    meta1 = ib.current_metadata(p2)
    snap1 = ib._snapshot(meta1, None)
    live1 = {
        e["data_file"]["file_path"]
        for e in ib._live_entries(p2, meta1, snap1)
    }
    assert files0 <= live1  # every original data file still live
    _pos, _eq, _dvs = ib._delete_files(
        p2, ib._read_manifest_list(p2, snap1)
    )
    assert _pos  # matched positions landed as position deletes
    assert _rows(ib.read_iceberg(spark, p2), "doc_id") == _rows(
        ib.read_iceberg(spark, pc), "doc_id"
    )
    # v3: deletion vectors + _row_id carry-over on the updated rows
    p3 = str(tmp_path / "mor3")
    ib.write_iceberg(
        docs.limit(60).repartitionByRange(4, "doc_id"), p3,
        format_version=3,
    )
    before = {
        r["doc_id"]: r["_row_id"]
        for r in ib.read_iceberg(spark, p3, with_row_lineage=True).collect()
    }
    ib.update_where_iceberg(
        spark, p3, {"text": "CONCAT(text, '+')"}, "doc_id", 5, 24,
        strategy="merge-on-read",
    )
    after = ib.read_iceberg(spark, p3, with_row_lineage=True)
    got = {r["doc_id"]: (r["_row_id"], r["text"]) for r in after.collect()}
    assert len(got) == 60
    for d in range(5, 25):
        assert got[d][0] == before[d]  # lineage carried
        assert got[d][1].endswith("+")
    meta3 = ib.current_metadata(p3)
    _p3, _e3, dvs3 = ib._delete_files(
        p3, ib._read_manifest_list(p3, ib._snapshot(meta3, None))
    )
    assert dvs3  # the matched positions hid via deletion vectors


def test_sql_dml_honors_write_mode_properties(spark, sf_dir, tmp_path):
    """The dispatcher picks the row-level strategy from the TABLE
    PROPERTIES real engines honor: Iceberg `write.delete.mode` /
    `write.update.mode` = merge-on-read land delete files + new data
    files instead of rewriting; Delta `delta.enableDeletionVectors`
    makes SQL DELETE land deletion vectors.  Content pinned either
    way."""
    docs = _docs(spark, sf_dir)
    ip = str(tmp_path / "propmode_i")
    ib.write_iceberg(
        docs.limit(80).repartitionByRange(4, "doc_id"), ip,
        format_version=2,
    )
    ib.set_iceberg_properties(
        ip,
        {"write.delete.mode": "merge-on-read",
         "write.update.mode": "merge-on-read"},
    )
    lq.register_lake_table("t_propmode_i", "iceberg", ip)
    m0 = ib.current_metadata(ip)
    files0 = {
        e["data_file"]["file_path"]
        for e in ib._live_entries(ip, m0, ib._snapshot(m0, None))
    }
    lq.lake_sql(spark, "DELETE FROM t_propmode_i WHERE doc_id BETWEEN 0 AND 9")
    lq.lake_sql(
        spark,
        "UPDATE t_propmode_i SET lang = 'zz' WHERE doc_id BETWEEN 20 AND 29",
    )
    m1 = ib.current_metadata(ip)
    live1 = {
        e["data_file"]["file_path"]
        for e in ib._live_entries(ip, m1, ib._snapshot(m1, None))
    }
    assert files0 <= live1  # merge-on-read: originals never rewritten
    got = ib.read_iceberg(spark, ip)
    assert got.count() == 70
    assert got.filter("doc_id BETWEEN 20 AND 29 AND lang <> 'zz'").count() == 0
    # delta: DV property flips the SQL DELETE to deletion vectors
    dpth = str(tmp_path / "propmode_d")
    dp.write_delta(docs.limit(60).repartitionByRange(3, "doc_id"), dpth)
    dp.set_delta_properties(
        spark, dpth, {"delta.enableDeletionVectors": "true"}
    )
    lq.register_lake_table("t_propmode_d", "delta", dpth)
    lq.lake_sql(spark, "DELETE FROM t_propmode_d WHERE doc_id BETWEEN 0 AND 9")
    _meta, live, _v = dp._fold_delta_state(spark, dpth, None)
    assert any(a.get("deletionVector") for a in live.values())
    assert dp.read_delta(spark, dpth).count() == 50


def test_delta_dv_update_merge_on_read(spark, sf_dir, tmp_path):
    """update_where_delta(strategy='dv'): matched positions hide
    behind deletion vectors, post-image rows land as NEW files in the
    same commit — content pinned vs the rewrite twin, touched files
    keep their paths, CDF carries update_preimage/update_postimage,
    and the SQL path picks the strategy from
    delta.enableDeletionVectors."""
    docs = _docs(spark, sf_dir)
    p_dv, p_rw = str(tmp_path / "udv"), str(tmp_path / "urw")
    for p in (p_dv, p_rw):
        dp.write_delta(docs.limit(90).repartitionByRange(3, "doc_id"), p)
    dp.update_where_delta(
        spark, p_rw, {"text": "UPPER(text)"}, "doc_id", 10, 39
    )
    files0 = set(dp._fold_delta_state(spark, p_dv, None)[1])
    dp.update_where_delta(
        spark, p_dv, {"text": "UPPER(text)"}, "doc_id", 10, 39,
        strategy="dv",
    )
    _meta, live, _v = dp._fold_delta_state(spark, p_dv, None)
    assert files0 <= set(live)  # originals still live (DV-masked)
    assert any(a.get("deletionVector") for a in live.values())
    assert len(live) > len(files0)  # post-image files appended
    assert _rows(dp.read_delta(spark, p_dv), "doc_id") == _rows(
        dp.read_delta(spark, p_rw), "doc_id"
    )
    ch = dp.read_changes_delta(spark, p_dv, 1, 1)
    kinds = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert kinds == {"update_preimage": 30, "update_postimage": 30}
    # SQL path honors the property, row-exact again
    p_sql = str(tmp_path / "usql")
    dp.write_delta(docs.limit(90).repartitionByRange(3, "doc_id"), p_sql)
    dp.set_delta_properties(
        spark, p_sql, {"delta.enableDeletionVectors": "true"}
    )
    lq.register_lake_table("t_udv_sql", "delta", p_sql)
    lq.lake_sql(
        spark,
        "UPDATE t_udv_sql SET text = UPPER(text) "
        "WHERE doc_id BETWEEN 10 AND 39",
    )
    _m2, live2, _v2 = dp._fold_delta_state(spark, p_sql, None)
    assert any(a.get("deletionVector") for a in live2.values())
    assert _rows(dp.read_delta(spark, p_sql), "doc_id") == _rows(
        dp.read_delta(spark, p_rw), "doc_id"
    )


def test_restore_tblproperties_table_changes_sql(spark, sf_dir, tmp_path):
    """RESTORE TO VERSION/TIMESTAMP AS OF, SET/UNSET TBLPROPERTIES,
    and the TABLE_CHANGES() table function — all as SQL text over the
    registered names, each pinned against the underlying helper."""
    docs = _docs(spark, sf_dir)
    p = str(tmp_path / "rst_d")
    dp.write_delta(docs.limit(20), p)
    dp.write_delta(
        docs.filter("doc_id >= 20 AND doc_id < 30"), p, mode="append"
    )
    lq.register_lake_table("t_rst_d", "delta", p)
    # properties through SQL drive later statements' strategy
    lq.lake_sql(
        spark,
        "ALTER TABLE t_rst_d SET TBLPROPERTIES "
        "('delta.enableDeletionVectors' = 'true', 'owner' = 'team-x')",
    )
    assert dp._current_config(p)["owner"] == "team-x"
    lq.lake_sql(spark, "DELETE FROM t_rst_d WHERE doc_id BETWEEN 0 AND 4")
    _m, live, _v = dp._fold_delta_state(spark, p, None)
    assert any(a.get("deletionVector") for a in live.values())
    lq.lake_sql(
        spark, "ALTER TABLE t_rst_d UNSET TBLPROPERTIES ('owner')"
    )
    assert "owner" not in dp._current_config(p)
    # TABLE_CHANGES over the DV delete commit
    got = lq.lake_sql(
        spark,
        "SELECT _change_type, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM TABLE_CHANGES('t_rst_d', 3, 3) GROUP BY _change_type",
    ).collect()
    assert {(r["_change_type"], r["n"]) for r in got} == {("delete", 5)}
    # RESTORE back to v1 (pre-delete, pre-properties)
    lq.lake_sql(spark, "RESTORE TABLE t_rst_d TO VERSION AS OF 1")
    assert dp.read_delta(spark, p).count() == 30
    # iceberg rollback via SQL, by snapshot id AND by tag
    ip = str(tmp_path / "rst_i")
    ib.write_iceberg(docs.limit(15), ip)
    sid0 = int(ib.iceberg_snapshots(ip)[0]["snapshot_id"])
    ib.set_iceberg_ref(ip, "good", sid0)
    ib.write_iceberg(
        docs.filter("doc_id >= 15 AND doc_id < 40"), ip, mode="append"
    )
    lq.register_lake_table("t_rst_i", "iceberg", ip)
    assert ib.read_iceberg(spark, ip).count() == 40
    lq.lake_sql(spark, "RESTORE TABLE t_rst_i TO VERSION AS OF 'good'")
    assert ib.read_iceberg(spark, ip).count() == 15
    # the rolled-over snapshot stays time-travelable until expiry
    snaps = ib.iceberg_snapshots(ip)
    assert len(snaps) == 2
    with pytest.raises(ValueError, match="not retained"):
        ib.rollback_iceberg(ip, 12345)


def test_convert_in_place_sql(spark, sf_dir, tmp_path):
    """CONVERT TO DELTA / ICEBERG over hive-partitioned parquet via
    SQL: existing files gain a log/metadata in place (paths
    unchanged), footer stats drive pruning, partition declarations are
    mandatory for hive trees, and a converted name keeps working for
    later DML."""
    import shutil

    docs = _docs(spark, sf_dir)
    d_dir, i_dir = str(tmp_path / "cv_d"), str(tmp_path / "cv_i")
    docs.write.partitionBy("lang").parquet(d_dir)
    shutil.copytree(d_dir, i_dir, ignore=shutil.ignore_patterns("_*"))
    lq.register_lake_table("t_cv_d", "parquet", d_dir)
    lq.register_lake_table("t_cv_i", "parquet", i_dir)
    # hive tree without the declaration refuses loudly
    with pytest.raises(ValueError, match="declare"):
        lq.lake_sql(spark, "CONVERT TO DELTA t_cv_d")
    lq.lake_sql(
        spark, "CONVERT TO DELTA t_cv_d PARTITIONED BY (lang string)"
    )
    lq.lake_sql(
        spark, "CONVERT TO ICEBERG t_cv_i PARTITIONED BY (lang string)"
    )
    assert lq.lake_table_location("t_cv_d") == ("delta", d_dir)
    assert lq.lake_table_location("t_cv_i") == ("iceberg", i_dir)
    want = _rows(docs.select("doc_id", "source", "text", "lang"), "doc_id")
    got_d = _rows(
        dp.read_delta(spark, d_dir).select(
            "doc_id", "source", "text", "lang"
        ),
        "doc_id",
    )
    got_i = _rows(
        ib.read_iceberg(spark, i_dir).select(
            "doc_id", "source", "text", "lang"
        ),
        "doc_id",
    )
    assert got_d == want and got_i == want
    # double-convert refuses; converted tables accept later DML
    with pytest.raises(ValueError, match="already"):
        lq.lake_sql(spark, "CONVERT TO DELTA t_cv_d")
    lq.lake_sql(spark, "DELETE FROM t_cv_d WHERE doc_id BETWEEN 0 AND 9")
    lq.lake_sql(spark, "DELETE FROM t_cv_i WHERE doc_id BETWEEN 0 AND 9")
    assert dp.read_delta(spark, d_dir).count() == 490
    assert ib.read_iceberg(spark, i_dir).count() == 490


def test_convert_dedupes_colliding_basenames(spark, sf_dir, tmp_path):
    """Review r14: Spark's partitionBy writer reuses one basename
    across every partition dir, but the engine's delete/DV machinery
    keys files by BASENAME — conversion renames colliding files in
    place (hive segments prefixed, zero data movement) so a DV delete
    after CONVERT hides exactly the right rows in the right files."""
    import os as _os

    docs = _docs(spark, sf_dir)
    d = str(tmp_path / "cvdup")
    docs.write.partitionBy("lang").parquet(d)
    tails = []
    for root, _dirs, files in _os.walk(d):
        tails += [f for f in files if f.endswith(".parquet")]
    assert len(tails) != len(set(tails))  # the hazard is real
    lq.register_lake_table("t_cvdup", "parquet", d)
    lq.lake_sql(spark, "CONVERT TO DELTA t_cvdup PARTITIONED BY (lang string)")
    tails2 = []
    for root, _dirs, files in _os.walk(d):
        tails2 += [f for f in files if f.endswith(".parquet")]
    assert len(tails2) == len(set(tails2))  # unique after conversion
    # the DV (merge-on-read) delete path keys by basename — row-exact
    dp.set_delta_properties(
        spark, d, {"delta.enableDeletionVectors": "true"}
    )
    lq.lake_sql(spark, "DELETE FROM t_cvdup WHERE doc_id BETWEEN 0 AND 99")
    got = _rows(
        dp.read_delta(spark, d).select("doc_id", "lang"), "doc_id"
    )
    want = _rows(
        docs.filter("doc_id > 99").select("doc_id", "lang"), "doc_id"
    )
    assert got == want


def test_update_refreshes_lusn_on_v3(spark, sf_dir, tmp_path):
    """Review r14: an UPDATE's rows must carry the UPDATE's sequence
    number, not the stale pre-image one — both COW and merge-on-read
    null the materialized _last_updated_sequence_number so the reader
    inherits the new file's seq; carried rows keep theirs."""
    docs = _docs(spark, sf_dir)
    for strat in ("cow", "merge-on-read"):
        p = str(tmp_path / f"lusn_{strat[:3]}")
        ib.write_iceberg(
            docs.limit(40).repartitionByRange(2, "doc_id"), p,
            format_version=3,
        )
        before = {
            r["doc_id"]: r["_last_updated_sequence_number"]
            for r in ib.read_iceberg(
                spark, p, with_row_lineage=True
            ).collect()
        }
        ib.update_where_iceberg(
            spark, p, {"lang": "'zz'"}, "doc_id", 0, 9, strategy=strat
        )
        after = {
            r["doc_id"]: r["_last_updated_sequence_number"]
            for r in ib.read_iceberg(
                spark, p, with_row_lineage=True
            ).collect()
        }
        for d in range(0, 10):
            assert after[d] > before[d], (strat, d)
        for d in range(20, 40):  # untouched file: seq carried
            assert after[d] == before[d], (strat, d)


def test_vacuum_retain_window_preserves_iceberg_history(
    spark, sf_dir, tmp_path
):
    """Review r14: VACUUM RETAIN n HOURS must not expire snapshots
    younger than the window — RESTORE within the declared retention
    still works; RETAIN 0 HOURS expires as before."""
    docs = _docs(spark, sf_dir)
    p = str(tmp_path / "vret")
    ib.write_iceberg(docs.limit(10), p)
    ib.write_iceberg(
        docs.filter("doc_id >= 10 AND doc_id < 25"), p, mode="append"
    )
    lq.register_lake_table("t_vret", "iceberg", p)
    lq.lake_sql(spark, "VACUUM t_vret RETAIN 168 HOURS")
    assert len(ib.iceberg_snapshots(p)) == 2  # young history survives
    sid0 = int(ib.iceberg_snapshots(p)[0]["snapshot_id"])
    lq.lake_sql(spark, f"RESTORE TABLE t_vret TO VERSION AS OF {sid0}")
    assert ib.read_iceberg(spark, p).count() == 10
    lq.lake_sql(spark, "VACUUM t_vret RETAIN 0 HOURS")
    # 0-hour window: keep_last=1 keeps the newest, and the
    # rolled-back CURRENT snapshot stays pinned (expire's rule) —
    # the restored state must survive its own vacuum
    assert len(ib.iceberg_snapshots(p)) == 2
    assert ib.read_iceberg(spark, p).count() == 10


def test_salted_join_tolerates_shared_column_names(spark, tmp_path):
    """Review r14: both sides carrying a non-key column of the same
    name must not crash the salted branch (the canonical reorder is
    skipped; Spark's own duplicate handling applies)."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        advisor,
    )

    fact = str(tmp_path / "shfact")
    dim = str(tmp_path / "shdim")
    ib.write_iceberg(
        spark.range(30_000).select(
            F.col("id").alias("row_id"),
            (F.col("id") % 10).alias("k"),
            F.lit("f").alias("tag"),
        ).repartition(4),
        fact,
    )
    ib.write_iceberg(
        spark.range(10).select(
            F.col("id").alias("k"), F.lit("d").alias("tag")
        ),
        dim,
    )
    for t in (fact, dim):
        ib.write_iceberg_table_stats(spark, t)
    joined, dec = advisor.lake_join(
        spark, fact, dim, on="k", broadcast_threshold_bytes=1,
        salt_buckets=4,
    )
    assert dec["salted"] == 4
    assert joined.count() == 30_000  # no crash, full cardinality


def test_merge_delete_ignores_null_keys(spark, sf_dir, tmp_path):
    """Review r14: SQL ON/IN never match NULL — a NULL in the source
    key must not delete NULL-keyed target rows on the eq-delete tier."""
    docs = _docs(spark, sf_dir).limit(20).withColumn(
        "source",
        F.when(F.col("doc_id") < 3, F.lit(None)).otherwise(F.col("source")),
    )
    p = str(tmp_path / "nullk")
    ib.write_iceberg(docs, p)
    lq.register_lake_table("t_nullk", "iceberg", p)
    doomed = docs.filter("doc_id IN (5, 0)").select("source")
    doomed.createOrReplaceTempView("doomed_nullk")  # contains a NULL
    lq.lake_sql(
        spark,
        "MERGE INTO t_nullk t USING doomed_nullk s ON t.source = s.source "
        "WHEN MATCHED THEN DELETE",
    )
    got = ib.read_iceberg(spark, p)
    assert got.filter("source IS NULL").count() == 3  # NULLs survive
    assert got.filter("doc_id = 5").count() == 0  # real key deleted
    # IN (NULL) alone is a no-op
    lq.lake_sql(spark, "DELETE FROM t_nullk WHERE doc_id IN (NULL)")
    assert got.count() == ib.read_iceberg(spark, p).count()
