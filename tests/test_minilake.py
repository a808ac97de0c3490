"""Delta tables (sources/deltaproto.py): the point-lookup entry, and a
VARIANT column composing with per-file stats, pruning and deletion
vectors.  The module and test names are kept so the suite's test ids
stay stable."""

from __future__ import annotations

from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    deltaproto as dp,
)


def test_bloom_lookup_entry_matches_and_skips(spark, sf_dir):
    """The point-lookup entry surfaces exactly the probed docs: every
    present key once, the absent keys nothing, in doc_id order."""
    df = dp.bloom_lookup_entry(spark, sf_dir)
    assert df.columns == ["doc_id", "source", "lang", "n_chars"]
    assert [r["doc_id"] for r in df.collect()] == sorted(dp._BLOOM_PROBE_IDS)


def test_variant_column_with_zone_maps_and_dv(spark, tmp_path):
    """A VARIANT column in a Delta table: the add actions keep min/max
    stats for the SIBLING columns (none for the variant), so stats
    pruning still works; reads and DV deletes compose."""
    import json

    path = str(tmp_path / "dvar")
    df = spark.range(40).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("lang"),
        F.parse_json(F.format_string('{"a": %d}', "id")).alias("props"),
    )
    dp.write_delta(df.repartitionByRange(4, "doc_id"), path)
    back = dp.read_delta(spark, path)
    assert back.schema["props"].dataType.typeName() == "variant"
    got = sorted(
        r[0] for r in back.select(F.variant_get("props", "$.a", "long")).collect()
    )
    assert got == list(range(40))
    # sibling stats present on every file
    live = dp._fold_delta_state(spark, path, None)[1]
    assert len(live) == 4
    for a in live.values():
        stats = json.loads(a["stats"])
        assert stats["numRecords"] > 0
        assert "doc_id" in stats["minValues"] and "lang" in stats["minValues"]
        assert "props" not in stats["minValues"]
    # range pruning still works through the variant table
    pruned, n_read, n_skip = dp.read_delta_pruned(spark, path, "doc_id", 0, 9)
    assert sorted(r["doc_id"] for r in pruned.collect()) == list(range(10))
    assert n_skip > 0
    # DV delete composes with the variant column
    dp.delete_where_delta(spark, path, "doc_id", 5, 14, strategy="dv")
    left = sorted(
        r[0]
        for r in dp.read_delta(spark, path)
        .select(F.variant_get("props", "$.a", "long"))
        .collect()
    )
    assert left == [i for i in range(40) if not 5 <= i <= 14]
