"""Iceberg TABLE-FORMAT interop (sources/iceberg.py + the avrotiny
codec): tables written here follow the public Iceberg spec (v1
metadata JSON, Avro manifest lists/manifests with spec field-ids,
single-value serialized bounds, identity-partition hive layout), and
the reader folds metadata trees — including FOREIGN-crafted ones with
the layouts other engines emit — applies v2 position/equality deletes
with sequence-number semantics, or refuses loudly on malformed
trees."""

from __future__ import annotations

import io
import json
import os
import struct

import pytest
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    avrotiny as av,
    iceberg as ib,
)


def _df(spark, lo, hi, tag=0):
    return spark.range(lo, hi).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
        (F.col("id") * 10 + tag).cast("bigint").alias("v"),
    )


def _rows(df):
    return sorted((r["doc_id"], r["lang"], r["v"]) for r in df.collect())


# --------------------------------------------------------------------------
# avrotiny codec
# --------------------------------------------------------------------------


def test_avro_container_roundtrip_all_types(tmp_path):
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "u", "type": ["null", "long"], "default": None},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {
                "name": "e",
                "type": {"type": "enum", "name": "E", "symbols": ["A", "B"]},
            },
            {"name": "fx", "type": {"type": "fixed", "name": "FX", "size": 4}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": "int"}],
                },
            },
            {"name": "ref", "type": ["null", "inner"], "default": None},
        ],
    }
    recs = [
        {
            "b": True,
            "i": -123,
            "l": 2**45,
            "f": 0.5,
            "d": -2.25,
            "s": "héllo",
            "by": b"\x00\xff",
            "u": None,
            "arr": [1, -2, 3],
            "m": {"k": "v", "k2": ""},
            "e": "B",
            "fx": b"abcd",
            "nested": {"x": 7},
            "ref": {"x": -1},
        },
        {
            "b": False,
            "i": 0,
            "l": -(2**60),
            "f": -1.5,
            "d": 1e300,
            "s": "",
            "by": b"",
            "u": 42,
            "arr": [],
            "m": {},
            "e": "A",
            "fx": b"\x00\x01\x02\x03",
            "nested": {"x": 0},
            "ref": None,
        },
    ]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t-{codec}.avro")
        av.write_container(p, schema, recs, codec=codec, metadata={"k": "v"})
        got, meta, ws = av.read_container(p)
        assert got == recs
        assert meta["k"] == b"v"
        assert ws["name"] == "t"


def test_avro_negative_block_counts_and_multiblock(tmp_path):
    """Foreign writers may emit the negative-count+size block form for
    arrays/maps, and multi-block container files — both must read."""
    schema = av.parse_schema(
        json.dumps(
            {
                "type": "record",
                "name": "r",
                "fields": [
                    {"name": "a", "type": {"type": "array", "items": "int"}}
                ],
            }
        )
    )
    # hand-encode one record with a negative-count array block
    body = io.BytesIO()
    av._write_long(body, -2)  # negative count
    size_probe = io.BytesIO()
    av.write_datum(size_probe, "int", 5)
    av.write_datum(size_probe, "int", 6)
    av._write_long(body, len(size_probe.getvalue()))
    body.write(size_probe.getvalue())
    av._write_long(body, 0)
    payload = body.getvalue()
    sync = b"s" * 16
    buf = io.BytesIO()
    buf.write(b"Obj\x01")
    meta = {
        "avro.schema": json.dumps(
            {
                "type": "record",
                "name": "r",
                "fields": [
                    {"name": "a", "type": {"type": "array", "items": "int"}}
                ],
            }
        ).encode(),
        "avro.codec": b"null",
    }
    av._write_long(buf, len(meta))
    for k, v in meta.items():
        av.write_datum(buf, "string", k)
        av.write_datum(buf, "bytes", v)
    av._write_long(buf, 0)
    buf.write(sync)
    for _ in range(2):  # two data blocks
        av._write_long(buf, 1)
        av._write_long(buf, len(payload))
        buf.write(payload)
        buf.write(sync)
    p = str(tmp_path / "neg.avro")
    with open(p, "wb") as f:
        f.write(buf.getvalue())
    got, _m, _s = av.read_container(p)
    assert got == [{"a": [5, 6]}, {"a": [5, 6]}]


# --------------------------------------------------------------------------
# Table roundtrip / time travel / partition layout
# --------------------------------------------------------------------------


def test_write_read_roundtrip_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "ice")
    s1 = ib.write_iceberg(_df(spark, 0, 40), path)
    s2 = ib.write_iceberg(_df(spark, 40, 60), path)
    assert _rows(ib.read_iceberg(spark, path)) == _rows(_df(spark, 0, 60))
    assert _rows(ib.read_iceberg(spark, path, snapshot_id=s1)) == _rows(
        _df(spark, 0, 40)
    )
    ib.write_iceberg(_df(spark, 100, 110, tag=1), path, mode="overwrite")
    assert _rows(ib.read_iceberg(spark, path)) == _rows(
        _df(spark, 100, 110, tag=1)
    )
    # pre-overwrite snapshot still time-travels
    assert _rows(ib.read_iceberg(spark, path, snapshot_id=s2)) == _rows(
        _df(spark, 0, 60)
    )
    ops = [s["operation"] for s in ib.iceberg_snapshots(path)]
    assert ops == ["append", "append", "overwrite"]


def test_partitioned_layout_matches_spec(spark, tmp_path):
    """Identity partition columns live in hive directory names +
    manifest partition structs — NOT in the data files (the spec's
    identity-projection rule) — and the reader reconstructs them."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 30), path, partition_by=["lang"])
    data_files = []
    for dirpath, _d, files in os.walk(os.path.join(path, "data")):
        for f in files:
            if f.endswith(".parquet"):
                data_files.append(os.path.join(dirpath, f))
    assert data_files
    assert all("lang=" in p for p in data_files)
    cols = pq.ParquetFile(data_files[0]).schema_arrow.names
    assert "lang" not in cols  # identity-projection: absent from files
    got = ib.read_iceberg(spark, path)
    assert _rows(got) == _rows(_df(spark, 0, 30))
    assert dict(got.dtypes)["lang"] == "string"
    # appends inherit the spec; contradicting it raises
    ib.write_iceberg(_df(spark, 30, 40), path)
    assert ib.read_iceberg(spark, path).count() == 40
    with pytest.raises(ValueError, match="partition spec"):
        ib.write_iceberg(_df(spark, 40, 50), path, partition_by=["v"])


def test_typed_partition_values_roundtrip(spark, tmp_path):
    """Identity partitions over double / date / boolean / escaped-
    string sources: hive directory values are %XX-unescaped and
    type-dispatched into the spec's internal repr (date → days int),
    the partition Avro struct serializes them, and the reader
    reconstructs typed columns exactly."""
    import datetime

    rows = [
        (1, 2.5, datetime.date(2021, 3, 14), True, "a b/c=d"),
        (2, 2.5, datetime.date(2021, 3, 14), True, "a b/c=d"),
        (3, -0.5, datetime.date(1969, 12, 31), False, "plain"),
        (4, -0.5, datetime.date(1969, 12, 31), False, "plain"),
    ]
    df = spark.createDataFrame(
        rows, "id bigint, score double, day date, flag boolean, tag string"
    )
    for col in ("score", "day", "flag", "tag"):
        path = str(tmp_path / f"ice_{col}")
        ib.write_iceberg(df, path, partition_by=[col])
        got = ib.read_iceberg(spark, path)
        assert sorted(map(tuple, got.collect())) == sorted(rows)
        assert dict(got.dtypes)[col] == dict(df.dtypes)[col]
    # pre-1970 date partition stored as NEGATIVE days in the manifest
    meta = ib.current_metadata(str(tmp_path / "ice_day"))
    entries = ib._live_entries(
        str(tmp_path / "ice_day"),
        meta,
        ib._snapshot(meta, None),
    )
    days = {e["data_file"]["partition"]["day"] for e in entries}
    assert days == {-1, (datetime.date(2021, 3, 14) - datetime.date(1970, 1, 1)).days}
    # timestamptz as a partition source refuses at write entry
    tsdf = spark.createDataFrame(
        [(1, datetime.datetime(2021, 1, 1))], "id bigint, ts timestamp"
    )
    with pytest.raises(ValueError, match="partition source"):
        ib.write_iceberg(tsdf, str(tmp_path / "ice_ts"), partition_by=["ts"])


def test_locations_are_absolute_uris(spark, tmp_path):
    """manifest-list / manifest_path / file_path are FULL file:// URIs
    (the spec's definition — reference implementations do not resolve
    table-relative paths)."""
    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 10), path, partition_by=["lang"])
    meta = ib.current_metadata(path)
    snap = ib._snapshot(meta, None)
    assert snap["manifest-list"].startswith("file:///")
    mfs = ib._read_manifest_list(path, snap)
    assert all(m["manifest_path"].startswith("file:///") for m in mfs)
    for mf in mfs:
        for e in ib._read_manifest(path, mf):
            assert e["data_file"]["file_path"].startswith("file:///")
    assert _rows(ib.read_iceberg(spark, path)) == _rows(_df(spark, 0, 10))


def test_metadata_tree_shape(spark, tmp_path):
    """The on-disk tree is what real engines expect: versioned metadata
    JSON + version-hint + snap-*.avro manifest lists + *-m0.avro
    manifests, with field-ids on every manifest schema field."""
    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 20), path, partition_by=["lang"])
    md = os.path.join(path, "metadata")
    names = sorted(os.listdir(md))
    assert "v1.metadata.json" in names
    assert "version-hint.text" in names
    assert any(n.startswith("snap-") and n.endswith(".avro") for n in names)
    assert any(n.endswith("-m0.avro") for n in names)
    with open(os.path.join(md, "v1.metadata.json")) as f:
        meta = json.load(f)
    assert meta["format-version"] == 1
    assert meta["schemas"][0]["fields"][0]["id"] == 1
    assert meta["partition-specs"][0]["fields"][0]["transform"] == "identity"
    # manifest schema carries the spec's field-ids
    manifest = next(n for n in names if n.endswith("-m0.avro"))
    _recs, fmeta, ws = av.read_container(os.path.join(md, manifest))
    assert fmeta["format-version"] == b"1"
    ids = {f.get("field-id") for f in ws["fields"]}
    assert {0, 1, 2} <= ids
    df_ids = {
        f.get("field-id")
        for f in next(
            f for f in ws["fields"] if f["name"] == "data_file"
        )["type"]["fields"]
    }
    assert {100, 101, 102, 103, 104} <= df_ids


def test_single_value_bounds_serialization():
    for t, v in [
        ("int", -5),
        ("long", 2**40),
        ("float", 1.5),
        ("double", -2.25),
        ("string", "ab"),
        ("boolean", True),
        ("date", 19000),
        ("timestamptz", 1700000000000000),
    ]:
        assert ib.deser_value(t, ib.ser_value(t, v)) == v
    assert ib.ser_value("int", 1) == struct.pack("<i", 1)
    assert ib.ser_value("long", 1) == struct.pack("<q", 1)
    assert ib.ser_value("string", "é") == "é".encode()
    assert ib.ser_value("int", None) is None


# --------------------------------------------------------------------------
# Pruning + delete
# --------------------------------------------------------------------------


def test_metadata_only_pruning_tiers(spark, tmp_path):
    path = str(tmp_path / "ice")
    ib.write_iceberg(
        _df(spark, 0, 90).repartitionByRange(9, "doc_id"), path
    )
    got, nread, nskip, _ms = ib.read_iceberg_pruned(
        spark, path, "doc_id", 10, 19
    )
    assert _rows(got) == _rows(_df(spark, 10, 20))
    assert nskip > 0 and nread < nread + nskip
    # partition-tier pruning on a partitioned table
    path2 = str(tmp_path / "ice2")
    ib.write_iceberg(_df(spark, 0, 90), path2, partition_by=["lang"])
    got2, nread2, nskip2, _ms2 = ib.read_iceberg_pruned(
        spark, path2, "lang", "2", "2"
    )
    assert got2.count() == 30
    assert nskip2 > 0


def test_manifest_level_pruning_skips_unopened(spark, tmp_path):
    """Two appends with disjoint partition ranges → the manifest-list
    partition summaries skip one whole manifest without opening it."""
    path = str(tmp_path / "ice")
    lo = spark.range(0, 30).select(
        F.col("id").alias("doc_id"),
        F.lit("a").alias("lang"),
        F.col("id").alias("v"),
    )
    hi = spark.range(30, 60).select(
        F.col("id").alias("doc_id"),
        F.lit("b").alias("lang"),
        F.col("id").alias("v"),
    )
    ib.write_iceberg(lo, path, partition_by=["lang"])
    ib.write_iceberg(hi, path)
    got, _nr, _ns, mskip = ib.read_iceberg_pruned(
        spark, path, "lang", "b", "b"
    )
    assert got.count() == 30
    assert mskip == 1


def test_delete_where_copy_on_write(spark, tmp_path):
    path = str(tmp_path / "ice")
    ib.write_iceberg(
        _df(spark, 0, 60).repartitionByRange(6, "doc_id"), path
    )
    pre = ib.iceberg_snapshots(path)[-1]["snapshot_id"]
    # partial-file range: the touched file REWRITES with survivors
    # (a whole-file range would leave an empty rewrite, which the
    # landing drops instead of committing a 0-row data file)
    ib.delete_where_iceberg(spark, path, "doc_id", 10, 14)
    got = ib.read_iceberg(spark, path)
    assert _rows(got) == _rows(
        _df(spark, 0, 60).filter(~F.col("doc_id").between(10, 14))
    )
    # pre-delete snapshot still readable
    assert ib.read_iceberg(spark, path, snapshot_id=pre).count() == 60
    # the delete manifest records all three statuses
    meta = ib.current_metadata(path)
    snap = ib._snapshot(meta, None)
    mfs = ib._read_manifest_list(path, snap)
    statuses = set()
    for mf in mfs:
        for e in ib._read_manifest(path, mf):
            statuses.add(e["status"])
    assert statuses == {0, 1, 2}


def test_delete_keeps_nulls_three_valued(spark, tmp_path):
    path = str(tmp_path / "ice")
    df = spark.createDataFrame(
        [(1, "a", 1), (None, "a", 2), (15, "b", 3)],
        "doc_id bigint, lang string, v bigint",
    )
    ib.write_iceberg(df, path)
    ib.delete_where_iceberg(spark, path, "doc_id", 10, 19)
    got = ib.read_iceberg(spark, path).collect()
    assert sorted((r["v"]) for r in got) == [1, 2]  # NULL row KEPT


# --------------------------------------------------------------------------
# Foreign tables + refusal rules
# --------------------------------------------------------------------------


def test_reads_foreign_crafted_table(spark, tmp_path):
    """A table crafted the way OTHER engines lay it out: absolute
    file: URIs, avro-map (string-key) bounds encoding, no version
    hint, v2 metadata with explicit sequence numbers — must read."""
    path = str(tmp_path / "foreign")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    md = os.path.join(path, "metadata")
    os.makedirs(md)
    # land one parquet file via Spark
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": [1, 2], "lang": ["x", "y"], "v": [10, 20]}),
        os.path.join(data_dir, "f1.parquet"),
    )
    entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 1,
            },
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int", "field-id": 134},
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": [],
                            },
                            "field-id": 102,
                        },
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {
                            "name": "file_size_in_bytes",
                            "type": "long",
                            "field-id": 104,
                        },
                        {
                            "name": "lower_bounds",
                            "type": [
                                "null",
                                {"type": "map", "values": "bytes"},
                            ],
                            "default": None,
                            "field-id": 125,
                        },
                        {
                            "name": "upper_bounds",
                            "type": [
                                "null",
                                {"type": "map", "values": "bytes"},
                            ],
                            "default": None,
                            "field-id": 128,
                        },
                    ],
                },
                "field-id": 2,
            },
        ],
    }
    manifest_rec = {
        "status": 1,
        "snapshot_id": 99,
        "data_file": {
            "content": 0,
            "file_path": "file://" + os.path.join(data_dir, "f1.parquet"),
            "file_format": "PARQUET",
            "partition": {},
            "record_count": 2,
            "file_size_in_bytes": 100,
            # avro-map (string int keys) bounds form
            "lower_bounds": {"1": struct.pack("<q", 1)},
            "upper_bounds": {"1": struct.pack("<q", 2)},
        },
    }
    av.write_container(
        os.path.join(md, "fm.avro"), entry_schema, [manifest_rec], codec="null"
    )
    ml_schema = {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long", "field-id": 516},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        ],
    }
    av.write_container(
        os.path.join(md, "ml.avro"),
        ml_schema,
        [
            {
                "manifest_path": "file://" + os.path.join(md, "fm.avro"),
                "manifest_length": 1,
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": 99,
            }
        ],
        codec="deflate",
    )
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000000",
        "location": path,
        "last-sequence-number": 1,
        "last-updated-ms": 1,
        "last-column-id": 3,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "doc_id", "required": False, "type": "long"},
                    {"id": 2, "name": "lang", "required": False, "type": "string"},
                    {"id": 3, "name": "v", "required": False, "type": "long"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "properties": {},
        "current-snapshot-id": 99,
        "snapshots": [
            {
                "snapshot-id": 99,
                "sequence-number": 1,
                "timestamp-ms": 1,
                "summary": {"operation": "append"},
                "manifest-list": "file://" + os.path.join(md, "ml.avro"),
                "schema-id": 0,
            }
        ],
        "snapshot-log": [],
        "metadata-log": [],
    }
    # no version-hint.text: reader must fall back to highest vN
    with open(os.path.join(md, "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    got = ib.read_iceberg(spark, path)
    assert sorted((r["doc_id"], r["lang"], r["v"]) for r in got.collect()) == [
        (1, "x", 10),
        (2, "y", 20),
    ]
    # bounds in avro-map form still prune
    _g, nread, nskip, _ms = ib.read_iceberg_pruned(spark, path, "doc_id", 5, 9)
    assert (nread, nskip) == (0, 1)


def test_merge_on_read_position_deletes_v2(spark, tmp_path):
    """strategy='merge-on-read': no data file rewritten — matched
    positions land as v2 position-delete parquet (reserved field-ids,
    sorted) in a content=1 delete manifest; the v1 table upgrades to
    format-version 2 with sequence numbers; a SECOND overlapping
    delete on the already-carrying table emits only NEW positions; a
    later append survives the deletes; and a copy-on-write DELETE with
    live position-delete files (the pre-r9 refusal) now works without
    resurrecting hidden rows."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 40), path, partition_by=["lang"])
    data_before = sorted(
        f
        for _d, _s, fs in os.walk(os.path.join(path, "data"))
        for f in fs
        if f.endswith(".parquet")
    )
    ib.delete_where_iceberg(
        spark, path, "doc_id", 10, 19, strategy="merge-on-read"
    )
    meta = ib.current_metadata(path)
    assert meta["format-version"] == 2
    assert meta["last-sequence-number"] == 1
    assert ib._snapshot(meta, None)["sequence-number"] == 1
    survivors = [i for i in range(40) if not 10 <= i <= 19]
    got = ib.read_iceberg(spark, path)
    assert sorted(r["doc_id"] for r in got.collect()) == survivors
    # merge-on-read: every original data file still live, none rewritten
    data_after = sorted(
        f
        for _d, _s, fs in os.walk(os.path.join(path, "data"))
        for f in fs
        if f.endswith(".parquet") and "-deletes" not in f
    )
    assert data_after == data_before
    # the delete files carry the spec's reserved field-ids + sort order
    del_files = [
        os.path.join(d, f)
        for d, _s, fs in os.walk(os.path.join(path, "data"))
        for f in fs
        if f.endswith("-deletes.parquet")
    ]
    assert del_files
    sch = pq.ParquetFile(del_files[0]).schema_arrow
    assert sch.field("file_path").metadata[b"PARQUET:field_id"] == b"2147483546"
    assert sch.field("pos").metadata[b"PARQUET:field_id"] == b"2147483545"
    t = pq.read_table(del_files[0])
    pairs = list(zip(t["file_path"].to_pylist(), t["pos"].to_pylist()))
    assert pairs == sorted(pairs)
    assert all(fp.startswith("file:///") for fp, _ in pairs)
    # overlapping second delete: only NEW positions (15-24) land
    ib.delete_where_iceberg(
        spark, path, "doc_id", 15, 24, strategy="merge-on-read"
    )
    survivors = [i for i in range(40) if not 10 <= i <= 24]
    got = ib.read_iceberg(spark, path)
    assert sorted(r["doc_id"] for r in got.collect()) == survivors
    new_rows = sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _s, fs in os.walk(os.path.join(path, "data"))
        for f in fs
        if f.endswith("-deletes.parquet")
    )
    assert new_rows == 15  # 10 first delete + 5 genuinely new
    # append on the v2 table: new files (higher seq, fresh paths) are
    # untouched by the existing deletes — including doc_ids in range
    ib.write_iceberg(_df(spark, 15, 18, tag=1), path)
    got = ib.read_iceberg(spark, path)
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        survivors + [15, 16, 17]
    )
    # copy-on-write DELETE with live position-delete files
    ib.delete_where_iceberg(spark, path, "doc_id", 0, 4)
    got = ib.read_iceberg(spark, path)
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        [i for i in range(5, 40) if not 10 <= i <= 24] + [15, 16, 17]
    )
    # time travel: the pre-delete snapshot still reads all 40 rows
    first = ib.iceberg_snapshots(path)[0]["snapshot_id"]
    assert ib.read_iceberg(spark, path, snapshot_id=first).count() == 40


def test_equality_deletes_read_with_sequence_rule(spark, tmp_path):
    """content=2 EQUALITY deletes anti-join null-safely on their
    equality_ids columns and apply only to rows whose file's data
    sequence number is STRICTLY below the delete's — data appended
    after the delete survives even when it matches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 30), path, format_version=2)  # seq 1
    fields = ib._schema_of(ib.current_metadata(path))
    lang_id = next(f["id"] for f in fields if f["name"] == "lang")
    eqf = os.path.join(path, "data", "eq-del.parquet")
    pq.write_table(pa.table({"lang": ["1"]}), eqf)
    schema_json = {"type": "struct", "schema-id": 0, "fields": fields}

    def build(base, snapshot_id, seq, fv):
        mfs = ib._read_manifest_list(path, ib._snapshot(base, None))
        entry = {
            "status": 1,
            "snapshot_id": snapshot_id,
            "data_file": {
                "content": 2,
                "file_path": ib._file_uri(path, "data/eq-del.parquet"),
                "file_format": "PARQUET",
                "partition": {},
                "record_count": 1,
                "file_size_in_bytes": os.path.getsize(eqf),
                "value_counts": None,
                "null_value_counts": None,
                "lower_bounds": None,
                "upper_bounds": None,
                "split_offsets": None,
                "equality_ids": [lang_id],
            },
        }
        mf = ib._write_manifest(
            path, [entry], snapshot_id, fields, [], schema_json,
            fv=2, content="deletes", seq=seq,
        )
        return list(mfs) + [mf]

    ib._commit_snapshot(path, "delete", build)  # seq 2
    got = ib.read_iceberg(spark, path)
    assert sorted(r["doc_id"] for r in got.collect()) == [
        i for i in range(30) if i % 3 != 1
    ]
    # doc 31 has lang '1' but lands at seq 3 > delete seq 2 → survives
    ib.write_iceberg(_df(spark, 31, 34, tag=1), path)
    got = ib.read_iceberg(spark, path)
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        [i for i in range(30) if i % 3 != 1] + [31, 32, 33]
    )


def test_expire_snapshots_and_remove_orphans(spark, tmp_path):
    """Maintenance pair: expire_iceberg_snapshots prunes the metadata
    history (current survives), then remove_orphan_iceberg_files
    reclaims data + Avro files only the expired snapshots referenced
    (age-gated; young files spared); the current snapshot still reads
    exactly."""
    import os as _os

    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 20), path)
    ib.write_iceberg(_df(spark, 100, 110, tag=1), path, mode="overwrite")
    ib.write_iceberg(_df(spark, 110, 115, tag=1), path)
    rows_before = _rows(ib.read_iceberg(spark, path))
    assert len(ib.iceberg_snapshots(path)) == 3
    assert ib.expire_iceberg_snapshots(path, keep_last=1) == 2
    assert len(ib.iceberg_snapshots(path)) == 1
    # young orphans spared, aged orphans reclaimed
    assert ib.remove_orphan_iceberg_files(path, min_age_s=3600) == 0
    for sub in ("data", "metadata"):
        for dirpath, _d, files in _os.walk(_os.path.join(path, sub)):
            for f in files:
                _os.utime(_os.path.join(dirpath, f), (1, 1))
    n = ib.remove_orphan_iceberg_files(path, min_age_s=60)
    assert n > 0  # the overwritten first snapshot's files are gone
    assert _rows(ib.read_iceberg(spark, path)) == rows_before


def test_schema_evolution_by_field_id(spark, tmp_path):
    """evolve_iceberg_schema: add (old files read null), rename (the
    field-id keeps resolving files written under the OLD name via
    schema.name-mapping.default), drop, and the refusals — dropping a
    partition source and reusing a historical name."""
    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 10), path, partition_by=["lang"])
    # ADD: old files read the new column as null
    ib.evolve_iceberg_schema(path, add=[("score", "double")])
    got = ib.read_iceberg(spark, path)
    assert dict(got.dtypes)["score"] == "double"
    assert got.filter(F.col("score").isNull()).count() == 10
    # append WITH the new column
    df2 = spark.range(10, 15).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
        (F.col("id") * 10).cast("bigint").alias("v"),
        (F.col("id") * 0.5).cast("double").alias("score"),
    )
    ib.write_iceberg(df2, path)
    got = ib.read_iceberg(spark, path)
    assert got.filter(F.col("score").isNotNull()).count() == 5
    # RENAME: files from BOTH generations resolve through the mapping
    ib.evolve_iceberg_schema(path, rename={"v": "value"})
    meta = ib.current_metadata(path)
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    assert any(sorted(e["names"]) == ["v", "value"] for e in nm)
    got = ib.read_iceberg(spark, path)
    assert "v" not in got.columns
    assert sorted(r["value"] for r in got.collect()) == sorted(
        i * 10 for i in range(15)
    )
    # a file written AFTER the rename (lands column 'value') reads too
    df3 = df2.withColumnRenamed("v", "value").filter("doc_id = 10")
    ib.write_iceberg(
        df3.select("doc_id", "lang", "value", "score"), path
    )
    got = ib.read_iceberg(spark, path)
    assert got.filter("doc_id = 10").count() == 2  # old + new landing
    # metadata-tier pruning still works on the renamed column
    _g, nread, nskip, _ms = ib.read_iceberg_pruned(spark, path, "value", 0, 1)
    assert nread >= 1
    # DROP, plus the refusals
    ib.evolve_iceberg_schema(path, drop=["score"])
    assert "score" not in ib.read_iceberg(spark, path).columns
    with pytest.raises(ValueError, match="partition source"):
        ib.evolve_iceberg_schema(path, drop=["lang"])
    with pytest.raises(ValueError, match="HISTORICAL"):
        ib.evolve_iceberg_schema(path, add=[("v", "long")])
    # a COW delete on the evolved table materializes the current
    # schema and the table still reads
    ib.delete_where_iceberg(spark, path, "doc_id", 0, 4)
    got = ib.read_iceberg(spark, path)
    assert sorted(set(r["doc_id"] for r in got.collect())) == list(
        range(5, 15)
    )


def test_changelog_mor_and_carryover(spark, tmp_path):
    """read_changes_iceberg: appends emit inserts, merge-on-read
    deletes emit exactly their newly-hidden positions, and a
    copy-on-write rewrite reports ONLY the net deletes — carryover
    rows a rewrite merely copied between files appear in neither leg
    (the reference changelog procedure's rule)."""
    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 30), path, partition_by=["lang"])
    ib.write_iceberg(_df(spark, 30, 40), path)
    ib.delete_where_iceberg(
        spark, path, "doc_id", 5, 14, strategy="merge-on-read"
    )
    ib.delete_where_iceberg(
        spark, path, "doc_id", 10, 19, strategy="merge-on-read"
    )
    ib.delete_where_iceberg(spark, path, "doc_id", 25, 29)  # cow rewrite
    ch = ib.read_changes_iceberg(spark, path)
    legs = {}
    for r in ch.collect():
        legs.setdefault((r["_snapshot_ordinal"], r["_change_type"]), []).append(
            r["doc_id"]
        )
    assert sorted(legs[(1, "insert")]) == list(range(30))
    assert sorted(legs[(2, "insert")]) == list(range(30, 40))
    assert sorted(legs[(3, "delete")]) == list(range(5, 15))
    assert sorted(legs[(4, "delete")]) == list(range(15, 20))  # newly hidden
    assert sorted(legs[(5, "delete")]) == list(range(25, 30))
    assert (5, "insert") not in legs  # carryover rows removed
    assert set(legs) == {
        (1, "insert"),
        (2, "insert"),
        (3, "delete"),
        (4, "delete"),
        (5, "delete"),
    }
    # incremental window: only changes after the given snapshot
    second = ib.iceberg_snapshots(path)[1]["snapshot_id"]
    tail = ib.read_changes_iceberg(spark, path, since_snapshot_id=second)
    assert tail.filter("_change_type = 'insert'").count() == 0
    assert tail.count() == 20


def test_refuses_delete_files(spark, tmp_path):
    """v2 snapshots carrying delete manifests / delete data files must
    raise, never silently mis-read (the deltaproto DV rule)."""
    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 10), path)
    meta = ib.current_metadata(path)
    snap = ib._snapshot(meta, None)
    ml = ib._abs_path(path, snap["manifest-list"])
    recs, fmeta, ws = av.read_container(ml)
    ws.setdefault("fields", []).append(
        {"name": "content", "type": "int", "default": 1, "field-id": 517}
    )
    for r in recs:
        r["content"] = 1  # mark as a DELETE manifest
    av.write_container(ml, ws, recs)
    with pytest.raises(ValueError, match="delete manifest"):
        ib.read_iceberg(spark, path)


def test_concurrent_appends_both_survive(spark, tmp_path):
    """Two writers racing the metadata claim: the retry loop refolds
    against the refreshed base, so both appends' rows land."""
    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 10), path)
    real_claim = ib._claim_metadata
    raced = {"done": False}

    orig_versions = ib._metadata_versions

    def racing_build_wrapper(p, build):
        def build2(base):
            out = build(base)
            if not raced["done"]:
                raced["done"] = True
                # sneak a competing append in before the claim
                ib.write_iceberg(_df(spark, 100, 110), path)
            return out

        return real_claim(p, build2)

    ib._claim_metadata = racing_build_wrapper
    try:
        ib.write_iceberg(_df(spark, 10, 20), path)
    finally:
        ib._claim_metadata = real_claim
    got = ib.read_iceberg(spark, path)
    assert _rows(got) == _rows(
        _df(spark, 0, 20).unionByName(_df(spark, 100, 110))
    )


def test_entry_matches_oracle_shape(spark):
    df = ib.iceberg_interop_entry(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows
    assert [f.name for f in df.schema.fields] == [
        "lang",
        "n_docs",
        "n_sources",
        "total_chars",
        "sum_ids",
    ]
    assert all(r["n_docs"] > 0 for r in rows)


def test_data_files_carry_parquet_field_ids(spark, tmp_path):
    """Landed data files stamp each column's Iceberg field-id into the
    parquet schema (PARQUET:field_id) — the resolution spine real
    engines use, so renamed columns resolve without name-mapping."""
    import os as _os

    import pyarrow.parquet as pq

    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 10), path, partition_by=["lang"])
    fields = {f["name"]: f["id"] for f in ib._schema_of(ib.current_metadata(path))}
    files = [
        _os.path.join(d, f)
        for d, _s, fs in _os.walk(_os.path.join(path, "data"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    sch = pq.ParquetFile(files[0]).schema_arrow
    for fld in sch:
        assert fld.metadata[b"PARQUET:field_id"] == str(
            fields[fld.name]
        ).encode(), fld.name


def test_uniform_dual_metadata_over_delta(spark, tmp_path):
    """uniform_iceberg_metadata: one set of parquet files, two
    protocols — the generated Iceberg tree reads IDENTICALLY to the
    Delta log (partitioned table, hive partition values converted to
    typed partition structs), metadata-tier pruning works off the
    converted Delta stats, a refresh tracks new Delta commits, and a
    DV-carrying snapshot (r12 — was a refusal) re-serializes the Delta
    roaring DV as an Iceberg v3 Puffin deletion-vector blob so BOTH
    protocols hide exactly the same rows."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "dual")
    dp.write_delta(
        _df(spark, 0, 30).repartitionByRange(3, "doc_id"),
        path,
        partition_by=["lang"],
    )
    ib.uniform_iceberg_metadata(spark, path)
    assert _rows(ib.read_iceberg(spark, path)) == _rows(
        dp.read_delta(spark, path)
    )
    # pruning off the converted numeric stats skips files
    _g, nread, nskip, _ms = ib.read_iceberg_pruned(spark, path, "doc_id", 0, 4)
    assert nskip > 0
    # refresh after another Delta commit
    dp.write_delta(_df(spark, 30, 40), path)
    ib.uniform_iceberg_metadata(spark, path)
    assert _rows(ib.read_iceberg(spark, path)) == _rows(
        dp.read_delta(spark, path)
    )
    # a DV-carrying snapshot expands into a v3 Puffin DV (r12)
    dp.delete_where_delta(spark, path, "doc_id", 0, 4, strategy="dv")
    ib.uniform_iceberg_metadata(spark, path)
    meta = ib.current_metadata(path)
    assert meta["format-version"] == 3
    mfs = ib._read_manifest_list(path, ib._snapshot(meta, None))
    _pos, _eqs, dvs = ib._delete_files(path, mfs)
    assert dvs and all(
        d["path"].endswith(".puffin") for d in dvs
    )
    got = _rows(ib.read_iceberg(spark, path))
    assert got == _rows(dp.read_delta(spark, path))
    assert sorted(d for d, _l, _v in got) == list(range(5, 40))
    # compaction clears the DVs; the regenerated tree follows
    dp.compact_delta(spark, path)
    ib.uniform_iceberg_metadata(spark, path)
    assert _rows(ib.read_iceberg(spark, path)) == _rows(
        dp.read_delta(spark, path)
    )


def test_delete_eq_write_path_upsert_shape(spark, tmp_path):
    """`delete_eq_iceberg` writes a spec-shaped equality-delete file
    (content=2, equality_ids, field-id-stamped parquet) in O(keys):
    originals hidden, matching rows appended AFTER the delete survive
    (sequence strictly-below), null keys match null-safely, and a v1
    table upgrades to format-version 2."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "ice_eq")
    ib.write_iceberg(_df(spark, 0, 30), path)  # v1, seq-less
    ib.delete_eq_iceberg(path, ["doc_id"], [3, 7, 11])  # upgrades to v2
    meta = ib.current_metadata(path)
    assert meta["format-version"] == 2
    got = sorted(r["doc_id"] for r in ib.read_iceberg(spark, path).collect())
    assert got == [i for i in range(30) if i not in (3, 7, 11)]
    # CDC upsert: re-append the deleted keys with new payloads → survive
    ib.write_iceberg(_df(spark, 3, 4, tag=9), path)
    ib.write_iceberg(_df(spark, 7, 8, tag=9), path)
    vals = {
        r["doc_id"]: r["v"] for r in ib.read_iceberg(spark, path).collect()
    }
    assert vals[3] == 39 and vals[7] == 79 and 11 not in vals
    # the delete file itself is spec-shaped: content=2 + stamped ids
    mfs = ib._read_manifest_list(
        path, ib._snapshot(ib.current_metadata(path), None)
    )
    _pos, eqs, _dvs = ib._delete_files(path, mfs)
    assert len(eqs) == 1 and eqs[0]["ids"]
    pf = pq.ParquetFile(eqs[0]["path"])
    assert pf.schema_arrow.field("doc_id").metadata[
        b"PARQUET:field_id"
    ] == str(eqs[0]["ids"][0]).encode()
    # multi-column keys with a NULL component match null-safely
    path2 = str(tmp_path / "ice_eq2")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "k bigint, tag string"
    )
    ib.write_iceberg(df, path2, format_version=2)
    ib.delete_eq_iceberg(path2, ["k", "tag"], [(2, None)])
    assert sorted(
        r["k"] for r in ib.read_iceberg(spark, path2).collect()
    ) == [1, 3]


def test_delete_eq_on_partitioned_table(spark, tmp_path):
    """Equality delete on a PARTITIONED table (r10): the delete lands
    GLOBALLY under an auto-appended unpartitioned spec (Iceberg's
    scoping rule — a delete stored with an unpartitioned spec applies
    to every partition), the default spec is untouched so appends keep
    partitioning, and the seq rule still lets re-appended keys
    survive — the Flink-CDC upsert shape on a partitioned table."""
    path = str(tmp_path / "ice_part_eq")
    ib.write_iceberg(_df(spark, 0, 30), path, partition_by=["lang"])
    before_default = ib._default_spec_id(ib.current_metadata(path))
    # keys span multiple lang partitions (doc_id % 3)
    ib.delete_eq_iceberg(path, ["doc_id"], [3, 7, 11])
    meta = ib.current_metadata(path)
    assert ib._default_spec_id(meta) == before_default  # default kept
    specs = {s["spec-id"]: s["fields"] for s in meta["partition-specs"]}
    assert [] in specs.values()  # unpartitioned spec appended
    got = sorted(r["doc_id"] for r in ib.read_iceberg(spark, path).collect())
    assert got == [i for i in range(30) if i not in (3, 7, 11)]
    # upsert: re-append two deleted keys — strictly-below seq keeps them
    ib.write_iceberg(_df(spark, 3, 4, tag=9), path)
    ib.write_iceberg(_df(spark, 7, 8, tag=9), path)
    vals = {
        r["doc_id"]: r["v"] for r in ib.read_iceberg(spark, path).collect()
    }
    assert vals[3] == 39 and vals[7] == 79 and 11 not in vals
    # appended files still carry the PARTITIONED default spec, and a
    # second eq-delete reuses the existing unpartitioned spec
    n_specs = len(ib.current_metadata(path)["partition-specs"])
    ib.delete_eq_iceberg(path, ["doc_id"], [7])
    assert len(ib.current_metadata(path)["partition-specs"]) == n_specs
    got2 = sorted(r["doc_id"] for r in ib.read_iceberg(spark, path).collect())
    assert 7 not in got2 and 3 in got2
    # pruned partitioned read still works over the mixed tree
    assert ib.read_iceberg(spark, path).filter("lang = '0'").count() > 0
    mfs = ib._read_manifest_list(
        path, ib._snapshot(ib.current_metadata(path), None)
    )
    _pos, eqs, _dvs = ib._delete_files(path, mfs)
    assert eqs and all(e["ids"] for e in eqs)
    # the global deletes are stored under the UNPARTITIONED spec
    unpart_sid = ib._ensure_unpartitioned_spec(path)
    assert all(e["spec_id"] == unpart_sid for e in eqs)


def test_delete_eq_partition_scoped(spark, tmp_path):
    """Partition-SCOPED equality deletes (the spec's other scoping
    arm): a delete stored under the PARTITIONED spec with a partition
    tuple applies only within that partition — the same key in a
    different partition survives; the seq rule still protects
    re-appends; mixing scoped + global deletes composes."""
    path = str(tmp_path / "ice_scoped")
    # doc_id % 3 = lang ∈ {'0','1','2'}: keys 6 and 9 live in lang='0'
    ib.write_iceberg(_df(spark, 0, 30), path, partition_by=["lang"])
    ib.delete_eq_iceberg(
        path, ["v"], [60], partition_scope={"lang": "0"}
    )
    # v = doc_id*10: v=60 ⇒ doc 6 (lang '0') — scoped hit
    got = sorted(r["doc_id"] for r in ib.read_iceberg(spark, path).collect())
    assert got == [i for i in range(30) if i != 6]
    # same VALUE scoped to a DIFFERENT partition: nothing matches
    ib.delete_eq_iceberg(
        path, ["v"], [90], partition_scope={"lang": "1"}
    )
    got2 = sorted(r["doc_id"] for r in ib.read_iceberg(spark, path).collect())
    assert got2 == got  # doc 9 is in lang '0', not '1' — survives
    # correctly-scoped second delete lands
    ib.delete_eq_iceberg(
        path, ["v"], [90], partition_scope={"lang": "0"}
    )
    got3 = sorted(r["doc_id"] for r in ib.read_iceberg(spark, path).collect())
    assert got3 == [i for i in range(30) if i not in (6, 9)]
    # seq rule: re-append doc 6 — survives the older scoped delete
    ib.write_iceberg(_df(spark, 6, 7, tag=1), path)
    vals = {r["doc_id"]: r["v"] for r in ib.read_iceberg(spark, path).collect()}
    assert vals[6] == 61
    # a GLOBAL delete composes with the scoped ones
    ib.delete_eq_iceberg(path, ["doc_id"], [12])
    got4 = sorted(r["doc_id"] for r in ib.read_iceberg(spark, path).collect())
    assert 12 not in got4 and 6 in got4
    # refusals: wrong scope keys / scope on unpartitioned table
    with pytest.raises(ValueError, match="partition_scope keys"):
        ib.delete_eq_iceberg(path, ["v"], [1], partition_scope={"nope": 1})
    flat = str(tmp_path / "flat")
    ib.write_iceberg(_df(spark, 0, 5), flat)
    with pytest.raises(ValueError, match="unpartitioned table"):
        ib.delete_eq_iceberg(flat, ["v"], [1], partition_scope={"lang": "0"})
    # the format("iceberg") DataSource applies the same scoping
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        icestream,
    )

    icestream.register(spark)
    ds = sorted(
        r["doc_id"]
        for r in spark.read.format("iceberg").load(path).collect()
    )
    assert ds == got4
    # compaction materializes the scoped+global delete mix exactly and
    # drops every delete manifest
    want = _rows(ib.read_iceberg(spark, path))
    ib.compact_iceberg(spark, path, target_mb=512)
    assert _rows(ib.read_iceberg(spark, path)) == want
    mfs2 = ib._read_manifest_list(
        path, ib._snapshot(ib.current_metadata(path), None)
    )
    assert all((m.get("content") or 0) == 0 for m in mfs2)


def test_delete_eq_refusals(spark, tmp_path):
    """Loud refusals: unknown column, unsupported key type, empty
    keys, arity mismatch (partitioned tables are SUPPORTED since r10
    — see test_delete_eq_on_partitioned_table)."""
    path2 = str(tmp_path / "ice_flat")
    ib.write_iceberg(_df(spark, 0, 9), path2)
    with pytest.raises(ValueError, match="no column"):
        ib.delete_eq_iceberg(path2, ["nope"], [1])
    with pytest.raises(ValueError, match="no keys"):
        ib.delete_eq_iceberg(path2, ["doc_id"], [])
    with pytest.raises(ValueError, match="arity"):
        ib.delete_eq_iceberg(path2, ["doc_id", "lang"], [(1,)])


def test_compact_iceberg_materializes_deletes(spark, tmp_path):
    """rewrite_data_files: after position + equality deletes, compact
    re-lands the visible rows, drops every delete manifest (reads stop
    paying anti-join rent), preserves content exactly, and its replace
    snapshot reports ZERO changelog rows (carryover removal)."""
    path = str(tmp_path / "ice_cmp")
    ib.write_iceberg(_df(spark, 0, 40).repartition(4), path)
    ib.delete_where_iceberg(
        spark, path, "doc_id", 10, 19, strategy="merge-on-read"
    )
    eq_sid = ib.delete_eq_iceberg(path, ["doc_id"], [30, 31])
    want = _rows(ib.read_iceberg(spark, path))
    assert len(want) == 28
    ib.compact_iceberg(spark, path, target_mb=512)
    assert _rows(ib.read_iceberg(spark, path)) == want
    meta = ib.current_metadata(path)
    snaps = sorted(meta["snapshots"], key=lambda s: s["timestamp-ms"])
    assert snaps[-1]["summary"]["operation"] == "replace"
    mfs = ib._read_manifest_list(path, ib._snapshot(meta, None))
    assert all((m.get("content") or 0) == 0 for m in mfs)  # no delete mfs
    live = ib._live_entries(path, meta, ib._snapshot(meta, None))
    assert len(live) == 1  # coalesced
    # the replace snapshot contributes nothing to the changelog
    # (walked from after the eq-delete snapshot, which refuses)
    ch = ib.read_changes_iceberg(spark, path, since_snapshot_id=eq_sid)
    assert ch.count() == 0  # both diff legs empty: pure rewrite
    # appends after compaction still work (v2 seq keeps advancing)
    ib.write_iceberg(_df(spark, 100, 103), path)
    assert len(_rows(ib.read_iceberg(spark, path))) == 31


# --------------------------------------------------------------------------
# partition transforms
# --------------------------------------------------------------------------


def test_bucket_hash_spec_vectors():
    """Appendix B test vectors: the bucket transform's murmur3 (x86
    32-bit, seed 0, 8-byte-LE longs / UTF-8 strings) must match the
    published reference hashes exactly."""
    import datetime

    assert ib.murmur3_32((34).to_bytes(8, "little", signed=True)) == 2017239379
    assert ib.murmur3_32(b"iceberg") == 1210000089
    days = (datetime.date(2017, 11, 16) - datetime.date(1970, 1, 1)).days
    assert (
        ib.murmur3_32(days.to_bytes(8, "little", signed=True)) == -653330422
    )
    us = (
        int(
            (
                datetime.datetime(2017, 11, 16, 22, 31, 8)
                - datetime.datetime(1970, 1, 1)
            ).total_seconds()
        )
        * 1_000_000
    )
    assert ib.murmur3_32(us.to_bytes(8, "little", signed=True)) == -2047944441


def test_transform_partitioned_roundtrip_and_pruning(spark, tmp_path):
    """months()+bucket() spec: the table round-trips exactly (source
    columns kept in data files, transformed values in partition
    tuples), monotone transforms prune range scans through BOTH
    metadata tiers, bucket prunes point lookups to one file group,
    and copy-on-write DELETE works on the transform-partitioned
    table."""
    import datetime

    df = spark.range(0, 600).select(
        F.col("id").alias("k"),
        F.date_add(
            F.lit("1994-01-01").cast("date"), (F.col("id") % 360).cast("int")
        ).alias("d"),
        F.concat(F.lit("s"), F.col("id") % 5).alias("s"),
    )
    t = str(tmp_path / "tx")
    ib.write_iceberg(df, t, partition_by=["months(d)", "bucket(4, k)"])
    meta = ib.current_metadata(t)
    spec = ib._spec_of(meta)
    assert [pf["transform"] for pf in spec] == ["month", "bucket[4]"]
    back = ib.read_iceberg(spark, t)
    assert back.count() == 600
    assert back.agg(F.sum("k")).first()[0] == 599 * 600 // 2
    assert set(back.columns) == {"k", "d", "s"}

    # range pruning through the month transform
    pruned, fr, fs, ms = ib.read_iceberg_pruned(
        spark, t, "d", datetime.date(1994, 3, 1), datetime.date(1994, 4, 30)
    )
    exp = df.filter(F.col("d").between("1994-03-01", "1994-04-30")).count()
    assert pruned.count() == exp
    assert fs > fr > 0  # most file groups skipped

    # bucket point pruning: exactly the files of one (month, bucket)
    pt, fr2, fs2, _ = ib.read_iceberg_pruned(spark, t, "k", 123, 123)
    assert pt.count() == 1 and fs2 > fr2

    # the Spark landing expressions agree with the python twins
    chk = df.select(
        "k", "d", ib._bucket_expr("long", 4, F.col("k")).alias("b")
    ).collect()
    for r in chk:
        assert r["b"] == ib._bucket_of("long", r["k"], 4)
        days = (r["d"] - datetime.date(1970, 1, 1)).days
        assert ib._apply_transform_py(
            {"transform": "month"}, "date", days
        ) == (r["d"].year - 1970) * 12 + r["d"].month - 1

    # CoW delete on the transform-partitioned table
    ib.delete_where_iceberg(
        spark, t, "d", datetime.date(1994, 1, 1), datetime.date(1994, 1, 31)
    )
    exp2 = df.filter(~F.col("d").between("1994-01-01", "1994-01-31")).count()
    assert ib.read_iceberg(spark, t).count() == exp2


def test_transform_ntz_micros_and_hour(spark):
    """TimestampNTZ sources must transform from tz-free CALENDAR
    fields: the wall-clock micros expression and the hour transform
    match the python twins on fractional-second values regardless of
    session timezone."""
    rows = spark.sql(
        "SELECT * FROM VALUES "
        "(TIMESTAMP_NTZ '1995-03-07 22:31:08.123456'), "
        "(TIMESTAMP_NTZ '1970-01-01 00:00:00'), "
        "(TIMESTAMP_NTZ '2001-08-01 03:59:59.999999') AS t(ts)"
    )
    got = rows.select(
        ib._ntz_micros_expr(F.col("ts")).alias("us"),
        ib._transform_expr(
            {"transform": "hour"}, "ts", "timestamp"
        ).alias("h"),
        ib._transform_expr({"transform": "day"}, "ts", "timestamp").alias(
            "dy"
        ),
        ib._bucket_expr("timestamp", 16, F.col("ts")).alias("b"),
        F.col("ts"),
    ).collect()
    import datetime

    for r in got:
        want = (
            r["ts"] - datetime.datetime(1970, 1, 1)
        ) // datetime.timedelta(microseconds=1)
        assert r["us"] == want
        assert r["h"] == want // 3_600_000_000
        assert r["dy"] == want // 86_400_000_000
        assert r["b"] == ib._bucket_of("timestamp", want, 16)


def test_truncate_string_hive_escaping_roundtrip(spark, tmp_path):
    """truncate[W] over strings with hive-hostile characters: the
    truncated partition value (spaces, '=', '/') must land escaped and
    round-trip EXACTLY into the manifest partition tuple."""
    df = spark.createDataFrame(
        [(1, "a b=c/d rest"), (2, "plain"), (3, "a b=c/d tail2")],
        "k long, s string",
    )
    t = str(tmp_path / "trunc")
    ib.write_iceberg(df, t, partition_by=["truncate(7, s)"])
    meta = ib.current_metadata(t)
    snap = ib._snapshot(meta, None)
    pvs = set()
    for mf in ib._data_manifests(ib._read_manifest_list(t, snap)):
        for e in ib._read_manifest(t, mf):
            pvs.add((e["data_file"].get("partition") or {}).get("s_trunc"))
    assert pvs == {"a b=c/d", "plain"}
    back = ib.read_iceberg(spark, t)
    assert sorted(r["s"] for r in back.collect()) == [
        "a b=c/d rest", "a b=c/d tail2", "plain",
    ]
    # truncate prefix pruning: equality probe on the full value maps
    # through the monotone transform
    pr, fr, fs, _ = ib.read_iceberg_pruned(spark, t, "s", "plain", "plain")
    assert pr.count() == 1 and fs >= 1


def test_transform_refusals_and_spec_pinning(spark, tmp_path):
    """Loud refusals: hour over a date source, bucket over a double,
    truncate without a width, unknown column; and an existing table
    refuses a contradicting partition_by."""
    df = spark.createDataFrame(
        [(1, 2.5, __import__("datetime").date(2020, 1, 2))],
        "k long, x double, d date",
    )
    t = str(tmp_path / "r")
    with pytest.raises(ValueError, match="hour needs a timestamp"):
        ib.write_iceberg(df, t, partition_by=["hours(d)"])
    with pytest.raises(ValueError, match="bucket over"):
        ib.write_iceberg(df, t, partition_by=["bucket(4, x)"])
    with pytest.raises(ValueError, match="needs a width"):
        ib.write_iceberg(df, t, partition_by=["truncate(k)"])
    with pytest.raises(ValueError, match="no column"):
        ib.write_iceberg(df, t, partition_by=["days(nope)"])
    ib.write_iceberg(df, t, partition_by=["days(d)"])
    with pytest.raises(ValueError, match="contradicts"):
        ib.write_iceberg(df, t, partition_by=["months(d)"])
    # appends with the MATCHING spec succeed
    ib.write_iceberg(df, t, partition_by=["days(d)"])
    assert ib.read_iceberg(spark, t).count() == 2


def test_partition_spec_evolution(spark, tmp_path):
    """Partition evolution: a new default spec (fresh spec-id) applies
    to future writes only — old manifests keep their spec, identity
    columns still reconstruct for old-spec files, pruning falls back
    to file bounds for them, CoW DELETE carries old-spec entries in
    old-spec manifests, MOR delete works across mixed specs, and
    compaction MIGRATES everything to the new layout."""
    import datetime

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("lang"),
            F.date_add(
                F.lit("1994-01-01").cast("date"),
                (F.col("id") % 200).cast("int"),
            ).alias("d"),
        )

    t = str(tmp_path / "ev")
    ib.write_iceberg(mk(0, 300), t, partition_by=["lang"])
    sid = ib.evolve_iceberg_spec(t, ["months(d)"])
    assert sid == 1
    meta = ib.current_metadata(t)
    assert ib._default_spec_id(meta) == 1
    assert [pf["transform"] for pf in ib._spec_of(meta)] == ["month"]
    # identical re-evolution refuses
    with pytest.raises(ValueError, match="identical"):
        ib.evolve_iceberg_spec(t, ["months(d)"])

    ib.write_iceberg(mk(300, 500), t)
    back = ib.read_iceberg(spark, t)
    assert back.count() == 500
    assert back.agg(F.sum("k")).first()[0] == 499 * 500 // 2
    assert back.filter(F.col("lang").isNull()).count() == 0

    # pruning: new-spec manifests prune via month tuples; old-spec
    # files fall through to file bounds — results stay exact
    pr, fr, fs, _ = ib.read_iceberg_pruned(
        spark, t, "d", datetime.date(1994, 3, 1), datetime.date(1994, 3, 31)
    )
    exp = (
        mk(0, 500)
        .filter(F.col("d").between("1994-03-01", "1994-03-31"))
        .count()
    )
    assert pr.count() == exp and fs > 0

    # CoW delete across mixed specs: carried entries keep their spec,
    # identity lang survives for old files
    ib.delete_where_iceberg(spark, t, "k", 100, 399)
    after = ib.read_iceberg(spark, t)
    assert after.count() == 200
    assert after.agg(F.sum("k")).first()[0] == sum(range(100)) + sum(
        range(400, 500)
    )
    assert after.filter(F.col("lang").isNull()).count() == 0

    # MOR delete on the mixed-spec table
    ib.delete_where_iceberg(spark, t, "k", 0, 9, strategy="merge-on-read")
    assert ib.read_iceberg(spark, t).count() == 190

    # compaction migrates every live file to the new default spec
    ib.compact_iceberg(spark, t)
    meta2 = ib.current_metadata(t)
    snap = ib._snapshot(meta2, None)
    sids = {
        e["_spec_id"]
        for mf in ib._data_manifests(ib._read_manifest_list(t, snap))
        for e in ib._read_manifest(t, mf)
        if e.get("status", 0) in (0, 1)
    }
    assert sids == {1}
    final = ib.read_iceberg(spark, t)
    assert final.count() == 190
    assert final.filter(F.col("lang").isNull()).count() == 0


def test_metadata_tables(spark, tmp_path):
    """read_iceberg_meta: the snapshots/history/manifests/files/
    partitions inspection surface agrees with the table's actual
    state across append → delete → compact."""
    t = str(tmp_path / "mt")
    ib.write_iceberg(_df(spark, 0, 60), t, partition_by=["lang"])
    ib.write_iceberg(_df(spark, 60, 90), t)
    ib.delete_where_iceberg(spark, t, "doc_id", 0, 29)

    snaps = ib.read_iceberg_meta(spark, t, "snapshots").collect()
    assert [r["operation"] for r in snaps] == ["append", "append", "delete"]
    assert snaps[1]["parent_id"] == snaps[0]["snapshot_id"]

    hist = ib.read_iceberg_meta(spark, t, "history").collect()
    assert len(hist) == 3 and all(r["is_current_ancestor"] for r in hist)

    files = ib.read_iceberg_meta(spark, t, "files")
    assert (
        files.agg(F.sum("record_count")).first()[0]
        == ib.read_iceberg(spark, t).count()
        == 60
    )
    # identity partition values visible in the partition JSON
    parts = ib.read_iceberg_meta(spark, t, "partitions").collect()
    assert {json.loads(r["partition"])["lang"] for r in parts} == {
        "0", "1", "2",
    }
    assert sum(r["record_count"] for r in parts) == 60

    mfs = ib.read_iceberg_meta(spark, t, "manifests")
    assert mfs.count() >= 1
    assert mfs.filter(F.col("content") == 0).count() == mfs.count()

    with pytest.raises(ValueError, match="unknown metadata table"):
        ib.read_iceberg_meta(spark, t, "nope")


def test_rewrite_manifests_consolidates(spark, tmp_path):
    """rewrite_manifests: N append manifests → one per spec, every
    row still readable with its sequence number, snapshots from
    before the rewrite still time-travel, MOR deletes keep applying,
    and the changelog reports zero rows for the replace snapshot."""
    t = str(tmp_path / "rm")
    for lo in range(0, 100, 20):
        ib.write_iceberg(_df(spark, lo, lo + 20), t)
    ib.delete_where_iceberg(
        spark, t, "doc_id", 0, 9, strategy="merge-on-read"
    )
    meta = ib.current_metadata(t)
    snap_before = ib._snapshot(meta, None)
    mfs_before = ib._data_manifests(
        ib._read_manifest_list(t, snap_before)
    )
    assert len(mfs_before) == 5
    ib.rewrite_iceberg_manifests(t)
    meta2 = ib.current_metadata(t)
    snap = ib._snapshot(meta2, None)
    mfs = ib._read_manifest_list(t, snap)
    assert len(ib._data_manifests(mfs)) == 1
    assert sum(1 for m in mfs if (m.get("content") or 0) == 1) == 1
    back = ib.read_iceberg(spark, t)
    assert back.count() == 90  # MOR delete still applies
    assert _rows(back) == _rows(_df(spark, 10, 100))
    # time travel to the pre-rewrite snapshot still works
    assert (
        ib.read_iceberg(
            spark, t, snapshot_id=snap_before["snapshot-id"]
        ).count()
        == 90
    )
    # the replace snapshot is change-invisible
    ch = ib.read_changes_iceberg(spark, t)
    frm = {r["_change_type"] for r in ch.select("_change_type").collect()}
    assert frm == {"insert", "delete"}
    inserts = ch.filter(F.col("_change_type") == "insert").count()
    deletes = ch.filter(F.col("_change_type") == "delete").count()
    assert (inserts, deletes) == (100, 10)


def test_refs_tags_branches_wap(spark, tmp_path):
    """Named refs: tags pin snapshots through expiry; branch writes
    move ONLY the branch head (main history untouched) — the full
    write-audit-publish flow: stage on a branch, validate its read,
    fast-forward main; a diverged main refuses the fast-forward."""
    t = str(tmp_path / "refs")
    ib.write_iceberg(_df(spark, 0, 40), t)
    v1 = ib.current_metadata(t)["current-snapshot-id"]
    ib.set_iceberg_ref(t, "v1.0", kind="tag")

    # WRITE: stage 40 more rows on an audit branch
    ib.set_iceberg_ref(t, "audit", kind="branch")
    ib.write_iceberg(_df(spark, 40, 80), t, branch="audit")
    # main is untouched; the branch sees both slices
    assert ib.read_iceberg(spark, t).count() == 40
    assert ib.read_iceberg(spark, t, ref="audit").count() == 80
    assert ib.read_iceberg(spark, t, ref="v1.0").count() == 40
    assert ib.current_metadata(t)["current-snapshot-id"] == v1
    # snapshot-log (main history) has exactly one entry
    assert len(ib.current_metadata(t)["snapshot-log"]) == 1

    # AUDIT failed? drop the branch — or PUBLISH: fast-forward main
    ib.fast_forward_iceberg(t, "audit")
    assert ib.read_iceberg(spark, t).count() == 80
    assert len(ib.current_metadata(t)["snapshot-log"]) == 2

    # divergence: new branch from v1.0's snapshot, then main moves on
    ib.set_iceberg_ref(t, "stale", snapshot_id=v1, kind="branch")
    ib.write_iceberg(_df(spark, 80, 90), t, branch="stale")
    ib.write_iceberg(_df(spark, 90, 100), t)  # main diverges
    with pytest.raises(ValueError, match="not an ancestor"):
        ib.fast_forward_iceberg(t, "stale")

    # expiry keeps every ref head (tag + branch) and the current;
    # dropping the published audit branch unpins its staging snapshot
    ib.drop_iceberg_ref(t, "audit")
    removed = ib.expire_iceberg_snapshots(t, keep_last=1)
    assert removed == 1  # exactly the unpinned audit staging snapshot
    assert ib.read_iceberg(spark, t, ref="v1.0").count() == 40
    assert ib.read_iceberg(spark, t, ref="stale").count() == 50
    assert ib.read_iceberg(spark, t).count() == 90

    ib.drop_iceberg_ref(t, "stale")
    with pytest.raises(ValueError, match="no ref"):
        ib.read_iceberg(spark, t, ref="stale")
    with pytest.raises(ValueError, match="reserved|implicit"):
        ib.set_iceberg_ref(t, "main")


def test_ref_reads_via_datasource_and_refs_table(spark, tmp_path):
    """format('iceberg') batch reads honor option('ref', ...), and the
    `refs` metadata table lists main + every named ref."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        icestream,
    )

    icestream.register(spark)
    t = str(tmp_path / "dsrefs")
    ib.write_iceberg(_df(spark, 0, 30), t)
    ib.set_iceberg_ref(t, "v1", kind="tag")
    ib.set_iceberg_ref(t, "dev", kind="branch")
    ib.write_iceberg(_df(spark, 30, 50), t, branch="dev")

    cur = spark.read.format("iceberg").load(t)
    assert cur.count() == 30
    dev = spark.read.format("iceberg").option("ref", "dev").load(t)
    assert dev.count() == 50
    tag = spark.read.format("iceberg").option("ref", "v1").load(t)
    assert tag.count() == 30

    refs = {
        r["name"]: (r["type"], r["snapshot_id"])
        for r in ib.read_iceberg_meta(spark, t, "refs").collect()
    }
    assert set(refs) == {"main", "v1", "dev"}
    assert refs["v1"][0] == "tag" and refs["dev"][0] == "branch"
    assert refs["main"][1] == refs["v1"][1]  # main never moved
    assert refs["dev"][1] != refs["main"][1]

    # explicit snapshotId time travel through the DataSource
    by_id = (
        spark.read.format("iceberg")
        .option("snapshotId", refs["dev"][1])
        .load(t)
    )
    assert by_id.count() == 50
    with pytest.raises(Exception, match="at most one"):
        spark.read.format("iceberg").option("ref", "dev").option(
            "snapshotId", refs["dev"][1]
        ).load(t).count()


def test_cleanup_iceberg_metadata(spark, tmp_path):
    """Metadata-version cleanup: old v<N>.metadata.json files go, the
    current pointer still resolves, reads/appends continue, and
    snapshot time travel (which lives in the CURRENT metadata, not the
    old files) still works."""
    path = str(tmp_path / "ice_mclean")
    ib.write_iceberg(_df(spark, 0, 5), path)
    ib.write_iceberg(_df(spark, 5, 8), path)
    ib.write_iceberg(_df(spark, 8, 9), path)
    snaps = sorted(
        ib.current_metadata(path)["snapshots"],
        key=lambda s: s["timestamp-ms"],
    )
    want = _rows(ib.read_iceberg(spark, path))
    assert len(ib._metadata_versions(path)) == 3
    assert ib.cleanup_iceberg_metadata(path, keep_last=1) == 2
    assert len(ib._metadata_versions(path)) == 1
    assert _rows(ib.read_iceberg(spark, path)) == want
    # snapshot time travel is metadata-internal — unaffected
    old = ib.read_iceberg(spark, path, snapshot_id=snaps[0]["snapshot-id"])
    assert len(_rows(old)) == 5
    ib.write_iceberg(_df(spark, 9, 10), path)
    assert len(_rows(ib.read_iceberg(spark, path))) == 10
    with pytest.raises(ValueError, match="keep_last"):
        ib.cleanup_iceberg_metadata(path, keep_last=0)


# --------------------------------------------------------------------------
# atomic single-snapshot upsert (same-sequence eq-delete + data)
# --------------------------------------------------------------------------


def test_upsert_iceberg_atomic_single_snapshot(spark, tmp_path):
    """The Flink-CDC commit shape: replacements + their equality
    delete land at the SAME sequence number in ONE snapshot — the new
    rows survive the delete (strictly-below rule) and there is no
    intermediate state with the keys missing."""
    path = os.path.join(tmp_path, "t")
    ib.write_iceberg(_df(spark, 0, 30).repartition(2), path,
                     format_version=2)
    n_snaps = len(ib.iceberg_snapshots(path))
    up = _df(spark, 3, 6, tag=7)  # replaces 3,4,5
    new = _df(spark, 100, 102, tag=7)  # inserts 100,101
    ib.upsert_iceberg(spark, up.unionByName(new), path, ["doc_id"])
    assert len(ib.iceberg_snapshots(path)) == n_snaps + 1
    got = {r["doc_id"]: r["v"] for r in ib.read_iceberg(spark, path).collect()}
    assert set(got) == set(range(30)) | {100, 101}
    assert all(got[k] == k * 10 + 7 for k in (3, 4, 5, 100, 101))
    assert all(got[k] == k * 10 for k in set(range(30)) - {3, 4, 5})


def test_upsert_iceberg_repeated_and_partitioned(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    ib.write_iceberg(_df(spark, 0, 30), path, partition_by=["lang"])
    ib.upsert_iceberg(spark, _df(spark, 5, 8, tag=1), path, ["doc_id"])
    # a second upsert over an already-upserted key wins (higher seq)
    ib.upsert_iceberg(spark, _df(spark, 7, 10, tag=2), path, ["doc_id"])
    got = {r["doc_id"]: r["v"] for r in ib.read_iceberg(spark, path).collect()}
    assert len(got) == 30
    assert got[5] == 51 and got[6] == 61
    assert got[7] == 72 and got[8] == 82 and got[9] == 92
    assert got[0] == 0 and got[29] == 290


def _keyed(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, lang string, v bigint")


def _nsorted(df):
    """(doc_id, lang, v) rows sorted with NULL keys first."""
    return sorted(
        ((r["doc_id"], r["lang"], r["v"]) for r in df.collect()),
        key=lambda r: (r[0] is not None, r[0] or 0, r[1], r[2]),
    )


def _visible(rows, deletes):
    """The spec's equality-delete rule as a Python model.  `rows` are
    (doc_id, lang, v, seq); `deletes` are (column, keys, seq, scope).
    A row is hidden by a delete with a STRICTLY higher sequence number
    whose keys hold the row's value (NULL matches NULL) and whose
    scope, when set, is the row's `lang` partition."""
    kept = [
        (k, lang, v)
        for k, lang, v, seq in rows
        if not any(
            dseq > seq
            and (scope is None or scope == lang)
            and {"doc_id": k, "lang": lang, "v": v}[col] in keys
            for col, keys, dseq, scope in deletes
        )
    ]
    return sorted(kept, key=lambda r: (r[0] is not None, r[0] or 0) + r[1:])


def _last_seq(path):
    """The newest data sequence number (0 on a v1 table)."""
    return ib.current_metadata(path).get("last-sequence-number", 0)


def test_eq_delete_read_matches_sequence_model(spark, tmp_path):
    """Upserts with overlapping keys and a NULL key, then global plus
    partition-scoped deletes, read through `read_iceberg`,
    `read_iceberg_pruned` and after `compact_iceberg`, all against the
    model.  Each upsert deletes its keys in the commit that re-inserts
    them (one sequence number), so its own rows survive."""
    path = str(tmp_path / "flat")
    base = [(k, str(k % 3), k * 10) for k in range(12)] + [(None, "0", -1)]
    ib.write_iceberg(_keyed(spark, base), path, format_version=2)
    rows = [r + (_last_seq(path),) for r in base]
    deletes = []
    batches = [[3, 4, 5], [4, 5, 6, None], [5, 100], [3, 6, 101, None]]
    for tag, keys in enumerate(batches, 1):
        up = [(k, "u", (k or 0) * 10 + tag) for k in keys]
        ib.upsert_iceberg(spark, _keyed(spark, up), path, ["doc_id"])
        rows += [r + (_last_seq(path),) for r in up]
        deletes.append(("doc_id", set(keys), _last_seq(path), None))
    want = _visible(rows, deletes)
    assert len(want) == 15 and (None, "u", 4) in want
    assert _nsorted(ib.read_iceberg(spark, path)) == want
    pruned, *_ = ib.read_iceberg_pruned(spark, path, "doc_id", 4, 100)
    assert _nsorted(pruned) == [
        r for r in want if r[0] is not None and 4 <= r[0] <= 100
    ]
    ib.compact_iceberg(spark, path, target_mb=512)
    assert _nsorted(ib.read_iceberg(spark, path)) == want

    ppath = str(tmp_path / "part")
    base = [(k, str(k % 3), k * 10) for k in range(12)]
    ib.write_iceberg(_keyed(spark, base), ppath, partition_by=["lang"])
    rows = [r + (_last_seq(ppath),) for r in base]
    up = [(6, "0", 61), (7, "1", 71), (None, "2", 0)]
    ib.upsert_iceberg(spark, _keyed(spark, up), ppath, ["doc_id"])
    rows += [r + (_last_seq(ppath),) for r in up]
    deletes = [("doc_id", {6, 7, None}, _last_seq(ppath), None)]
    # v=90 is doc 9 in lang '0': scoped to '1' it hides nothing; v=61
    # is the upserted doc 6, hidden by the delete scoped to '0'
    for scope, vals in (("1", [90]), ("0", [61])):
        ib.delete_eq_iceberg(
            ppath, ["v"], vals, partition_scope={"lang": scope}
        )
        deletes.append(("v", set(vals), _last_seq(ppath), scope))
    ib.write_iceberg(_keyed(spark, [(6, "0", 61)]), ppath)  # re-append
    rows.append((6, "0", 61, _last_seq(ppath)))
    want = _visible(rows, deletes)
    assert (9, "0", 90) in want and (6, "0", 61) in want
    assert _nsorted(ib.read_iceberg(spark, ppath)) == want
    pruned, *_ = ib.read_iceberg_pruned(spark, ppath, "lang", "0", "0")
    assert _nsorted(pruned) == [r for r in want if r[1] == "0"]
    ib.compact_iceberg(spark, ppath, target_mb=512)
    assert _nsorted(ib.read_iceberg(spark, ppath)) == want


def _commit_file(path, rel, rows, equality_ids=None):
    """Commit one hand-written parquet file at `rel` as its own
    snapshot: data, or an equality delete on `equality_ids`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    local = os.path.join(path, rel)
    os.makedirs(os.path.dirname(local), exist_ok=True)
    pq.write_table(pa.table(rows), local)
    fields = ib._schema_of(ib.current_metadata(path))
    schema_json = {"type": "struct", "schema-id": 0, "fields": fields}
    rec = {
        "content": 2 if equality_ids else 0,
        "file_path": ib._file_uri(path, rel),
        "file_format": "PARQUET",
        "partition": {},
        "record_count": pq.read_metadata(local).num_rows,
        "file_size_in_bytes": os.path.getsize(local),
        "value_counts": None,
        "null_value_counts": None,
        "lower_bounds": None,
        "upper_bounds": None,
        "split_offsets": None,
        "equality_ids": equality_ids,
    }

    def build(base, snapshot_id, seq, fv):
        mfs = ib._read_manifest_list(path, ib._snapshot(base, None))
        mf = ib._write_manifest(
            path,
            [{"status": 1, "snapshot_id": snapshot_id, "data_file": rec}],
            snapshot_id, fields, [], schema_json, fv=2,
            content="deletes" if equality_ids else "data", seq=seq,
        )
        return list(mfs) + [mf]

    ib._commit_snapshot(path, "append", build)


def test_eq_delete_data_files_sharing_a_name(spark, tmp_path):
    """Two data files with one file name in different directories, at
    sequence numbers either side of an equality delete: each row keeps
    its own file's sequence number, so only the older file's rows are
    hidden."""
    import pyarrow as pa

    path = str(tmp_path / "t")
    ib.write_iceberg(_df(spark, 0, 10).coalesce(1), path, format_version=2)
    (old,) = ib._live_entries(
        path, ib.current_metadata(path),
        ib._snapshot(ib.current_metadata(path), None),
    )
    tail = old["data_file"]["file_path"].rsplit("/", 1)[-1]
    ib.delete_eq_iceberg(path, ["doc_id"], [1, 2])
    _commit_file(
        path,
        f"data/again/{tail}",
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "lang": ["x", "x"],
            "v": pa.array([11, 21], pa.int64()),
        },
    )
    got = _rows(ib.read_iceberg(spark, path))
    assert got == sorted(
        [(i, str(i % 3), i * 10) for i in range(10) if i not in (1, 2)]
        + [(1, "x", 11), (2, "x", 21)]
    )


def test_eq_delete_file_missing_key_column_refused(spark, tmp_path):
    """A delete file lacking its key column must not read as NULL keys
    (which would delete the NULL-key rows): the read refuses."""
    path = str(tmp_path / "t")
    ib.write_iceberg(
        _keyed(spark, [(1, "a", 10), (None, "b", 20)]), path,
        format_version=2,
    )
    fields = ib._schema_of(ib.current_metadata(path))
    key_id = next(f["id"] for f in fields if f["name"] == "doc_id")
    _commit_file(
        path, "data/eq-del.parquet", {"lang": ["a"]}, equality_ids=[key_id]
    )
    with pytest.raises(ValueError, match="lacks a key"):
        ib.read_iceberg(spark, path)


def test_eq_delete_read_plan_stays_flat(spark, tmp_path, py4j_calls):
    """Each upsert lands one more equality-delete file at a new
    sequence number; the read's plan still has the same scans and
    anti-joins after 4 upserts as after 1, and its build makes about
    the same number of py4j round trips."""
    path = str(tmp_path / "t")
    ib.write_iceberg(_df(spark, 0, 40), path, format_version=2)
    shape = {}
    for n in range(1, 5):
        ib.upsert_iceberg(
            spark, _df(spark, n * 5, n * 5 + 10, tag=n), path, ["doc_id"]
        )
        if n in (1, 4):
            ib.read_iceberg(spark, path)  # warm the per-file memos
            with py4j_calls() as calls:
                got = ib.read_iceberg(spark, path)
            plan = got._jdf.queryExecution().analyzed().toString()
            shape[n] = (
                plan.count("Relation ["), plan.count("LeftAnti"), calls[0]
            )
    # upsert n rewrites keys [5n, 5n + 10) with v = 10k + n; last wins
    tag = {k: n for n in range(1, 5) for k in range(5 * n, 5 * n + 10)}
    got = {r["doc_id"]: r["v"] for r in got.collect()}
    assert got == {k: k * 10 + tag.get(k, 0) for k in range(40)}
    assert shape[4][:2] == shape[1][:2] == (2, 1), shape
    assert shape[4][2] <= 1.2 * shape[1][2], shape


def test_upsert_iceberg_refuses_schema_mismatch(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    ib.write_iceberg(_df(spark, 0, 5), path)
    import pytest as _pt

    with _pt.raises(ValueError, match="schema"):
        ib.upsert_iceberg(
            spark, _df(spark, 0, 1).drop("v"), path, ["doc_id"]
        )


def test_upsert_iceberg_large_batch_distributed_landing(spark, tmp_path):
    """r15 scale pin: a ≥10⁵-distinct-key upsert lands its equality
    delete WITHOUT pooling the key set on the driver — the landing is
    a distributed Spark write (possibly several eq-delete files per
    commit, spec-legal), and the result is still row-exact."""
    path = os.path.join(tmp_path, "t")
    base = spark.range(0, 120_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("lang"),
        (F.col("id") * 10).alias("v"),
    )
    ib.write_iceberg(base.repartition(8), path, format_version=2)
    # replace every even key, insert 5k new keys — >100k distinct keys
    ups = spark.range(0, 120_000, 2).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("lang"),
        (F.col("id") * 10 + 1).alias("v"),
    ).unionByName(
        spark.range(1_000_000, 1_005_000).select(
            F.col("id").alias("doc_id"),
            F.lit("x").alias("lang"),
            F.lit(-1).cast("bigint").alias("v"),
        )
    ).repartition(8)
    ib.upsert_iceberg(spark, ups, path, ["doc_id"])
    got = ib.read_iceberg(spark, path)
    assert got.count() == 125_000
    chk = got.agg(
        F.sum(
            F.when(
                (F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 120_000),
                F.col("v") - F.col("doc_id") * 10,
            ).otherwise(F.lit(0))
        ).alias("even_delta"),
        F.sum(F.when(F.col("doc_id") >= 1_000_000, 1).otherwise(0)).alias(
            "n_new"
        ),
    ).first()
    # every even pre-existing row carries the +1 post-image
    assert chk["even_delta"] == 60_000
    assert chk["n_new"] == 5_000


def test_upsert_and_merge_sql_path_never_collect_keys():
    """Grep-assertable r15 pin: neither `upsert_iceberg` nor the SQL
    MERGE dispatcher materializes the key set with .collect() — the
    eq-delete landing is executor-side (`_land_eq_deletes_df`)."""
    import inspect

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        lakesql,
    )

    for fn in (
        ib.upsert_iceberg,
        ib.delete_eq_iceberg_df,
        ib._land_eq_deletes_df,
        lakesql._exec_merge,
    ):
        assert ".collect(" not in inspect.getsource(fn), fn.__name__


def test_delete_eq_iceberg_df_matches_list_variant(spark, tmp_path):
    """The DataFrame twin removes exactly the keyed rows (no-op on an
    empty frame) and composes with the strictly-below sequence rule
    like the list variant."""
    path = os.path.join(tmp_path, "t")
    ib.write_iceberg(_df(spark, 0, 20).repartition(3), path,
                     format_version=2)
    snap0 = ib.delete_eq_iceberg_df(
        spark,
        spark.range(0, 0).select(F.col("id").alias("doc_id")),
        path, ["doc_id"],
    )  # empty: no-op, returns current snapshot
    assert snap0 == int(ib.iceberg_snapshots(path)[-1]["snapshot_id"])
    keys = spark.createDataFrame([(3,), (7,), (11,)], "doc_id bigint")
    ib.delete_eq_iceberg_df(spark, keys, path, ["doc_id"])
    got = {r["doc_id"] for r in ib.read_iceberg(spark, path).collect()}
    assert got == set(range(20)) - {3, 7, 11}
    # rows re-appended AFTER the delete survive (seq gating)
    ib.write_iceberg(_df(spark, 7, 8, tag=5), path, mode="append")
    got2 = {r["doc_id"] for r in ib.read_iceberg(spark, path).collect()}
    assert got2 == (set(range(20)) - {3, 11})


# --------------------------------------------------------------------------
# v3 default values on added columns
# --------------------------------------------------------------------------


def test_add_column_with_default_fills_old_files(spark, tmp_path):
    """initial-default applies to files that PREDATE the column; files
    written after carry real values — including real NULLs, which must
    NOT be overwritten by the default (presence is per-file, from the
    entry's field-id stats)."""
    path = os.path.join(tmp_path, "t")
    ib.write_iceberg(_df(spark, 0, 10).repartition(2), path)
    ib.evolve_iceberg_schema(path, add=[("score", "long", 7)])
    got = {r["doc_id"]: r["score"] for r in ib.read_iceberg(spark, path).collect()}
    assert got == {i: 7 for i in range(10)}
    new = _df(spark, 10, 14).withColumn(
        "score",
        F.when(F.col("doc_id") == 13, F.lit(None)).otherwise(
            F.col("doc_id") * 100
        ).cast("long"),
    )
    ib.write_iceberg(new, path)
    got = {r["doc_id"]: r["score"] for r in ib.read_iceberg(spark, path).collect()}
    assert all(got[i] == 7 for i in range(10))
    assert got[10] == 1000 and got[12] == 1200
    assert got[13] is None  # a REAL null in a new file stays null


def test_add_column_without_default_reads_null(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    ib.write_iceberg(_df(spark, 0, 6), path)
    ib.evolve_iceberg_schema(path, add=[("note", "string")])
    got = ib.read_iceberg(spark, path).select("note").distinct().collect()
    assert [r["note"] for r in got] == [None]


def test_default_refuses_unsupported_type(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    ib.write_iceberg(_df(spark, 0, 3), path)
    with pytest.raises(ValueError, match="default"):
        ib.evolve_iceberg_schema(path, add=[("ts", "timestamp", 5)])


def test_default_survives_mor_delete_and_compaction(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    ib.write_iceberg(_df(spark, 0, 20).repartition(2), path,
                     format_version=2)
    ib.evolve_iceberg_schema(path, add=[("score", "long", 7)])
    ib.delete_where_iceberg(
        spark, path, "doc_id", 0, 4, strategy="merge-on-read"
    )
    got = {r["doc_id"]: r["score"] for r in ib.read_iceberg(spark, path).collect()}
    assert got == {i: 7 for i in range(5, 20)}
    ib.compact_iceberg(spark, path)
    # compaction MATERIALIZES the default into the rewritten files
    got = {r["doc_id"]: r["score"] for r in ib.read_iceberg(spark, path).collect()}
    assert got == {i: 7 for i in range(5, 20)}


# --------------------------------------------------------------------------
# type promotion (int→long, float→double) — metadata-only
# --------------------------------------------------------------------------


def test_widen_iceberg_int_to_long(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    df = spark.range(0, 40).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") * 3).cast("int").alias("n"),
    )
    ib.write_iceberg(df.repartition(3), path)
    ib.evolve_iceberg_schema(path, widen={"n": "long"})
    got = ib.read_iceberg(spark, path)
    assert dict(got.dtypes)["n"] == "bigint"
    assert sorted(r["n"] for r in got.collect()) == [i * 3 for i in range(40)]
    # new appends may exceed int range
    ib.write_iceberg(
        spark.range(40, 42).select(
            F.col("id").cast("bigint").alias("doc_id"),
            (F.col("id") + 2**40).cast("bigint").alias("n"),
        ),
        path,
    )
    vals = sorted(r["n"] for r in ib.read_iceberg(spark, path).collect())
    assert vals[-1] == 41 + 2**40
    # data skipping still reads OLD 4-byte bounds correctly
    pruned, read, skipped, _m = ib.read_iceberg_pruned(spark, path, "n", 9, 9)
    assert [r["n"] for r in pruned.collect()] == [9]
    assert skipped >= 1


def test_widen_iceberg_refuses_narrowing(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    ib.write_iceberg(_df(spark, 0, 5), path)
    with pytest.raises(ValueError, match="promot"):
        ib.evolve_iceberg_schema(path, widen={"v": "int"})


# --------------------------------------------------------------------------
# sort orders (write-side clustering metadata)
# --------------------------------------------------------------------------


def test_write_iceberg_sort_by_registers_and_clusters(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    df = spark.range(0, 4000).select(
        ((F.col("id") * 2654435761) % 4000).cast("bigint").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
        F.col("id").cast("bigint").alias("v"),
    ).repartition(8)
    ib.write_iceberg(df, path, format_version=2, sort_by=["doc_id"])
    meta = ib.current_metadata(path)
    orders = {so["order-id"]: so for so in meta["sort-orders"]}
    oid = meta["default-sort-order-id"]
    assert oid != 0 and orders[oid]["fields"][0]["direction"] == "asc"
    # every data file is stamped with the order id; bounds are DISJOINT
    snap = ib._snapshot(meta, None)
    entries = ib._live_entries(path, meta, snap)
    assert all(
        e["data_file"].get("sort_order_id") == oid for e in entries
    )
    fid = next(f["id"] for f in ib._schema_of(meta) if f["name"] == "doc_id")
    bounds = sorted(
        (
            ib.deser_value("long", ib._norm_id_map(
                e["data_file"]["lower_bounds"])[fid]),
            ib.deser_value("long", ib._norm_id_map(
                e["data_file"]["upper_bounds"])[fid]),
        )
        for e in entries
    )
    assert len(bounds) > 1
    for (_lo1, hi1), (lo2, _hi2) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2
    # ...so a point lookup prunes all but one file
    pruned, n_read, n_skipped, _m = ib.read_iceberg_pruned(
        spark, path, "doc_id", 17, 17
    )
    assert [r["doc_id"] for r in pruned.collect()] == [17]
    assert n_read == 1 and n_skipped == len(bounds) - 1
    # same definition on a later append REUSES the registered order
    ib.write_iceberg(
        spark.range(4000, 4100).select(
            F.col("id").cast("bigint").alias("doc_id"),
            (F.col("id") % 3).cast("string").alias("lang"),
            F.col("id").cast("bigint").alias("v"),
        ),
        path,
        sort_by=["doc_id"],
    )
    meta2 = ib.current_metadata(path)
    assert len(meta2["sort-orders"]) == len(meta["sort-orders"])
    assert meta2["default-sort-order-id"] == oid


def test_write_iceberg_sort_by_desc_and_refusal(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    ib.write_iceberg(
        _df(spark, 0, 50), path, format_version=2, sort_by=["-v"]
    )
    meta = ib.current_metadata(path)
    so = next(
        s
        for s in meta["sort-orders"]
        if s["order-id"] == meta["default-sort-order-id"]
    )
    assert so["fields"][0]["direction"] == "desc"
    assert so["fields"][0]["null-order"] == "nulls-last"
    with pytest.raises(ValueError, match="sort column"):
        ib.write_iceberg(_df(spark, 50, 60), path, sort_by=["nope"])


def test_changelog_over_equality_deletes(spark, tmp_path):
    """read_changes_iceberg over equality-delete snapshots (r11 — was
    a refusal): a global eq delete reports exactly the rows it hid
    (only rows with STRICTLY OLDER data sequence); a partition-scoped
    eq delete reports only its partition's rows; the engine's own
    atomic upsert snapshot reports its inserts AND the old images it
    replaced; rows hidden by PRIOR deletes are not re-reported."""
    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 20), path)            # snap 1
    ib.delete_eq_iceberg(path, ["doc_id"], [3, 4, 99])   # snap 2
    ib.write_iceberg(_df(spark, 3, 5, tag=7), path)      # snap 3: re-adds
    ib.delete_eq_iceberg(path, ["doc_id"], [4, 10])      # snap 4
    ch = ib.read_changes_iceberg(spark, path)
    legs = {}
    for r in ch.collect():
        legs.setdefault(
            (r["_snapshot_ordinal"], r["_change_type"]), []
        ).append((r["doc_id"], r["v"]))
    assert sorted(d for d, _v in legs[(1, "insert")]) == list(range(20))
    # snap 2: hid 3 and 4 (99 matches nothing — no phantom row)
    assert sorted(d for d, _v in legs[(2, "delete")]) == [3, 4]
    assert sorted(d for d, _v in legs[(3, "insert")]) == [3, 4]
    # snap 4: doc 4's LIVE image is the re-added (tag=7) one; doc 3's
    # re-add survives (not in the delete); doc 10's original row hides;
    # the snap-2-hidden originals are NOT re-reported
    got4 = sorted(legs[(4, "delete")])
    assert got4 == [(4, 47), (10, 100)]
    assert set(legs) == {
        (1, "insert"), (2, "delete"), (3, "insert"), (4, "delete"),
    }
    # matches a full-snapshot restatement: current = inserts - deletes
    live = sorted(
        (r["doc_id"], r["v"])
        for r in ib.read_iceberg(spark, path).select("doc_id", "v").collect()
    )
    folded: dict = {}
    for (ordinal, ct), rows in sorted(legs.items()):
        for d, v in rows:
            if ct == "insert":
                folded[(d, v)] = True
            else:
                folded.pop((d, v), None)
    assert sorted(folded) == live


def test_changelog_partition_scoped_eq_delete(spark, tmp_path):
    """A partition-scoped equality delete's changelog leg only scans
    (and only reports) the scoped partition."""
    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 30), path, partition_by=["lang"])
    # doc_id % 3 == lang; delete key doc_id=7 scoped to lang='1' hits,
    # the same key scoped to lang='2' does not
    ib.delete_eq_iceberg(
        path, ["doc_id"], [7], partition_scope={"lang": "1"}
    )
    ib.delete_eq_iceberg(
        path, ["doc_id"], [8], partition_scope={"lang": "1"}
    )  # wrong partition for doc 8 (lang '2'): hides nothing
    ch = ib.read_changes_iceberg(spark, path)
    dels = sorted(
        r["doc_id"] for r in ch.filter("_change_type = 'delete'").collect()
    )
    assert dels == [7]
    assert ib.read_iceberg(spark, path).count() == 29


def test_changelog_upsert_snapshot(spark, tmp_path):
    """The engine's own upsert_iceberg commit (eq delete + data at the
    SAME sequence) changelog-reads as old-image deletes + new-image
    inserts in one ordinal."""
    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 10), path)
    up = _df(spark, 5, 12, tag=3)  # 5-9 replace, 10-11 fresh
    ib.upsert_iceberg(spark, up, path, keys=["doc_id"])
    ch = ib.read_changes_iceberg(spark, path)
    legs = {}
    for r in ch.collect():
        legs.setdefault(
            (r["_snapshot_ordinal"], r["_change_type"]), []
        ).append((r["doc_id"], r["v"]))
    assert sorted(d for d, _v in legs[(2, "insert")]) == list(range(5, 12))
    # deletes: the REPLACED old images only (tag 0), not the new rows
    assert sorted(legs[(2, "delete")]) == [(d, d * 10) for d in range(5, 10)]


def test_reads_foreign_avro_data_and_delete_files(spark, tmp_path):
    """A v2 tree mixing PARQUET and AVRO data files plus AVRO
    position- AND equality-delete files — the layout Flink sinks land
    by default (r11; Avro data/deletes previously unreadable).  The
    Avro decode runs distributed (avrotiny in mapInPandas), `pos` is
    the record ordinal within its Avro file, date/timestamp logical
    ints convert to real Spark values, and all three delete kinds
    apply across both formats."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        avrotiny as av,
    )

    path = str(tmp_path / "flinkish")
    data_dir = os.path.join(path, "data")
    md = os.path.join(path, "metadata")
    os.makedirs(data_dir)
    os.makedirs(md)
    epoch_d = datetime.date(1970, 1, 1)

    def d(i):
        return datetime.date(2021, 1, 1) + datetime.timedelta(days=i)

    def ts_us(i):
        return 1_600_000_000_000_000 + i * 1_000_000

    # parquet data file: doc_id 0-4
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1, 2, 3, 4], pa.int64()),
                "name": [f"p{i}" for i in range(5)],
                "d": pa.array([d(i) for i in range(5)], pa.date32()),
                "ts": pa.array(
                    [ts_us(i) for i in range(5)],
                    pa.timestamp("us", tz="UTC"),
                ),
            }
        ),
        os.path.join(data_dir, "f1.parquet"),
    )
    # AVRO data file: doc_id 10-14, logical date/timestamp ints
    avro_data_schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {
                "name": "ts",
                "type": {
                    "type": "long",
                    "logicalType": "timestamp-micros",
                },
            },
        ],
    }
    av.write_container(
        os.path.join(data_dir, "av1.avro"),
        avro_data_schema,
        [
            {
                "doc_id": 10 + i,
                "name": f"a{i}",
                "d": (d(10 + i) - epoch_d).days,
                "ts": ts_us(10 + i),
            }
            for i in range(5)
        ],
        codec="null",
    )
    # AVRO position-delete file: hides parquet pos 0 (doc 0) and avro
    # pos 1 (doc 11)
    posdel_schema = {
        "type": "record",
        "name": "posdel",
        "fields": [
            {"name": "file_path", "type": "string",
             "field-id": 2147483546},
            {"name": "pos", "type": "long", "field-id": 2147483545},
        ],
    }
    av.write_container(
        os.path.join(data_dir, "pd1.avro"),
        posdel_schema,
        [
            {"file_path": "data/f1.parquet", "pos": 0},
            {"file_path": "data/av1.avro", "pos": 1},
        ],
        codec="null",
    )
    # AVRO equality-delete file: hides doc_id 13 (and 2 — both formats)
    eqdel_schema = {
        "type": "record",
        "name": "eqdel",
        "fields": [{"name": "doc_id", "type": "long", "field-id": 1}],
    }
    av.write_container(
        os.path.join(data_dir, "ed1.avro"),
        eqdel_schema,
        [{"doc_id": 13}, {"doc_id": 2}],
        codec="null",
    )
    entry_schema = ib._manifest_entry_schema(
        {"type": "record", "name": "r102", "fields": []}, fv=2
    )

    def entry(fp, fmt, n, content=0, eq_ids=None, seq=None):
        return {
            "status": 1,
            "snapshot_id": 7,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": content,
                "file_path": fp,  # RELATIVE, like real engines
                "file_format": fmt,
                "partition": {},
                "record_count": n,
                "file_size_in_bytes": 1,
                "value_counts": None,
                "null_value_counts": None,
                "lower_bounds": None,
                "upper_bounds": None,
                "split_offsets": None,
                "equality_ids": eq_ids,
                "sort_order_id": None,
            },
        }

    av.write_container(
        os.path.join(md, "dm.avro"),
        entry_schema,
        [
            entry("data/f1.parquet", "PARQUET", 5),
            entry("data/av1.avro", "AVRO", 5),
        ],
        codec="null",
    )
    av.write_container(
        os.path.join(md, "del.avro"),
        entry_schema,
        [
            entry("data/pd1.avro", "AVRO", 2, content=1),
            entry("data/ed1.avro", "AVRO", 2, content=2, eq_ids=[1]),
        ],
        codec="null",
    )
    ml_schema = ib._manifest_file_schema(fv=2)

    def mf(p, content, seq):
        return {
            "manifest_path": p,
            "manifest_length": 1,
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": 7,
            "added_data_files_count": 2,
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "partitions": None,
            "added_rows_count": 10,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }

    av.write_container(
        os.path.join(md, "ml.avro"),
        ml_schema,
        [mf("metadata/dm.avro", 0, 1), mf("metadata/del.avro", 1, 2)],
        codec="deflate",
    )
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-0000000000av",
        "location": path,
        "last-sequence-number": 2,
        "last-updated-ms": 1,
        "last-column-id": 4,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "doc_id", "required": False,
                     "type": "long"},
                    {"id": 2, "name": "name", "required": False,
                     "type": "string"},
                    {"id": 3, "name": "d", "required": False,
                     "type": "date"},
                    {"id": 4, "name": "ts", "required": False,
                     "type": "timestamptz"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "snapshots": [
            {
                "snapshot-id": 7,
                "timestamp-ms": 1,
                "sequence-number": 2,
                "summary": {"operation": "append"},
                "manifest-list": "metadata/ml.avro",
                "schema-id": 0,
            }
        ],
        "current-snapshot-id": 7,
        "snapshot-log": [],
        "metadata-log": [],
        "properties": {},
    }
    with open(os.path.join(md, "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(md, "version-hint.text"), "w") as f:
        f.write("1")
    got = ib.read_iceberg(spark, path).select(
        "doc_id", "name", "d", F.unix_micros("ts").alias("us")
    )
    rows = sorted(tuple(r) for r in got.collect())
    survivors = [1, 3, 4, 10, 12, 14]  # 0,11 pos-deleted; 2,13 eq-deleted
    expected = sorted(
        (
            i,
            (f"p{i}" if i < 5 else f"a{i - 10}"),
            d(i),
            ts_us(i),
        )
        for i in survivors
    )
    assert rows == expected


def test_changelog_same_snapshot_pos_and_eq_reports_once(spark, tmp_path):
    """A snapshot adding BOTH a position-delete file and an
    equality-delete file hiding an overlapping row reports that row as
    'delete' exactly ONCE (r12 fix: the eq leg's pre-image diff now
    masks the snapshot's own new pos/DV deletes, so a row the pos leg
    already emitted cannot survive into the eq exceptAll diff)."""
    path = str(tmp_path / "ice")
    ib.write_iceberg(_df(spark, 0, 10), path)
    meta = ib.current_metadata(path)
    fields = ib._schema_of(meta)
    schema_json = {"type": "struct", "schema-id": 0, "fields": fields}
    live = ib._live_entries(path, meta, ib._snapshot(meta, None))
    scan = ib._read_entries(spark, path, meta, live, keep_identity=True)
    matches = scan.filter("doc_id = 3").select(ib._IB_FILE, ib._IB_POS)
    pos_recs = ib._land_position_deletes(spark, path, matches, live, [])
    # eq delete keys overlap the pos delete (doc 3) and add doc 5
    eq_rec = ib._land_eq_delete(path, fields, ["doc_id"], [3, 5], {})

    def build(base, snapshot_id, seq, fv):
        mfs = ib._read_manifest_list(path, ib._snapshot(base, None))
        entries = [
            {"status": 1, "snapshot_id": snapshot_id, "data_file": d}
            for d in pos_recs + [eq_rec]
        ]
        del_mf = ib._write_manifest(
            path, entries, snapshot_id, fields, [], schema_json,
            fv=fv, content="deletes", seq=seq, spec_id=0,
        )
        return list(mfs) + [del_mf]

    ib._commit_snapshot(path, "delete", build, format_version=2)
    assert sorted(
        r["doc_id"] for r in ib.read_iceberg(spark, path).collect()
    ) == [0, 1, 2, 4, 6, 7, 8, 9]
    ch = ib.read_changes_iceberg(spark, path)
    dels = sorted(
        r["doc_id"]
        for r in ch.filter("_change_type = 'delete'").collect()
    )
    assert dels == [3, 5]  # doc 3 exactly once, never twice


def test_uniform_over_column_mapped_delta(spark, tmp_path):
    """uniform_iceberg_metadata over a NAME-mode column-mapped Delta
    table (r12 — was a refusal): Iceberg field-ids come from
    delta.columnMapping.id, the physical parquet names resolve through
    the spec's schema.name-mapping.default property, partition columns
    normalize physical→logical, and stats-driven pruning still works.
    Combined with a DV delete the same table round-trips through BOTH
    protocols value-exactly."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "mapdual")
    dp.write_delta(
        _df(spark, 0, 30).repartitionByRange(3, "doc_id"),
        path,
        partition_by=["lang"],
    )
    # renaming enables name-mode mapping (physical names = old names)
    dp.rename_delta_column(spark, path, "v", "val")
    dp.write_delta(
        _df(spark, 30, 40).withColumnRenamed("v", "val"),
        path,
        mode="append",
    )
    ib.uniform_iceberg_metadata(spark, path)
    meta = ib.current_metadata(path)
    nm = ib._name_mapping(meta)
    by_name = {f["name"]: f for f in ib._schema_of(meta)}
    assert nm[by_name["val"]["id"]] == ["v"]  # physical name mapped
    got = sorted(
        (r["doc_id"], r["lang"], r["val"])
        for r in ib.read_iceberg(spark, path).collect()
    )
    assert got == [
        (r["doc_id"], r["lang"], r["v"])
        for r in _df(spark, 0, 40).orderBy("doc_id").collect()
    ]
    # pruning off converted stats still skips files
    _g, _nr, nskip, _ms = ib.read_iceberg_pruned(spark, path, "doc_id", 0, 4)
    assert nskip > 0
    # DV delete on the MAPPED table: both protocols hide the same rows
    dp.delete_where_delta(spark, path, "doc_id", 10, 14, strategy="dv")
    ib.uniform_iceberg_metadata(spark, path)
    assert ib.current_metadata(path)["format-version"] == 3
    ice = sorted(
        (r["doc_id"], r["lang"], r["val"])
        for r in ib.read_iceberg(spark, path).collect()
    )
    delta = sorted(
        (r["doc_id"], r["lang"], r["val"])
        for r in dp.read_delta(spark, path).collect()
    )
    assert ice == delta
    assert sorted(d for d, _l, _v in ice) == [
        i for i in range(40) if not 10 <= i <= 14
    ]


def test_reads_foreign_orc_data_and_delete_files(spark, tmp_path):
    """A v2 tree mixing PARQUET and ORC data files plus ORC position-
    AND equality-delete files — the Hive-lineage layout (r12; ORC
    previously refused).  This Spark build's ORC reader exposes no
    `_metadata.row_index` (probed), so the ORC decode runs distributed
    via pyarrow.orc in mapInPandas with `pos` = row ordinal within the
    file, and all delete kinds apply across both formats; a column
    absent from one ORC file reads as NULL (schema evolution)."""
    import datetime

    import pyarrow as pa
    import pyarrow.orc as po
    import pyarrow.parquet as pq

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        avrotiny as av,
    )

    path = str(tmp_path / "hiveish")
    data_dir = os.path.join(path, "data")
    md = os.path.join(path, "metadata")
    os.makedirs(data_dir)
    os.makedirs(md)

    def d(i):
        return datetime.date(2021, 1, 1) + datetime.timedelta(days=i)

    # parquet data file: doc_id 0-4
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1, 2, 3, 4], pa.int64()),
                "name": [f"p{i}" for i in range(5)],
                "d": pa.array([d(i) for i in range(5)], pa.date32()),
            }
        ),
        os.path.join(data_dir, "f1.parquet"),
    )
    # ORC data file: doc_id 10-14
    po.write_table(
        pa.table(
            {
                "doc_id": pa.array([10 + i for i in range(5)], pa.int64()),
                "name": [f"o{i}" for i in range(5)],
                "d": pa.array([d(10 + i) for i in range(5)], pa.date32()),
            }
        ),
        os.path.join(data_dir, "o1.orc"),
    )
    # ORC data file WITHOUT the `d` column (pre-evolution writer)
    po.write_table(
        pa.table(
            {
                "doc_id": pa.array([20], pa.int64()),
                "name": ["old0"],
            }
        ),
        os.path.join(data_dir, "o2.orc"),
    )
    # ORC position-delete file: hides parquet pos 0 (doc 0) and ORC
    # pos 1 (doc 11)
    po.write_table(
        pa.table(
            {
                "file_path": ["data/f1.parquet", "data/o1.orc"],
                "pos": pa.array([0, 1], pa.int64()),
            }
        ),
        os.path.join(data_dir, "pd1.orc"),
    )
    # ORC equality-delete file: hides doc_id 13 and 2 (both formats)
    po.write_table(
        pa.table({"doc_id": pa.array([13, 2], pa.int64())}),
        os.path.join(data_dir, "ed1.orc"),
    )
    entry_schema = ib._manifest_entry_schema(
        {"type": "record", "name": "r102", "fields": []}, fv=2
    )

    def entry(fp, fmt, n, content=0, eq_ids=None, seq=None):
        return {
            "status": 1,
            "snapshot_id": 7,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": content,
                "file_path": fp,
                "file_format": fmt,
                "partition": {},
                "record_count": n,
                "file_size_in_bytes": 1,
                "value_counts": None,
                "null_value_counts": None,
                "lower_bounds": None,
                "upper_bounds": None,
                "split_offsets": None,
                "equality_ids": eq_ids,
                "sort_order_id": None,
            },
        }

    av.write_container(
        os.path.join(md, "dm.avro"),
        entry_schema,
        [
            entry("data/f1.parquet", "PARQUET", 5),
            entry("data/o1.orc", "ORC", 5),
            entry("data/o2.orc", "ORC", 1),
        ],
        codec="null",
    )
    av.write_container(
        os.path.join(md, "del.avro"),
        entry_schema,
        [
            entry("data/pd1.orc", "ORC", 2, content=1),
            entry("data/ed1.orc", "ORC", 2, content=2, eq_ids=[1]),
        ],
        codec="null",
    )
    ml_schema = ib._manifest_file_schema(fv=2)

    def mf(p, content, seq):
        return {
            "manifest_path": p,
            "manifest_length": 1,
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": 7,
            "added_data_files_count": 2,
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "partitions": None,
            "added_rows_count": 11,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }

    av.write_container(
        os.path.join(md, "ml.avro"),
        ml_schema,
        [mf("metadata/dm.avro", 0, 1), mf("metadata/del.avro", 1, 2)],
        codec="deflate",
    )
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-0000000000bc",
        "location": path,
        "last-sequence-number": 2,
        "last-updated-ms": 1,
        "last-column-id": 3,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "doc_id", "required": False,
                     "type": "long"},
                    {"id": 2, "name": "name", "required": False,
                     "type": "string"},
                    {"id": 3, "name": "d", "required": False,
                     "type": "date"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "snapshots": [
            {
                "snapshot-id": 7,
                "timestamp-ms": 1,
                "sequence-number": 2,
                "summary": {"operation": "append"},
                "manifest-list": "metadata/ml.avro",
                "schema-id": 0,
            }
        ],
        "current-snapshot-id": 7,
        "snapshot-log": [],
        "metadata-log": [],
        "properties": {},
    }
    with open(os.path.join(md, "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(md, "version-hint.text"), "w") as f:
        f.write("1")
    got = ib.read_iceberg(spark, path)
    rows = sorted(
        (r["doc_id"], r["name"], r["d"]) for r in got.collect()
    )
    survivors = [1, 3, 4, 10, 12, 14]  # 0,11 pos-deleted; 2,13 eq-deleted
    expected = sorted(
        (i, (f"p{i}" if i < 5 else f"o{i - 10}"), d(i)) for i in survivors
    ) + [(20, "old0", None)]
    assert rows == sorted(expected)


def test_uniform_delta_metadata_over_iceberg(spark, tmp_path):
    """uniform_delta_metadata (REVERSE UniForm — the XTable direction):
    the generated Delta log reads IDENTICALLY to the Iceberg tree —
    identity partitions become Delta partitionColumns with hive-string
    values, v2 POSITION deletes re-serialize as Delta deletion vectors
    (the protocol climbs to the features tier), entry bounds become
    add-action stats, and a refresh tracks new Iceberg snapshots."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "rev")
    ib.write_iceberg(
        _df(spark, 0, 30).repartition(3), path, partition_by=["lang"]
    )
    v0 = ib.uniform_delta_metadata(spark, path)
    assert v0 == 0
    meta, live, _ = dp._fold_delta_state(spark, path, None)
    assert meta["partitionColumns"] == ["lang"]
    assert dp._current_protocol(path) == {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    assert _rows(dp.read_delta(spark, path)) == _rows(
        ib.read_iceberg(spark, path)
    )
    # converted stats carry numeric bounds for data skipping
    sts = [json.loads(a["stats"]) for a in live.values()]
    assert sum(s["numRecords"] for s in sts) == 30
    assert all("doc_id" in s["minValues"] for s in sts)
    assert all("lang" not in s["minValues"] for s in sts)  # partition col
    # a MOR position delete converts into a Delta deletion vector
    ib.delete_where_iceberg(
        spark, path, "doc_id", 5, 14, strategy="merge-on-read"
    )
    ib.uniform_delta_metadata(spark, path)
    proto = dp._current_protocol(path)
    assert "deletionVectors" in proto["readerFeatures"]
    got = _rows(dp.read_delta(spark, path))
    assert got == _rows(ib.read_iceberg(spark, path))
    assert sorted(d for d, _l, _v in got) == [
        i for i in range(30) if not 5 <= i <= 14
    ]
    # refresh after an append reconciles (removes stale, adds new)
    ib.write_iceberg(_df(spark, 30, 40), path, mode="append")
    ib.uniform_delta_metadata(spark, path)
    assert _rows(dp.read_delta(spark, path)) == _rows(
        ib.read_iceberg(spark, path)
    )
    # COW compaction clears the delete files; the Delta view follows
    ib.compact_iceberg(spark, path)
    ib.uniform_delta_metadata(spark, path)
    assert _rows(dp.read_delta(spark, path)) == _rows(
        ib.read_iceberg(spark, path)
    )


def test_uniform_delta_metadata_dv_transforms_eq(spark, tmp_path):
    """The reverse-uniform edges: a v3 Puffin deletion vector converts
    into the Delta DV framing (same hidden positions); a bucket-
    partitioned table converts as UNPARTITIONED Delta (transform
    source columns live in the files per the spec); equality deletes
    MATERIALIZE into deletion vectors — including the upsert shape
    where a key re-appended AFTER the delete survives (sequence
    strictly-below rule)."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    # v3 DV leg
    p1 = str(tmp_path / "dv")
    ib.write_iceberg(_df(spark, 0, 24).repartition(2), p1, format_version=3)
    ib.delete_where_iceberg(
        spark, p1, "doc_id", 3, 8, strategy="merge-on-read"
    )
    meta = ib.current_metadata(p1)
    _pos, _eq, dvs = ib._delete_files(
        p1, ib._read_manifest_list(p1, ib._snapshot(meta, None))
    )
    assert dvs  # v3 landed genuine Puffin DVs, not pos-delete parquet
    ib.uniform_delta_metadata(spark, p1)
    got = _rows(dp.read_delta(spark, p1))
    assert got == _rows(ib.read_iceberg(spark, p1))
    assert sorted(d for d, _l, _v in got) == [
        i for i in range(24) if not 3 <= i <= 8
    ]
    # bucket transform -> unpartitioned Delta view, values whole
    p2 = str(tmp_path / "bkt")
    ib.write_iceberg(_df(spark, 0, 20), p2, partition_by=["bucket(4, doc_id)"])
    ib.uniform_delta_metadata(spark, p2)
    meta_d, _live, _ = dp._fold_delta_state(spark, p2, None)
    assert meta_d["partitionColumns"] == []
    assert _rows(dp.read_delta(spark, p2)) == _rows(
        ib.read_iceberg(spark, p2)
    )
    # equality deletes materialize — upsert shape: key 2 re-appended
    # AFTER the delete survives while the pre-delete originals hide
    p3 = str(tmp_path / "eq")
    ib.write_iceberg(_df(spark, 0, 10), p3, format_version=2)
    ib.delete_eq_iceberg(p3, ["doc_id"], [1, 2])
    ib.write_iceberg(_df(spark, 2, 3, tag=7), p3, mode="append")
    ib.uniform_delta_metadata(spark, p3)
    got = _rows(dp.read_delta(spark, p3))
    assert got == _rows(ib.read_iceberg(spark, p3))
    ids = sorted(d for d, _l, _v in got)
    assert ids == [0, 2, 3, 4, 5, 6, 7, 8, 9]
    assert next(v for d, _l, v in got if d == 2) == 27  # the upsert won
    proto = dp._current_protocol(p3)
    assert "deletionVectors" in proto["readerFeatures"]


def test_partition_statistics_file(spark, tmp_path):
    """write_iceberg_partition_stats: the spec's partition statistics
    file — one row per (spec_id, partition), data/delete record+file
    counts from manifest metadata only, the partition column typed as
    the UNIFIED struct across evolved specs; registered in table
    metadata `partition-statistics`, pruned by snapshot expiry, and
    its file pinned against orphan removal."""
    path = str(tmp_path / "pstats")
    ib.write_iceberg(
        _df(spark, 0, 30).repartition(2), path, partition_by=["lang"]
    )
    ib.write_iceberg(_df(spark, 30, 45), path, mode="append")
    ib.delete_where_iceberg(
        spark, path, "doc_id", 10, 19, strategy="merge-on-read"
    )
    ib.write_iceberg_partition_stats(path)
    stats = {
        r["partition"]["lang"]: r
        for r in ib.read_iceberg_meta(spark, path, "partition_stats")
        .collect()
    }
    live = {
        r["lang"]: r["n"]
        for r in ib.read_iceberg(spark, path)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(stats) == set(live)
    for lang, r in stats.items():
        assert (
            r["data_record_count"] - r["position_delete_record_count"]
            == live[lang]
        )
        assert r["data_file_count"] >= 1
        assert r["total_data_file_size_in_bytes"] > 0
        assert r["equality_delete_record_count"] == 0
    assert sum(r["data_record_count"] for r in stats.values()) == 45
    assert sum(r["position_delete_record_count"] for r in stats.values()) == 10
    # partition evolution: a second spec joins the same stats file
    ib.evolve_iceberg_spec(path, [])
    ib.write_iceberg(_df(spark, 45, 50), path, mode="append")
    ib.write_iceberg_partition_stats(path)
    df2 = ib.read_iceberg_meta(spark, path, "partition_stats")
    rows2 = df2.collect()
    assert sorted(set(r["spec_id"] for r in rows2)) == [0, 1]
    unpart = [r for r in rows2 if r["spec_id"] == 1]
    assert len(unpart) == 1 and unpart[0]["partition"]["lang"] is None
    assert unpart[0]["data_record_count"] == 5
    # two registrations now; expiry prunes the dead one, orphan
    # removal deletes its file but never the registered survivor
    meta = ib.current_metadata(path)
    assert len(meta.get("partition-statistics") or []) == 2
    ib.expire_iceberg_snapshots(path, keep_last=1)
    meta = ib.current_metadata(path)
    regs = meta.get("partition-statistics") or []
    assert [e["snapshot-id"] for e in regs] == [
        meta["current-snapshot-id"]
    ]
    n = ib.remove_orphan_iceberg_files(path, min_age_s=0.0)
    assert n > 0
    # the registered stats file survives and still reads
    assert ib.read_iceberg_meta(spark, path, "partition_stats").count() == len(rows2)
    # the stale one is gone from disk
    import glob as _glob

    assert len(
        _glob.glob(os.path.join(path, "metadata", "partition-stats-*.parquet"))
    ) == 1
    # refusal before any stats are written
    p2 = str(tmp_path / "nostats")
    ib.write_iceberg(_df(spark, 0, 5), p2)
    with pytest.raises(ValueError, match="partition statistics"):
        ib.read_iceberg_meta(spark, p2, "partition_stats")


def test_timestamp_as_of_read(spark, tmp_path):
    """`TIMESTAMP AS OF` through the snapshot-log: each commit's
    made-current instant serves exactly that snapshot's rows; a
    pre-history timestamp refuses (expired history must never silently
    serve the oldest survivor); combining selectors refuses."""
    import time as _time

    path = str(tmp_path / "tsread")
    ib.write_iceberg(_df(spark, 0, 5), path)
    meta1 = ib.current_metadata(path)
    t1 = meta1["snapshot-log"][-1]["timestamp-ms"]
    _time.sleep(0.02)
    ib.write_iceberg(_df(spark, 5, 9), path, mode="append")
    meta2 = ib.current_metadata(path)
    t2 = meta2["snapshot-log"][-1]["timestamp-ms"]
    assert t2 >= t1
    got1 = sorted(
        r["doc_id"]
        for r in ib.read_iceberg(spark, path, timestamp_ms=t1).collect()
    )
    assert got1 == list(range(5))
    got2 = sorted(
        r["doc_id"]
        for r in ib.read_iceberg(
            spark, path, timestamp_ms=t2 + 10_000
        ).collect()
    )
    assert got2 == list(range(9))
    with pytest.raises(ValueError, match="no snapshot at or before"):
        ib.read_iceberg(spark, path, timestamp_ms=t1 - 10_000)
    with pytest.raises(ValueError, match="at most one"):
        ib.read_iceberg(spark, path, snapshot_id=1, timestamp_ms=t1)


def test_delete_files_meta_table(spark, tmp_path):
    """`tbl.delete_files` metadata table: one row per live delete file
    with its content kind (1=position/DV, 2=equality), equality ids,
    and DV referenced_data_file — derived metadata-only."""
    path = str(tmp_path / "delmeta")
    ib.write_iceberg(_df(spark, 0, 20), path, format_version=2)
    ib.delete_where_iceberg(
        spark, path, "doc_id", 2, 4, strategy="merge-on-read"
    )
    ib.delete_eq_iceberg(path, ["doc_id"], [10, 11])
    rows = ib.read_iceberg_meta(spark, path, "delete_files").collect()
    kinds = sorted(r["content"] for r in rows)
    assert kinds == [1, 2]
    eq = next(r for r in rows if r["content"] == 2)
    assert json.loads(eq["equality_ids"]) == [1]  # doc_id's field id
    assert eq["record_count"] == 2
    pos = next(r for r in rows if r["content"] == 1)
    assert pos["record_count"] == 3
    # v3 upgrade folds the pos-delete into a DV with a referenced file
    ib.upgrade_iceberg_format(spark, path, 3)
    rows3 = ib.read_iceberg_meta(spark, path, "delete_files").collect()
    dv = next(r for r in rows3 if r["content"] == 1)
    assert dv["file_format"] == "PUFFIN"
    assert dv["referenced_data_file"]


def test_iceberg_lifecycle_property(spark, tmp_path):
    """Seeded random op sequences over one table each — (append |
    overwrite | cow-delete | mor-delete | eq-delete | compact |
    rewrite-manifests | expire | orphan-removal | partition-stats |
    NDV stats (incremental-first) | branch create/append |
    fast-forward publish) — then a sweep: every RETAINED snapshot
    reads back exactly its recorded state (by snapshot id,
    post-compaction/replace and branch snapshots included), expired
    ones refuse or are absent, the current read always matches, every
    statistics registration references a retained snapshot with its
    file on disk, and a live branch head reads its recorded state.
    The Iceberg twin of the Delta log-lifecycle sweep; count
    overridable via SPARK_GRAFT_LIFECYCLE_SEQS (halved)."""
    import random

    n_seq = max(
        1, int(os.environ.get("SPARK_GRAFT_LIFECYCLE_SEQS", "50")) // 3
    )
    rng = random.Random(0x1CEB12)
    for seq in range(n_seq):
        path = str(tmp_path / f"t{seq:02d}")
        # half the sequences run identity-partitioned (partition stats
        # need a spec; deletes/compaction/branches cover both layouts)
        part_by = ["lang"] if rng.random() < 0.5 else None
        cur: dict[int, int] = {}  # doc_id -> v (main)
        dev: dict[int, int] | None = None  # branch model, when live
        by_snap: dict[int, frozenset] = {}
        batch = 0

        def record(snap_id, state=None):
            by_snap[snap_id] = frozenset(
                (cur if state is None else state).items()
            )

        def mk_df(vals: dict):
            return spark.createDataFrame(
                [(i, str(i % 3), v) for i, v in vals.items()],
                "doc_id long, lang string, v long",
            ).coalesce(1)

        def commit(mode: str, branch: str | None = None):
            nonlocal batch, cur, dev
            b = batch
            batch += 1
            ids = [b * 10 + k for k in range(rng.randint(1, 3))]
            vals = {i: i * 10 + b for i in ids}
            if branch is None:
                if mode == "append":
                    cur.update(vals)
                else:
                    cur = dict(vals)
                record(
                    ib.write_iceberg(
                        mk_df(vals), path, mode=mode,
                        partition_by=part_by,
                    )
                )
            else:
                dev.update(vals)
                record(
                    ib.write_iceberg(
                        mk_df(vals), path, mode="append", branch=branch
                    ),
                    state=dev,
                )

        commit("append")
        for _ in range(7):
            op = rng.choices(
                ["append", "overwrite", "cow", "mor", "eq", "compact",
                 "manifests", "expire", "orphan", "pstats", "ndv",
                 "branch", "branch_append", "ff", "compact_sort",
                 "rewrite_pos"],
                weights=[24, 7, 9, 9, 9, 7, 5, 9, 7, 6, 6, 5, 6, 5,
                         5, 5],
            )[0]
            if op in ("append", "overwrite"):
                commit(op)
            elif op in ("cow", "mor"):
                if not cur:
                    continue
                lo = rng.choice(sorted(cur))
                hi = lo + rng.randint(0, 15)
                for i in [i for i in cur if lo <= i <= hi]:
                    del cur[i]
                record(
                    ib.delete_where_iceberg(
                        spark, path, "doc_id", lo, hi,
                        strategy="cow" if op == "cow" else "merge-on-read",
                    )
                )
            elif op == "eq":
                if not cur:
                    continue
                keys = rng.sample(sorted(cur), min(2, len(cur)))
                for k in keys:
                    del cur[k]
                record(ib.delete_eq_iceberg(path, ["doc_id"], keys))
            elif op == "compact":
                record(ib.compact_iceberg(spark, path))
            elif op == "compact_sort":
                # r13: the sort strategy must stay row-exact through
                # live deletes and re-register its order each time
                record(
                    ib.compact_iceberg(
                        spark, path, strategy="sort", sort_by=["doc_id"]
                    )
                )
            elif op == "rewrite_pos":
                # r13: compacting pos-delete files is a no-data-change
                # replace; without any it refuses (pinned)
                try:
                    record(ib.rewrite_iceberg_position_deletes(spark, path))
                except ValueError as e:
                    assert "no position-delete" in str(e)
            elif op == "manifests":
                record(ib.rewrite_iceberg_manifests(path))
            elif op == "expire":
                ib.expire_iceberg_snapshots(
                    path, keep_last=rng.randint(1, 3)
                )
            elif op == "orphan":
                ib.remove_orphan_iceberg_files(path, min_age_s=0.0)
            elif op == "pstats":
                if part_by is None:
                    # unpartitioned: the refusal is the pinned behavior
                    with pytest.raises(ValueError, match="no partition"):
                        ib.write_iceberg_partition_stats(path)
                else:
                    ib.write_iceberg_partition_stats(path)
            elif op == "ndv":
                # incremental maintenance first; any refusal (no base,
                # non-append history, expired chain) → full rebuild
                try:
                    ib.update_iceberg_table_stats(spark, path)
                except ValueError:
                    ib.write_iceberg_table_stats(spark, path)
            elif op == "branch":
                ib.set_iceberg_ref(path, "dev", kind="branch")
                dev = dict(cur)
            elif op == "branch_append":
                if dev is None:
                    continue
                commit("append", branch="dev")
            elif op == "ff":
                if dev is None:
                    continue
                try:
                    ib.fast_forward_iceberg(path, "dev")
                    cur = dict(dev)
                except ValueError:
                    pass  # diverged main: refusal leaves main intact
        meta = ib.current_metadata(path)
        retained = {s["snapshot-id"] for s in meta.get("snapshots") or []}
        got_cur = frozenset(
            (r["doc_id"], r["v"])
            for r in ib.read_iceberg(spark, path).collect()
        )
        assert got_cur == frozenset(cur.items()), f"seq {seq}: current"
        for sid, want in by_snap.items():
            if sid not in retained:
                with pytest.raises((ValueError, KeyError, OSError)):
                    ib.read_iceberg(spark, path, snapshot_id=sid).collect()
                continue
            got = frozenset(
                (r["doc_id"], r["v"])
                for r in ib.read_iceberg(
                    spark, path, snapshot_id=sid
                ).collect()
            )
            assert got == want, (
                f"seq {seq}: snapshot {sid} read wrong data"
            )
        # statistics registrations never dangle: each references a
        # retained snapshot and its file survives orphan removal
        for key in ("statistics", "partition-statistics"):
            for e in meta.get(key) or []:
                assert e["snapshot-id"] in retained, (
                    f"seq {seq}: {key} references expired snapshot"
                )
                local = ib._abs_path(path, e["statistics-path"])
                assert os.path.exists(local), (
                    f"seq {seq}: {key} file missing ({local})"
                )
        # a live branch head reads exactly its recorded state
        refs = meta.get("refs") or {}
        if dev is not None and "dev" in refs:
            got_dev = frozenset(
                (r["doc_id"], r["v"])
                for r in ib.read_iceberg(spark, path, ref="dev").collect()
            )
            assert got_dev == frozenset(dev.items()), f"seq {seq}: branch"


def test_set_iceberg_properties(spark, tmp_path):
    """SET/UNSET round-trip on the table properties map; the engine-
    maintained name-mapping key refuses."""
    path = str(tmp_path / "props")
    ib.write_iceberg(_df(spark, 0, 4), path)
    ib.set_iceberg_properties(
        path, {"commit.retry.num-retries": "7", "owner": "team-x"}
    )
    meta = ib.current_metadata(path)
    assert meta["properties"]["owner"] == "team-x"
    assert meta["properties"]["commit.retry.num-retries"] == "7"
    ib.set_iceberg_properties(path, {"owner": None})
    meta = ib.current_metadata(path)
    assert "owner" not in (meta.get("properties") or {})
    with pytest.raises(ValueError, match="name-mapping"):
        ib.set_iceberg_properties(
            path, {"schema.name-mapping.default": "[]"}
        )
    # the table still reads after property churn
    assert ib.read_iceberg(spark, path).count() == 4


def test_concurrent_schema_evolution_vs_rmw(spark, tmp_path, monkeypatch):
    """An evolve_iceberg_schema that lands between an RMW's snapshot
    read and its metadata claim must abort the RMW (its rewrite frame
    and manifest schema were computed against the OLD field list —
    committing would stamp stale schema over the evolution); the RMW
    re-run against the new schema succeeds."""
    path = str(tmp_path / "occ_evolve")
    ib.write_iceberg(_df(spark, 0, 10), path)

    orig = ib._claim_metadata
    state = {"raced": False}

    def racer(path_, build):
        if not state["raced"]:
            state["raced"] = True
            ib.evolve_iceberg_schema(path_, add=[("note", "string")])
        return orig(path_, build)

    monkeypatch.setattr(ib, "_claim_metadata", racer)
    with pytest.raises(ValueError, match="schema changed"):
        ib.delete_where_iceberg(spark, path, "doc_id", 2, 4)
    monkeypatch.setattr(ib, "_claim_metadata", orig)
    # nothing committed: every row still present, schema evolved
    back = ib.read_iceberg(spark, path)
    assert back.count() == 10
    assert "note" in back.columns
    # re-read-and-reapply succeeds against the new schema
    ib.delete_where_iceberg(spark, path, "doc_id", 2, 4)
    assert sorted(
        r["doc_id"] for r in ib.read_iceberg(spark, path).collect()
    ) == [0, 1, 5, 6, 7, 8, 9]


def test_orc_data_file_writes(spark, tmp_path):
    """ORC lands as a first-class data-file format (r13 — reads came
    in r12): write_iceberg(file_format='orc') writes real ORC files
    with correct manifest records, appends inherit the format via the
    write.format.default property, parquet and ORC files coexist in
    one table, merge-on-read deletes apply to ORC rows, and the
    timestamp refusal matches the read tier's."""
    import glob

    path = str(tmp_path / "orcw")
    ib.write_iceberg(_df(spark, 0, 10).coalesce(1), path, file_format="orc")
    assert glob.glob(path + "/data/**/*.orc", recursive=True)
    assert not glob.glob(path + "/data/**/*.parquet", recursive=True)
    meta = ib.current_metadata(path)
    assert meta["properties"]["write.format.default"] == "orc"
    snap = ib._snapshot(meta, None)
    entries = ib._live_entries(path, meta, snap)
    assert all(
        e["data_file"]["file_format"] == "ORC" for e in entries
    )
    assert sum(e["data_file"]["record_count"] for e in entries) == 10
    got = sorted(r["doc_id"] for r in ib.read_iceberg(spark, path).collect())
    assert got == list(range(10))
    # appends inherit ORC from the table property
    ib.write_iceberg(_df(spark, 10, 15).coalesce(1), path, mode="append")
    assert not glob.glob(path + "/data/**/*.parquet", recursive=True)
    assert ib.read_iceberg(spark, path).count() == 15
    # a parquet append can still be forced — mixed-format table reads
    ib.write_iceberg(
        _df(spark, 15, 18).coalesce(1), path, mode="append",
        file_format="parquet",
    )
    assert glob.glob(path + "/data/**/*.parquet", recursive=True)
    got = sorted(r["doc_id"] for r in ib.read_iceberg(spark, path).collect())
    assert got == list(range(18))
    # merge-on-read delete masks ORC rows (per-file row-ordinal pos)
    ib.delete_where_iceberg(
        spark, path, "doc_id", 2, 4, strategy="merge-on-read"
    )
    got = sorted(r["doc_id"] for r in ib.read_iceberg(spark, path).collect())
    assert got == [d for d in range(18) if not 2 <= d <= 4]
    # identity-partitioned ORC landing round-trips
    p2 = str(tmp_path / "orcp")
    ib.write_iceberg(
        _df(spark, 0, 12), p2, partition_by=["lang"], file_format="orc"
    )
    pr, fr, fs, _ms = ib.read_iceberg_pruned(spark, p2, "lang", "1", "1")
    assert sorted(r["doc_id"] for r in pr.collect()) == [
        d for d in range(12) if d % 3 == 1
    ]
    assert fs > 0  # partition tier prunes even without ORC bounds
    # refusals mirror the read tier
    p3 = str(tmp_path / "orct")
    ts_df = spark.sql("select 1 as doc_id, current_timestamp() as ts")
    with pytest.raises(ValueError, match="ORC"):
        ib.write_iceberg(ts_df, p3, file_format="orc")
    with pytest.raises(ValueError, match="unsupported file_format"):
        ib.write_iceberg(_df(spark, 0, 2), p3, file_format="avro")


def test_uniform_eq_materialization_is_distributed(spark, tmp_path):
    """r14: a LARGE equality-delete batch (thousands of keys across
    many files) converts to Delta DVs row-exactly — and the deleted
    positions are serialized into roaring blobs on the executors, so
    the conversion's driver memory is O(files), not O(deleted rows)
    (VERDICT r13 'what's wrong' #1).  Cardinalities in the landed
    descriptors must sum to exactly the hidden-row count."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "bigeq")
    n, ndel = 20_000, 5_000
    ib.write_iceberg(
        _df(spark, 0, n).repartitionByRange(8, "doc_id"),
        path,
        format_version=2,
    )
    ib.delete_eq_iceberg(path, ["doc_id"], list(range(0, 2 * ndel, 2)))
    ib.uniform_delta_metadata(spark, path)
    delta = dp.read_delta(spark, path)
    assert delta.count() == n - ndel
    assert delta.filter("doc_id % 2 = 0 AND doc_id < 10000").count() == 0
    # the conversion landed one DV bin file whose per-file descriptor
    # cardinalities account for every hidden row
    _meta, live, _v = dp._fold_delta_state(spark, path, None)
    cards = [
        a["deletionVector"]["cardinality"]
        for a in live.values()
        if a.get("deletionVector")
    ]
    assert sum(cards) == ndel and len(cards) >= 2
    # row-exact against the Iceberg reader
    assert delta.exceptAll(ib.read_iceberg(spark, path)).count() == 0


def test_uniform_cross_tier_lifecycle_sweep(spark, tmp_path):
    """r14 cross-tier sweep: seeded random Iceberg op sequences —
    append | overwrite | cow-delete | mor-delete | eq-delete | compact
    | rewrite-manifests | expire | v3-upgrade | column RENAME — with a
    `uniform_delta_metadata` conversion after EVERY data-changing op:
    the Delta protocol read must equal the Iceberg read at each step
    (deletion vectors, eq materialization, and column mapping
    included).  A conversion that refuses after a rename left live
    files under mixed on-disk names must name compact_iceberg, and
    compacting must unblock it — both paths pinned.  The r12 sweeps
    caught a real checkpoint bug; this is the same net spanning both
    protocols."""
    import random

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    n_seq = max(
        1, int(os.environ.get("SPARK_GRAFT_LIFECYCLE_SEQS", "50")) // 5
    )
    rng = random.Random(0xD0_1CE)

    def convert_and_compare(path, seq, step):
        try:
            ib.uniform_delta_metadata(spark, path)
        except ValueError as e:
            # only the documented mixed-rename refusal is allowed;
            # compaction must unblock it
            assert "compact_iceberg" in str(e), f"seq {seq}/{step}: {e}"
            ib.compact_iceberg(spark, path)
            ib.uniform_delta_metadata(spark, path)
        ice = frozenset(
            tuple(r) for r in ib.read_iceberg(spark, path).collect()
        )
        delta = frozenset(
            tuple(r) for r in dp.read_delta(spark, path).collect()
        )
        assert delta == ice, f"seq {seq} step {step}: delta != iceberg"

    for seq in range(n_seq):
        path = str(tmp_path / f"x{seq:02d}")
        part_by = ["lang"] if rng.random() < 0.4 else None
        val_col = "v"  # current name of the renameable column
        batch = 0

        def mk_df(lo, hi, name):
            return (
                spark.range(lo, hi)
                .select(
                    F.col("id").alias("doc_id"),
                    (F.col("id") % 3).cast("string").alias("lang"),
                    (F.col("id") * 7).alias(name),
                )
                .coalesce(1)
            )

        ib.write_iceberg(mk_df(0, 8, val_col), path, partition_by=part_by)
        convert_and_compare(path, seq, "init")
        for step in range(6):
            op = rng.choices(
                ["append", "overwrite", "cow", "mor", "eq", "compact",
                 "manifests", "expire", "upgrade3", "rename"],
                weights=[22, 6, 10, 10, 10, 8, 5, 6, 5, 10],
            )[0]
            batch += 1
            if op in ("append", "overwrite"):
                ib.write_iceberg(
                    mk_df(batch * 10, batch * 10 + 4, val_col),
                    path,
                    mode=op,
                    partition_by=part_by,
                )
            elif op in ("cow", "mor"):
                lo = rng.randint(0, batch * 10)
                ib.delete_where_iceberg(
                    spark, path, "doc_id", lo, lo + rng.randint(0, 12),
                    strategy="cow" if op == "cow" else "merge-on-read",
                )
            elif op == "eq":
                keys = [rng.randint(0, batch * 10) for _ in range(2)]
                ib.delete_eq_iceberg(path, ["doc_id"], keys)
            elif op == "compact":
                ib.compact_iceberg(spark, path)
            elif op == "manifests":
                ib.rewrite_iceberg_manifests(path)
            elif op == "expire":
                ib.expire_iceberg_snapshots(
                    path, keep_last=rng.randint(1, 3)
                )
            elif op == "upgrade3":
                fv = int(
                    ib.current_metadata(path).get("format-version", 1)
                )
                if fv < 3:
                    ib.upgrade_iceberg_format(spark, path, 3)
            elif op == "rename":
                new = "val" if val_col == "v" else "v"
                ib.evolve_iceberg_schema(path, rename={val_col: new})
                val_col = new
            convert_and_compare(path, seq, f"{step}:{op}")
