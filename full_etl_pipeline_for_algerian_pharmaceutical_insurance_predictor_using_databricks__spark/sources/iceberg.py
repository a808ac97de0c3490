"""Apache Iceberg TABLE-FORMAT interop — read and write real Iceberg
tables (metadata JSON + Avro manifest lists + Avro manifests + parquet
data files) straight from the PUBLIC Iceberg table spec, with no
`pyiceberg` / catalog service dependency (neither is installable in
this sandbox; the FORMAT is public).

This is the second lakehouse tier next to `deltaproto` (the Delta
protocol): a table written here follows the HadoopTables filesystem
convention (`metadata/v<N>.metadata.json` + `version-hint.text`) with
format-version 1 metadata by default — the maximally-compatible tier
— so real engines (Spark+iceberg-runtime, Trino, DuckDB iceberg,
pyiceberg) can read it; merge-on-read DELETE upgrades a table to
format-version 2 (sequence numbers, position-delete files in
content=1 delete manifests).  `read_iceberg` folds metadata written
by any such engine, v1 or v2, applying POSITION deletes (path-matched
anti-join on `_metadata.row_index`) and EQUALITY deletes (null-safe
anti-join on the equality_ids columns, restricted to data files whose
sequence number predates the delete's); malformed trees and
non-parquet delete files raise loudly rather than mis-read — the same
refuse-don't-corrupt rule deltaproto applies to deletion vectors.

Spec points this module implements (all from the public Iceberg spec):
- table metadata JSON: schemas with field-ids, identity partition
  specs, snapshots + snapshot-log + metadata-log, current pointers;
- the two-level Avro metadata tree: `manifest_file` records in a
  snapshot's manifest list (field-ids 500-514, partition summaries in
  507) and `manifest_entry`/`data_file` records in each manifest
  (status 0/1/2, field-ids 100-132, bounds keyed by field-id);
- single-value binary serialization for bounds and partition
  summaries (little-endian ints/longs/floats, UTF-8 strings);
- column projection rule "identity-transform partition values may be
  absent from data files and must be filled from partition metadata" —
  data files land in hive layout without the partition columns, and
  the reader reconstructs them as typed literals per partition group
  (the same Catalyst-friendly shape deltaproto uses);
- three-tier metadata-only data skipping: manifest-list partition
  summaries → per-entry partition tuples → per-file lower/upper
  bounds, no parquet footer reads at query time;
- optimistic concurrency via atomic `v<N>.metadata.json` claims
  (put-if-absent `os.link`, the HadoopTables commit rule), retried
  against a refreshed base on lost races.

Avro files are written and read by the in-repo `avrotiny` codec
(deflate object-container files); manifests from foreign writers that
use the array-of-record map encoding for bounds are normalized on
read.
"""

from __future__ import annotations

import functools as _functools
import io
import json
import math
import os
import re
import shutil
import struct
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..parallel import run_concurrently
from .catalog import local_rows_df

from . import avrotiny

_BLOCK_SIZE = 64 * 1024 * 1024  # v1's deprecated-but-required field

# --------------------------------------------------------------------------
# Spark <-> Iceberg schema mapping (field-ids are the spec's spine)
# --------------------------------------------------------------------------

_SPARK_TO_ICE = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamptz",
    # Spark's tz-free TimestampNTZ is exactly Iceberg's `timestamp`
    "timestamp_ntz": "timestamp",
    # v3 semi-structured type: same binary encoding as Spark VARIANT
    # (the Iceberg variant spec adopted it); parquet physical shape is
    # the annotated {metadata, value} group, shredded or not — Spark's
    # reader assembles both.  Writes are v3-gated in write_iceberg.
    "variant": "variant",
}
_ICE_TO_SPARK = {v: k for k, v in _SPARK_TO_ICE.items()}
_ICE_TO_AVRO = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
    "date": {"type": "int", "logicalType": "date"},
    "timestamptz": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamp": {"type": "long", "logicalType": "local-timestamp-micros"},
}


_DEC_RE = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")


def _dec_params(t) -> tuple[int, int] | None:
    """(precision, scale) of an Iceberg `decimal(P, S)` type string,
    else None."""
    if not isinstance(t, str):
        return None
    m = _DEC_RE.match(t)
    return (int(m.group(1)), int(m.group(2))) if m else None


def _dec_required_bytes(precision: int) -> int:
    """Minimum fixed size holding ANY unscaled value of the precision
    (the Iceberg/Avro `fixed` size rule for decimals)."""
    return len(avrotiny.min_signed_bytes(10**precision - 1))


def _to_decimal(v):
    """Normalize a user/footer value to decimal.Decimal (floats go
    through str — repr round-trip, never binary artifacts)."""
    import decimal

    if isinstance(v, decimal.Decimal):
        return v
    if isinstance(v, float):
        return decimal.Decimal(str(v))
    return decimal.Decimal(v)


_FIXED_RE = re.compile(r"^fixed\[\s*(\d+)\s*\]$")


def _fixed_size(t) -> int | None:
    """Byte length of an Iceberg `fixed[L]` type string, else None."""
    if not isinstance(t, str):
        return None
    m = _FIXED_RE.match(t)
    return int(m.group(1)) if m else None


def _uuid_str(v) -> str:
    """Canonical lowercase 8-4-4-4-12 uuid string from a str or the
    spec's 16-byte big-endian form (RFC-4122 field order)."""
    if isinstance(v, (bytes, bytearray)):
        return str(uuid.UUID(bytes=bytes(v)))
    return str(uuid.UUID(str(v)))


def _time_micros(v) -> int:
    """Microseconds since midnight (the spec's `time` internal repr)
    from a datetime.time, an "HH:MM:SS[.ffffff]" string, or an
    already-internal int."""
    import datetime

    if isinstance(v, datetime.time):
        return (
            (v.hour * 3600 + v.minute * 60 + v.second) * 1_000_000
            + v.microsecond
        )
    if isinstance(v, str):
        return _time_micros(datetime.time.fromisoformat(v))
    return int(v)


def _time_of_micros(us: int):
    """datetime.time for micros-since-midnight (deser twin)."""
    import datetime

    us = int(us)
    s, us = divmod(us, 1_000_000)
    h, s = divmod(s, 3600)
    m, s = divmod(s, 60)
    return datetime.time(h, m, s, us)


def _spark_to_ice_type(dt) -> str | dict:
    """Iceberg JSON type for one Spark DataType — primitives map by
    name, decimal carries (P, S), struct/list/map recurse WITHOUT id
    assignment (ids are stamped by _iceberg_fields)."""
    from pyspark.sql.types import (
        ArrayType,
        DecimalType,
        MapType,
        StructType,
        TimeType,
    )

    if isinstance(dt, DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, TimeType):
        # Spark 4.1's TIME — Iceberg `time` is micros since midnight;
        # TIME(p<=6) fits exactly (micros is the max Spark precision)
        return "time"
    if isinstance(dt, StructType):
        return {
            "type": "struct",
            "fields": [
                {
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _spark_to_ice_type(f.dataType),
                }
                for f in dt.fields
            ],
        }
    if isinstance(dt, ArrayType):
        return {
            "type": "list",
            "element": _spark_to_ice_type(dt.elementType),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, MapType):
        return {
            "type": "map",
            "key": _spark_to_ice_type(dt.keyType),
            "value": _spark_to_ice_type(dt.valueType),
            "value-required": not dt.valueContainsNull,
        }
    tn = dt.typeName()
    if tn not in _SPARK_TO_ICE:
        raise ValueError(
            f"type {tn} not supported by the Iceberg interop tier"
        )
    return _SPARK_TO_ICE[tn]


def _iceberg_fields(df_schema) -> list[dict]:
    """Iceberg schema fields (with assigned field-ids) from a Spark
    schema.  Ids are assigned the way Java Iceberg's assignFreshIds
    does: all direct fields of a struct get consecutive ids FIRST,
    then each field's nested types allocate theirs (so a flat schema
    keeps the historical 1..n ids exactly).  Nested struct/list/map
    and decimal(P, S) are first-class; exotic types raise."""
    counter = [0]

    def alloc() -> int:
        counter[0] += 1
        return counter[0]

    tops = []
    for f in df_schema.fields:
        try:
            raw = _spark_to_ice_type(f.dataType)
        except ValueError as e:
            raise ValueError(f"column {f.name!r}: {e}") from None
        tops.append((alloc(), f, raw))
    out = []
    for fid, f, raw in tops:
        out.append(
            {
                "id": fid,
                "name": f.name,
                "required": False,
                "type": _stamp_type_ids(raw, alloc),
            }
        )
    return out


def _stamp_type_ids(t, alloc):
    """Copy an id-less Iceberg JSON type, allocating element/key/
    value/field ids level-order (direct struct fields before their
    nested types — the assignFreshIds shape)."""
    if isinstance(t, str):
        if (
            t in _ICE_TO_SPARK
            or t in ("uuid", "time")
            or _dec_params(t) is not None
            or _fixed_size(t) is not None
        ):
            return t
        raise ValueError(f"unsupported Iceberg type {t!r}")
    kind = t.get("type") if isinstance(t, dict) else None
    if kind == "struct":
        ids = [alloc() for _ in t["fields"]]
        out_fields = [
            {
                "id": fid,
                "name": f["name"],
                "required": f.get("required", False),
                "type": None,  # filled below (children after siblings)
            }
            for fid, f in zip(ids, t["fields"])
        ]
        for of, f in zip(out_fields, t["fields"]):
            of["type"] = _stamp_type_ids(f["type"], alloc)
        return {"type": "struct", "fields": out_fields}
    if kind == "list":
        eid = alloc()
        return {
            "type": "list",
            "element-id": eid,
            "element": _stamp_type_ids(t["element"], alloc),
            "element-required": t.get("element-required", False),
        }
    if kind == "map":
        kid, vid = alloc(), alloc()
        return {
            "type": "map",
            "key-id": kid,
            "key": _stamp_type_ids(t["key"], alloc),
            "value-id": vid,
            "value": _stamp_type_ids(t["value"], alloc),
            "value-required": t.get("value-required", False),
        }
    raise ValueError(f"unsupported Iceberg type {t!r}")


def _max_field_id(fields: list[dict]) -> int:
    """Highest field-id anywhere in a schema, nested ids included —
    the `last-column-id` floor."""

    def walk(t) -> int:
        if isinstance(t, str):
            return 0
        kind = t.get("type")
        if kind == "struct":
            return max(
                (
                    max(int(f["id"]), walk(f["type"]))
                    for f in t["fields"]
                ),
                default=0,
            )
        if kind == "list":
            return max(int(t.get("element-id") or 0), walk(t["element"]))
        if kind == "map":
            return max(
                int(t.get("key-id") or 0),
                int(t.get("value-id") or 0),
                walk(t["key"]),
                walk(t["value"]),
            )
        return 0

    return max(
        (max(int(f["id"]), walk(f["type"])) for f in fields), default=0
    )


def _ice_type_to_spark_json(t):
    """Spark JSON-schema type (string or dict) for one Iceberg JSON
    type — the recursive inverse of _spark_to_ice_type."""
    if isinstance(t, str):
        if t in _ICE_TO_SPARK:
            return _ICE_TO_SPARK[t]
        ps = _dec_params(t)
        if ps is not None:
            return f"decimal({ps[0]},{ps[1]})"
        if t == "uuid":
            # Spark has no uuid type — the ecosystem rule (Java
            # Iceberg's TypeToSparkType) projects uuid as its
            # canonical lowercase string form
            return "string"
        if t == "time":
            return "time(6)"  # micros — Spark 4.1 TIME at full width
        if _fixed_size(t) is not None:
            return "binary"
        raise ValueError(f"Iceberg type {t!r} not supported")
    kind = t.get("type")
    if kind == "struct":
        return {
            "type": "struct",
            "fields": [
                {
                    "name": f["name"],
                    "type": _ice_type_to_spark_json(f["type"]),
                    "nullable": not f.get("required", False),
                    "metadata": {},
                }
                for f in t["fields"]
            ],
        }
    if kind == "list":
        return {
            "type": "array",
            "elementType": _ice_type_to_spark_json(t["element"]),
            "containsNull": not t.get("element-required", False),
        }
    if kind == "map":
        return {
            "type": "map",
            "keyType": _ice_type_to_spark_json(t["key"]),
            "valueType": _ice_type_to_spark_json(t["value"]),
            "valueContainsNull": not t.get("value-required", False),
        }
    raise ValueError(f"Iceberg type {t!r} not supported")


def _ice_primitive_to_spark(t) -> str:
    """Spark type STRING for an Iceberg primitive (partition sources,
    equality-delete columns — places the spec restricts to
    primitives); composites raise."""
    s = _ice_type_to_spark_json(t)
    if not isinstance(s, str):
        raise ValueError(
            f"Iceberg type {t!r} is not a primitive — unsupported here"
        )
    return s


def _nested_exotic(t, depth: int = 0) -> str | None:
    """First uuid/time type found BELOW the top level of an Iceberg
    type tree, else None.  Top-level uuid/time columns get dedicated
    scan handling (binary→canonical-string conversion, the Arrow
    parquet kernel); nested occurrences would silently decode wrong,
    so the schema mapping refuses them loudly."""
    if isinstance(t, str):
        return t if depth > 0 and t in ("uuid", "time") else None
    kind = t.get("type")
    if kind == "struct":
        for f in t["fields"]:
            hit = _nested_exotic(f["type"], depth + 1)
            if hit:
                return hit
    elif kind == "list":
        return _nested_exotic(t["element"], depth + 1)
    elif kind == "map":
        return _nested_exotic(t["key"], depth + 1) or _nested_exotic(
            t["value"], depth + 1
        )
    return None


def _spark_schema(fields: list[dict]):
    from pyspark.sql.types import StructType

    cols = []
    for f in fields:
        hit = _nested_exotic(f["type"])
        if hit:
            raise ValueError(
                f"field {f.get('name')!r}: nested {hit!r} columns are "
                "unsupported (top-level uuid/time only)"
            )
        try:
            st = _ice_type_to_spark_json(f["type"])
        except ValueError:
            raise ValueError(
                f"field {f.get('name')!r}: Iceberg type {f['type']!r} "
                "not supported"
            ) from None
        cols.append(
            {
                "name": f["name"],
                "type": st,
                "nullable": True,
                "metadata": {},
            }
        )
    return StructType.fromJson({"type": "struct", "fields": cols})


# --------------------------------------------------------------------------
# Single-value serialization (spec appendix D)
# --------------------------------------------------------------------------


def _to_internal(ice_type: str, v):
    """Normalize a user/pyarrow value to the spec's internal repr:
    `date` → days since epoch (int32), `timestamptz` → micros since
    epoch UTC (int64).  Ints pass through (already internal)."""
    import datetime

    if v is None:
        return None
    if (
        ice_type == "date"
        and isinstance(v, datetime.date)
        and not isinstance(v, datetime.datetime)
    ):
        return (v - datetime.date(1970, 1, 1)).days
    if ice_type in ("timestamptz", "timestamp") and isinstance(
        v, datetime.datetime
    ):
        dt = (
            v
            if v.tzinfo is not None
            else v.replace(tzinfo=datetime.timezone.utc)
        )
        epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (dt - epoch) // datetime.timedelta(microseconds=1)
    ps = _dec_params(ice_type)
    if ps is not None:
        return _to_decimal(v)
    if ice_type == "uuid":
        return _uuid_str(v)
    if ice_type == "time":
        return _time_micros(v)
    fl = _fixed_size(ice_type)
    if fl is not None:
        b = bytes(v)
        if len(b) != fl:
            raise ValueError(
                f"fixed[{fl}] value has {len(b)} bytes"
            )
        return b
    return v


def ser_value(ice_type: str, v) -> bytes | None:
    if v is None:
        return None
    v = _to_internal(ice_type, v)
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "int" or ice_type == "date":
        return struct.pack("<i", int(v))
    if ice_type in ("long", "timestamptz", "timestamp"):
        return struct.pack("<q", int(v))
    if ice_type == "float":
        return struct.pack("<f", float(v))
    if ice_type == "double":
        return struct.pack("<d", float(v))
    if ice_type == "string":
        return str(v).encode("utf-8")
    if ice_type == "binary":
        return bytes(v)
    ps = _dec_params(ice_type)
    if ps is not None:
        # spec Appendix D: unscaled value, MINIMUM number of bytes,
        # big-endian two's-complement
        return avrotiny.min_signed_bytes(int(v.scaleb(ps[1])))
    if ice_type == "uuid":
        # 16-byte big-endian (RFC-4122 field order)
        return uuid.UUID(v).bytes
    if ice_type == "time":
        return struct.pack("<q", int(v))  # micros since midnight
    if _fixed_size(ice_type) is not None:
        return bytes(v)  # length validated by _to_internal
    raise ValueError(f"cannot serialize Iceberg type {ice_type!r}")


def deser_value(ice_type: str, raw: bytes | None):
    if raw is None:
        return None
    if ice_type == "boolean":
        return raw == b"\x01"
    if ice_type == "int" or ice_type == "date":
        return struct.unpack("<i", raw)[0]
    if ice_type in ("long", "timestamptz", "timestamp"):
        # bounds written BEFORE an int→long type promotion keep the
        # old 4-byte form (spec: readers must accept either width)
        if len(raw) == 4:
            return struct.unpack("<i", raw)[0]
        return struct.unpack("<q", raw)[0]
    if ice_type == "float":
        return struct.unpack("<f", raw)[0]
    if ice_type == "double":
        # float→double promotion: pre-promotion 4-byte bounds
        if len(raw) == 4:
            return struct.unpack("<f", raw)[0]
        return struct.unpack("<d", raw)[0]
    if ice_type == "string":
        return raw.decode("utf-8")
    if ice_type == "binary":
        return raw
    ps = _dec_params(ice_type)
    if ps is not None:
        import decimal

        # readers accept ANY byte width (a foreign writer may pad to
        # the type's fixed size) — two's complement decodes the same
        return decimal.Decimal(
            int.from_bytes(raw, "big", signed=True)
        ).scaleb(-ps[1])
    if ice_type == "uuid":
        return _uuid_str(raw)  # internal repr: canonical string
    if ice_type == "time":
        return struct.unpack("<q", raw)[0]  # internal repr: micros
    if _fixed_size(ice_type) is not None:
        return raw
    raise ValueError(f"cannot deserialize Iceberg type {ice_type!r}")


# --------------------------------------------------------------------------
# Avro schemas for the metadata tree (field-ids per spec)
# --------------------------------------------------------------------------


def _opt(t):
    return ["null", t]


def _id_map_schema(name: str, key_id: int, val_id: int, val_type="bytes"):
    """Iceberg's array-of-record encoding for int-keyed maps (Avro maps
    require string keys, so the spec prescribes this shape)."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": val_type, "field-id": val_id},
            ],
        },
    }


def _ice_to_avro_type(res_type: str, field_id: int):
    """Avro schema node for one Iceberg primitive partition-value type
    — decimal(P, S) becomes the spec's fixed + decimal logical type
    (size from the precision, name unique per field-id)."""
    ps = _dec_params(res_type)
    if ps is not None:
        return {
            "type": "fixed",
            "name": f"decimal_{field_id}",
            "size": _dec_required_bytes(ps[0]),
            "logicalType": "decimal",
            "precision": ps[0],
            "scale": ps[1],
        }
    if res_type == "uuid":
        return {
            "type": "fixed",
            "name": f"uuid_{field_id}",
            "size": 16,
            "logicalType": "uuid",
        }
    if res_type == "time":
        return {"type": "long", "logicalType": "time-micros"}
    fl = _fixed_size(res_type)
    if fl is not None:
        return {"type": "fixed", "name": f"fixed_{field_id}", "size": fl}
    return _ICE_TO_AVRO[res_type]


def _partition_avro_schema(part_fields: list[dict], ice_types: dict) -> dict:
    fields = []
    for pf in part_fields:
        res_type = _pf_result_type(pf, ice_types[pf["source-id"]])
        fields.append(
            {
                "name": pf["name"],
                "type": _opt(_ice_to_avro_type(res_type, pf["field-id"])),
                "field-id": pf["field-id"],
                "default": None,
            }
        )
    return {"type": "record", "name": "r102", "fields": fields}


def _manifest_entry_schema(part_schema: dict, fv: int = 1) -> dict:
    head = (
        # v2: data_file.content is required (0 data / 1 position
        # deletes / 2 equality deletes); block_size_in_bytes is gone
        [{"name": "content", "type": "int", "field-id": 134}]
        if fv >= 2
        else []
    )
    v1_only = (
        [{"name": "block_size_in_bytes", "type": "long", "field-id": 105}]
        if fv == 1
        else []
    )
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": head
        + [
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": part_schema, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        ]
        + v1_only
        + [
            {
                "name": "value_counts",
                "type": _opt(_id_map_schema("k119_v120", 119, 120, "long")),
                "field-id": 109,
                "default": None,
            },
            {
                "name": "null_value_counts",
                "type": _opt(_id_map_schema("k121_v122", 121, 122, "long")),
                "field-id": 110,
                "default": None,
            },
            {
                "name": "lower_bounds",
                "type": _opt(_id_map_schema("k126_v127", 126, 127)),
                "field-id": 125,
                "default": None,
            },
            {
                "name": "upper_bounds",
                "type": _opt(_id_map_schema("k129_v130", 129, 130)),
                "field-id": 128,
                "default": None,
            },
            {
                "name": "split_offsets",
                "type": _opt({"type": "array", "items": "long"}),
                "field-id": 132,
                "default": None,
            },
        ]
        + (
            [
                {
                    "name": "equality_ids",
                    "type": _opt({"type": "array", "items": "int"}),
                    "field-id": 135,
                    "default": None,
                }
            ]
            if fv >= 2
            else []
        )
        + (
            [
                # v2: which sort order laid the file out (pruning hint)
                {
                    "name": "sort_order_id",
                    "type": _opt("int"),
                    "field-id": 140,
                    "default": None,
                }
            ]
            if fv >= 2
            else []
        )
        + (
            [
                # v3: row-lineage inheritance + deletion-vector blob
                # addressing (table spec v3 data_file fields)
                {
                    "name": "first_row_id",
                    "type": _opt("long"),
                    "field-id": 142,
                    "default": None,
                },
                {
                    "name": "referenced_data_file",
                    "type": _opt("string"),
                    "field-id": 143,
                    "default": None,
                },
                {
                    "name": "content_offset",
                    "type": _opt("long"),
                    "field-id": 144,
                    "default": None,
                },
                {
                    "name": "content_size_in_bytes",
                    "type": _opt("long"),
                    "field-id": 145,
                    "default": None,
                },
            ]
            if fv >= 3
            else []
        ),
    }
    seq_fields = (
        [
            # null + status ADDED → inherited from the manifest list
            {
                "name": "sequence_number",
                "type": _opt("long"),
                "field-id": 3,
                "default": None,
            },
            {
                "name": "file_sequence_number",
                "type": _opt("long"),
                "field-id": 4,
                "default": None,
            },
        ]
        if fv >= 2
        else []
    )
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": _opt("long"),
                "field-id": 1,
                "default": None,
            },
        ]
        + seq_fields
        + [
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


_FIELD_SUMMARY = {
    "type": "record",
    "name": "r508",
    "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {
            "name": "lower_bound",
            "type": _opt("bytes"),
            "field-id": 510,
            "default": None,
        },
        {
            "name": "upper_bound",
            "type": _opt("bytes"),
            "field-id": 511,
            "default": None,
        },
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {
            "name": "added_snapshot_id",
            "type": _opt("long"),
            "field-id": 503,
            "default": None,
        },
        {
            "name": "added_data_files_count",
            "type": _opt("int"),
            "field-id": 504,
            "default": None,
        },
        {
            "name": "existing_data_files_count",
            "type": _opt("int"),
            "field-id": 505,
            "default": None,
        },
        {
            "name": "deleted_data_files_count",
            "type": _opt("int"),
            "field-id": 506,
            "default": None,
        },
        {
            "name": "partitions",
            "type": _opt({"type": "array", "items": _FIELD_SUMMARY}),
            "field-id": 507,
            "default": None,
        },
        {
            "name": "added_rows_count",
            "type": _opt("long"),
            "field-id": 512,
            "default": None,
        },
        {
            "name": "existing_rows_count",
            "type": _opt("long"),
            "field-id": 513,
            "default": None,
        },
        {
            "name": "deleted_rows_count",
            "type": _opt("long"),
            "field-id": 514,
            "default": None,
        },
    ],
}


def _manifest_file_schema(fv: int = 1) -> dict:
    """Manifest-list record schema; v2 adds the required content /
    sequence_number / min_sequence_number fields (ids 517/515/516);
    v3 adds `first_row_id` (id 520) — the row-lineage inheritance
    anchor each DATA manifest is assigned at list-write time."""
    if fv == 1:
        return _MANIFEST_FILE_SCHEMA
    sch = json.loads(json.dumps(_MANIFEST_FILE_SCHEMA))
    extra = [
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
    ]
    # insert after partition_spec_id, the spec's field order
    sch["fields"] = sch["fields"][:3] + extra + sch["fields"][3:]
    if fv >= 3:
        sch["fields"].append(
            {
                "name": "first_row_id",
                "type": _opt("long"),
                "field-id": 520,
                "default": None,
            }
        )
    return sch


def _norm_manifest_file_v2(mf: dict) -> dict:
    """Fill the v2-required manifest_file fields on a record carried
    forward from a v1 manifest list (spec upgrade rule: pre-upgrade
    manifests are data manifests at sequence number 0)."""
    out = dict(mf)
    for k, default in (
        ("content", 0),
        ("sequence_number", 0),
        ("min_sequence_number", 0),
    ):
        if out.get(k) is None:
            out[k] = default
    return out


# --------------------------------------------------------------------------
# Table metadata (JSON) + HadoopTables commit protocol
# --------------------------------------------------------------------------


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _metadata_versions(path: str) -> list[int]:
    md = _meta_dir(path)
    if not os.path.isdir(md):
        return []
    out = set()
    for n in os.listdir(md):
        if not n.startswith("v"):
            continue
        # the gz form ALSO ends with ".metadata.json" — longest first
        for suffix in (".gz.metadata.json", ".metadata.json"):
            if n.endswith(suffix):
                stem = n[1 : -len(suffix)]
                if stem.isdigit():
                    out.add(int(stem))
                break
    return sorted(out)


def _metadata_file(md: str, v: int) -> str | None:
    """On-disk filename of one metadata version — plain or the
    gzip-compressed `v<N>.gz.metadata.json` form HadoopTables writes
    under `write.metadata.compression-codec=gzip`."""
    for name in (f"v{v}.metadata.json", f"v{v}.gz.metadata.json"):
        if os.path.exists(os.path.join(md, name)):
            return os.path.join(md, name)
    return None


def _load_metadata(fp: str) -> dict:
    if fp.endswith(".gz.metadata.json"):
        import gzip

        with gzip.open(fp, "rt") as f:
            return json.load(f)
    with open(fp) as f:
        return json.load(f)


def current_metadata(path: str) -> dict:
    """Load the current table metadata, honoring `version-hint.text`
    when present (the HadoopTables convention) and falling back to the
    highest `v<N>[.gz].metadata.json` (foreign layouts may omit the
    hint; gzip-compressed metadata decodes transparently)."""
    md = _meta_dir(path)
    hint = os.path.join(md, "version-hint.text")
    v = None
    if os.path.exists(hint):
        try:
            with open(hint) as f:
                v = int(f.read().strip())
        except (OSError, ValueError):
            v = None
    if v is None or _metadata_file(md, v) is None:
        vs = _metadata_versions(path)
        if not vs:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        v = vs[-1]
    return _load_metadata(_metadata_file(md, v))


def _claim_metadata(path: str, build) -> dict:
    """Atomic metadata commit: `build(base_meta_or_None)` produces the
    next metadata dict; claim `v<N+1>.metadata.json` with put-if-absent
    `os.link`, retrying `build` against a refreshed base on a lost race
    — optimistic concurrency exactly as HadoopTables defines it."""
    md = _meta_dir(path)
    os.makedirs(md, exist_ok=True)
    while True:
        vs = _metadata_versions(path)
        base = current_metadata(path) if vs else None
        nxt = (vs[-1] + 1) if vs else 1
        meta = build(base)
        # codec decided by the BASE's property, so every racer for
        # version N derives the same filename (the os.link claim
        # stays a true lock); the commit that SETS the property still
        # writes plain, later ones write gz — deterministic either way
        codec = (
            ((base or {}).get("properties") or {}).get(
                "write.metadata.compression-codec", "none"
            )
        ).lower()
        if codec not in ("none", "gzip"):
            raise ValueError(
                f"write.metadata.compression-codec={codec!r} unsupported"
            )
        claim_name = (
            f"v{nxt}.gz.metadata.json"
            if codec == "gzip"
            else f"v{nxt}.metadata.json"
        )
        tmp = os.path.join(md, f"_meta-{uuid.uuid4().hex}.json.tmp")
        if codec == "gzip":
            import gzip

            with open(tmp, "wb") as rawf:
                with gzip.GzipFile(
                    fileobj=rawf, mode="wb", mtime=0
                ) as gf:
                    gf.write(json.dumps(meta).encode())
                rawf.flush()
                os.fsync(rawf.fileno())
        else:
            with open(tmp, "w") as f:
                json.dump(meta, f)
                f.flush()
                os.fsync(f.fileno())
        try:
            os.link(tmp, os.path.join(md, claim_name))
        except FileExistsError:
            os.unlink(tmp)
            continue
        os.unlink(tmp)
        hint_tmp = os.path.join(md, f"_hint-{uuid.uuid4().hex}.tmp")
        with open(hint_tmp, "w") as f:
            f.write(str(nxt))
        os.replace(hint_tmp, os.path.join(md, "version-hint.text"))
        props = meta.get("properties") or {}
        if (
            str(
                props.get("write.metadata.delete-after-commit.enabled")
                or "false"
            ).lower()
            == "true"
        ):
            # spec maintenance property: keep the current version plus
            # `previous-versions-max` older ones, best-effort (a lost
            # unlink race with a concurrent cleanup is harmless)
            keep = int(
                props.get("write.metadata.previous-versions-max") or 100
            )
            try:
                cleanup_iceberg_metadata(path, keep_last=keep + 1)
            except (OSError, ValueError, FileNotFoundError):
                pass
        return meta


def _schema_of(meta: dict) -> list[dict]:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                return s["fields"]
        return meta["schemas"][0]["fields"]
    return meta["schema"]["fields"]  # v1 single-schema form


def _spec_of(meta: dict) -> list[dict]:
    if "partition-specs" in meta:
        sid = meta.get("default-spec-id", 0)
        for s in meta["partition-specs"]:
            if s.get("spec-id") == sid:
                return s["fields"]
        return meta["partition-specs"][0]["fields"]
    return meta.get("partition-spec", [])  # v1 form


def _default_spec_id(meta: dict) -> int:
    return int(meta.get("default-spec-id", 0))


def _specs_by_id(meta: dict) -> dict[int, list[dict]]:
    """spec-id → partition fields, for every spec the table has ever
    had (after partition evolution old manifests keep their spec)."""
    if "partition-specs" in meta:
        return {
            int(s.get("spec-id", 0)): s["fields"]
            for s in meta["partition-specs"]
        }
    return {0: meta.get("partition-spec", [])}


def _snapshot(meta: dict, snapshot_id: int | None) -> dict | None:
    snaps = meta.get("snapshots") or []
    if snapshot_id is None:
        cur = meta.get("current-snapshot-id")
        if cur in (None, -1):
            return None
        snapshot_id = cur
    for s in snaps:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise ValueError(f"snapshot {snapshot_id} not found")


def iceberg_snapshots(path: str) -> list[dict]:
    """(snapshot-id, operation, timestamp-ms) per snapshot, oldest
    first — the time-travel axis."""
    meta = current_metadata(path)
    return [
        {
            "snapshot_id": s["snapshot-id"],
            "operation": (s.get("summary") or {}).get("operation", "unknown"),
            "timestamp_ms": s.get("timestamp-ms", 0),
        }
        for s in sorted(
            meta.get("snapshots") or [], key=lambda s: s.get("timestamp-ms", 0)
        )
    ]


# --------------------------------------------------------------------------
# Manifest reading (both our form and foreign normalizations)
# --------------------------------------------------------------------------


def _norm_id_map(v) -> dict[int, bytes]:
    """Normalize either map encoding (array-of-record per spec, or a
    plain Avro map with stringified int keys) to {field_id: value}."""
    if not v:
        return {}
    if isinstance(v, dict):
        return {int(k): val for k, val in v.items()}
    return {int(e["key"]): e["value"] for e in v}


def _abs_path(table_path: str, p: str) -> str:
    if p.startswith("file:"):
        p = p[len("file:") :]
        while p.startswith("//"):
            p = p[1:]
    if os.path.isabs(p):
        return p
    return os.path.join(table_path, p)


def _file_uri(table_path: str, rel: str) -> str:
    """Absolute `file://` URI for a table-relative location.  The spec
    defines manifest-list / manifest_path / file_path as FULL URIs and
    reference implementations (Java Iceberg, PyIceberg, Trino) do not
    resolve relative paths — so writers here emit URIs, while
    `_abs_path` stays tolerant of both forms on read."""
    return "file://" + os.path.abspath(os.path.join(table_path, rel))


def _read_manifest_list(path: str, snap: dict) -> list[dict]:
    """All manifest_file records of a snapshot — data manifests
    (content 0) AND v2 delete manifests (content 1); callers split."""
    ml = _abs_path(path, snap["manifest-list"])
    records, _meta, _schema = avrotiny.read_container(ml)
    return records


def _data_manifests(manifest_files: list[dict]) -> list[dict]:
    return [m for m in manifest_files if (m.get("content") or 0) == 0]


def _entry_seq(r: dict, mf: dict) -> int:
    """Effective data sequence number of a manifest entry: explicit
    field, else inherited from its manifest (the spec's inheritance
    rule for null + ADDED; v1 manifests fold to 0)."""
    seq = r.get("sequence_number")
    if seq is None:
        seq = mf.get("sequence_number") or 0
    return int(seq)


def _read_manifest(path: str, mf: dict) -> list[dict]:
    """Entries of a DATA manifest, each annotated with its effective
    data sequence number (`_seq`).  A data_file record with content
    1/2 inside one (malformed tree) still refuses."""
    mp = _abs_path(path, mf["manifest_path"])
    records, _meta, _schema = avrotiny.read_container(mp)
    out = []
    # v3 row lineage: entries with a null data_file.first_row_id
    # inherit from the manifest's assigned anchor in entry order, each
    # consuming record_count; explicit values (stamped when an entry
    # is carried into a rewritten manifest) win and consume nothing.
    row_cursor = mf.get("first_row_id")
    for r in records:
        df = r["data_file"]
        if (df.get("content") or 0) != 0:
            raise ValueError(
                "delete file inside a data manifest — malformed Iceberg "
                "tree; refusing to mis-read"
            )
        r["_seq"] = _entry_seq(r, mf)
        # the spec that interprets this manifest's partition tuples —
        # after partition evolution, manifests from different specs
        # coexist in one snapshot
        r["_spec_id"] = mf.get("partition_spec_id") or 0
        explicit = df.get("first_row_id")
        if explicit is not None:
            r["_first_row_id"] = int(explicit)
        elif r.get("status", 0) == 2:
            # DELETED entries consume NO lineage rows: the manifest-list
            # allocator (and the spec) budgets added_rows_count +
            # existing_rows_count only, so letting a deleted entry eat
            # the cursor would shift every live entry after it into the
            # next manifest's range — duplicate/wrong durable row ids
            r["_first_row_id"] = None
        elif row_cursor is not None:
            r["_first_row_id"] = int(row_cursor)
            row_cursor += int(df.get("record_count") or 0)
        else:
            r["_first_row_id"] = None
        out.append(r)
    return out


def _delete_files(
    path: str, manifest_files: list[dict]
) -> tuple[list[str], list[dict], list[dict]]:
    """Live v2/v3 delete files of a snapshot, split by kind:
    (position-delete parquet paths, equality-delete descriptors
    [{path, seq, ids}], deletion-vector descriptors [{path, offset,
    length, referenced, cardinality}]).  Position deletes and DVs key
    on explicit data-file path so they apply path-matched regardless
    of sequence; equality deletes apply only to data rows whose file's
    data sequence number is STRICTLY BELOW the delete's — the
    descriptor carries it.  DVs (v3) are content=1 entries whose
    file_format is PUFFIN, addressed by blob offset/length inside
    their puffin file."""
    pos: list[str] = []
    eq: list[dict] = []
    dvs: list[dict] = []
    for mf in manifest_files:
        if (mf.get("content") or 0) != 1:
            continue
        mp = _abs_path(path, mf["manifest_path"])
        records, _meta, _schema = avrotiny.read_container(mp)
        for r in records:
            if r.get("status", 0) not in (0, 1):
                continue
            df_rec = r["data_file"]
            content = df_rec.get("content") or 0
            if content not in (1, 2):
                raise ValueError(
                    "data file inside a delete manifest — malformed "
                    "Iceberg tree; refusing to mis-read"
                )
            fmt = (df_rec.get("file_format") or "PARQUET").upper()
            if fmt == "PUFFIN":
                if content != 1:
                    raise ValueError(
                        "puffin equality-delete file — not a thing in "
                        "the spec; refusing to mis-read"
                    )
                ref = df_rec.get("referenced_data_file")
                off = df_rec.get("content_offset")
                ln = df_rec.get("content_size_in_bytes")
                if ref is None or off is None or ln is None:
                    raise ValueError(
                        "deletion-vector entry without referenced_data_"
                        "file/content_offset/content_size_in_bytes — "
                        "malformed v3 metadata"
                    )
                dvs.append(
                    {
                        "path": _abs_path(path, df_rec["file_path"]),
                        "offset": int(off),
                        "length": int(ln),
                        "referenced": ref,
                        "cardinality": int(df_rec.get("record_count") or 0),
                    }
                )
                continue
            if fmt not in ("PARQUET", "AVRO", "ORC"):
                raise ValueError(
                    f"delete file format {fmt} — unsupported"
                )
            if content == 1:
                pos.append(_abs_path(path, df_rec["file_path"]))
            else:
                ids = list(df_rec.get("equality_ids") or [])
                if not ids:
                    raise ValueError(
                        "equality-delete file without equality_ids — "
                        "refusing to mis-read"
                    )
                # scoping rule (spec): a delete stored under an
                # UNPARTITIONED spec applies globally; one stored
                # under a partitioned spec applies only to data files
                # in the SAME partition of that spec — the descriptor
                # carries (spec_id, partition tuple) and _read_entries
                # restricts the anti-join accordingly.
                eq.append(
                    {
                        "path": _abs_path(path, df_rec["file_path"]),
                        "seq": _entry_seq(r, mf),
                        "ids": ids,
                        "spec_id": int(mf.get("partition_spec_id") or 0),
                        "partition": dict(df_rec.get("partition") or {}),
                    }
                )
    return pos, eq, dvs


def _live_entries(path: str, meta: dict, snap: dict) -> list[dict]:
    """Live data files of a snapshot: every data-manifest entry with
    status ADDED(1) or EXISTING(0); DELETED(2) entries drop out."""
    out = []
    for mf in _data_manifests(_read_manifest_list(path, snap)):
        for e in _read_manifest(path, mf):
            if e.get("status", 0) in (0, 1):
                out.append(e)
    return out


# --------------------------------------------------------------------------
# Read path
# --------------------------------------------------------------------------


_IB_FILE, _IB_POS = "_ib_del_file", "_ib_del_pos"
_IB_SEQ = "_ib_data_seq"


def _part_literal(raw, spark_type: str):
    """Typed literal for a partition value stored in its Iceberg
    internal repr (date = days int, timestamp = micros long — a plain
    cast would misread both)."""
    if raw is None:
        return F.lit(None).cast(spark_type)
    if spark_type == "date":
        return F.date_from_unix_date(F.lit(int(raw)))
    if spark_type == "timestamp":
        return F.timestamp_micros(F.lit(int(raw)))
    if spark_type.startswith("time("):
        return F.lit(_time_of_micros(raw))  # foreign identity(time)
    if spark_type == "string" and isinstance(raw, (bytes, bytearray)):
        # uuid identity value decoded from a manifest whose avro
        # schema lost the logical annotation (minimal foreign writer)
        return F.lit(_uuid_str(raw))
    return F.lit(raw).cast(spark_type)


#: Iceberg primitive types whose defaults we serialize as plain JSON
#: single-values (spec "JSON single-value serialization").
_DEFAULTABLE_TYPES = {"int", "long", "string", "double", "float", "boolean"}


def _entry_has_field(path: str, df_rec: dict, fid: int, name: str) -> bool:
    """Whether a data file CONTAINS a column (v3 default-values rule:
    `initial-default` applies only to files written before the column
    existed).  Decided from the entry's per-field-id stats maps —
    metadata already in hand, zero IO — when they mention the field;
    any file whose stats do NOT mention this field id (truncated
    metrics, minimal foreign writer) falls back to one memoized
    driver-side footer read, because absence from stats does not prove
    absence from the file."""
    maps = [
        df_rec.get(k)
        for k in (
            "value_counts",
            "null_value_counts",
            "lower_bounds",
            "upper_bounds",
        )
    ]
    if any(fid in _norm_id_map(m) for m in maps if m):
        return True
    # The stats maps can be TRUNCATED per column (metrics modes like
    # max-inferred-column-defaults drop columns past a limit), so a
    # field id missing from every map does NOT prove absence — fall
    # back to the parquet footer whenever the specific id is unseen,
    # not only when all maps are empty; otherwise a present column
    # would be silently overwritten by the initial-default literal.
    return name in _footer_names(_abs_path(path, df_rec["file_path"]))


@_functools.lru_cache(maxsize=4096)
def _footer_names(abs_path: str) -> frozenset:
    """Top-level column names from one parquet footer, memoized per
    file so the per-(entry, defaulted-field) presence probe costs at
    most one footer read per file.  pqfooter handles files pyarrow
    cannot open (VARIANT columns)."""
    from .pqfooter import read_footer

    return frozenset(
        c.split(".", 1)[0] for c in read_footer(abs_path)["columns"]
    )


def _ddl_type(typ: str):
    """One Spark DataType from a DDL type string ("bigint", ...)."""
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(typ)


def _dv_positions_df(spark: SparkSession, dv_list: list[dict]) -> DataFrame:
    """Expand v3 deletion-vector blobs into a (_IB_FILE, _IB_POS)
    mask DataFrame.  Blob bytes are read driver-side (they are the
    compressed roaring form — metadata-scale, like any manifest read)
    and expanded to positions on the executors via an Arrow-batched
    kernel, so a multi-million-row DV never materializes as Python
    ints on the driver."""
    from . import puffin

    rows = []
    for d in sorted(dv_list, key=lambda x: (x["referenced"], x["offset"])):
        blob = puffin.read_blob(d["path"], d["offset"], d["length"])
        rows.append((d["referenced"].rsplit("/", 1)[-1], bytearray(blob)))

    def expand(batches):
        import pandas as pd

        from . import puffin as _pf

        for pdf in batches:
            for tail, blob in zip(pdf["tail"], pdf["blob"]):
                positions = _pf.parse_dv_payload(bytes(blob))
                if positions:
                    yield pd.DataFrame(
                        {_IB_FILE: tail, _IB_POS: positions}
                    )

    src = local_rows_df(spark, rows, "tail string, blob binary")
    return src.repartition(min(len(rows), 32)).mapInPandas(
        expand, schema=f"{_IB_FILE} string, {_IB_POS} bigint"
    )


@_functools.lru_cache(maxsize=65536)
def _is_avro_file(abs_path: str) -> bool:
    """Container-magic sniff — landed data/delete files are immutable
    (uuid names), so the memo never goes stale."""
    local = abs_path[7:] if abs_path.startswith("file://") else abs_path
    with open(local, "rb") as f:
        return f.read(4) == b"Obj\x01"


@_functools.lru_cache(maxsize=65536)
def _is_orc_file(abs_path: str) -> bool:
    """ORC magic sniff (the format starts with the 3 bytes 'ORC');
    same immutable-file memo as the Avro sniff."""
    local = abs_path[7:] if abs_path.startswith("file://") else abs_path
    with open(local, "rb") as f:
        return f.read(3) == b"ORC"


def _orc_scan(
    spark: SparkSession,
    files: list[str],
    read_schema,
    with_identity: bool,
) -> DataFrame:
    """Distributed scan of Iceberg ORC data/delete files (r12; the
    format Hive-lineage writers land): one task per file decodes with
    pyarrow.orc inside an Arrow-batched `mapInPandas` kernel — this
    Spark build's native ORC reader exposes NO `_metadata.row_index`
    (probed: only file_path/size/etc), so the parquet path's identity
    trick cannot work; instead row POSITION is the row ordinal within
    its file (the spec's `pos` definition), letting position deletes
    and DVs apply to ORC data files through the same identity
    anti-join as parquet.  Columns absent from a file read as NULL
    (schema-evolution rule).  Timestamp columns refuse loudly — ORC
    writer-zone semantics vary by engine and a silent shift is worse
    than a refusal."""
    import pandas as pd  # noqa: F401  (worker-side)

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    from pyspark.sql.types import TimeType as _TT

    for f in read_schema.fields:
        if isinstance(f.dataType, (TimestampType, TimestampNTZType)):
            raise ValueError(
                "timestamp columns in ORC data files are unsupported "
                "(writer-zone semantics vary by engine)"
            )
        if isinstance(f.dataType, _TT):
            raise ValueError(
                "time columns in ORC data files are unsupported by "
                "this tier — land parquet instead"
            )
    names = [f.name for f in read_schema.fields]
    out_fields = [StructField(f.name, f.dataType, True) for f in read_schema.fields]
    if with_identity:
        out_fields += [
            StructField(_IB_FILE, StringType(), True),
            StructField(_IB_POS, LongType(), True),
        ]
    paths = sorted(set(files))
    src = local_rows_df(spark, [(pp,) for pp in paths], "path string")

    def decode(batches):
        import pandas as pd
        import pyarrow.orc as po

        for pdf in batches:
            for pth in pdf["path"]:
                local = pth[7:] if pth.startswith("file://") else pth
                orc = po.ORCFile(local)
                avail = set(orc.schema.names)
                cols = [n for n in names if n in avail]
                body = orc.read(columns=cols).to_pandas()
                n = len(body)
                data = {
                    nm: (
                        body[nm]
                        if nm in body.columns
                        else pd.Series([None] * n, dtype="object")
                    )
                    for nm in names
                }
                if with_identity:
                    tail = local.rsplit("/", 1)[-1]
                    data[_IB_FILE] = [tail] * n
                    data[_IB_POS] = list(range(n))
                yield pd.DataFrame(data)

    return src.repartition(len(paths)).mapInPandas(
        decode, schema=StructType(out_fields)
    )


def _uuid_str_expr(c):
    """Canonical lowercase 8-4-4-4-12 uuid string from a 16-byte
    binary column — pure JVM expressions (hex/substr/concat), no
    Python in the hot path."""
    h = F.lower(F.hex(c))
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat_ws(
            "-",
            F.substring(h, 1, 8),
            F.substring(h, 9, 4),
            F.substring(h, 13, 4),
            F.substring(h, 17, 4),
            F.substring(h, 21, 12),
        )
    )


def _pq_arrow_scan(
    spark: SparkSession,
    files: list[str],
    read_schema,
    with_identity: bool,
) -> DataFrame:
    """Distributed scan of parquet data files through pyarrow instead
    of Spark's native reader — the route for tables carrying `time`
    columns, whose TIME(MICROS) annotation Spark's parquet reader
    refuses outright (both isAdjustedToUTC flavors) even though Spark
    4.1 has the TimeType.  One task per file decodes inside an
    Arrow-batched `mapInPandas` kernel; row POSITION is the ordinal
    within the file (whole-file in-order read — the spec's `pos`), so
    position deletes and DVs apply through the same identity anti-join
    as the native path.  uuid columns come back as their physical
    16-byte form (the caller converts to canonical strings exactly as
    on the native path); columns absent from a file read as NULL
    (schema-evolution rule)."""
    import pandas as pd  # noqa: F401  (worker-side)

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimeType,
    )

    time_cols = {
        f.name for f in read_schema.fields if isinstance(f.dataType, TimeType)
    }
    names = [f.name for f in read_schema.fields]
    out_fields = [
        StructField(f.name, f.dataType, True) for f in read_schema.fields
    ]
    if with_identity:
        out_fields += [
            StructField(_IB_FILE, StringType(), True),
            StructField(_IB_POS, LongType(), True),
        ]
    paths = sorted(set(files))
    src = local_rows_df(spark, [(pp,) for pp in paths], "path string")

    def decode(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            for pth in pdf["path"]:
                local = pth[7:] if pth.startswith("file://") else pth
                pf = pq.ParquetFile(local)
                avail = set(pf.schema_arrow.names)
                cols = [n for n in names if n in avail]
                body = pf.read(columns=cols).to_pandas()
                n = len(body)
                data = {}
                for nm in names:
                    if nm in body.columns:
                        s = body[nm]
                        if nm in time_cols and s.dtype != object:
                            # foreign writer landed plain INT64 micros
                            s = s.map(
                                lambda v: None
                                if pd.isna(v)
                                else _time_of_micros(int(v))
                            )
                        data[nm] = s
                    else:
                        data[nm] = pd.Series([None] * n, dtype="object")
                if with_identity:
                    tail = local.rsplit("/", 1)[-1]
                    data[_IB_FILE] = [tail] * n
                    data[_IB_POS] = list(range(n))
                yield pd.DataFrame(data)

    return src.repartition(len(paths)).mapInPandas(
        decode, schema=StructType(out_fields)
    )


def _avro_scan(
    spark: SparkSession,
    files: list[str],
    read_schema,
    with_identity: bool,
) -> DataFrame:
    """Distributed scan of Iceberg AVRO data/delete files (the format
    Flink writers land by default): one task per file decodes with the
    avrotiny codec inside an Arrow-batched `mapInPandas` kernel — no
    spark-avro connector exists in this environment, and the decode
    parallelizes across files exactly like the parquet path
    parallelizes across row groups.  Avro date/timestamp logical
    values arrive as their container ints and convert JVM-side; row
    POSITION is the record ordinal within its file (the spec's `pos`
    definition), so position deletes and DVs apply to Avro data files
    through the same identity anti-join as parquet."""
    from pyspark.sql.types import (
        DateType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    internal, converts = [], {}
    for f in read_schema.fields:
        if isinstance(f.dataType, DateType):
            internal.append(StructField(f.name, IntegerType(), True))
            converts[f.name] = "date"
        elif isinstance(f.dataType, TimestampNTZType):
            raise ValueError(
                "timestamp (without zone) columns in Avro data files "
                "are unsupported"
            )
        elif type(f.dataType).__name__ == "TimeType":
            raise ValueError(
                "time columns in Avro data files are unsupported by "
                "this tier — land parquet instead"
            )
        elif isinstance(f.dataType, TimestampType):
            internal.append(StructField(f.name, LongType(), True))
            converts[f.name] = "ts"
        else:
            internal.append(StructField(f.name, f.dataType, True))
    names = [f.name for f in internal]
    out_fields = list(internal)
    if with_identity:
        out_fields += [
            StructField(_IB_FILE, StringType(), True),
            StructField(_IB_POS, LongType(), True),
        ]
    paths = sorted(set(files))
    src = local_rows_df(spark, [(pp,) for pp in paths], "path string")

    def decode(batches):
        import pandas as pd

        from . import avrotiny as _av

        for pdf in batches:
            for pth in pdf["path"]:
                local = pth[7:] if pth.startswith("file://") else pth
                records, _m, _s = _av.read_container(local)
                data = {n: [r.get(n) for r in records] for n in names}
                if with_identity:
                    tail = local.rsplit("/", 1)[-1]
                    data[_IB_FILE] = [tail] * len(records)
                    data[_IB_POS] = list(range(len(records)))
                yield pd.DataFrame(data)

    out = src.repartition(len(paths)).mapInPandas(
        decode, schema=StructType(out_fields)
    )
    for name, kind in converts.items():
        out = out.withColumn(
            name,
            F.date_from_unix_date(F.col(name))
            if kind == "date"
            else F.timestamp_micros(F.col(name)),
        )
    return out


def _pos_delete_rows(spark: SparkSession, paths: list[str]) -> DataFrame:
    """(file tail, pos) rows of a set of position-delete files —
    parquet and Avro mixed (format sniffed per file)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    uniq = sorted(set(paths))
    avr = [f for f in uniq if _is_avro_file(f)]
    orc = [f for f in uniq if _is_orc_file(f)]
    par = [f for f in uniq if f not in set(avr) | set(orc)]
    legs = []
    if par:
        legs.append(
            spark.read.parquet(*par).select(
                F.element_at(F.split(F.col("file_path"), "/"), -1).alias(
                    _IB_FILE
                ),
                F.col("pos").cast("bigint").alias(_IB_POS),
            )
        )
    sch = StructType(
        [
            StructField("file_path", StringType(), True),
            StructField("pos", LongType(), True),
        ]
    )
    for group, scan in ((avr, _avro_scan), (orc, _orc_scan)):
        if group:
            legs.append(
                scan(spark, group, sch, with_identity=False).select(
                    F.element_at(
                        F.split(F.col("file_path"), "/"), -1
                    ).alias(_IB_FILE),
                    F.col("pos").cast("bigint").alias(_IB_POS),
                )
            )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _read_entries(
    spark: SparkSession,
    path: str,
    meta: dict,
    entries: list[dict],
    delete_files: list[str] | None = None,
    eq_deletes: list[dict] | None = None,
    keep_identity: bool = False,
    dvs: list[dict] | None = None,
    extra_read_cols: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Scan a set of data files, reconstructing identity-partition
    columns from each entry's partition struct — the spec's column
    projection rule for identity transforms (partition source columns
    may be absent from data files).  When v2 POSITION-delete files are
    live, their (file_path, pos) rows are anti-joined against the
    scan's `_metadata` row identity (merge-on-read, the same broadcast
    shape the Delta DV scans use); both sides key on the
    file-name tail, unique by construction (uuid part names).  When v2
    EQUALITY-delete files are live, each set of equality_ids is ONE
    scan of all its delete files and ONE null-safe anti-join,
    restricted to rows whose file's data sequence number is strictly
    below the delete file's (the spec's application rule — rows
    appended after the delete survive); both sequence numbers come
    per row from file-name-keyed map literals, so the plan has the
    same size however many delete files are live.
    `keep_identity` keeps (_IB_FILE, _IB_POS) in the output — the
    merge-on-read delete writer uses it to locate matched rows.
    `extra_read_cols` [(name, spark_type)] are read from every data
    file when present (files lacking them yield NULL, Spark's
    explicit-schema rule) — the v3 lineage path uses this to pull
    MATERIALIZED `_row_id` columns out of rewritten files."""
    fields = _schema_of(meta)
    schema = _spark_schema(fields)
    by_id = {f["id"]: f for f in fields}
    # uuid columns read in their PHYSICAL form (FLBA(16) → binary, the
    # one shape Spark's parquet reader accepts) and convert to
    # canonical strings per group below; any `time` column routes the
    # group's parquet files through the Arrow scan kernel (Spark's
    # native reader refuses the TIME annotation outright)
    uuid_cols = {f["name"] for f in fields if f["type"] == "uuid"}
    has_time = any(f["type"] == "time" for f in fields)
    # per-SPEC partition interpretation: after partition evolution a
    # snapshot mixes manifests written under different specs — each
    # entry's `_spec_id` picks which spec decodes its tuple.  Only
    # IDENTITY partition values reconstruct as columns — transform
    # sources stay inside the data files per the spec's projection
    # rule; identity sources dropped by a later schema evolution are
    # skipped (not in the read schema).
    spec_infos: dict[int, tuple] = {}
    for sid, sfields in _specs_by_id(meta).items():
        id_pfs = [
            pf
            for pf in sfields
            if pf.get("transform", "identity") == "identity"
            and pf["source-id"] in by_id
        ]
        spec_infos[sid] = (
            [pf["name"] for pf in sfields],
            {pf["name"]: by_id[pf["source-id"]]["name"] for pf in id_pfs},
            {
                pf["name"]: _ice_primitive_to_spark(
                    by_id[pf["source-id"]]["type"]
                )
                for pf in id_pfs
            },
        )
    default_sid = _default_spec_id(meta)
    if default_sid not in spec_infos:  # pragma: no cover - malformed meta
        spec_infos[default_sid] = ([], {}, {})
    from pyspark.sql.types import StructType

    if not entries:
        out = spark.createDataFrame([], schema)
        if keep_identity:
            out = out.withColumn(_IB_FILE, F.lit(None).cast("string"))
            out = out.withColumn(_IB_POS, F.lit(None).cast("bigint"))
        for name, typ in extra_read_cols or []:
            out = out.withColumn(name, F.lit(None).cast(typ))
        return out
    # name-mapping (renames): each field may resolve from any of its
    # historical parquet column names — scan ALL candidates and
    # coalesce (files carry names, not field ids; the spec's
    # schema.name-mapping.default rule)
    nm = _name_mapping(meta)
    current_names = {f["name"] for f in fields}
    candidates: dict[str, list[str]] = {}
    for fd in fields:
        names = [fd["name"]] + [
            n
            for n in nm.get(fd["id"], [])
            if n != fd["name"] and n not in current_names
        ]
        candidates[fd["name"]] = names
    from pyspark.sql.types import StructField

    extras = list(extra_read_cols or [])

    def read_schema_for(skip_srcs: set) -> StructType:
        from pyspark.sql.types import BinaryType

        read_cols = []
        for f in schema.fields:
            if f.name in skip_srcs:
                continue
            dt = BinaryType() if f.name in uuid_cols else f.dataType
            for n in candidates[f.name]:
                read_cols.append(StructField(n, dt, True))
        for name, typ in extras:
            read_cols.append(StructField(name, _ddl_type(typ), True))
        return StructType(read_cols)

    deletes = list(delete_files or [])
    eqs = list(eq_deletes or [])
    dv_list = list(dvs or [])
    need_identity = bool(deletes) or bool(dv_list) or keep_identity
    need_file = need_identity or bool(eqs)
    # file-name tail → data sequence number; None marks a tail that files
    # at different sequence numbers share: those group by sequence
    seq_of: dict = {}
    for e in entries if eqs else []:
        s = int(e.get("_seq", 0))
        t = e["data_file"]["file_path"].rsplit("/", 1)[-1]
        seq_of[t] = s if seq_of.get(t, s) == s else None

    def _scope_str(sid: int, pkey: tuple) -> str:
        return str((int(sid), tuple(pkey)))

    # a delete is SCOPED iff its storing spec is partitioned (an
    # all-null tuple under a partitioned spec targets the null
    # partition, NOT the whole table)
    any_scoped = False
    for ed in eqs:
        d_sid = int(ed.get("spec_id", 0))
        d_names = spec_infos.get(d_sid, ([], {}, {}))[0]
        if d_names:
            ed["_scope"] = _scope_str(
                d_sid, tuple(ed.get("partition", {}).get(n) for n in d_names)
            )
            any_scoped = True
        else:
            ed["_scope"] = None
    # v3 default values: initial-default applies only to files that
    # PREDATE the column — presence is decided per file from its
    # per-field-id stats and becomes part of the group key, so a
    # group either reads the column or fills the default literal
    defaulted = [
        (
            f["name"],
            f["id"],
            f["initial-default"],
            _ice_primitive_to_spark(f["type"]),
        )
        for f in fields
        if f.get("initial-default") is not None
    ]
    # group files by ONLY the inputs that change what the scan attaches
    # per group: spec id, IDENTITY partition values (transform-source
    # values live inside the data files and attach nothing — keying on
    # them would split an hours-partitioned table into one scan
    # relation PER HOUR, a measured 47-way plan blowup on the stream
    # entry), default-column presence, and the full partition tuple
    # only when a scoped delete actually consumes it (`_ib_part`).  All
    # constant per group, so identity values and defaults attach as
    # literals — no join.  The data sequence number is NOT a key: when
    # equality deletes are live each row looks it up from one map
    # literal on its file-name tail, so the scan stays one group
    # however many upserts landed.
    groups: dict[tuple, list[str]] = {}
    for e in entries:
        df_rec = e["data_file"]
        pv = df_rec.get("partition") or {}
        sid = int(e.get("_spec_id", 0))
        if sid not in spec_infos:
            raise ValueError(
                f"manifest references unknown partition spec id {sid}"
            )
        presence = tuple(
            _entry_has_field(path, df_rec, fid, nm)
            for nm, fid, _d, _t in defaulted
        )
        part_vals = tuple(
            pv.get(n)
            for n in (
                spec_infos[sid][0] if any_scoped else spec_infos[sid][1]
            )
        )
        tail = df_rec["file_path"].rsplit("/", 1)[-1]
        lit_seq = e.get("_seq", 0) if eqs and seq_of[tail] is None else None
        key = (sid, part_vals, presence, lit_seq)
        groups.setdefault(key, []).append(
            _abs_path(path, df_rec["file_path"])
        )
    seq_by_file = _by_file(seq_of, "bigint") if eqs else None
    extra = ([_IB_FILE] if need_file else []) + (
        [_IB_POS] if need_identity else []
    ) + ([_IB_SEQ] if eqs else []) + (
        ["_ib_part"] if any_scoped else []
    ) + [n for n, _t in extras]
    frames = []
    for key, files in sorted(groups.items(), key=lambda kv: str(kv[0])):
        sid = key[0]
        part_names, part_src, part_type = spec_infos[sid]
        keyed_names = list(part_names) if any_scoped else list(part_src)
        pkey = key[1]
        presence = key[2]
        absent = {
            nm
            for (nm, _fid, _d, _t), has in zip(defaulted, presence)
            if not has
        }
        rs = read_schema_for(set(part_src.values()) | absent)
        avr_files = [f for f in files if _is_avro_file(f)]
        orc_files = [f for f in files if _is_orc_file(f)]
        par_files = [
            f for f in files if f not in set(avr_files) | set(orc_files)
        ]
        subframes = []
        if par_files:
            if has_time:
                d = _pq_arrow_scan(spark, sorted(par_files), rs, need_file)
            else:
                d = spark.read.schema(rs).parquet(*sorted(par_files))
                if need_file:
                    d = d.select(
                        "*",
                        F.col("_metadata.file_name").alias(_IB_FILE),
                        F.col("_metadata.row_index").alias(_IB_POS),
                    )
            subframes.append(d)
        if avr_files:
            subframes.append(_avro_scan(spark, avr_files, rs, need_file))
        if orc_files:
            subframes.append(_orc_scan(spark, orc_files, rs, need_file))
        df = _functools.reduce(DataFrame.unionByName, subframes)
        # ONE select per group replaces the per-column withColumn chain
        # (each withColumn is an eagerly-analyzed Dataset + a py4j
        # round trip — O(plan²) driver work on wide protocol plans)
        default_of = {
            nm: (dflt, typ)
            for nm, _fid, dflt, typ in defaulted
            if nm in absent
        }
        part_lit = {}
        for pname, raw in zip(keyed_names, pkey):
            col = part_src.get(pname)
            if col is None:
                continue  # transform field: source col is in the file
            part_lit[col] = _part_literal(raw, part_type[pname])
        proj = []
        for f in schema.fields:
            if f.name in part_lit:
                e_col = part_lit[f.name]
            elif f.name in default_of:
                dflt, typ = default_of[f.name]
                e_col = F.lit(dflt).cast(typ)
            else:
                names = candidates.get(f.name) or []
                e_col = (
                    F.coalesce(*[F.col(n) for n in names])
                    if len(names) > 1
                    else F.col(f.name)
                )
                if f.name in uuid_cols:
                    # file-read uuid columns arrive as FLBA(16) binary
                    # — convert to the canonical string projection
                    # (identity partition sources reconstruct as
                    # strings above instead)
                    e_col = _uuid_str_expr(e_col)
            proj.append(e_col.alias(f.name))
        for name in extra:
            if name == _IB_SEQ:
                proj.append(
                    (seq_by_file if key[3] is None else F.lit(key[3]))
                    .alias(_IB_SEQ)
                )
            elif name == "_ib_part":
                proj.append(
                    F.lit(_scope_str(sid, pkey)).alias("_ib_part")
                )
            else:
                proj.append(F.col(name))
        frames.append(df.select(*proj))
    out = _functools.reduce(DataFrame.unionByName, frames)
    masks = []
    if deletes:
        masks.append(_pos_delete_rows(spark, deletes))
    if dv_list:
        # v3 deletion vectors: the driver ships each referenced file's
        # COMPRESSED roaring blob to the executors (the blob is the
        # small, already-deduplicated form); positions expand
        # distributed inside an Arrow-batched kernel, then mask the
        # scan through the same broadcast anti-join position deletes
        # use.  One DV per data file by spec, so no dedup is needed
        # across blobs.
        masks.append(_dv_positions_df(spark, dv_list))
    if masks:
        mask = _functools.reduce(DataFrame.unionByName, masks)
        # duplicate positions on the build side of a left-anti join
        # cannot change which rows survive: no dedup shuffle
        out = out.join(F.broadcast(mask), [_IB_FILE, _IB_POS], "left_anti")
    by_ids: dict[tuple, list[dict]] = {}
    for ed in eqs:
        by_ids.setdefault(tuple(ed["ids"]), []).append(ed)
    for ids, group in sorted(by_ids.items()):
        for i in ids:
            f0 = by_id.get(i)
            if f0 is None or not isinstance(f0["type"], str):
                raise ValueError(
                    f"equality delete references field id {i}, which is "
                    "not a top-level primitive column of the current "
                    "schema — refusing to mis-apply"
                )
            if f0["type"] in ("uuid", "time") or (
                _fixed_size(f0["type"]) is not None
            ):
                raise ValueError(
                    f"equality delete on {f0['name']!r} "
                    f"({f0['type']}) is unsupported — the delete "
                    "file's physical form cannot be matched against "
                    "the projected column without ambiguity"
                )
        cols = [by_id[i]["name"] for i in ids]
        key_schema = _spark_schema([by_id[i] for i in ids])
        # ONE scan of all this set's delete files; each row takes its
        # file's sequence number and scope from map literals
        tails = {
            (ed["path"].rsplit("/", 1)[-1], int(ed["seq"]), ed["_scope"])
            for ed in group
        }
        if len(tails) != len({t[0] for t in tails}):
            raise ValueError(
                "equality-delete files share a file name at different "
                "sequence numbers or scopes — refusing to mis-apply"
            )
        paths = sorted({ed["path"] for ed in group})
        avr = [f for f in paths if _is_avro_file(f)]
        orc = [f for f in paths if _is_orc_file(f)]
        par = [f for f in paths if f not in set(avr) | set(orc)]
        # an explicit-schema read fills an absent key column with NULL,
        # which would delete the NULL-key rows
        for f in par:
            if not set(cols) <= _footer_names(f):
                raise ValueError(f"delete file {f} lacks a key of {cols}")
        legs = [
            scan(spark, files, key_schema, True).select(*cols, _IB_FILE)
            for files, scan in ((avr, _avro_scan), (orc, _orc_scan))
            if files
        ]
        if par:
            legs.append(
                spark.read.schema(key_schema).parquet(*par).select(
                    *cols, F.col("_metadata.file_name").alias(_IB_FILE)
                )
            )
        dels = _functools.reduce(DataFrame.unionByName, legs).select(
            *[F.col(c).alias(f"_eq_{c}") for c in cols],
            _by_file({t: q for t, q, _p in tails}, "bigint").alias("_eq_seq"),
            *(
                [_by_file({t: p for t, _q, p in tails}, "string")
                 .alias("_eq_scope")]
                if any_scoped
                else []
            ),
        )
        cond = F.col(_IB_SEQ) < F.col("_eq_seq")
        if any_scoped:
            # partition-scoped deletes never match rows outside their
            # partition; a NULL scope is a global delete
            cond = cond & (
                F.col("_eq_scope").isNull()
                | (F.col("_ib_part") == F.col("_eq_scope"))
            )
        for c in cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"_eq_{c}"))
        out = out.join(F.broadcast(dels), on=cond, how="left_anti")
    if eqs:
        out = out.drop(_IB_SEQ)
    if any_scoped:
        out = out.drop("_ib_part")
    if need_file and not keep_identity:
        out = out.drop(_IB_FILE, _IB_POS)
    return out


def _by_file(values: dict, typ: str):
    """Each row's value from `values` keyed on its file-name tail, as
    ONE constant-folded map literal: O(1) py4j calls however many
    files (`create_map` costs O(files)); an absent tail reads NULL."""
    return F.element_at(
        F.from_json(F.lit(json.dumps(values)), f"map<string,{typ}>"),
        F.col(_IB_FILE),
    )


#: v3 row-lineage metadata column names (spec: `_row_id`,
#: `_last_updated_sequence_number`).
_ROW_ID = "_row_id"
_LUSN = "_last_updated_sequence_number"


def _lineage_scan(
    spark: SparkSession,
    path: str,
    meta: dict,
    entries: list[dict],
    pos_files: list[str],
    eq_dels: list[dict],
    dvs: list[dict],
) -> DataFrame:
    """Scan with `_row_id` / `_last_updated_sequence_number` attached,
    resolving the v3 precedence rule: a MATERIALIZED column in the
    data file wins (files written by a lineage-preserving rewrite
    carry their rows' original ids); otherwise the id is inherited —
    manifest anchor + row position — and the update sequence is the
    file's data sequence number.  Anchors attach via one broadcast map
    join, no shuffle."""
    scan = _read_entries(
        spark, path, meta, entries, pos_files, eq_dels,
        keep_identity=True, dvs=dvs,
        extra_read_cols=[(_ROW_ID, "bigint"), (_LUSN, "bigint")],
    )
    anchors = local_rows_df(spark, 
        [
            (
                e["data_file"]["file_path"].rsplit("/", 1)[-1],
                e.get("_first_row_id"),
                int(e.get("_seq", 0)),
            )
            for e in entries
        ],
        f"{_IB_FILE} string, _ib_first bigint, _ib_seq bigint",
    )
    out = (
        scan.join(F.broadcast(anchors), _IB_FILE, "left")
        .withColumn(
            _ROW_ID,
            F.coalesce(
                F.col(_ROW_ID), F.col("_ib_first") + F.col(_IB_POS)
            ),
        )
        .withColumn(_LUSN, F.coalesce(F.col(_LUSN), F.col("_ib_seq")))
    )
    data_cols = [f.name for f in _spark_schema(_schema_of(meta)).fields]
    return out.select(*data_cols, _ROW_ID, _LUSN)


def iceberg_snapshot_at_timestamp(path: str, timestamp_ms: int) -> int:
    """`TIMESTAMP AS OF`: the snapshot current at `timestamp_ms`, from
    the snapshot-log (the spec's made-current ledger).  Raises when
    the timestamp predates the oldest retained entry — expired history
    must refuse, never silently serve the oldest survivor."""
    meta = current_metadata(path)
    log = sorted(
        meta.get("snapshot-log") or [], key=lambda e: e["timestamp-ms"]
    )
    at = [e for e in log if e["timestamp-ms"] <= timestamp_ms]
    if not at:
        raise ValueError(
            f"no snapshot at or before {timestamp_ms} — the history may "
            "have been expired"
        )
    return int(at[-1]["snapshot-id"])


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    ref: str | None = None,
    timestamp_ms: int | None = None,
    with_row_lineage: bool = False,
) -> DataFrame:
    """Snapshot (optionally time-travel) read of a real Iceberg table:
    metadata JSON → manifest list → manifests → parquet scan, identity
    partition columns rebuilt from partition structs.  `ref` reads a
    named tag/branch head (`VERSION AS OF 'name'`); `timestamp_ms`
    reads the snapshot current at that instant (`TIMESTAMP AS OF`,
    resolved through the snapshot-log).
    `with_row_lineage` (v3) appends the spec's lineage metadata
    columns: `_row_id` (the file's inherited first_row_id + row
    position — null for files whose manifest predates the v3 upgrade)
    and `_last_updated_sequence_number` (the file's data sequence
    number).  The per-file anchors attach via one broadcast map join —
    no shuffle."""
    meta = current_metadata(path)
    if sum(x is not None for x in (snapshot_id, ref, timestamp_ms)) > 1:
        raise ValueError(
            "pass at most one of snapshot_id / ref / timestamp_ms"
        )
    if ref is not None:
        snapshot_id = _resolve_ref(meta, ref)
    elif timestamp_ms is not None:
        snapshot_id = iceberg_snapshot_at_timestamp(path, timestamp_ms)
    snap = _snapshot(meta, snapshot_id)
    if snap is None:
        out = spark.createDataFrame([], _spark_schema(_schema_of(meta)))
        if with_row_lineage:
            out = out.withColumn(
                "_row_id", F.lit(None).cast("bigint")
            ).withColumn(
                "_last_updated_sequence_number", F.lit(None).cast("bigint")
            )
        return out
    mfs = _read_manifest_list(path, snap)
    entries = []
    for mf in _data_manifests(mfs):
        for e in _read_manifest(path, mf):
            if e.get("status", 0) in (0, 1):
                entries.append(e)
    pos_files, eq_deletes, dvs = _delete_files(path, mfs)
    if not with_row_lineage:
        return _read_entries(
            spark, path, meta, entries, pos_files, eq_deletes, dvs=dvs
        )
    if int(meta.get("format-version", 1)) < 3:
        raise ValueError(
            "row lineage needs a format-version 3 table — run "
            "upgrade_iceberg_format(path, 3) first"
        )
    return _lineage_scan(
        spark, path, meta, entries, pos_files, eq_deletes, dvs
    )


def read_iceberg_pruned(
    spark: SparkSession, path: str, col: str, lo, hi
) -> tuple[DataFrame, int, int, int]:
    """Metadata-only data skipping for `col BETWEEN lo AND hi`, in the
    spec's three tiers: manifest-list partition summaries (whole
    manifests skipped unopened) → per-entry identity partition values →
    per-file lower/upper bounds (single-value deserialization).
    Returns (filtered frame, files_read, files_skipped,
    manifests_skipped)."""
    meta = current_metadata(path)
    snap = _snapshot(meta, snapshot_id=None)
    cond = F.col(col).between(lo, hi)
    if snap is None:
        empty = spark.createDataFrame([], _spark_schema(_schema_of(meta)))
        return empty.filter(cond), 0, 0, 0
    fields = _schema_of(meta)
    spec = _spec_of(meta)
    # dotted paths resolve STRUCT leaves ("s.a") — their bounds land in
    # manifests under the nested field id, so struct members prune too
    lookup = _struct_leaf_index({f["name"]: f for f in fields})
    fld = lookup.get(col)
    if fld is None:
        raise ValueError(f"no column {col!r} in the Iceberg schema")
    if not isinstance(fld["type"], str):
        raise ValueError(
            f"column {col!r} has composite type — range pruning takes a "
            "primitive (filter a leaf, e.g. a struct member path)"
        )
    fid = fld["id"]
    ice_type = fld["type"]
    part_pos = next(
        (i for i, pf in enumerate(spec) if pf["source-id"] == fid), None
    )
    pf = spec[part_pos] if part_pos is not None else None
    part_name = pf["name"] if pf is not None else None
    lo_i, hi_i = _to_internal(ice_type, lo), _to_internal(ice_type, hi)
    # map the predicate bounds into PARTITION space: monotone
    # transforms (identity/year/month/day/hour/truncate) bound a range
    # — T(lo) <= T(v) <= T(hi) — while bucket scrambles order and can
    # prune only a point lookup (lo == hi → one bucket value)
    p_lo = p_hi = res_type = None
    if pf is not None:
        kind, _param = _parse_transform(pf.get("transform", "identity"))
        res_type = _pf_result_type(pf, ice_type)
        if kind in _MONOTONE_KINDS:
            p_lo = _apply_transform_py(pf, ice_type, lo_i)
            p_hi = _apply_transform_py(pf, ice_type, hi_i)
        elif kind == "bucket" and lo_i == hi_i:
            p_lo = p_hi = _apply_transform_py(pf, ice_type, lo_i)

    manifests_skipped = 0
    files_read = 0
    files_skipped = 0
    kept: list[dict] = []
    default_sid = _default_spec_id(meta)
    all_mfs = _read_manifest_list(path, snap)
    for mf in _data_manifests(all_mfs):
        # partition tiers only apply to manifests written under the
        # DEFAULT spec — after partition evolution, old-spec manifests
        # have differently-ordered summaries and tuples; they fall
        # through to the file-bound tier
        mf_default = (mf.get("partition_spec_id") or 0) == default_sid
        summaries = mf.get("partitions")
        if (
            mf_default
            and p_lo is not None
            and summaries
            and part_pos < len(summaries)
        ):
            s = summaries[part_pos]
            s_lo = deser_value(res_type, s.get("lower_bound"))
            s_hi = deser_value(res_type, s.get("upper_bound"))
            if (
                s_lo is not None
                and s_hi is not None
                and not s.get("contains_null")
                and (s_hi < p_lo or s_lo > p_hi)
            ):
                manifests_skipped += 1
                continue
        for e in _read_manifest(path, mf):
            if e.get("status", 0) not in (0, 1):
                continue
            df_rec = e["data_file"]
            if mf_default and part_name is not None and p_lo is not None:
                pv = (df_rec.get("partition") or {}).get(part_name)
                if pv is not None and (pv < p_lo or pv > p_hi):
                    files_skipped += 1
                    continue
            # file-bound tier: present whenever the column lives in the
            # data files (always, except identity partition sources)
            lbs = _norm_id_map(df_rec.get("lower_bounds"))
            ubs = _norm_id_map(df_rec.get("upper_bounds"))
            f_lo = deser_value(ice_type, lbs.get(fid))
            f_hi = deser_value(ice_type, ubs.get(fid))
            if (
                f_lo is not None
                and f_hi is not None
                and (f_hi < lo_i or f_lo > hi_i)
            ):
                files_skipped += 1
                continue
            files_read += 1
            kept.append(e)
    pos_files, eq_deletes, dvs = _delete_files(path, all_mfs)
    df = _read_entries(
        spark, path, meta, kept, pos_files, eq_deletes, dvs=dvs
    )
    return df.filter(cond), files_read, files_skipped, manifests_skipped


# --------------------------------------------------------------------------
# Write path
# --------------------------------------------------------------------------


def _parse_hive_value(ice_type: str, v: str):
    """Decode one hive partition-directory value into the spec's
    internal repr for its Iceberg type.  Hive %XX escaping (Spark's
    ExternalCatalogUtils.escapePathName) is decoded first, so string
    values with special characters round-trip exactly; date → days
    int, boolean → bool, float/double → float."""
    from urllib.parse import unquote

    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    v = unquote(v)
    if ice_type in ("int", "long"):
        return int(v)
    if ice_type in ("float", "double"):
        return float(v)
    if ice_type == "boolean":
        return v.lower() == "true"
    if ice_type == "date":
        import datetime

        return _to_internal("date", datetime.date.fromisoformat(v))
    if ice_type == "string":
        return v
    if ice_type == "uuid":
        return _uuid_str(v)
    if _dec_params(ice_type) is not None:
        return _to_decimal(v)
    raise ValueError(
        f"Iceberg type {ice_type!r} unsupported as an identity "
        "partition source"
    )


# --------------------------------------------------------------------------
# Partition transforms (spec "Partition Transforms" + Appendix B hashing)
# --------------------------------------------------------------------------

_EPOCH_ORDINAL = 719_163  # datetime.date(1970, 1, 1).toordinal()
_TIME_KINDS = ("year", "month", "day", "hour")
#: transforms where v1 <= v2 implies T(v1) <= T(v2) — safe for
#: mapping range-predicate bounds into partition space
_MONOTONE_KINDS = ("identity",) + _TIME_KINDS + ("truncate",)


def _parse_transform(t: str) -> tuple[str, int | None]:
    """Spec transform string → (kind, param): 'bucket[16]' →
    ('bucket', 16), 'truncate[4]' → ('truncate', 4), else (t, None)."""
    m = re.fullmatch(r"(bucket|truncate)\[(\d+)\]", t)
    if m:
        return m.group(1), int(m.group(2))
    return t, None


_PB_TERM = re.compile(
    r"(years?|months?|days?|hours?|bucket|truncate)\s*\(\s*"
    r"(?:(\d+)\s*,\s*)?([A-Za-z_][\w]*)\s*\)$"
)


def _parse_partition_by(
    partition_by: list[str], by_name: dict
) -> list[dict]:
    """User partition terms → spec partition fields.  Accepts the SQL
    transform syntax real Iceberg DDL uses — `days(ts)`,
    `bucket(16, id)`, `truncate(4, s)` — or a bare column name for
    identity.  Validates source types per the spec's transform
    domains and refuses anything else loudly."""
    spec = []
    for i, term in enumerate(partition_by):
        term = term.strip()
        m = _PB_TERM.fullmatch(term)
        if m:
            kind = m.group(1).rstrip("s") if m.group(1)[-1] == "s" else m.group(1)
            kind = {"year": "year", "month": "month", "day": "day",
                    "hour": "hour", "bucket": "bucket",
                    "truncate": "truncate"}[kind]
            param, col = m.group(2), m.group(3)
        else:
            kind, param, col = "identity", None, term
        fld = by_name.get(col)
        if fld is None:
            raise ValueError(f"partition term {term!r}: no column {col!r}")
        t = fld["type"]
        if not isinstance(t, str):
            raise ValueError(
                f"partition term {term!r}: nested column types cannot be "
                "partition sources (spec: transforms take primitives)"
            )
        if kind in ("bucket", "truncate"):
            if param is None:
                raise ValueError(
                    f"partition term {term!r}: {kind} needs a width/count "
                    f"argument — {kind}(N, {col})"
                )
            param = int(param)
            if param < 1:
                raise ValueError(f"partition term {term!r}: N must be >= 1")
        if kind in ("year", "month", "day") and t not in (
            "date", "timestamp", "timestamptz"
        ):
            raise ValueError(
                f"partition term {term!r}: {kind} needs a date/timestamp "
                f"source, got {t!r}"
            )
        if kind == "hour" and t not in ("timestamp", "timestamptz"):
            raise ValueError(
                f"partition term {term!r}: hour needs a timestamp source, "
                f"got {t!r}"
            )
        if (
            kind == "bucket"
            and t not in (
                "int", "long", "date", "timestamp", "timestamptz",
                "string", "uuid", "binary",
            )
            and _dec_params(t) is None
            and _fixed_size(t) is None
        ):
            raise ValueError(
                f"partition term {term!r}: bucket over {t!r} unsupported"
            )
        if (
            kind == "truncate"
            and t not in ("int", "long", "string")
            and _dec_params(t) is None
        ):
            raise ValueError(
                f"partition term {term!r}: truncate over {t!r} unsupported"
            )
        if kind == "identity" and (
            t in ("timestamp", "timestamptz", "binary", "time")
            or _fixed_size(t) is not None
        ):
            raise ValueError(
                f"partition column {col!r}: type {t!r} unsupported as an "
                "identity partition source"
            )
        name = (
            col
            if kind == "identity"
            else f"{col}_trunc" if kind == "truncate" else f"{col}_{kind}"
        )
        transform = (
            kind if param is None else f"{kind}[{param}]"
        )
        spec.append(
            {
                "name": name,
                "transform": transform,
                "source-id": fld["id"],
                "field-id": 1000 + i,
            }
        )
    return spec


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant), seed 0 — the hash the Iceberg
    spec's bucket transform mandates (Appendix B).  Returns a SIGNED
    int32, matching the reference implementation's Java int."""
    c1, c2, mask = 0xCC9E2D51, 0x1B873593, 0xFFFFFFFF
    h = seed & mask
    n = len(data)
    for i in range(0, n - (n % 4), 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & mask
        k = ((k << 15) | (k >> 17)) & mask
        k = (k * c2) & mask
        h ^= k
        h = ((h << 13) | (h >> 19)) & mask
        h = (h * 5 + 0xE6546B64) & mask
    tail = data[n - (n % 4) :]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & mask
        k = ((k << 15) | (k >> 17)) & mask
        k = (k * c2) & mask
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & mask
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & mask
    h ^= h >> 16
    return h - (1 << 32) if h >= 1 << 31 else h


def _bucket_of(ice_type: str, v_internal, n: int):
    """Spec bucket value: murmur3 of the single-value hash bytes
    (ints/longs/dates/timestamps as 8-byte little-endian LONG, strings
    as UTF-8), masked positive, mod N."""
    if v_internal is None:
        return None
    if ice_type in ("int", "long", "date", "timestamp", "timestamptz", "time"):
        b = int(v_internal).to_bytes(8, "little", signed=True)
    elif ice_type == "string":
        b = str(v_internal).encode("utf-8")
    elif ice_type == "uuid":
        # spec Appendix B: hashBytes of the 16-byte big-endian form
        b = uuid.UUID(_uuid_str(v_internal)).bytes
    elif ice_type == "binary" or _fixed_size(ice_type) is not None:
        b = bytes(v_internal)
    elif _dec_params(ice_type) is not None:
        # spec Appendix B: minimum-byte big-endian two's complement of
        # the UNSCALED value
        b = avrotiny.min_signed_bytes(
            int(_to_decimal(v_internal).scaleb(_dec_params(ice_type)[1]))
        )
    else:  # pragma: no cover - guarded at spec parse
        raise ValueError(f"bucket over {ice_type!r} unsupported")
    return (murmur3_32(b) & 0x7FFFFFFF) % n


def _apply_transform_py(pf: dict, ice_type: str, v_internal):
    """Partition value for one source value in its INTERNAL repr
    (date → epoch days, timestamp → epoch micros) — the python twin of
    the Spark landing expressions, used for metadata-tier pruning."""
    kind, param = _parse_transform(pf.get("transform", "identity"))
    if v_internal is None:
        return None
    if kind == "identity":
        return v_internal
    if kind == "bucket":
        return _bucket_of(ice_type, v_internal, param)
    if kind == "truncate":
        if ice_type in ("int", "long"):
            return (int(v_internal) // param) * param
        ps = _dec_params(ice_type)
        if ps is not None:
            # spec: unscaled u → u - (u mod W), mod floor-signed
            u = int(_to_decimal(v_internal).scaleb(ps[1]))
            return _to_decimal(u - (u % param)).scaleb(-ps[1])
        return str(v_internal)[:param]
    # time transforms
    if ice_type == "date":
        days = int(v_internal)
    else:  # timestamp micros
        if kind == "hour":
            return int(v_internal) // 3_600_000_000
        days = int(v_internal) // 86_400_000_000
    if kind == "day":
        return days
    import datetime

    d = datetime.date.fromordinal(_EPOCH_ORDINAL + days)
    if kind == "month":
        return (d.year - 1970) * 12 + d.month - 1
    return d.year - 1970  # year


def _pf_result_type(pf: dict, src_type: str) -> str:
    """Iceberg type of a partition field's VALUE (spec result types:
    time transforms and bucket → int; identity/truncate → source)."""
    kind, _ = _parse_transform(pf.get("transform", "identity"))
    if kind in _TIME_KINDS or kind == "bucket":
        return "int"
    return src_type


def _ntz_micros_expr(c):
    """Wall-clock micros since 1970-01-01T00:00 for a TimestampNTZ
    column, from tz-free calendar fields (datediff/hour/minute/
    date_part are all timezone-independent on NTZ — `cast` is NOT)."""
    days = F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date"))
    return (
        days.cast("long") * F.lit(86_400_000_000).cast("long")
        + (F.hour(c) * 3600 + F.minute(c) * 60).cast("long") * 1_000_000
        + (F.date_part(F.lit("SECOND"), c) * 1_000_000).cast("long")
    )


def _bucket_expr(src_type: str, n: int, c):
    """Spark column computing the spec bucket of `c` — murmur3 seed 0
    over the normalized hash bytes.  Numeric/temporal sources are
    hashed VECTORIZED (fixed 8-byte little-endian input → two-block
    numpy murmur3 in an Arrow batch); strings hash per-row in the same
    batch.  Spark's built-in `hash()` is murmur3 with seed 42 and
    4-byte int encoding — NOT the spec function, hence the UDF."""
    from pyspark.sql.functions import pandas_udf

    dec_ps = _dec_params(src_type)
    if dec_ps is not None:
        scale = dec_ps[1]

        @pandas_udf("int")
        def bucket_dec(s):
            import decimal

            import pandas as pd

            out = []
            for v in s:
                if v is None:
                    out.append(None)
                else:
                    u = int(decimal.Decimal(v).scaleb(scale))
                    out.append(
                        (
                            murmur3_32(avrotiny.min_signed_bytes(u))
                            & 0x7FFFFFFF
                        )
                        % n
                    )
            return pd.Series(out, dtype="Int32")

        return bucket_dec(c)

    if src_type == "uuid" or src_type == "binary" or (
        _fixed_size(src_type) is not None
    ):
        # uuid landing columns are canonical STRINGS in Spark; binary/
        # fixed are raw bytes — both hash their byte form (Appendix B
        # hashBytes), per-row in one Arrow batch like strings
        is_uuid = src_type == "uuid"

        @pandas_udf("int")
        def bucket_bytes(s):
            import pandas as pd

            out = []
            for v in s:
                if v is None:
                    out.append(None)
                else:
                    b = (
                        uuid.UUID(str(v)).bytes
                        if is_uuid
                        else bytes(v)
                    )
                    out.append((murmur3_32(b) & 0x7FFFFFFF) % n)
            return pd.Series(out, dtype="Int32")

        return bucket_bytes(c)

    if src_type in ("int", "long"):
        norm = c.cast("long")
    elif src_type == "date":
        norm = F.datediff(c, F.lit("1970-01-01").cast("date")).cast("long")
    elif src_type == "timestamp":
        # tz-free NTZ: wall-clock micros from CALENDAR fields — a cast
        # through TimestampType would shift by the session timezone
        norm = _ntz_micros_expr(c)
    elif src_type == "timestamptz":
        norm = F.unix_micros(c)
    else:
        norm = c

    if src_type == "string":

        @pandas_udf("int")
        def bucket_str(s):
            import pandas as pd

            return pd.Series(
                [
                    None
                    if v is None
                    else (murmur3_32(str(v).encode("utf-8")) & 0x7FFFFFFF) % n
                    for v in s
                ],
                dtype="Int32",
            )

        return bucket_str(norm)

    @pandas_udf("int")
    def bucket_long(s):
        import numpy as np
        import pandas as pd

        mask = s.isna()
        u = s.fillna(0).astype("int64").to_numpy().astype(np.uint64)
        h = np.zeros(u.shape, np.uint32)
        c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
        for shift in (np.uint64(0), np.uint64(32)):
            k = ((u >> shift) & np.uint64(0xFFFFFFFF)).astype(np.uint32)
            k = k * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * c2
            h = h ^ k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h = h ^ np.uint32(8)
        h = h ^ (h >> np.uint32(16))
        h = h * np.uint32(0x85EBCA6B)
        h = h ^ (h >> np.uint32(13))
        h = h * np.uint32(0xC2B2AE35)
        h = h ^ (h >> np.uint32(16))
        out = pd.Series((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(
            "Int32"
        )
        out[mask.to_numpy()] = None
        return out

    return bucket_long(norm)


def _transform_expr(pf: dict, src_name: str, src_type: str):
    """Spark column computing a partition field's value at landing
    time.  Time transforms stay JVM-side (datediff / unix_micros /
    calendar fields over a tz-free DATE, so the session timezone never
    leaks in); truncate is floor-div / substring; bucket is the
    murmur3 UDF above."""
    kind, param = _parse_transform(pf.get("transform", "identity"))
    c = F.col(src_name)
    if kind == "identity":
        return c
    if kind == "bucket":
        return _bucket_expr(src_type, param, c)
    if kind == "truncate":
        if src_type in ("int", "long"):
            out = (F.floor(c / F.lit(param)) * param)
            return out.cast("int" if src_type == "int" else "long")
        dec_ps = _dec_params(src_type)
        if dec_ps is not None:
            from pyspark.sql.functions import pandas_udf

            prec, scale = dec_ps

            @pandas_udf(f"decimal({prec},{scale})")
            def trunc_dec(s):
                import decimal

                import pandas as pd

                out = []
                for v in s:
                    if v is None:
                        out.append(None)
                    else:
                        u = int(decimal.Decimal(v).scaleb(scale))
                        out.append(
                            decimal.Decimal(u - (u % param)).scaleb(-scale)
                        )
                return pd.Series(out)

            return trunc_dec(c)
        return F.substring(c, 1, param)
    if src_type == "date":
        days = F.datediff(c, F.lit("1970-01-01").cast("date"))
    elif src_type == "timestamp":
        # tz-free NTZ: calendar fields only (no session-tz casts)
        days = F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date"))
        if kind == "hour":
            return (days.cast("long") * 24 + F.hour(c)).cast("int")
    else:  # timestamptz: true UTC epoch math
        secs = c.cast("long")
        if kind == "hour":
            return F.floor(secs / 3600).cast("int")
        days = F.floor(secs / 86400).cast("int")
    if kind == "day":
        return days.cast("int")
    cal = F.date_add(F.lit("1970-01-01").cast("date"), days.cast("int"))
    if kind == "month":
        return ((F.year(cal) - 1970) * 12 + F.month(cal) - 1).cast("int")
    return (F.year(cal) - 1970).cast("int")


def _land_data(
    df: DataFrame,
    path: str,
    spec: list[dict],
    fields: list[dict],
    file_format: str = "parquet",
) -> list[dict]:
    """Land the frame as parquet (or ORC, r13) under `data/` (hive
    dirs when partitioned; identity partition columns dropped from
    file content per the identity-projection rule, TRANSFORM partition
    values computed as derived columns — their SOURCE columns stay in
    the files, as the spec requires) and return data_file records with
    footer-derived per-field-id stats.  ORC landings refuse timestamp
    columns up front (the ORC read tier refuses them — writer-zone
    semantics vary by engine) and carry record counts without value
    bounds (pyarrow exposes no ORC column statistics)."""
    import pyarrow.parquet as pq

    if file_format not in ("parquet", "orc"):
        raise ValueError(f"unsupported data file format {file_format!r}")
    if file_format == "orc":
        for f in fields:
            if f["type"] in (
                "timestamp", "timestamptz", "variant", "uuid", "time"
            ) or _fixed_size(f["type"]) is not None:
                raise ValueError(
                    f"column {f['name']!r}: type {f['type']!r} is not "
                    "supported in ORC data files by this tier (the ORC "
                    "read path refuses it) — land parquet instead"
                )

    name_to_field = {f["name"]: f for f in fields}
    by_id = {f["id"]: f for f in fields}
    pf_by_name = {pf["name"]: pf for pf in spec}
    part_cols: list[str] = []
    for pf in spec:
        kind, _param = _parse_transform(pf.get("transform", "identity"))
        src = by_id[pf["source-id"]]["name"]
        if kind == "identity":
            part_cols.append(src)
        else:
            df = df.withColumn(
                pf["name"],
                _transform_expr(pf, src, by_id[pf["source-id"]]["type"]),
            )
            part_cols.append(pf["name"])
    # uuid/fixed/time columns cannot land through Spark's parquet
    # writer (no FIXED_LEN_BYTE_ARRAY output; TIME write unsupported):
    # they stage in SURROGATE form (uuid → canonical string, fixed →
    # variable binary, time → "HH:MM:SS.ffffff" string) and a
    # distributed pyarrow pass rewrites each staged file to the
    # spec's physical types afterwards.  Identity partition sources
    # are dropped from file content anyway, so they never rewrite.
    exotic: dict[str, str] = {}
    ident_srcs = set(part_cols)
    for f in fields:
        t = f["type"]
        if (
            isinstance(t, str)
            and (t in ("uuid", "time") or _fixed_size(t) is not None)
            and f["name"] in df.columns
            and f["name"] not in ident_srcs
        ):
            exotic[f["name"]] = t
    if exotic and file_format != "parquet":  # pragma: no cover - gated above
        raise ValueError("uuid/fixed/time columns land parquet only")
    for c, t in exotic.items():
        if t == "time":
            df = df.withColumn(c, F.col(c).cast("string"))
    # stamp each column's Iceberg field-id into the parquet schema
    # (Spark's parquet.field.id passthrough — no extra IO): real
    # engines resolve columns by id, so files stay readable across
    # renames without relying on the name-mapping fallback
    df = df.select(
        *[
            F.col(c).alias(
                c, metadata={"parquet.field.id": name_to_field[c]["id"]}
            )
            if c in name_to_field
            else F.col(c)
            for c in df.columns
        ]
    )
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    from .deltaproto import _variant_writes

    with _variant_writes(df.sparkSession, [df]):
        w = df.write.mode("overwrite")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.format(file_format).save(staging)
    out = []
    rewrite_jobs: list[tuple] = []
    for dirpath, _dirs, files in sorted(os.walk(staging)):
        rel = os.path.relpath(dirpath, staging)
        segs = [] if rel == "." else rel.split(os.sep)
        pvals: dict[str, object] = {}
        for seg in segs:
            k, _, v = seg.partition("=")
            pf = pf_by_name.get(k)
            if pf is not None:
                res_t = _pf_result_type(pf, by_id[pf["source-id"]]["type"])
                pvals[k] = _parse_hive_value(res_t, v)
        ext = ".parquet" if file_format == "parquet" else ".orc"
        for fname in sorted(files):
            if not fname.endswith(ext):
                continue
            new = f"{uuid.uuid4().hex}{ext}"
            reldest = _file_uri(path, "/".join(["data"] + segs + [new]))
            dest = os.path.join(path, "data", *segs, new)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            if exotic:
                # staged surrogate file: rewritten (distributed) below
                rewrite_jobs.append(
                    (os.path.join(dirpath, fname), dest, reldest, pvals)
                )
                continue
            os.rename(os.path.join(dirpath, fname), dest)
            rec = (
                _data_file_record(dest, reldest, name_to_field, pvals)
                if file_format == "parquet"
                else _orc_data_file_record(dest, reldest, name_to_field, pvals)
            )
            if rec["record_count"] == 0:
                # empty part file from an empty input partition:
                # committing it would only bloat manifests
                os.unlink(dest)
                continue
            out.append(rec)
    if rewrite_jobs:
        _rewrite_exotic_files(
            df.sparkSession,
            [(src, dest) for src, dest, _r, _p in rewrite_jobs],
            {c: (t, name_to_field[c]["id"]) for c, t in exotic.items()},
        )
        for _src, dest, reldest, pvals in rewrite_jobs:
            rec = _data_file_record(dest, reldest, name_to_field, pvals)
            if rec["record_count"] == 0:
                os.unlink(dest)
                continue
            out.append(rec)
    shutil.rmtree(staging)
    return out


def _rewrite_exotic_files(
    spark: SparkSession,
    jobs: list[tuple[str, str]],
    exotic: dict[str, tuple[str, int]],
) -> None:
    """Distributed rewrite of staged surrogate parquet files to the
    spec's physical types — one task per file, pyarrow column casts
    (string → FLBA(16) for uuid, variable binary → FLBA(L) for fixed
    with a LOUD length check, "HH:MM:SS[.ffffff]" → TIME(micros)) with
    every field's `PARQUET:field_id` metadata preserved.  Malformed
    values raise in the task (refuse-don't-corrupt: a silent null
    would lose data)."""
    items = [(src, dest) for src, dest in jobs]
    src_df = local_rows_df(spark, items, "src string, dest string")

    def rewrite(batches):
        import datetime

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        import uuid as _uuid

        for pdf in batches:
            for src, dest in zip(pdf["src"], pdf["dest"]):
                tbl = pq.read_table(src)
                arrays, pa_fields = [], []
                for i, fld in enumerate(tbl.schema):
                    arr = tbl.column(i)
                    spec = exotic.get(fld.name)
                    if spec is not None:
                        t, fid = spec
                        vals = arr.to_pylist()
                        if t == "uuid":
                            conv = [
                                None if v is None else _uuid.UUID(v).bytes
                                for v in vals
                            ]
                            new_type = pa.binary(16)
                        elif t == "time":
                            conv = [
                                None
                                if v is None
                                else datetime.time.fromisoformat(v)
                                for v in vals
                            ]
                            new_type = pa.time64("us")
                        else:  # fixed[L]
                            size = int(t[t.index("[") + 1 : -1])
                            conv = []
                            for v in vals:
                                if v is None:
                                    conv.append(None)
                                    continue
                                b = bytes(v)
                                if len(b) != size:
                                    raise ValueError(
                                        f"column {fld.name!r}: fixed"
                                        f"[{size}] value has {len(b)} "
                                        "bytes — refusing to land"
                                    )
                                conv.append(b)
                            new_type = pa.binary(size)
                        arr = pa.chunked_array(
                            [pa.array(conv, new_type)]
                        )
                        md = dict(fld.metadata or {})
                        md[b"PARQUET:field_id"] = str(fid).encode()
                        fld = pa.field(
                            fld.name, new_type, fld.nullable, md
                        )
                    arrays.append(arr)
                    pa_fields.append(fld)
                pq.write_table(
                    pa.Table.from_arrays(
                        arrays, schema=pa.schema(pa_fields)
                    ),
                    dest,
                )
            yield pd.DataFrame({"dest": list(pdf["dest"])})

    n = src_df.repartition(max(len(items), 1)).mapInPandas(
        rewrite, schema="dest string"
    ).count()
    if n != len(items):  # pragma: no cover - tasks raise on failure
        raise RuntimeError("exotic landing rewrite lost files")


def _orc_data_file_record(
    dest: str, reldest: str, name_to_field: dict, pvals: dict
) -> dict:
    """data_file record for one landed ORC file: record count from the
    ORC file footer (pyarrow.orc), value bounds omitted — pyarrow
    exposes no ORC column statistics, and absent bounds are valid
    (readers simply cannot skip the file)."""
    import pyarrow.orc as _orc

    n_rows = int(_orc.ORCFile(dest).nrows)
    return {
        "file_path": reldest,
        "file_format": "ORC",
        "partition": pvals,
        "record_count": n_rows,
        "file_size_in_bytes": os.path.getsize(dest),
        "block_size_in_bytes": _BLOCK_SIZE,
        "value_counts": [
            {"key": f["id"], "value": n_rows}
            for f in sorted(name_to_field.values(), key=lambda f: f["id"])
        ],
        "null_value_counts": None,
        "lower_bounds": None,
        "upper_bounds": None,
        "split_offsets": None,
    }


def _struct_leaf_index(name_to_field: dict) -> dict:
    """Extend a top-level {name: field} lookup with STRUCT leaves
    keyed by their dotted parquet path ("s.a" → the nested field) —
    the spec keys stats by field id including nested leaves, so
    struct members get pruning bounds too.  List/map interiors keep
    the historical skip (their parquet paths carry synthetic
    "list.element"/"key_value" segments and their repeated-value
    bounds tier is a different contract)."""
    out = dict(name_to_field)

    def walk(prefix: str, t) -> None:
        if isinstance(t, dict) and t.get("type") == "struct":
            for f in t["fields"]:
                p = f"{prefix}.{f['name']}"
                if isinstance(f["type"], str):
                    out[p] = f
                else:
                    walk(p, f["type"])

    for name, fld in name_to_field.items():
        walk(name, fld.get("type"))
    return out


def _data_file_record(
    dest: str, reldest: str, name_to_field: dict, pvals: dict
) -> dict:
    """data_file record for one landed parquet file, with
    footer-derived per-field-id stats (value/null counts, single-value
    serialized lower/upper bounds) — nested STRUCT leaves included,
    keyed by their own field ids.  Footer access goes through
    pqfooter.read_footer — pyarrow, with a JVM fallback for files
    pyarrow cannot open (v3 VARIANT columns), so one variant column
    never costs the other columns their pruning bounds."""
    from .pqfooter import read_footer

    fm = read_footer(dest)
    lookup = _struct_leaf_index(name_to_field)
    lbs: dict[int, bytes] = {}
    ubs: dict[int, bytes] = {}
    vcs: dict[int, int] = {}
    ncs: dict[int, int] = {}
    for cname, st in fm["columns"].items():
        fld = lookup.get(cname)
        if fld is None or not isinstance(fld.get("type"), str):
            continue  # list/map interiors, variant value/metadata
        if st["min"] is not None and st["max"] is not None:
            try:
                lbs[fld["id"]] = ser_value(fld["type"], st["min"])
                ubs[fld["id"]] = ser_value(fld["type"], st["max"])
            except (ValueError, TypeError):
                pass
        vcs[fld["id"]] = fm["num_rows"]
        if st["null_count"] is not None:
            ncs[fld["id"]] = st["null_count"]
    return {
        "file_path": reldest,
        "file_format": "PARQUET",
        "partition": pvals,
        "record_count": fm["num_rows"],
        "file_size_in_bytes": os.path.getsize(dest),
        "block_size_in_bytes": _BLOCK_SIZE,
        "value_counts": [
            {"key": k, "value": v} for k, v in sorted(vcs.items())
        ],
        "null_value_counts": [
            {"key": k, "value": v} for k, v in sorted(ncs.items())
        ],
        "lower_bounds": [
            {"key": k, "value": v} for k, v in sorted(lbs.items())
        ],
        "upper_bounds": [
            {"key": k, "value": v} for k, v in sorted(ubs.items())
        ],
        "split_offsets": None,
    }


def _partition_summaries(
    entries: list[dict], spec: list[dict], fields: list[dict]
) -> list[dict] | None:
    """field_summary (contains_null / lower / upper bound, single-value
    serialized) per partition field, over a manifest's LIVE entries."""
    if not spec:
        return None
    by_id = {f["id"]: f for f in fields}
    out = []
    for pf in spec:
        ice_t = _pf_result_type(pf, by_id[pf["source-id"]]["type"])
        vals = [
            (e["data_file"].get("partition") or {}).get(pf["name"])
            for e in entries
            if e.get("status", 0) in (0, 1)
        ]
        nn = [v for v in vals if v is not None]
        out.append(
            {
                "contains_null": any(v is None for v in vals),
                "lower_bound": ser_value(ice_t, min(nn)) if nn else None,
                "upper_bound": ser_value(ice_t, max(nn)) if nn else None,
            }
        )
    return out


def _write_manifest(
    path: str,
    entries: list[dict],
    snapshot_id: int,
    meta_fields: list[dict],
    spec: list[dict],
    schema_json: dict,
    fv: int = 1,
    content: str = "data",
    seq: int = 0,
    spec_id: int = 0,
) -> dict:
    """Write one manifest Avro file; return its manifest_file record
    for the manifest list.  For fv=2, entries are normalized to the v2
    shape (data_file.content, equality_ids, per-entry sequence
    numbers — null + ADDED inherits `seq` per the spec's inheritance
    rule, EXISTING/DELETED keep their explicit data sequence).
    `spec_id` stamps which partition spec interprets the tuples —
    after partition evolution new manifests carry the default spec
    while carried-forward ones keep their own."""
    ice_types = {f["id"]: f["type"] for f in meta_fields}
    part_schema = _partition_avro_schema(spec, ice_types)
    entry_schema = _manifest_entry_schema(part_schema, fv)
    if fv >= 2:
        norm = []
        for e in entries:
            e = dict(e)
            df_rec = dict(e["data_file"])
            if df_rec.get("content") is None:
                df_rec["content"] = 0
            df_rec.setdefault("equality_ids", None)
            df_rec.setdefault("sort_order_id", None)
            if fv >= 3:
                # carried (EXISTING/DELETED) data entries must keep the
                # row ids they inherited in their ORIGINAL manifest —
                # stamp them explicitly, since this new manifest's
                # inheritance anchor would otherwise re-number them.
                # Fresh ADDED entries stay null and inherit.
                if (
                    df_rec.get("first_row_id") is None
                    and (df_rec.get("content") or 0) == 0
                    and e["status"] != 1
                ):
                    df_rec["first_row_id"] = e.get("_first_row_id")
                df_rec.setdefault("first_row_id", None)
                df_rec.setdefault("referenced_data_file", None)
                df_rec.setdefault("content_offset", None)
                df_rec.setdefault("content_size_in_bytes", None)
            e["data_file"] = df_rec
            # ADDED entries inherit; others need their data sequence
            if e.get("sequence_number") is None and e["status"] != 1:
                e["sequence_number"] = e.get("_seq", 0)
            e.setdefault("sequence_number", None)
            e.setdefault("file_sequence_number", None)
            norm.append(e)
        entries = norm
    name = f"{uuid.uuid4().hex}-m0.avro"
    mp = os.path.join(_meta_dir(path), name)
    avrotiny.write_container(
        mp,
        entry_schema,
        entries,
        metadata={
            "schema": json.dumps(schema_json),
            "schema-id": "0",
            "partition-spec": json.dumps(spec),
            "partition-spec-id": str(spec_id),
            "format-version": str(fv),
            "content": content,
        },
    )
    n_added = sum(1 for e in entries if e["status"] == 1)
    n_existing = sum(1 for e in entries if e["status"] == 0)
    n_deleted = sum(1 for e in entries if e["status"] == 2)
    rows = lambda st: sum(  # noqa: E731
        e["data_file"]["record_count"] for e in entries if e["status"] == st
    )
    mf = {
        "manifest_path": _file_uri(path, os.path.join("metadata", name)),
        "manifest_length": os.path.getsize(mp),
        "partition_spec_id": spec_id,
        "added_snapshot_id": snapshot_id,
        "added_data_files_count": n_added,
        "existing_data_files_count": n_existing,
        "deleted_data_files_count": n_deleted,
        "partitions": _partition_summaries(entries, spec, meta_fields),
        "added_rows_count": rows(1),
        "existing_rows_count": rows(0),
        "deleted_rows_count": rows(2),
    }
    if fv >= 2:
        mf["content"] = 0 if content == "data" else 1
        mf["sequence_number"] = seq
        explicit = [
            e["sequence_number"]
            for e in entries
            if e.get("sequence_number") is not None
        ]
        mf["min_sequence_number"] = min(explicit + [seq])
    return mf


def _write_manifests_by_spec(
    path: str,
    entries: list[dict],
    snapshot_id: int,
    fields: list[dict],
    meta: dict,
    schema_json: dict,
    fv: int,
    seq: int,
) -> list[dict]:
    """Write manifests for a mixed-entry set, ONE PER PARTITION SPEC:
    after partition evolution, carried EXISTING/DELETED entries keep
    their original spec's tuple layout (rewriting them under the new
    spec would null their partition metadata), while fresh ADDED
    entries land under the default spec."""
    specs = _specs_by_id(meta)
    default_sid = _default_spec_id(meta)
    by_sid: dict[int, list[dict]] = {}
    for e in entries:
        by_sid.setdefault(int(e.get("_spec_id", default_sid)), []).append(e)
    out = []
    for sid, es in sorted(by_sid.items()):
        out.append(
            _write_manifest(
                path,
                es,
                snapshot_id,
                fields,
                specs.get(sid, _spec_of(meta)),
                schema_json,
                fv=fv,
                seq=seq,
                spec_id=sid,
            )
        )
    return out


def _write_manifest_list(
    path: str,
    snapshot_id: int,
    manifest_files: list[dict],
    fv: int = 1,
) -> str:
    name = f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
    mp = os.path.join(_meta_dir(path), name)
    if fv >= 2:
        manifest_files = [_norm_manifest_file_v2(m) for m in manifest_files]
    if fv >= 3:
        for m in manifest_files:
            m.setdefault("first_row_id", None)
    avrotiny.write_container(
        mp,
        _manifest_file_schema(fv),
        manifest_files,
        metadata={"format-version": str(fv)},
    )
    return _file_uri(path, os.path.join("metadata", name))


def _new_snapshot_id() -> int:
    return uuid.uuid4().int & 0x7FFFFFFFFFFFFFFF


def _commit_snapshot(
    path: str,
    operation: str,
    build_manifests,
    schema_fields: list[dict] | None = None,
    spec_fields: list[dict] | None = None,
    format_version: int | None = None,
    summary_extra: dict | None = None,
    branch: str | None = None,
    sort_order: dict | None = None,
    properties: dict | None = None,
    expect_schema: list[dict] | None = None,
) -> int:
    """Shared commit: build_manifests(base_meta_or_None, snapshot_id,
    seq, fv) → list of manifest_file records; wrap them in a manifest
    list and a new metadata version.  Retries against a refreshed base
    on races (the manifest build re-runs, so remove lists can never go
    stale — a claim-time refresh of the remove list).
    `expect_schema` (RMW commits whose rewrite frames/manifest schema
    were computed against a snapshot read) refuses when the CURRENT
    schema differs — a racing evolve_iceberg_schema would otherwise be
    silently stamped over with the stale field list.
    `format_version=2` on a v1 table performs the spec's v1→v2 upgrade
    (existing manifests keep data sequence number 0); v2 commits bump
    `last-sequence-number` and stamp the snapshot's sequence-number."""
    result: dict = {}

    def build(base: dict | None) -> dict:
        if (
            expect_schema is not None
            and base is not None
            and _schema_of(base) != expect_schema
        ):
            raise ValueError(
                "the table schema changed after this operation read its "
                "snapshot (evolve_iceberg_schema) — re-read and re-apply"
            )
        snapshot_id = _new_snapshot_id()
        now_ms = int(time.time() * 1000)
        base_fv = (
            int(base.get("format-version", 1)) if base is not None else 1
        )
        fv = max(base_fv, format_version or 1)
        if fv not in (1, 2, 3):
            raise ValueError(f"unsupported Iceberg format-version {fv}")
        seq = 0
        if fv >= 2:
            last = (
                int(base.get("last-sequence-number") or 0)
                if base is not None
                else 0
            )
            seq = last + 1
        manifest_files = build_manifests(base, snapshot_id, seq, fv)
        first_row_id = None
        if fv >= 3:
            # v3 row lineage: every DATA manifest in the new list that
            # lacks a first_row_id is assigned one here (list-write
            # time — the spec's inheritance design lets carried
            # manifests keep theirs without a rewrite); each
            # assignment consumes added+existing rows, and the table's
            # next-row-id advances past everything consumed.  On a
            # v1/v2→v3 upgrade this lazily assigns row ids to
            # pre-upgrade manifests at their first v3 appearance.
            first_row_id = (
                int(base.get("next-row-id") or 0) if base is not None else 0
            )
            cursor = first_row_id
            for m in manifest_files:
                if (m.get("content") or 0) != 0:
                    continue
                if m.get("first_row_id") is None:
                    m["first_row_id"] = cursor
                    cursor += int(m.get("added_rows_count") or 0) + int(
                        m.get("existing_rows_count") or 0
                    )
        ml_rel = _write_manifest_list(path, snapshot_id, manifest_files, fv)
        snap = {
            "snapshot-id": snapshot_id,
            "timestamp-ms": now_ms,
            "summary": {"operation": operation, **(summary_extra or {})},
            "manifest-list": ml_rel,
            "schema-id": 0,
        }
        if fv >= 2:
            snap["sequence-number"] = seq
        if fv >= 3:
            snap["first-row-id"] = first_row_id
        if branch is not None:
            if base is None:
                raise FileNotFoundError(
                    f"no Iceberg metadata under {path}"
                )
            refs = base.get("refs") or {}
            if branch not in refs or refs[branch].get("type") != "branch":
                raise ValueError(f"no branch {branch!r}")
            snap["parent-snapshot-id"] = int(refs[branch]["snapshot-id"])
        elif base is not None:
            cur = base.get("current-snapshot-id")
            if cur not in (None, -1):
                snap["parent-snapshot-id"] = cur
        if base is None:
            if schema_fields is None:
                raise ValueError("first commit needs a schema")
            spec = spec_fields or []
            meta = {
                "format-version": fv,
                "table-uuid": str(uuid.uuid4()),
                "location": path,
                "last-updated-ms": now_ms,
                "last-column-id": _max_field_id(schema_fields),
                "schema": {
                    "type": "struct",
                    "schema-id": 0,
                    "fields": schema_fields,
                },
                "schemas": [
                    {
                        "type": "struct",
                        "schema-id": 0,
                        "fields": schema_fields,
                    }
                ],
                "current-schema-id": 0,
                "partition-spec": spec,
                "partition-specs": [{"spec-id": 0, "fields": spec}],
                "default-spec-id": 0,
                "last-partition-id": max(
                    [pf["field-id"] for pf in spec], default=999
                ),
                "properties": {
                    "write.format.default": "parquet",
                    "commit.engine": "sparkgraft-iceberg/1.0",
                },
                "snapshots": [],
                "snapshot-log": [],
                "metadata-log": [],
                "sort-orders": [{"order-id": 0, "fields": []}],
                "default-sort-order-id": 0,
            }
        else:
            meta = json.loads(json.dumps(base))
            meta["last-updated-ms"] = now_ms
            meta["format-version"] = fv
        if properties:
            meta.setdefault("properties", {}).update(properties)
        if fv >= 2:
            meta["last-sequence-number"] = seq
        if fv >= 3:
            meta["next-row-id"] = cursor
        if sort_order is not None:
            orders = list(meta.get("sort-orders") or [])
            if not any(
                so.get("order-id") == sort_order["order-id"]
                for so in orders
            ):
                orders.append(sort_order)
            meta["sort-orders"] = orders
            meta["default-sort-order-id"] = sort_order["order-id"]
        meta["snapshots"] = list(meta.get("snapshots") or []) + [snap]
        if branch is not None:
            # branch commit: the head moves, MAIN history does not
            meta.setdefault("refs", {})[branch] = {
                "snapshot-id": snapshot_id,
                "type": "branch",
            }
        else:
            meta["current-snapshot-id"] = snapshot_id
            meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
                {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
            ]
        result["snapshot_id"] = snapshot_id
        return meta

    _claim_metadata(path, build)
    return result["snapshot_id"]


def _conform_append_frame(df: DataFrame, fields: list[dict]) -> DataFrame:
    """Append-time schema enforcement (r13, the Delta tier's twin):
    UNKNOWN columns refuse (landing them leaves bytes no projection
    ever shows — evolve_iceberg_schema(add=...) is the explicit path);
    MISSING optional columns fill typed NULLs (the reader's
    absent-column rule reads them as null anyway, but a partial frame
    previously crashed deep in the landing with a JVM error); MISSING
    required columns refuse; a column whose Spark type differs from
    the declared projection either up-casts along the lossless
    widening ladder or refuses — a mismatched physical type poisons
    every later read of the landed file.  Output columns come back in
    schema order (stable landing layout)."""
    from .deltaproto import _append_widens

    expect = _spark_schema(fields)
    by_name = {f["name"]: f for f in fields}
    emap = {f.name: f.dataType for f in expect.fields}
    unknown = [c for c in df.columns if c not in emap]
    if unknown:
        raise ValueError(
            f"append carries column(s) {unknown} not in the Iceberg "
            "schema — evolve_iceberg_schema(path, add=[...]) first, "
            "or drop them"
        )
    for f in expect.fields:
        if f.name not in df.columns:
            if by_name[f.name].get("required"):
                raise ValueError(
                    f"append is missing required column {f.name!r}"
                )
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            continue
        have = df.schema[f.name].dataType
        if have == f.dataType:
            continue
        if _append_widens(have, f.dataType):
            df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
            continue
        raise ValueError(
            f"append column {f.name!r} is {have.simpleString()} but "
            f"the table projects {f.dataType.simpleString()} — cast "
            "explicitly (a mismatched physical type would poison "
            "later reads of the landed file)"
        )
    return df.select(*[f.name for f in expect.fields])


def write_iceberg(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    format_version: int = 1,
    branch: str | None = None,
    sort_by: list[str] | None = None,
    file_format: str | None = None,
    iceberg_types: dict[str, str] | None = None,
) -> int:
    """Write a REAL Iceberg snapshot: land parquet (or ORC via
    `file_format="orc"`, defaulting to the table's
    `write.format.default` property) under `data/`,
    write a manifest + manifest list (Avro, deflate), commit
    `v<N>.metadata.json` + `version-hint.text`.  Appends carry the
    previous snapshot's manifests forward untouched (Iceberg's own
    fast-append shape); `mode="overwrite"` starts the file set fresh
    (prior snapshots stay time-travelable).  Identity partitioning
    only, inherited by appends.  `format_version=1` (default) is the
    maximally-compatible tier; tables a merge-on-read DELETE has
    upgraded to v2 keep writing v2 manifests (sequence numbers and
    all); overwrite on a v2 table drops its delete manifests along
    with the data files they referenced.

    `sort_by=["col", "-other"]` ("-" = descending) registers a SORT
    ORDER (spec `sort-orders` + `default-sort-order-id`, reused by
    definition if already registered), range-clusters the frame on it
    before landing (disjoint per-file bounds → manifest pruning), and
    stamps each data file's `sort_order_id` — the metadata other
    engines read to skip re-sorting already-clustered files."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported mode {mode!r}")
    if file_format not in (None, "parquet", "orc"):
        raise ValueError(f"unsupported file_format {file_format!r}")
    exists = bool(_metadata_versions(path))
    if exists:
        base0 = current_metadata(path)
        if file_format is None:
            file_format = (base0.get("properties") or {}).get(
                "write.format.default", "parquet"
            )
            if file_format not in ("parquet", "orc"):
                raise ValueError(
                    f"table property write.format.default="
                    f"{file_format!r} unsupported"
                )
        fields = _schema_of(base0)
        spec = _spec_of(base0)
        spec_sid = _default_spec_id(base0)
        for cname, want in (iceberg_types or {}).items():
            have = next(
                (f["type"] for f in fields if f["name"] == cname), None
            )
            if have != want:
                raise ValueError(
                    f"iceberg_types: {cname!r} declared {want!r} but "
                    f"the table schema says {have!r}"
                )
        if partition_by is not None:
            by_name = {f["name"]: f for f in fields}
            want = _parse_partition_by(list(partition_by), by_name)
            have = [
                (pf.get("transform", "identity"), pf["source-id"])
                for pf in spec
            ]
            if [(pf["transform"], pf["source-id"]) for pf in want] != have:
                raise ValueError(
                    f"partition_by {list(partition_by)} contradicts the "
                    "table's partition spec "
                    f"{[pf['transform'] + ':' + pf['name'] for pf in spec]}"
                )
        # existing tables keep their schema in BOTH modes (overwrite
        # replaces the file set, not the projection) — conform the
        # frame to it or refuse loudly
        df = _conform_append_frame(df, fields)
    else:
        fields = _iceberg_fields(df.schema)
        # `iceberg_types={"col": "uuid" | "fixed[L]"}` — declared
        # Iceberg types Spark cannot express (uuid rides a string
        # column, fixed[L] a binary column); validated here, landed in
        # their spec physical form by _land_data's rewrite pass
        for cname, want in (iceberg_types or {}).items():
            fld = next((f for f in fields if f["name"] == cname), None)
            if fld is None:
                raise ValueError(f"iceberg_types: no column {cname!r}")
            have = fld["type"]
            ok = (want == "uuid" and have == "string") or (
                _fixed_size(want) is not None and have == "binary"
            )
            if not ok:
                raise ValueError(
                    f"iceberg_types: {cname!r} declared {want!r} needs "
                    f"a {'string' if want == 'uuid' else 'binary'} "
                    f"source column, got {have!r}"
                )
            fld["type"] = want
        by_name = {f["name"]: f for f in fields}
        spec = _parse_partition_by(list(partition_by or []), by_name)
        spec_sid = 0
        from .deltaproto import _schema_has_variant

        if format_version < 3 and _schema_has_variant(df.schema):
            raise ValueError(
                "variant columns require format_version=3 (the type "
                "joins the spec in v3)"
            )
    sort_order = None
    if sort_by:
        by_fname = {f["name"]: f for f in fields}
        sort_fields, sort_cols = [], []
        for s in sort_by:
            desc = s.startswith("-")
            cname = s[1:] if desc else s
            if cname not in by_fname:
                raise ValueError(f"no sort column {cname!r} in the schema")
            sort_fields.append(
                {
                    "transform": "identity",
                    "source-id": by_fname[cname]["id"],
                    "direction": "desc" if desc else "asc",
                    "null-order": "nulls-last" if desc else "nulls-first",
                }
            )
            sort_cols.append(
                F.col(cname).desc() if desc else F.col(cname).asc()
            )
        # find-or-allocate the order id against the current metadata
        # (an order is identified by its field DEFINITION, per spec)
        orders = (
            (current_metadata(path) if exists else {}).get("sort-orders")
            or [{"order-id": 0, "fields": []}]
        )
        oid = next(
            (
                int(so["order-id"])
                for so in orders
                if so.get("fields") == sort_fields
            ),
            max(int(so.get("order-id", 0)) for so in orders) + 1,
        )
        sort_order = {"order-id": oid, "fields": sort_fields}
        # keep the caller's parallelism as the file count (an explicit
        # numPartitions also stops AQE collapsing the range shuffle of
        # a small frame into one file — at scale callers size this)
        df = df.repartitionByRange(
            df.rdd.getNumPartitions() or 1, *sort_cols
        ).sortWithinPartitions(*sort_cols)
    data_files = _land_data(
        df, path, spec, fields, file_format=file_format or "parquet"
    )
    if sort_order is not None:
        for d in data_files:
            d["sort_order_id"] = sort_order["order-id"]
    schema_json = {"type": "struct", "schema-id": 0, "fields": fields}

    def build_manifests(
        base: dict | None, snapshot_id: int, seq: int, fv: int
    ) -> list[dict]:
        entries = [
            {"status": 1, "snapshot_id": snapshot_id, "data_file": d}
            for d in data_files
        ]
        new_mf = _write_manifest(
            path, entries, snapshot_id, fields, spec, schema_json,
            fv=fv, seq=seq, spec_id=spec_sid,
        )
        carried: list[dict] = []
        if mode == "append" and base is not None:
            # append on a branch carries the BRANCH head's manifests
            prev = _snapshot(
                base,
                _resolve_ref(base, branch) if branch is not None else None,
            )
            if prev is not None:
                carried = _read_manifest_list(path, prev)
        return [new_mf] + carried

    return _commit_snapshot(
        path,
        "append" if mode == "append" else "overwrite",
        build_manifests,
        schema_fields=fields,
        spec_fields=spec,
        format_version=format_version,
        branch=branch,
        sort_order=sort_order,
        properties=(
            {"write.format.default": "orc"}
            if (not exists and file_format == "orc")
            else None
        ),
    )


_POS_DELETE_FIELD_IDS = {"file_path": 2147483546, "pos": 2147483545}


def _land_position_deletes(
    spark: SparkSession,
    path: str,
    matches: DataFrame,
    touched: list[dict],
    part_names: list[str],
) -> list[dict]:
    """Land matched (_IB_FILE, _IB_POS) rows as v2 position-delete
    parquet files under `data/` — one group per partition of the
    referenced data files, rows sorted by (file_path, pos) as the spec
    prescribes, with the reserved field-ids (2147483546/2147483545)
    stamped into the parquet schema so field-id-based readers resolve
    the columns.  file_path values are the EXACT URIs recorded in the
    data files' manifest entries.  Returns data_file records
    (content=1).  The position rows land distributed (Spark write);
    the field-id stamp is a streaming per-row-group parquet rewrite."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tails: dict[str, tuple[str, tuple]] = {}
    for e in touched:
        df_rec = e["data_file"]
        fp = df_rec["file_path"]
        pv = df_rec.get("partition") or {}
        tails[fp.rsplit("/", 1)[-1]] = (
            fp,
            tuple(pv.get(n) for n in part_names),
        )
    parts = sorted({v[1] for v in tails.values()}, key=str)
    grp_of = {pt: i for i, pt in enumerate(parts)}
    map_df = local_rows_df(spark, 
        [(t, fp, grp_of[pt]) for t, (fp, pt) in sorted(tails.items())],
        f"{_IB_FILE} string, file_path string, _grp int",
    )
    rows = matches.join(F.broadcast(map_df), _IB_FILE).select(
        "file_path", F.col(_IB_POS).cast("bigint").alias("pos"), "_grp"
    )
    staging = os.path.join(path, f"_delstaging-{uuid.uuid4().hex}")
    (
        rows.repartition(max(1, len(parts)), "_grp")
        .sortWithinPartitions("file_path", "pos")
        .write.partitionBy("_grp")
        .parquet(staging)
    )
    pa_schema = pa.schema(
        [
            pa.field(
                "file_path",
                pa.string(),
                nullable=False,
                metadata={b"PARQUET:field_id": b"2147483546"},
            ),
            pa.field(
                "pos",
                pa.int64(),
                nullable=False,
                metadata={b"PARQUET:field_id": b"2147483545"},
            ),
        ]
    )
    out: list[dict] = []
    for dirpath, _dirs, files in sorted(os.walk(staging)):
        seg = os.path.basename(dirpath)
        if not seg.startswith("_grp="):
            continue
        pt = parts[int(seg.split("=", 1)[1])]
        for fname in sorted(files):
            if not fname.endswith(".parquet"):
                continue
            src = os.path.join(dirpath, fname)
            pf = pq.ParquetFile(src)
            if pf.metadata.num_rows == 0:
                continue
            name = f"{uuid.uuid4().hex}-deletes.parquet"
            dest = os.path.join(path, "data", name)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            writer = pq.ParquetWriter(dest, pa_schema)
            for rg in range(pf.num_row_groups):
                t = pf.read_row_group(rg, columns=["file_path", "pos"])
                writer.write_table(t.cast(pa_schema))
            writer.close()
            out.append(
                {
                    "content": 1,
                    "file_path": _file_uri(path, f"data/{name}"),
                    "file_format": "PARQUET",
                    "partition": dict(zip(part_names, pt)),
                    "record_count": pf.metadata.num_rows,
                    "file_size_in_bytes": os.path.getsize(dest),
                    "value_counts": None,
                    "null_value_counts": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "split_offsets": None,
                    "equality_ids": None,
                }
            )
    shutil.rmtree(staging)
    return out


def _land_dv_deletes(
    spark: SparkSession,
    path: str,
    matches: DataFrame,
    touched: list[dict],
    dv_live: list[dict],
    snapshot_id: int,
    seq: int,
) -> tuple[list[dict], list[dict]]:
    """Land newly matched (_IB_FILE, _IB_POS) rows as Iceberg v3
    DELETION VECTORS: one ``deletion-vector-v1`` blob per referenced
    data file, all in ONE puffin file per commit (the spec's
    recommended layout — a commit's DVs amortize into a single
    object-store write).  The v3 invariant is one LIVE DV per data
    file, and a replacement DV must contain its predecessor, so any
    file that already had a DV gets its old positions merged in; the
    old descriptor is returned as superseded for the caller to mark
    DELETED.  Files whose old DV gains no new positions are left
    untouched.  Per-file bitmaps serialize on the executors
    (Arrow-batched groupBy kernel); only the compressed blobs travel
    to the driver for the single-file write.  Returns (new DV
    data_file records annotated with `_spec_id`, superseded DV
    descriptors)."""
    from . import puffin

    ref_info: dict[str, dict] = {}
    for e in touched:
        df_rec = e["data_file"]
        fp = df_rec["file_path"]
        ref_info[fp.rsplit("/", 1)[-1]] = {
            "uri": fp,
            "partition": dict(df_rec.get("partition") or {}),
            "spec_id": int(e.get("_spec_id", 0)),
        }
    hit_tails = sorted(
        r[0]
        for r in matches.select(_IB_FILE).distinct().collect()
        if r[0] in ref_info
    )
    if not hit_tails:
        return [], []
    old_by_tail = {
        d["referenced"].rsplit("/", 1)[-1]: d for d in dv_live
    }
    superseded = [old_by_tail[t] for t in hit_tails if t in old_by_tail]
    pos_df = matches.filter(F.col(_IB_FILE).isin(hit_tails))
    if superseded:
        pos_df = pos_df.unionByName(_dv_positions_df(spark, superseded))

    def to_blob(pdf):
        import pandas as pd

        from . import puffin as _pf

        tail = pdf[_IB_FILE].iloc[0]
        positions = sorted(set(int(p) for p in pdf[_IB_POS]))
        return pd.DataFrame(
            {
                "tail": [tail],
                "payload": [_pf.dv_payload(positions)],
                "card": [len(positions)],
            }
        )

    blobs = sorted(
        pos_df.groupBy(_IB_FILE)
        .applyInPandas(to_blob, "tail string, payload binary, card long")
        .collect(),
        key=lambda r: r["tail"],
    )
    name = f"{uuid.uuid4().hex}-deletes.puffin"
    dest = os.path.join(path, "data", name)
    metas = puffin.write_puffin(
        dest,
        [
            {
                "type": "deletion-vector-v1",
                "data": bytes(b["payload"]),
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "properties": {
                    "referenced-data-file": ref_info[b["tail"]]["uri"],
                    "cardinality": str(int(b["card"])),
                },
            }
            for b in blobs
        ],
        properties={"created-by": "sparkgraft-iceberg/1.0"},
    )
    puffin_uri = _file_uri(path, f"data/{name}")
    puffin_size = os.path.getsize(dest)
    out = []
    for b, m in zip(blobs, metas):
        info = ref_info[b["tail"]]
        out.append(
            {
                "_spec_id": info["spec_id"],
                "data_file": {
                    "content": 1,
                    "file_path": puffin_uri,
                    "file_format": "PUFFIN",
                    "partition": info["partition"],
                    "record_count": int(b["card"]),
                    "file_size_in_bytes": puffin_size,
                    "value_counts": None,
                    "null_value_counts": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "split_offsets": None,
                    "equality_ids": None,
                    "first_row_id": None,
                    "referenced_data_file": info["uri"],
                    "content_offset": int(m["offset"]),
                    "content_size_in_bytes": int(m["length"]),
                },
            }
        )
    return out, superseded


def _rewrite_delete_manifests(
    path: str,
    mfs: list[dict],
    superseded: list[dict],
    new_dv_entries: list[dict],
    snapshot_id: int,
    fields: list[dict],
    meta: dict,
    schema_json: dict,
    seq: int,
    drop_pos_paths: frozenset[str] = frozenset(),
) -> list[dict]:
    """Manifest set for a v3 DV commit: data manifests carry forward
    untouched; delete manifests containing a superseded DV (or, on
    upgrade, a position-delete parquet listed in `drop_pos_paths`) are
    rewritten (survivors EXISTING with their explicit data sequence,
    superseded entries DELETED); untouched delete manifests carry
    as-is; the new DV entries land in fresh delete manifests grouped
    by the referenced files' partition specs."""
    sup_keys = {
        (d["path"], d["offset"]) for d in superseded
    }
    specs = _specs_by_id(meta)
    out: list[dict] = []
    for mf in mfs:
        if (mf.get("content") or 0) != 1:
            out.append(mf)
            continue
        mp = _abs_path(path, mf["manifest_path"])
        records, _m, _s = avrotiny.read_container(mp)
        live = [r for r in records if r.get("status", 0) in (0, 1)]

        def _is_sup(r: dict) -> bool:
            df_rec = r["data_file"]
            fmt = (df_rec.get("file_format") or "").upper()
            if fmt == "PUFFIN":
                return (
                    _abs_path(path, df_rec["file_path"]),
                    int(df_rec.get("content_offset") or 0),
                ) in sup_keys
            return (
                (df_rec.get("content") or 0) == 1
                and _abs_path(path, df_rec["file_path"]) in drop_pos_paths
            )

        if not any(_is_sup(r) for r in live):
            out.append(mf)
            continue
        entries = [
            {
                "status": 2 if _is_sup(r) else 0,
                "snapshot_id": (
                    snapshot_id if _is_sup(r) else r.get("snapshot_id")
                ),
                "_seq": _entry_seq(r, mf),
                "data_file": r["data_file"],
            }
            for r in live
        ]
        sid = int(mf.get("partition_spec_id") or 0)
        out.append(
            _write_manifest(
                path, entries, snapshot_id, fields,
                specs.get(sid, []), schema_json,
                fv=3, content="deletes", seq=seq, spec_id=sid,
            )
        )
    by_sid: dict[int, list[dict]] = {}
    for e in new_dv_entries:
        by_sid.setdefault(int(e.get("_spec_id", 0)), []).append(e)
    for sid, es in sorted(by_sid.items()):
        out.append(
            _write_manifest(
                path,
                [
                    {
                        "status": 1,
                        "snapshot_id": snapshot_id,
                        "data_file": e["data_file"],
                    }
                    for e in es
                ],
                snapshot_id,
                fields,
                specs.get(sid, []),
                schema_json,
                fv=3,
                content="deletes",
                seq=seq,
                spec_id=sid,
            )
        )
    return out


def _range_prune_ctx(meta0: dict, col: str, lo, hi, op: str) -> dict:
    """Shared pruning context for row-level DML with a
    `col BETWEEN lo AND hi` predicate (DELETE / UPDATE): resolves the
    (possibly struct-leaf dotted) column, maps the bounds through a
    monotone partition transform, and returns the metadata pieces plus
    a `touched_by_range(entry)` closure that answers from manifest
    bounds / partition values ONLY — the same three-tier skipping the
    readers use, so a 100-TB table rewrites O(matching files), never
    O(table)."""
    fields = _schema_of(meta0)
    spec = _spec_of(meta0)
    spec_sid = _default_spec_id(meta0)
    # dotted paths resolve STRUCT leaves ("s.a"): their bounds prune
    # under the nested field id, and the rewrite filter is a struct
    # member access
    fld = _struct_leaf_index({f["name"]: f for f in fields}).get(col)
    if fld is None:
        raise ValueError(f"no column {col!r} in the Iceberg schema")
    if not isinstance(fld["type"], str):
        raise ValueError(
            f"column {col!r} has composite type — {op} takes a "
            "primitive predicate (filter a leaf, e.g. a struct member "
            "path)"
        )
    fid = fld["id"]
    ice_type = fld["type"]
    del_pf = next((p for p in spec if p["source-id"] == fid), None)

    lo_i, hi_i = _to_internal(ice_type, lo), _to_internal(ice_type, hi)
    # partition-tier bounds, mapped through the transform when monotone
    # (bucket ranges can't prune; point predicates map to one bucket)
    dp_lo = dp_hi = None
    if del_pf is not None:
        d_kind, _dp = _parse_transform(del_pf.get("transform", "identity"))
        if d_kind in _MONOTONE_KINDS:
            dp_lo = _apply_transform_py(del_pf, ice_type, lo_i)
            dp_hi = _apply_transform_py(del_pf, ice_type, hi_i)
        elif d_kind == "bucket" and lo_i == hi_i:
            dp_lo = dp_hi = _apply_transform_py(del_pf, ice_type, lo_i)

    def touched_by_range(entry: dict) -> bool:
        df_rec = entry["data_file"]
        if (
            del_pf is not None
            and dp_lo is not None
            and int(entry.get("_spec_id", 0)) == spec_sid
        ):
            pv = (df_rec.get("partition") or {}).get(del_pf["name"])
            if pv is not None and (pv < dp_lo or pv > dp_hi):
                return False
        lbs = _norm_id_map(df_rec.get("lower_bounds"))
        ubs = _norm_id_map(df_rec.get("upper_bounds"))
        f_lo = deser_value(ice_type, lbs.get(fid))
        f_hi = deser_value(ice_type, ubs.get(fid))
        if f_lo is None or f_hi is None:
            return True  # no stats: conservatively touched
        return not (f_hi < lo_i or f_lo > hi_i)

    return {
        "fields": fields,
        "spec": spec,
        "spec_sid": spec_sid,
        "schema_json": {"type": "struct", "schema-id": 0, "fields": fields},
        "touched_by_range": touched_by_range,
    }


def _bound_to_py(ice_type: str, v):
    """Internal bound/partition repr → a Python value `predicates`'
    comparator can relate to SQL literals (dates become datetime.date
    so ISO strings compare); None = incomparable, stays conservative."""
    import datetime as _dt

    if v is None:
        return None
    if ice_type == "date" and isinstance(v, int):
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
    if ice_type in (
        "long", "int", "float", "double", "string", "boolean"
    ) or _dec_params(ice_type) is not None:
        return v
    return None


class _IceRangePred:
    """Range-shaped predicate carrier for Iceberg row-level DML — the
    original `col BETWEEN lo AND hi` fast path, byte-compatible with
    `_range_prune_ctx`'s three-tier skipping (manifest bounds,
    partition values, monotone-transform mapping)."""

    def __init__(self, meta0: dict, col: str, lo, hi, op: str):
        ctx = _range_prune_ctx(meta0, col, lo, hi, op)
        self.fields = ctx["fields"]
        self.spec = ctx["spec"]
        self.spec_sid = ctx["spec_sid"]
        self.schema_json = ctx["schema_json"]
        self.touches = ctx["touched_by_range"]
        self.col, self.lo, self.hi = col, lo, hi
        self.text = f"{col} BETWEEN {lo!r} AND {hi!r}"
        self.scan_prune = False

    def cond(self):
        return F.col(self.col).between(self.lo, self.hi)

    def not_cond(self):
        return F.col(self.col).isNull() | ~F.col(self.col).between(
            self.lo, self.hi
        )


class _IceSqlPred:
    """General-predicate carrier for Iceberg row-level DML (r15): any
    Catalyst-parseable WHERE text.  Row truth is `F.expr(text)`; file
    pruning is the `predicates` interval walk over each manifest
    entry's per-field-id bounds / null counts and identity partition
    values (deserialized to comparable Python values — dates included).
    `scan_prune=True` asks the copy-on-write path to narrow the stats
    candidates with one probe scan: only the matched-file NAME set
    (O(matched files)) returns to the driver."""

    def __init__(self, meta0: dict, text: str):
        from . import predicates as P

        self._P = P
        self.text = text.strip()
        self._ast = P.parse_predicate(self.text)
        self.scan_prune = True
        self.fields = _schema_of(meta0)
        self.spec = _spec_of(meta0)
        self.spec_sid = _default_spec_id(meta0)
        self.schema_json = {
            "type": "struct", "schema-id": 0, "fields": self.fields
        }
        self._leaf = _struct_leaf_index({f["name"]: f for f in self.fields})
        self._ident_pf = {}
        for pf in self.spec:
            kind, _prm = _parse_transform(pf.get("transform", "identity"))
            if kind == "identity":
                self._ident_pf[pf["source-id"]] = pf

    def cond(self):
        return F.expr(self.text)

    def not_cond(self):
        return ~F.coalesce(F.expr(self.text), F.lit(False))

    def touches(self, entry: dict) -> bool:
        if self._ast is None:
            return True
        df_rec = entry["data_file"]
        lbs = _norm_id_map(df_rec.get("lower_bounds"))
        ubs = _norm_id_map(df_rec.get("upper_bounds"))
        vcs = df_rec.get("value_counts") or {}
        nvs = df_rec.get("null_value_counts") or {}
        part = df_rec.get("partition") or {}
        in_default_spec = int(entry.get("_spec_id", 0)) == self.spec_sid

        def colinfo(col: str):
            fld = self._leaf.get(col)
            if fld is None or not isinstance(fld["type"], str):
                return None
            fid, ice_type = fld["id"], fld["type"]
            pf = self._ident_pf.get(fid)
            if pf is not None and in_default_spec and pf["name"] in part:
                pv = part[pf["name"]]
                if pv is None:
                    return (None, None, True, True)
                b = _bound_to_py(ice_type, pv)
                return (b, b, False, False)
            mn = _bound_to_py(ice_type, deser_value(ice_type, lbs.get(fid)))
            mx = _bound_to_py(ice_type, deser_value(ice_type, ubs.get(fid)))
            nv = _count_of(nvs, fid)
            vc = _count_of(vcs, fid)
            has_null = (nv > 0) if nv is not None else None
            all_null = (
                (vc == nv) if (vc is not None and nv is not None) else None
            )
            if mn is None and mx is None and has_null is None:
                return None
            return (mn, mx, has_null, all_null)

        return self._P.may_match(self._ast, colinfo)


def _count_of(counts, fid: int):
    """value/null count for a field id from whichever map shape the
    manifest carried ({fid: n} or [{key,value}] avro form)."""
    if isinstance(counts, dict):
        v = counts.get(fid, counts.get(str(fid)))
    elif isinstance(counts, list):
        v = None
        for kv in counts:
            if int(kv.get("key")) == fid:
                v = kv.get("value")
                break
    else:
        v = None
    return int(v) if isinstance(v, (int, float)) else None


def _scan_prune_entries(
    spark: SparkSession,
    path: str,
    base: dict,
    touched: list[dict],
    untouched: list[dict],
    pos_files,
    eq_dels,
    dvs,
    pred,
):
    """Narrow stats candidates to files that actually hold a matching
    row: one probe scan of the candidates, only the matched-file NAME
    set (O(matched files), metadata-sized) returns to the driver.
    Files the probe clears move to `untouched` and keep their
    EXISTING manifest status — never rewritten."""
    if not (pred.scan_prune and touched):
        return touched, untouched
    probe = _read_entries(
        spark, path, base, touched, pos_files, eq_dels,
        keep_identity=True, dvs=dvs,
    )
    hit = {
        r[0]
        for r in probe.filter(pred.cond())
        .select(_IB_FILE)
        .distinct()
        .collect()
    }
    keep, spared = [], []
    for e in touched:
        tail = e["data_file"]["file_path"].rsplit("/", 1)[-1]
        (keep if tail in hit else spared).append(e)
    return keep, untouched + spared


def delete_where_iceberg(
    spark: SparkSession, path: str, col: str, lo, hi,
    strategy: str = "cow",
) -> int:
    """`DELETE FROM iceberg_table WHERE col BETWEEN lo AND hi`.

    `strategy="cow"` (default): copy-on-write — metadata-tier pruning
    picks the possibly-affected files; those are rewritten (NULLs kept
    — three-valued BETWEEN, live deletes applied to the pre-image) and
    the new snapshot's manifest records survivors as EXISTING (with
    their data sequence numbers), dropped files as DELETED, rewrites
    as ADDED; delete manifests carry forward for the EXISTING files.

    `strategy="merge-on-read"`: no data file is rewritten — matched
    row positions land as v2 POSITION-delete parquet files (file_path
    + pos with the spec's reserved field-ids, one per partition,
    sorted) in a content=1 delete manifest; a v1 table upgrades to
    format-version 2 on the first such delete (spec upgrade rule:
    existing files keep data sequence number 0).

    Both run the manifest build inside the commit retry loop, so a
    racing commit can never make the remove set stale."""
    meta0 = current_metadata(path)
    return _delete_iceberg_pred(
        spark, path, _IceRangePred(meta0, col, lo, hi, "DELETE"), strategy
    )


def delete_predicate_iceberg(
    spark: SparkSession, path: str, predicate: str, strategy: str = "cow"
) -> int:
    """`DELETE FROM iceberg_table WHERE <any predicate>` (r15) — the
    general-WHERE twin of `delete_where_iceberg`: strict `<`/`>`,
    multi-column conjunctions, `OR`, `IS [NOT] NULL`, `IN`, any
    Catalyst-parseable boolean text.  Row truth is Catalyst's; file
    selection is the `predicates` interval walk over manifest bounds /
    identity partition values / null counts, then (copy-on-write) one
    probe scan narrows the rewrite to files actually holding a match.
    Same snapshot shapes and retry-loop discipline as the range
    path."""
    meta0 = current_metadata(path)
    if meta0 is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    return _delete_iceberg_pred(
        spark, path, _IceSqlPred(meta0, predicate), strategy
    )


def _delete_iceberg_pred(
    spark: SparkSession, path: str, pred, strategy: str
) -> int:
    if strategy not in ("cow", "merge-on-read"):
        raise ValueError(f"unknown delete strategy {strategy!r}")
    fields, spec, spec_sid = pred.fields, pred.spec, pred.spec_sid
    schema_json = pred.schema_json

    result = {"changed": True}
    part_names = [pf["name"] for pf in spec]

    if strategy == "merge-on-read":

        def build_mor(
            base: dict | None, snapshot_id: int, seq: int, fv: int
        ) -> list[dict]:
            if base is None:
                raise FileNotFoundError(f"no Iceberg metadata under {path}")
            prev = _snapshot(base, None)
            mfs = (
                _read_manifest_list(path, prev) if prev is not None else []
            )
            live = (
                _live_entries(path, base, prev) if prev is not None else []
            )
            touched = [e for e in live if pred.touches(e)]
            if not touched:
                result["changed"] = False
                return list(mfs)
            # existing deletes are applied to the scan first, so the
            # new delete file carries only NEWLY matched positions
            pos_files, eq_dels, dv_live = _delete_files(path, mfs)
            scan = _read_entries(
                spark, path, base, touched, pos_files, eq_dels,
                keep_identity=True, dvs=dv_live,
            )
            matches = scan.filter(pred.cond()).select(_IB_FILE, _IB_POS)
            if fv >= 3:
                # v3: position-delete parquet may not be written —
                # matched positions become deletion vectors, merged
                # with (and superseding) any existing DV per file
                if pos_files:
                    raise ValueError(
                        "v3 table still carries position-delete parquet "
                        "— run upgrade_iceberg_format(path, 3) to fold "
                        "them into deletion vectors first"
                    )
                new_entries, superseded = _land_dv_deletes(
                    spark, path, matches, touched, dv_live,
                    snapshot_id, seq,
                )
                if not new_entries:
                    result["changed"] = False
                    return list(mfs)
                return _rewrite_delete_manifests(
                    path, mfs, superseded, new_entries, snapshot_id,
                    fields, base, schema_json, seq,
                )
            del_files = _land_position_deletes(
                spark, path, matches, touched, part_names
            )
            if not del_files:
                result["changed"] = False
                return list(mfs)
            entries = [
                {"status": 1, "snapshot_id": snapshot_id, "data_file": d}
                for d in del_files
            ]
            del_mf = _write_manifest(
                path, entries, snapshot_id, fields, spec, schema_json,
                fv=fv, content="deletes", seq=seq, spec_id=spec_sid,
            )
            return list(mfs) + [del_mf]

        return _commit_snapshot(
            path, "delete", build_mor, format_version=2,
            expect_schema=fields,
        )

    def build_manifests(
        base: dict | None, snapshot_id: int, seq: int, fv: int
    ) -> list[dict]:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        prev = _snapshot(base, None)
        mfs = _read_manifest_list(path, prev) if prev is not None else []
        pos_files, eq_dels, _dvs = _delete_files(path, mfs)
        delete_mfs = [m for m in mfs if (m.get("content") or 0) == 1]
        live = (
            _live_entries(path, base, prev) if prev is not None else []
        )
        touched = [e for e in live if pred.touches(e)]
        untouched = [e for e in live if not pred.touches(e)]
        touched, untouched = _scan_prune_entries(
            spark, path, base, touched, untouched, pos_files, eq_dels,
            _dvs, pred,
        )
        if not touched:
            result["changed"] = False
        rewritten: list[dict] = []
        if touched:
            # live deletes apply to the pre-image read, so the rewrite
            # materializes them for the touched files; carried delete
            # manifests keep masking the EXISTING files, and their
            # references to the dropped files are inert (path-matched).
            # On v3 the rewrite also materializes each surviving row's
            # lineage columns (spec rewrite rule) so _row_id survives.
            if fv >= 3:
                old_rows = _lineage_scan(
                    spark, path, base, touched, pos_files, eq_dels, _dvs
                )
            else:
                old_rows = _read_entries(
                    spark, path, base, touched, pos_files, eq_dels
                )
            kept_rows = old_rows.filter(pred.not_cond())
            rewritten = _land_data(kept_rows, path, spec, fields)
        entries = (
            [
                {
                    "status": 0,
                    "snapshot_id": e.get("snapshot_id"),
                    "_seq": e.get("_seq", 0),
                    "_spec_id": e.get("_spec_id", 0),
                    "_first_row_id": e.get("_first_row_id"),
                    "data_file": e["data_file"],
                }
                for e in untouched
            ]
            + [
                {
                    "status": 2,
                    "snapshot_id": snapshot_id,
                    "_seq": e.get("_seq", 0),
                    "_spec_id": e.get("_spec_id", 0),
                    "_first_row_id": e.get("_first_row_id"),
                    "data_file": e["data_file"],
                }
                for e in touched
            ]
            + [
                {"status": 1, "snapshot_id": snapshot_id, "data_file": d}
                for d in rewritten
            ]
        )
        new_mfs = _write_manifests_by_spec(
            path, entries, snapshot_id, fields, base, schema_json, fv, seq
        )
        return new_mfs + delete_mfs

    return _commit_snapshot(
        path, "delete", build_manifests, expect_schema=fields
    )


def update_where_iceberg(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    col: str,
    lo,
    hi,
    strategy: str = "cow",
) -> int:
    """`UPDATE ... SET <name>=<sql expr>, ... WHERE col BETWEEN lo AND
    hi` as a copy-on-write Iceberg snapshot (summary operation
    `overwrite`, the shape real engines commit for row-level UPDATE).

    `strategy="merge-on-read"` (the `write.update.mode` real engines
    honor): NO touched file is rewritten — matched row positions land
    as position-delete files (v2) or deletion vectors (v3), and the
    post-image rows land as NEW data files, both in ONE snapshot, so
    no reader can observe the rows deleted but not yet re-inserted.
    Commit cost is O(matched rows), not O(touched files) — the shape
    a wide table with point updates needs at 100 TB.  On v3 the
    post-image rows carry their pre-image `_row_id` (lineage scan →
    materialized column), the spec's update carry-over rule.

    Same skipping tier as `delete_where_iceberg`: manifest bounds /
    partition values pick the possibly-affected files from METADATA
    only, so a 100-TB table rewrites O(matching files).  Touched files
    are read with live deletes applied (the pre-image a reader would
    see), matched rows get the SET expressions applied (cast back to
    the column's current type so the schema is unchanged), unmatched
    rows carry verbatim; survivors keep EXISTING status with their
    data sequence numbers, touched files are DELETED, rewrites ADDED.
    On v3 row-lineage tables updated AND carried rows keep their
    `_row_id` (spec carry-over rule), exactly like the delete rewrite.

    Refuses: SET on a partition source column (identity or transform —
    moving a row between partitions is an overwrite-shape job, not a
    row UPDATE), SET on a non-top-level column, unknown columns.  The
    manifest build runs inside the commit retry loop, so a racing
    commit can never make the remove set stale."""
    meta0 = current_metadata(path)
    if meta0 is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    return _update_iceberg_pred(
        spark, path, set_exprs,
        _IceRangePred(meta0, col, lo, hi, "UPDATE"), strategy,
    )


def update_predicate_iceberg(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicate: str,
    strategy: str = "cow",
) -> int:
    """`UPDATE ... SET ... WHERE <any predicate>` (r15) — the
    general-WHERE twin of `update_where_iceberg`: same `predicates`
    interval pruning + copy-on-write probe-scan narrowing as
    `delete_predicate_iceberg`, same snapshot shapes / SET refusals /
    v3 lineage carry rules as the range path."""
    meta0 = current_metadata(path)
    if meta0 is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    return _update_iceberg_pred(
        spark, path, set_exprs, _IceSqlPred(meta0, predicate), strategy
    )


def _update_iceberg_pred(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    pred,
    strategy: str,
) -> int:
    if strategy not in ("cow", "merge-on-read"):
        raise ValueError(f"unknown update strategy {strategy!r}")
    fields, spec, spec_sid = pred.fields, pred.spec, pred.spec_sid
    schema_json = pred.schema_json
    top = {f["name"] for f in fields}
    unknown = set(set_exprs) - top
    if unknown:
        raise ValueError(
            f"SET targets unknown/non-top-level column(s) "
            f"{sorted(unknown)}"
        )
    by_id = {f["id"]: f for f in fields}
    part_sources = {
        by_id[pf["source-id"]]["name"]
        for pf in spec
        if pf["source-id"] in by_id
    }
    bad = set(set_exprs) & part_sources
    if bad:
        raise ValueError(
            f"cannot UPDATE partition source column(s) {sorted(bad)}"
        )
    result = {"changed": True}
    part_names = [pf["name"] for pf in spec]

    if strategy == "merge-on-read":

        def build_mor(
            base: dict | None, snapshot_id: int, seq: int, fv: int
        ) -> list[dict]:
            if base is None:
                raise FileNotFoundError(f"no Iceberg metadata under {path}")
            prev = _snapshot(base, None)
            mfs = (
                _read_manifest_list(path, prev) if prev is not None else []
            )
            live = (
                _live_entries(path, base, prev) if prev is not None else []
            )
            touched = [e for e in live if pred.touches(e)]
            if not touched:
                result["changed"] = False
                return list(mfs)
            pos_files, eq_dels, dv_live = _delete_files(path, mfs)
            cond = pred.cond()
            scan = _read_entries(
                spark, path, base, touched, pos_files, eq_dels,
                keep_identity=True, dvs=dv_live,
            )
            match_pos = scan.filter(cond).select(_IB_FILE, _IB_POS)
            # deletes land first: an empty match set is a clean no-op
            # before any data file exists to orphan
            if fv >= 3:
                if pos_files:
                    raise ValueError(
                        "v3 table still carries position-delete parquet "
                        "— run upgrade_iceberg_format(path, 3) to fold "
                        "them into deletion vectors first"
                    )
                new_dv, superseded = _land_dv_deletes(
                    spark, path, match_pos, touched, dv_live,
                    snapshot_id, seq,
                )
                if not new_dv:
                    result["changed"] = False
                    return list(mfs)
                base_mfs = _rewrite_delete_manifests(
                    path, mfs, superseded, new_dv, snapshot_id,
                    fields, base, schema_json, seq,
                )
                post = _lineage_scan(
                    spark, path, base, touched, pos_files, eq_dels,
                    dv_live,
                ).filter(cond)
                # updated rows take the UPDATE's sequence number: null
                # the materialized pre-image _LUSN so the reader's
                # coalesce falls through to the new file's seq
                post = post.withColumn(_LUSN, F.lit(None).cast("bigint"))
            else:
                del_files = _land_position_deletes(
                    spark, path, match_pos, touched, part_names
                )
                if not del_files:
                    result["changed"] = False
                    return list(mfs)
                del_entries = [
                    {"status": 1, "snapshot_id": snapshot_id, "data_file": d}
                    for d in del_files
                ]
                del_mf = _write_manifest(
                    path, del_entries, snapshot_id, fields, spec,
                    schema_json, fv=fv, content="deletes", seq=seq,
                    spec_id=spec_sid,
                )
                base_mfs = list(mfs) + [del_mf]
                post = scan.filter(cond).drop(_IB_FILE, _IB_POS)
            for c, expr in sorted(set_exprs.items()):
                post = post.withColumn(
                    c, F.expr(expr).cast(post.schema[c].dataType)
                )
            data_files = _land_data(post, path, spec, fields)
            data_entries = [
                {"status": 1, "snapshot_id": snapshot_id, "data_file": d}
                for d in data_files
            ]
            data_mf = _write_manifest(
                path, data_entries, snapshot_id, fields, spec,
                schema_json, fv=fv, seq=seq, spec_id=spec_sid,
            )
            return base_mfs + [data_mf]

        return _commit_snapshot(
            path, "overwrite", build_mor, format_version=2,
            expect_schema=fields,
        )

    def build_manifests(
        base: dict | None, snapshot_id: int, seq: int, fv: int
    ) -> list[dict]:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        prev = _snapshot(base, None)
        mfs = _read_manifest_list(path, prev) if prev is not None else []
        pos_files, eq_dels, _dvs = _delete_files(path, mfs)
        delete_mfs = [m for m in mfs if (m.get("content") or 0) == 1]
        live = (
            _live_entries(path, base, prev) if prev is not None else []
        )
        touched = [e for e in live if pred.touches(e)]
        untouched = [e for e in live if not pred.touches(e)]
        touched, untouched = _scan_prune_entries(
            spark, path, base, touched, untouched, pos_files, eq_dels,
            _dvs, pred,
        )
        if not touched:
            result["changed"] = False
        rewritten: list[dict] = []
        if touched:
            # pre-image = the reader's view (live deletes applied); on
            # v3 the lineage columns materialize so _row_id survives
            # the rewrite for carried AND updated rows alike
            if fv >= 3:
                old_rows = _lineage_scan(
                    spark, path, base, touched, pos_files, eq_dels, _dvs
                )
            else:
                old_rows = _read_entries(
                    spark, path, base, touched, pos_files, eq_dels
                )
            cond = pred.cond()
            carried = old_rows.filter(pred.not_cond())
            post = old_rows.filter(cond)
            for c, expr in sorted(set_exprs.items()):
                post = post.withColumn(
                    c, F.expr(expr).cast(old_rows.schema[c].dataType)
                )
            if _LUSN in post.columns:
                # spec: an updated row's last-updated seq becomes the
                # UPDATE's — null out the materialized pre-image value
                # so the reader's coalesce inherits the new file's seq
                post = post.withColumn(
                    _LUSN, F.lit(None).cast("bigint")
                )
            rewritten = _land_data(
                carried.unionByName(post.select(*old_rows.columns)),
                path, spec, fields,
            )
        entries = (
            [
                {
                    "status": 0,
                    "snapshot_id": e.get("snapshot_id"),
                    "_seq": e.get("_seq", 0),
                    "_spec_id": e.get("_spec_id", 0),
                    "_first_row_id": e.get("_first_row_id"),
                    "data_file": e["data_file"],
                }
                for e in untouched
            ]
            + [
                {
                    "status": 2,
                    "snapshot_id": snapshot_id,
                    "_seq": e.get("_seq", 0),
                    "_spec_id": e.get("_spec_id", 0),
                    "_first_row_id": e.get("_first_row_id"),
                    "data_file": e["data_file"],
                }
                for e in touched
            ]
            + [
                {"status": 1, "snapshot_id": snapshot_id, "data_file": d}
                for d in rewritten
            ]
        )
        new_mfs = _write_manifests_by_spec(
            path, entries, snapshot_id, fields, base, schema_json, fv, seq
        )
        return new_mfs + delete_mfs

    return _commit_snapshot(
        path, "overwrite", build_manifests, expect_schema=fields
    )


#: Iceberg primitive → pyarrow type for equality-delete key files.
_EQ_KEY_PA_TYPES = {
    "long": "int64",
    "int": "int32",
    "string": "string",
    "double": "float64",
    "float": "float32",
    "boolean": "bool_",
}


def _ensure_unpartitioned_spec(path: str) -> int:
    """Spec-id of an UNPARTITIONED spec in `partition-specs`, appending
    one (metadata-only, default spec untouched) when absent.  Global
    equality deletes must be stored under an unpartitioned spec — the
    Iceberg scoping rule: deletes stored with a partitioned spec apply
    only within their partition, unpartitioned ones apply globally."""
    meta = current_metadata(path)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    specs = meta.get("partition-specs") or [
        {"spec-id": 0, "fields": meta.get("partition-spec", [])}
    ]
    for sp in specs:
        if not sp["fields"]:
            return int(sp["spec-id"])
    result: dict = {}

    def build(base: dict | None) -> dict:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        m = json.loads(json.dumps(base))
        sps = m.get("partition-specs") or [
            {"spec-id": 0, "fields": m.get("partition-spec", [])}
        ]
        for sp in sps:
            if not sp["fields"]:
                result["sid"] = int(sp["spec-id"])
                return m
        new_sid = max(int(sp.get("spec-id", 0)) for sp in sps) + 1
        m["partition-specs"] = sps + [{"spec-id": new_sid, "fields": []}]
        m["last-updated-ms"] = int(time.time() * 1000)
        result["sid"] = new_sid
        return m

    _claim_metadata(path, build)
    return result["sid"]


def _land_eq_delete(
    path: str,
    fields: list[dict],
    cols: list[str],
    keys: list,
    part_tuple: dict,
) -> dict:
    """Land key tuples as one EQUALITY-delete parquet file (content=2,
    key columns stamped with their Iceberg field-ids) and return its
    data_file record.  Shared by `delete_eq_iceberg` and the atomic
    `upsert_iceberg`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    by_name = {f["name"]: f for f in fields}
    missing = [c for c in cols if c not in by_name]
    if missing:
        raise ValueError(f"no column(s) {missing} in the Iceberg schema")
    for c in cols:
        t = by_name[c]["type"]
        if t not in _EQ_KEY_PA_TYPES:
            raise ValueError(
                f"equality-delete key column {c!r}: type {t!r} unsupported"
            )
    rows = [k if isinstance(k, tuple) else (k,) for k in keys]
    if not rows:
        raise ValueError("equality delete with no keys")
    if any(len(r) != len(cols) for r in rows):
        raise ValueError("key tuple arity does not match cols")
    fids = [by_name[c]["id"] for c in cols]
    pa_fields, arrays = [], []
    for i, c in enumerate(cols):
        pa_t = getattr(pa, _EQ_KEY_PA_TYPES[by_name[c]["type"]])()
        pa_fields.append(
            pa.field(
                c,
                pa_t,
                nullable=True,
                metadata={b"PARQUET:field_id": str(by_name[c]["id"]).encode()},
            )
        )
        arrays.append(pa.array([r[i] for r in rows], pa_t))
    table = pa.Table.from_arrays(arrays, schema=pa.schema(pa_fields))
    name = f"{uuid.uuid4().hex}-eq-deletes.parquet"
    dest = os.path.join(path, "data", name)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    pq.write_table(table, dest)
    return {
        "content": 2,
        "file_path": _file_uri(path, f"data/{name}"),
        "file_format": "PARQUET",
        "partition": part_tuple,
        "record_count": len(rows),
        "file_size_in_bytes": os.path.getsize(dest),
        "value_counts": None,
        "null_value_counts": None,
        "lower_bounds": None,
        "upper_bounds": None,
        "split_offsets": None,
        "equality_ids": fids,
    }


def _land_eq_deletes_df(
    keys_df: DataFrame,
    path: str,
    fields: list[dict],
    cols: list[str],
    part_tuple: dict,
) -> list[dict]:
    """Distributed twin of `_land_eq_delete` (r15): the key tuples stay
    a DataFrame end to end — EXECUTORS write the EQUALITY-delete
    parquet file(s) through Spark's parquet writer (key columns'
    Iceberg field-ids stamped via the `parquet.field.id` metadata
    passthrough, exactly `_land_data`'s mechanism); the driver only
    renames the landed files into `data/` and reads their footers for
    record counts — O(files) metadata, never O(keys) rows.  Multiple
    delete files per commit are spec-legal (they land in one delete
    manifest), so this is what keeps MERGE/upsert O(changes) at 100 TB
    WITHOUT pooling the distinct key set in driver memory: a
    10⁸-distinct-key CDC batch never materializes as a Python list.
    Empty input lands nothing and returns [] (callers no-op)."""
    import pyarrow.parquet as pq

    by_name = {f["name"]: f for f in fields}
    missing = [c for c in cols if c not in by_name]
    if missing:
        raise ValueError(f"no column(s) {missing} in the Iceberg schema")
    for c in cols:
        t = by_name[c]["type"]
        if t not in _EQ_KEY_PA_TYPES:
            raise ValueError(
                f"equality-delete key column {c!r}: type {t!r} unsupported"
            )
    fids = [by_name[c]["id"] for c in cols]
    stamped = keys_df.select(
        *[
            F.col(c).alias(
                c, metadata={"parquet.field.id": by_name[c]["id"]}
            )
            for c in cols
        ]
    )
    staging = os.path.join(path, f"_staging-eq-{uuid.uuid4().hex}")
    stamped.write.mode("overwrite").parquet(staging)
    out: list[dict] = []
    for dirpath, _dirs, files in sorted(os.walk(staging)):
        for fname in sorted(files):
            if not fname.endswith(".parquet"):
                continue
            src = os.path.join(dirpath, fname)
            n = int(pq.read_metadata(src).num_rows)
            if n == 0:
                continue  # empty part file: committing it bloats manifests
            new = f"{uuid.uuid4().hex}-eq-deletes.parquet"
            dest = os.path.join(path, "data", new)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(src, dest)
            out.append(
                {
                    "content": 2,
                    "file_path": _file_uri(path, f"data/{new}"),
                    "file_format": "PARQUET",
                    "partition": dict(part_tuple),
                    "record_count": n,
                    "file_size_in_bytes": os.path.getsize(dest),
                    "value_counts": None,
                    "null_value_counts": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "split_offsets": None,
                    "equality_ids": list(fids),
                }
            )
    shutil.rmtree(staging)
    return out


def _eq_delete_ctx(path: str, partition_scope: dict | None):
    """Shared preamble for equality-delete commits: resolve where the
    delete must be STORED per the spec's scoping rule — global deletes
    on a partitioned table under an unpartitioned spec (appended
    metadata-only when absent), partition-scoped ones under the
    default spec with the target tuple.  Returns
    (meta0, fields, eq_spec, eq_sid, part_tuple)."""
    meta0 = current_metadata(path)
    if meta0 is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    fields = _schema_of(meta0)
    spec = _spec_of(meta0)
    spec_sid = _default_spec_id(meta0)
    part_tuple: dict = {}
    if spec and partition_scope is not None:
        # Partition-SCOPED delete: stored under the (partitioned)
        # default spec with the target partition tuple — readers apply
        # it only to data files in that partition (still seq-gated).
        names = [pf["name"] for pf in spec]
        if set(partition_scope) != set(names):
            raise ValueError(
                f"partition_scope keys {sorted(partition_scope)} != "
                f"partition fields {names}"
            )
        eq_spec, eq_sid = spec, spec_sid
        part_tuple = {n: partition_scope[n] for n in names}
    elif spec:
        # Partitioned table, GLOBAL delete: stored under an
        # unpartitioned spec so readers apply it to every data file
        # with a strictly-lower sequence number regardless of
        # partition.
        eq_spec = []
        eq_sid = _ensure_unpartitioned_spec(path)
        meta0 = current_metadata(path)  # re-read: spec list grew
    else:
        if partition_scope is not None:
            raise ValueError("partition_scope on an unpartitioned table")
        eq_spec, eq_sid = spec, spec_sid
    return meta0, fields, eq_spec, eq_sid, part_tuple


def _commit_eq_deletes(
    path: str, fields: list[dict], eq_spec: list[dict], eq_sid: int,
    recs: list[dict],
) -> int:
    """Commit a set of landed equality-delete data_file records as one
    `delete` snapshot (carrying every prior manifest forward)."""
    schema_json = {"type": "struct", "schema-id": 0, "fields": fields}

    def build(base: dict | None, snapshot_id: int, seq: int, fv: int):
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        prev = _snapshot(base, None)
        mfs = _read_manifest_list(path, prev) if prev is not None else []
        del_mf = _write_manifest(
            path,
            [
                {"status": 1, "snapshot_id": snapshot_id, "data_file": r}
                for r in recs
            ],
            snapshot_id,
            fields,
            eq_spec,
            schema_json,
            fv=fv,
            content="deletes",
            seq=seq,
            spec_id=eq_sid,
        )
        return list(mfs) + [del_mf]

    return _commit_snapshot(
        path, "delete", build, format_version=2, expect_schema=fields
    )


def delete_eq_iceberg_df(
    spark: SparkSession,
    keys_df: DataFrame,
    path: str,
    cols: list[str],
    partition_scope: dict | None = None,
) -> int:
    """DataFrame twin of `delete_eq_iceberg` — the scale path for
    MERGE-sized key sets: the distinct key tuples are landed as
    equality-delete parquet BY THE EXECUTORS (`_land_eq_deletes_df`)
    and never pooled on the driver, so the commit is O(delete files)
    in driver memory at any batch size.  Same spec semantics as the
    list variant (global deletes under an unpartitioned spec,
    seq-gated application, v1→v2 upgrade).  NULL-key handling is the
    CALLER's contract: the eq-delete read side matches null-safely, so
    SQL dispatchers (`ON t.k = s.k` / `IN` never match NULL) must
    filter null key tuples before calling — a distributed `WHERE k IS
    NOT NULL`, not a collect.  An empty key frame is a no-op returning
    the current snapshot id."""
    meta0, fields, eq_spec, eq_sid, part_tuple = _eq_delete_ctx(
        path, partition_scope
    )
    recs = _land_eq_deletes_df(
        keys_df.select(*cols).distinct(), path, fields, cols, part_tuple
    )
    if not recs:
        snap = _snapshot(meta0, None)
        return int(snap["snapshot-id"]) if snap else 0
    return _commit_eq_deletes(path, fields, eq_spec, eq_sid, recs)


def delete_eq_iceberg(
    path: str,
    cols: list[str],
    keys: list,
    partition_scope: dict | None = None,
) -> int:
    """Equality DELETE — the Flink-CDC upsert primitive: land the key
    tuples as a v2 EQUALITY-delete parquet file (content=2,
    equality_ids = the key columns' field-ids) referenced from a
    delete manifest.  No data file is read OR rewritten: the commit is
    O(keys) regardless of table size, and the spec's sequence rule
    scopes the delete to data files with a STRICTLY LOWER data
    sequence number, so rows (re-)appended after the delete survive —
    exactly the asymmetry that makes key-based upserts O(changes) at
    100 TB: delete-by-key + append, never a table scan.  A v1 table
    upgrades to format-version 2 (spec upgrade rule); key values match
    null-safely on read (`_read_entries`).  Global deletes require an
    unpartitioned scope per the spec, so partitioned tables refuse
    loudly rather than mis-scope.  The reference's managed-table sink
    (ingestion notebook `saveAsTable`, ING:211) has no row-level
    maintenance; this is its scale-path extension.

    This list-shaped API is for CDC-SIZED key sets (the keys are
    already a Python list); MERGE-sized sets use the DataFrame twin
    `delete_eq_iceberg_df`, whose landing never transits the
    driver."""
    _meta0, fields, eq_spec, eq_sid, part_tuple = _eq_delete_ctx(
        path, partition_scope
    )
    rec = _land_eq_delete(path, fields, cols, keys, part_tuple)
    return _commit_eq_deletes(path, fields, eq_spec, eq_sid, [rec])


def upsert_iceberg(
    spark: SparkSession, df: DataFrame, path: str, keys: list[str]
) -> int:
    """ATOMIC key-based upsert in ONE snapshot — the exact commit
    shape Flink's CDC sink emits: the replacement rows land as data
    files AND their keys land as an equality-delete file, both at the
    SAME data sequence number, in the same commit.  The spec's
    strictly-below rule resolves it: the delete hides every OLDER row
    with a matching key, while the new rows (same sequence) survive —
    so there is no window where a reader can observe the keys deleted
    but not yet re-inserted, which the two-commit delete-then-append
    shape cannot guarantee.  O(changes): no data file is read or
    rewritten, the delete files are O(keys).  Keys absent from the
    table simply insert (their delete tuples match nothing).  A v1
    table upgrades to format-version 2; partitioned tables store the
    delete under an unpartitioned (global) spec per the scoping
    rule.

    r15: the distinct key set is landed as equality-delete parquet BY
    THE EXECUTORS (`_land_eq_deletes_df`) — it never pools in driver
    memory as a Python list, so a 10⁸-distinct-key batch upserts with
    the driver handling only O(files) metadata."""
    meta0 = current_metadata(path)
    if meta0 is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    fields = _schema_of(meta0)
    spec = _spec_of(meta0)
    spec_sid = _default_spec_id(meta0)
    want = {f["name"] for f in fields}
    if set(df.columns) != want:
        raise ValueError(
            f"upsert frame columns {sorted(df.columns)} != table "
            f"schema {sorted(want)}"
        )
    if spec:
        eq_spec: list[dict] = []
        eq_sid = _ensure_unpartitioned_spec(path)
    else:
        eq_spec, eq_sid = spec, spec_sid
    # the data and the equality-delete files land in two concurrent
    # Spark jobs; the data landing (and its variant guard, a session
    # conf) runs on the calling thread
    data_files, eq_recs = run_concurrently(
        lambda: _land_data(df, path, spec, fields),
        lambda: _land_eq_deletes_df(
            df.select(*keys).distinct(), path, fields, keys, {}
        ),
    )
    if not data_files:  # empty update frame (so no keys either): no-op
        snap = _snapshot(meta0, None)
        return int(snap["snapshot-id"]) if snap else 0
    schema_json = {"type": "struct", "schema-id": 0, "fields": fields}

    def build(base: dict | None, snapshot_id: int, seq: int, fv: int):
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        prev = _snapshot(base, None)
        mfs = _read_manifest_list(path, prev) if prev is not None else []
        data_mf = _write_manifest(
            path,
            [
                {"status": 1, "snapshot_id": snapshot_id, "data_file": d}
                for d in data_files
            ],
            snapshot_id, fields, spec, schema_json,
            fv=fv, seq=seq, spec_id=spec_sid,
        )
        del_mf = _write_manifest(
            path,
            [
                {"status": 1, "snapshot_id": snapshot_id, "data_file": r}
                for r in eq_recs
            ],
            snapshot_id, fields, eq_spec, schema_json,
            fv=fv, content="deletes", seq=seq, spec_id=eq_sid,
        )
        return list(mfs) + [data_mf, del_mf]

    return _commit_snapshot(
        path, "overwrite", build, format_version=2, expect_schema=fields
    )


def _name_mapping(meta: dict) -> dict[int, list[str]]:
    """{field-id: [historical names]} from the spec's
    `schema.name-mapping.default` table property — the mechanism that
    resolves files written WITHOUT parquet field ids (ours, and most
    Spark-written files) across renames."""
    raw = (meta.get("properties") or {}).get("schema.name-mapping.default")
    if not raw:
        return {}
    out: dict[int, list[str]] = {}
    for e in json.loads(raw):
        out[int(e["field-id"])] = list(e.get("names") or [])
    return out


def upgrade_iceberg_format(
    spark: SparkSession, path: str, target: int = 3
) -> int:
    """Upgrade a table to `target` format-version with the spec's
    invariants restored in the SAME commit.  v3 forbids position-delete
    parquet files, so any live ones are folded into deletion vectors
    first: their (file_path, pos) rows group per referenced data file,
    each file's positions serialize as one ``deletion-vector-v1`` blob
    in a single puffin file, the parquet entries are marked DELETED in
    rewritten delete manifests, and the DV entries are ADDED.  Row
    lineage starts at this commit: the manifest-list write assigns
    `first_row_id` to every data manifest (pre-upgrade files get ids
    lazily, the spec's inheritance path for upgraded tables).
    Equality deletes are v3-legal and carry through untouched."""
    if target not in (2, 3):
        raise ValueError(f"cannot upgrade to format-version {target}")

    def build(base: dict | None, snapshot_id: int, seq: int, fv: int):
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        prev = _snapshot(base, None)
        mfs = _read_manifest_list(path, prev) if prev is not None else []
        if target < 3:
            return list(mfs)
        pos_files, _eq, dv_live = _delete_files(path, mfs)
        if not pos_files:
            return list(mfs)
        fields = _schema_of(base)
        schema_json = {"type": "struct", "schema-id": 0, "fields": fields}
        live = _live_entries(path, base, prev) if prev is not None else []
        matches = _pos_delete_rows(spark, pos_files).dropDuplicates()
        new_entries, superseded = _land_dv_deletes(
            spark, path, matches, live, dv_live, snapshot_id, seq
        )
        return _rewrite_delete_manifests(
            path, mfs, superseded, new_entries, snapshot_id,
            fields, base, schema_json, seq,
            drop_pos_paths=frozenset(pos_files),
        )

    return _commit_snapshot(
        path, "replace", build, format_version=target
    )


def compact_iceberg(
    spark: SparkSession,
    path: str,
    target_mb: float = 128,
    strategy: str = "binpack",
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """`rewrite_data_files` maintenance (Iceberg's compaction action):
    read the live snapshot with every position AND equality delete
    applied, re-land it as ~`target_mb` data files, and commit a
    REPLACE snapshot that ADDs the rewrites, marks every old data file
    DELETED, and carries NO delete manifests — the read-rent
    mitigation after merge-on-read maintenance (accumulated delete
    rows are scanned and broadcast on every subsequent read; after
    compaction reads are plain scans again).  `operation: "replace"`
    makes downstream consumers skip it: the incremental-append stream
    passes it silently (icestream) and the changelog's carryover
    removal reports zero rows for it (pinned in tests).  The manifest
    build runs inside the commit retry loop, so a racing commit can
    never make the remove set stale.

    Strategies (the three rewrite_data_files shapes real engines run):

    - ``binpack`` (default): size-only re-layout, no ordering.
    - ``sort``: range-cluster on `sort_by` (["col", "-other"], "-" =
      descending) or, when omitted, the table's DEFAULT SORT ORDER —
      rewritten files get disjoint per-file bounds again (manifest
      pruning restored after MOR churn) and their `sort_order_id` is
      stamped so other engines skip re-sorting them.
    - ``zorder``: 2-D Morton interleave over `zorder_by` (exactly two
      numeric columns, the same curve the Delta tier's OPTIMIZE
      ZORDER uses) — multi-dimensional locality when no single sort
      column dominates; no spec sort order represents a space-filling
      curve, so `sort_order_id` stays null (Java's zorder rewrite
      does the same)."""
    if strategy not in ("binpack", "sort", "zorder"):
        raise ValueError(f"unknown compaction strategy {strategy!r}")
    meta0 = current_metadata(path)
    fields = _schema_of(meta0)
    spec = _spec_of(meta0)
    part_names = [pf["name"] for pf in spec]
    schema_json = {"type": "struct", "schema-id": 0, "fields": fields}
    by_fname = {f["name"]: f for f in fields}
    sort_order = None
    sort_cols: list = []
    if strategy == "sort":
        terms = list(sort_by or [])
        if not terms:
            # the table's default sort order (spec `sort-orders` +
            # `default-sort-order-id`), identity fields only
            oid = int(meta0.get("default-sort-order-id") or 0)
            order = next(
                (
                    so
                    for so in meta0.get("sort-orders") or []
                    if int(so.get("order-id", 0)) == oid
                ),
                None,
            )
            if not order or not order.get("fields"):
                raise ValueError(
                    "strategy='sort' needs sort_by or a table with a "
                    "default sort order"
                )
            by_id = {f["id"]: f for f in fields}
            for sf in order["fields"]:
                if sf.get("transform", "identity") != "identity":
                    raise ValueError(
                        f"sort transform {sf.get('transform')!r} "
                        "unsupported in compaction"
                    )
                cname = by_id[sf["source-id"]]["name"]
                terms.append(
                    "-" + cname if sf.get("direction") == "desc" else cname
                )
            sort_order = order
        sort_fields = []
        for s in terms:
            desc = s.startswith("-")
            cname = s[1:] if desc else s
            if cname not in by_fname:
                raise ValueError(f"no sort column {cname!r} in the schema")
            sort_fields.append(
                {
                    "transform": "identity",
                    "source-id": by_fname[cname]["id"],
                    "direction": "desc" if desc else "asc",
                    "null-order": "nulls-last" if desc else "nulls-first",
                }
            )
            sort_cols.append(
                F.col(cname).desc() if desc else F.col(cname).asc()
            )
        if sort_order is None:
            orders = meta0.get("sort-orders") or [
                {"order-id": 0, "fields": []}
            ]
            oid = next(
                (
                    int(so["order-id"])
                    for so in orders
                    if so.get("fields") == sort_fields
                ),
                max(int(so.get("order-id", 0)) for so in orders) + 1,
            )
            sort_order = {"order-id": oid, "fields": sort_fields}
    elif strategy == "zorder":
        cols = list(zorder_by or [])
        if len(cols) != 2:
            raise ValueError(
                "strategy='zorder' needs exactly 2 columns (Morton "
                "interleave is 2-D)"
            )
        for c in cols:
            if c not in by_fname:
                raise ValueError(f"no zorder column {c!r} in the schema")
            t = by_fname[c]["type"]
            if not (
                isinstance(t, str)
                and (
                    t in ("int", "long", "float", "double")
                    or t.startswith("decimal(")
                )
            ):
                # r14: refuse up front — the Morton normalization is
                # float-valued, and a string column used to surface as
                # an opaque float() crash mid-rewrite
                raise ValueError(
                    f"zorder column {c!r} has type {t!r} — the Morton "
                    "interleave needs numeric columns; use "
                    "strategy='sort' for lexicographic clustering"
                )

    def build(base: dict | None, snapshot_id: int, seq: int, fv: int):
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        prev = _snapshot(base, None)
        mfs = _read_manifest_list(path, prev) if prev is not None else []
        live = _live_entries(path, base, prev) if prev is not None else []
        if not live:
            return list(mfs)
        pos_files, eq_dels, _dvs = _delete_files(path, mfs)
        if fv >= 3:
            # v3 lineage-preserving rewrite: each surviving row's
            # _row_id / _last_updated_sequence_number MATERIALIZE into
            # the new files (the spec's rewrite rule), so ids survive
            # the re-layout; the read path prefers the file columns
            # over inheritance, making the rewrite invisible to
            # lineage consumers.  The new manifest still consumes
            # next-row-id for the ADDED entries — ids are unique, not
            # dense, per the spec.
            scan = _lineage_scan(
                spark, path, base, live, pos_files, eq_dels, _dvs
            )
        else:
            scan = _read_entries(
                spark, path, base, live, pos_files, eq_dels
            )
        total = sum(
            e["data_file"].get("file_size_in_bytes") or 0 for e in live
        )
        n_files = max(1, math.ceil(total / (target_mb * (1 << 20))))
        if strategy == "sort":
            clustered = scan.repartitionByRange(
                n_files, *sort_cols
            ).sortWithinPartitions(*sort_cols)
        elif strategy == "zorder":
            from ..functions import scale as _scale

            c1, c2 = zorder_by
            # one tiny driver-side agg for the normalization bounds
            # (select the two columns first — Spark 4.1 refuses
            # aggregates over frames carrying a TIME column)
            b = (
                scan.select(c1, c2)
                .agg(F.min(c1), F.max(c1), F.min(c2), F.max(c2))
                .collect()[0]
            )
            z = scan.withColumn(
                "_ib_z",
                _scale.zorder_key_2d(
                    F.col(c1),
                    F.col(c2),
                    float(b[0] or 0),
                    float(b[1] or 0),
                    float(b[2] or 0),
                    float(b[3] or 0),
                ),
            )
            clustered = (
                z.repartitionByRange(n_files, F.col("_ib_z"))
                .sortWithinPartitions("_ib_z")
                .drop("_ib_z")
            )
        else:
            clustered = scan.repartition(n_files)
        rewritten = _land_data(clustered, path, spec, fields)
        if sort_order is not None:
            for d in rewritten:
                d["sort_order_id"] = sort_order["order-id"]
        entries = [
            {
                "status": 2,
                "snapshot_id": snapshot_id,
                "_seq": e.get("_seq", 0),
                "_spec_id": e.get("_spec_id", 0),
                "_first_row_id": e.get("_first_row_id"),
                "data_file": e["data_file"],
            }
            for e in live
        ] + [
            {"status": 1, "snapshot_id": snapshot_id, "data_file": d}
            for d in rewritten
        ]
        return _write_manifests_by_spec(
            path, entries, snapshot_id, fields, base, schema_json, fv, seq
        )

    return _commit_snapshot(
        path, "replace", build, expect_schema=fields,
        sort_order=sort_order,
    )


def rewrite_iceberg_position_deletes(spark: SparkSession, path: str) -> int:
    """`rewrite_position_deletes` maintenance (the OTHER read-rent
    mitigation): compact the current snapshot's accumulated
    POSITION-delete parquet files into one file per partition of the
    referenced data files, dropping DANGLING rows (positions whose
    data file is no longer live — compaction/overwrite left them
    inert but still paying read and storage rent).  Equality deletes
    and v3 deletion vectors carry forward untouched at their original
    sequence numbers.  NO DATA FILE is read or written — the commit is
    O(delete rows + manifests), unlike compact_iceberg's full rewrite;
    after it, every subsequent read folds ONE delete file per
    partition instead of one per historical DELETE.  The new file's
    sequence number is the commit's (higher than every original —
    position deletes match by file path, so the bump cannot widen
    their scope).  Commits `operation: "replace"` (no data change):
    incremental consumers skip it."""
    meta0 = current_metadata(path)
    fields = _schema_of(meta0)
    spec = _spec_of(meta0)
    spec_sid = _default_spec_id(meta0)
    part_names = [pf["name"] for pf in spec]
    schema_json = {"type": "struct", "schema-id": 0, "fields": fields}

    def build(base: dict | None, snapshot_id: int, seq: int, fv: int):
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        prev = _snapshot(base, None)
        mfs = _read_manifest_list(path, prev) if prev is not None else []
        data_mfs = [m for m in mfs if (m.get("content") or 0) == 0]
        pos_paths: list[str] = []
        carried: list[dict] = []
        for mf in mfs:
            if (mf.get("content") or 0) != 1:
                continue
            # delete manifests read RAW (the _delete_files rule —
            # _read_manifest is data-manifest-only by design)
            records, _m, _s = avrotiny.read_container(
                _abs_path(path, mf["manifest_path"])
            )
            for e in records:
                if e.get("status", 0) not in (0, 1):
                    continue
                rec = e["data_file"]
                fmt = (rec.get("file_format") or "PARQUET").upper()
                if (rec.get("content") or 0) == 1 and fmt != "PUFFIN":
                    pos_paths.append(_abs_path(path, rec["file_path"]))
                else:
                    # eq deletes and DVs keep their original sequence
                    carried.append(
                        {
                            "status": 0,
                            "snapshot_id": e.get("snapshot_id"),
                            "_seq": _entry_seq(e, mf),
                            "_spec_id": int(
                                mf.get("partition_spec_id") or 0
                            ),
                            "data_file": rec,
                        }
                    )
        if not pos_paths:
            raise ValueError(
                "no position-delete parquet files to rewrite (v3 "
                "deletion vectors compact via merge at write time)"
            )
        live = _live_entries(path, base, prev) if prev is not None else []
        matches = _pos_delete_rows(
            spark, sorted(set(pos_paths))
        ).dropDuplicates()
        # _land_position_deletes resolves tails against the LIVE file
        # set (inner join) — dangling positions drop here
        del_files = _land_position_deletes(
            spark, path, matches, live, part_names
        )
        out = list(data_mfs)
        by_sid: dict[int, list[dict]] = {}
        for e in carried:
            by_sid.setdefault(e["_spec_id"], []).append(e)
        specs = _specs_by_id(base)
        for sid, es in sorted(by_sid.items()):
            out.append(
                _write_manifest(
                    path, es, snapshot_id, fields,
                    specs.get(sid, spec), schema_json,
                    fv=fv, content="deletes", seq=seq, spec_id=sid,
                )
            )
        if del_files:
            out.append(
                _write_manifest(
                    path,
                    [
                        {
                            "status": 1,
                            "snapshot_id": snapshot_id,
                            "data_file": d,
                        }
                        for d in del_files
                    ],
                    snapshot_id, fields, spec, schema_json,
                    fv=fv, content="deletes", seq=seq, spec_id=spec_sid,
                )
            )
        return out

    return _commit_snapshot(
        path, "replace", build, format_version=2, expect_schema=fields
    )


def read_iceberg_meta(spark: SparkSession, path: str, kind: str) -> DataFrame:
    """Metadata tables — the `SELECT * FROM tbl.snapshots` inspection
    surface every real Iceberg engine exposes, derived from the same
    metadata tree the data reads fold:

    - ``history``: (made_current_at, snapshot_id, parent_id,
      is_current_ancestor) from the snapshot-log;
    - ``refs``: named tags/branches plus the implicit `main`;
    - ``snapshots``: (committed_at, snapshot_id, parent_id, operation,
      manifest_list, summary);
    - ``manifests``: per-manifest path/length/spec-id/content +
      added/existing/deleted file counts of the CURRENT snapshot;
    - ``files``: one row per live data file (content, file_path,
      file_format, spec_id, partition JSON, record_count,
      file_size_in_bytes, data_sequence_number);
    - ``partitions``: live files aggregated per (spec_id, partition
      JSON): record_count, file_count, total_size.

    Everything is metadata-only (Avro/JSON folds, no parquet IO) and
    lands as a small local DataFrame — the shape real engines also
    compute driver-side from manifests."""
    import datetime

    meta = current_metadata(path)
    snap = _snapshot(meta, None)

    def ts(ms):
        return datetime.datetime.fromtimestamp(
            ms / 1000, tz=datetime.timezone.utc
        ).replace(tzinfo=None)

    if kind == "history":
        cur_ancestors = set()
        by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
        cur = snap["snapshot-id"] if snap else None
        while cur is not None:
            cur_ancestors.add(cur)
            cur = by_id.get(cur, {}).get("parent-snapshot-id")
        rows = [
            (
                ts(e["timestamp-ms"]),
                int(e["snapshot-id"]),
                by_id.get(e["snapshot-id"], {}).get("parent-snapshot-id"),
                e["snapshot-id"] in cur_ancestors,
            )
            for e in meta.get("snapshot-log") or []
        ]
        return local_rows_df(spark, 
            rows,
            "made_current_at timestamp_ntz, snapshot_id long, "
            "parent_id long, is_current_ancestor boolean",
        )
    if kind == "refs":
        rows = [("main", "branch", int(meta["current-snapshot-id"]))] if (
            meta.get("current-snapshot-id") not in (None, -1)
        ) else []
        rows += [
            (name, r.get("type"), int(r["snapshot-id"]))
            for name, r in sorted((meta.get("refs") or {}).items())
        ]
        return local_rows_df(spark, 
            rows, "name string, type string, snapshot_id long"
        )
    if kind == "snapshots":
        rows = [
            (
                ts(s["timestamp-ms"]),
                int(s["snapshot-id"]),
                s.get("parent-snapshot-id"),
                (s.get("summary") or {}).get("operation"),
                s.get("manifest-list"),
                json.dumps(s.get("summary") or {}, sort_keys=True),
            )
            for s in meta.get("snapshots") or []
        ]
        return local_rows_df(spark, 
            rows,
            "committed_at timestamp_ntz, snapshot_id long, parent_id long, "
            "operation string, manifest_list string, summary string",
        )
    mfs = _read_manifest_list(path, snap) if snap is not None else []
    if kind == "manifests":
        rows = [
            (
                m["manifest_path"],
                int(m["manifest_length"]),
                int(m.get("partition_spec_id") or 0),
                int(m.get("content") or 0),
                int(m.get("added_data_files_count") or 0),
                int(m.get("existing_data_files_count") or 0),
                int(m.get("deleted_data_files_count") or 0),
            )
            for m in mfs
        ]
        return local_rows_df(spark, 
            rows,
            "path string, length long, partition_spec_id int, content int, "
            "added_data_files_count int, existing_data_files_count int, "
            "deleted_data_files_count int",
        )
    if kind in ("files", "partitions"):
        live = []
        for mf in _data_manifests(mfs):
            for e in _read_manifest(path, mf):
                if e.get("status", 0) in (0, 1):
                    live.append(e)
        if kind == "files":
            rows = [
                (
                    int(e["data_file"].get("content") or 0),
                    e["data_file"]["file_path"],
                    e["data_file"].get("file_format"),
                    int(e.get("_spec_id", 0)),
                    json.dumps(
                        e["data_file"].get("partition") or {}, sort_keys=True
                    ),
                    int(e["data_file"].get("record_count") or 0),
                    int(e["data_file"].get("file_size_in_bytes") or 0),
                    int(e.get("_seq", 0)),
                )
                for e in live
            ]
            return local_rows_df(spark, 
                rows,
                "content int, file_path string, file_format string, "
                "spec_id int, partition string, record_count long, "
                "file_size_in_bytes long, data_sequence_number long",
            )
        agg: dict[tuple, list[int]] = {}
        for e in live:
            k = (
                int(e.get("_spec_id", 0)),
                json.dumps(
                    e["data_file"].get("partition") or {}, sort_keys=True
                ),
            )
            a = agg.setdefault(k, [0, 0, 0])
            a[0] += int(e["data_file"].get("record_count") or 0)
            a[1] += 1
            a[2] += int(e["data_file"].get("file_size_in_bytes") or 0)
        rows = [
            (sid, pj, a[0], a[1], a[2])
            for (sid, pj), a in sorted(agg.items())
        ]
        return local_rows_df(spark, 
            rows,
            "spec_id int, partition string, record_count long, "
            "file_count long, total_size long",
        )
    if kind == "delete_files":
        rows = []
        for mf in mfs:
            if (mf.get("content") or 0) != 1:
                continue
            records, _m, _s = avrotiny.read_container(
                _abs_path(path, mf["manifest_path"])
            )
            for e in records:
                if e.get("status", 0) not in (0, 1):
                    continue
                rec = e["data_file"]
                rows.append(
                    (
                        int(rec.get("content") or 0),
                        rec["file_path"],
                        rec.get("file_format"),
                        int(mf.get("partition_spec_id") or 0),
                        json.dumps(
                            rec.get("partition") or {}, sort_keys=True
                        ),
                        int(rec.get("record_count") or 0),
                        int(rec.get("file_size_in_bytes") or 0),
                        json.dumps(list(rec.get("equality_ids") or []))
                        if rec.get("equality_ids")
                        else None,
                        rec.get("referenced_data_file"),
                    )
                )
        return local_rows_df(spark, 
            rows,
            "content int, file_path string, file_format string, "
            "spec_id int, partition string, record_count long, "
            "file_size_in_bytes long, equality_ids string, "
            "referenced_data_file string",
        )
    if kind == "partition_stats":
        # the REGISTERED partition statistics file for the current
        # snapshot (write_iceberg_partition_stats) — the durable spec
        # artifact, not the on-the-fly `partitions` fold above
        sid = snap["snapshot-id"] if snap else None
        reg = next(
            (
                e
                for e in meta.get("partition-statistics") or []
                if e.get("snapshot-id") == sid
            ),
            None,
        )
        if reg is None:
            raise ValueError(
                "no partition statistics registered for the current "
                "snapshot — run write_iceberg_partition_stats first"
            )
        local = _abs_path(path, reg["statistics-path"])
        return spark.read.parquet(
            local[7:] if local.startswith("file://") else local
        )
    def _iter_entries(mf):
        # data manifests via _read_manifest (inheritance annotations);
        # DELETE manifests raw (the _delete_files rule)
        if (mf.get("content") or 0) == 0:
            yield from _read_manifest(path, mf)
            return
        records, _m, _s = avrotiny.read_container(
            _abs_path(path, mf["manifest_path"])
        )
        for e in records:
            e = dict(e)
            e["_seq"] = _entry_seq(e, mf)
            e["_spec_id"] = int(mf.get("partition_spec_id") or 0)
            yield e

    if kind == "entries":
        # raw manifest entries of the current snapshot (Java's
        # `.entries` table): status + sequence numbers + the data_file
        # struct as JSON (bounds are bytes — hex-encoded per field id)
        rows = []
        for mf in mfs:
            for e in _iter_entries(mf):
                rec = e["data_file"]
                slim = {
                    k: v
                    for k, v in rec.items()
                    if k
                    not in (
                        "lower_bounds",
                        "upper_bounds",
                        "partition",
                        "value_counts",
                        "null_value_counts",
                    )
                    and v is not None
                }
                slim["partition"] = rec.get("partition") or {}
                for bk in ("lower_bounds", "upper_bounds"):
                    bm = _norm_id_map(rec.get(bk))
                    if bm:
                        slim[bk] = {
                            str(k): bytes(v).hex()
                            for k, v in sorted(bm.items())
                        }
                rows.append(
                    (
                        int(e.get("status", 0)),
                        e.get("snapshot_id"),
                        int(e.get("_seq", 0)),
                        json.dumps(slim, sort_keys=True, default=str),
                    )
                )
        return local_rows_df(spark, 
            rows,
            "status int, snapshot_id long, sequence_number long, "
            "data_file string",
        )
    if kind in ("all_manifests", "all_files"):
        # across EVERY snapshot still in the metadata (Java's `all_*`
        # inspection tables) — metadata-only folds; all_files dedups
        # by path (a file reachable from many snapshots lists once,
        # with the first snapshot that carried it)
        man_rows, file_rows, seen_mf, seen_f = [], [], set(), set()
        for s in sorted(
            meta.get("snapshots") or [],
            key=lambda s: s.get("timestamp-ms", 0),
        ):
            for m in _read_manifest_list(path, s):
                mp = m["manifest_path"]
                if kind == "all_manifests":
                    if mp in seen_mf:
                        continue
                    seen_mf.add(mp)
                    man_rows.append(
                        (
                            mp,
                            int(m["manifest_length"]),
                            int(m.get("partition_spec_id") or 0),
                            int(m.get("content") or 0),
                            int(s["snapshot-id"]),
                        )
                    )
                    continue
                if mp in seen_mf:
                    continue
                seen_mf.add(mp)
                for e in _iter_entries(m):
                    if e.get("status", 0) not in (0, 1):
                        continue
                    rec = e["data_file"]
                    fp = rec["file_path"]
                    if fp in seen_f:
                        continue
                    seen_f.add(fp)
                    file_rows.append(
                        (
                            int(rec.get("content") or 0),
                            fp,
                            rec.get("file_format"),
                            int(rec.get("record_count") or 0),
                            int(rec.get("file_size_in_bytes") or 0),
                            int(s["snapshot-id"]),
                        )
                    )
        if kind == "all_manifests":
            return local_rows_df(spark, 
                man_rows,
                "path string, length long, partition_spec_id int, "
                "content int, reference_snapshot_id long",
            )
        return local_rows_df(spark, 
            file_rows,
            "content int, file_path string, file_format string, "
            "record_count long, file_size_in_bytes long, "
            "reference_snapshot_id long",
        )
    if kind == "position_deletes":
        # row-level view of the current snapshot's POSITION deletes
        # (Java's `position_deletes` table): pos-delete parquet files
        # expand through the same distributed reader the scan uses;
        # v3 deletion vectors expand from their Puffin blobs
        pos_files, _eqs, dv_list = _delete_files(path, mfs)
        frames = []
        if pos_files:
            pf = _pos_delete_rows(spark, sorted(set(pos_files)))
            frames.append(
                pf.select(
                    F.col(_IB_FILE).alias("file_tail"),
                    F.col(_IB_POS).alias("pos"),
                    F.lit("position-delete-file").alias("source"),
                )
            )
        if dv_list:
            dv = _dv_positions_df(spark, dv_list)
            frames.append(
                dv.select(
                    F.col(_IB_FILE).alias("file_tail"),
                    F.col(_IB_POS).alias("pos"),
                    F.lit("deletion-vector").alias("source"),
                )
            )
        if not frames:
            return spark.createDataFrame(
                [], "file_tail string, pos long, source string"
            )
        out = frames[0]
        for f2 in frames[1:]:
            out = out.unionByName(f2)
        return out
    raise ValueError(
        f"unknown metadata table {kind!r}: expected history/snapshots/"
        "refs/manifests/files/partitions/delete_files/partition_stats/"
        "entries/all_manifests/all_files/position_deletes"
    )


def iceberg_stream_batch_ids(path: str) -> dict[str, int]:
    """{app-id: highest committed micro-batch id} from snapshot
    summaries — the exactly-once ledger the streaming sink keys on
    (the shape real Flink/Spark Iceberg sinks store in snapshot
    summary properties)."""
    out: dict[str, int] = {}
    if not _metadata_versions(path):
        return out
    meta = current_metadata(path)
    for s in meta.get("snapshots") or []:
        sm = s.get("summary") or {}
        app = sm.get("streaming-app-id")
        if app is not None and "streaming-batch-id" in sm:
            out[app] = max(out.get(app, -1), int(sm["streaming-batch-id"]))
    return out


def commit_iceberg_files(
    path: str,
    landed: list[str],
    schema,
    app_id: str | None = None,
    batch_id: int | None = None,
    expect_spec: list[tuple] | None = None,
) -> int | None:
    """Commit already-landed parquet files under `<path>/data/` as one
    append snapshot — the streaming-sink primitive.  With
    (app_id, batch_id), the commit is EXACTLY-ONCE: a replayed batch
    whose id is not newer than the app's ledger entry commits nothing
    (returns None; callers unlink their orphaned files).  Creates the
    table (unpartitioned) from `schema` on the first commit.

    `landed` items are either a bare relative path (unpartitioned) or
    a `(rel_path, {pf_name: internal_value})` pair — the partitioned
    sink's per-tuple files; each pair's partition struct lands in the
    manifest entry, so the snapshot is pruneable like any batch
    write.  A partition tuple against an unpartitioned table (or the
    reverse, on a partitioned one) refuses — the sink's spec snapshot
    went stale."""
    if app_id is not None and batch_id is not None:
        committed = iceberg_stream_batch_ids(path).get(app_id, -1)
        if committed >= int(batch_id):
            return None
    exists = bool(_metadata_versions(path))
    spec: list[dict] = []
    spec_sid = 0
    if exists:
        meta0 = current_metadata(path)
        fields = _schema_of(meta0)
        spec = _spec_of(meta0)
        spec_sid = _default_spec_id(meta0)
    else:
        fields = _iceberg_fields(schema)
    norm: list[tuple[str, dict]] = [
        (item, {}) if isinstance(item, str) else (item[0], item[1] or {})
        for item in landed
    ]
    if expect_spec is not None:
        # full-definition staleness check (the sink passes the spec it
        # computed its tuples under): a mid-stream spec evolution with
        # the SAME field names (bucket(4) -> bucket(8)) would pass the
        # name check below but mis-attribute every tuple — wrong
        # pruning on every later read
        now_def = [
            (pf["name"], pf.get("transform", "identity"), pf["source-id"])
            for pf in spec
        ]
        if [tuple(t) for t in expect_spec] != now_def:
            raise ValueError(
                "the table's partition spec changed since this stream "
                "started (evolve_iceberg_spec) — restart the stream so "
                "it lands tuples under the new spec"
            )
    want_names = [pf["name"] for pf in spec]
    for rel, pvals in norm:
        if sorted(pvals) != sorted(want_names):
            raise ValueError(
                f"landed file {rel!r} carries partition tuple "
                f"{sorted(pvals)} but the table's default spec is "
                f"{sorted(want_names)}"
            )
    name_to_field = {f["name"]: f for f in fields}
    records = []
    for rel, pvals in sorted(norm):
        dest = os.path.join(path, "data", rel)
        records.append(
            _data_file_record(
                dest, _file_uri(path, f"data/{rel}"), name_to_field, pvals
            )
        )
    schema_json = {"type": "struct", "schema-id": 0, "fields": fields}

    def build_manifests(
        base: dict | None, snapshot_id: int, seq: int, fv: int
    ) -> list[dict]:
        entries = [
            {"status": 1, "snapshot_id": snapshot_id, "data_file": d}
            for d in records
        ]
        new_mf = _write_manifest(
            path, entries, snapshot_id, fields, spec, schema_json,
            fv=fv, seq=seq, spec_id=spec_sid,
        )
        carried: list[dict] = []
        if base is not None:
            prev = _snapshot(base, None)
            if prev is not None:
                carried = _read_manifest_list(path, prev)
        return [new_mf] + carried

    summary = None
    if app_id is not None and batch_id is not None:
        summary = {
            "streaming-app-id": app_id,
            "streaming-batch-id": str(int(batch_id)),
        }
    return _commit_snapshot(
        path,
        "append",
        build_manifests,
        schema_fields=fields,
        spec_fields=[],
        summary_extra=summary,
    )


# --------------------------------------------------------------------------
# Named refs (spec v2 `refs` map): tags, branches, write-audit-publish
# --------------------------------------------------------------------------


def set_iceberg_properties(
    path: str, props: dict[str, str | None]
) -> None:
    """`ALTER TABLE SET/UNSET TBLPROPERTIES` — metadata-only update of
    the table `properties` map (None values UNSET); the Iceberg twin
    of deltaproto.set_delta_properties.  `schema.name-mapping.default`
    refuses — it is maintained by the rename/uniform machinery and a
    hand-set mapping would silently re-route column resolution."""
    if "schema.name-mapping.default" in props:
        raise ValueError(
            "schema.name-mapping.default is maintained by the engine "
            "(evolve_iceberg_schema rename / uniform_iceberg_metadata) "
            "— refusing a hand-set mapping"
        )

    def build(base: dict | None) -> dict:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        meta = json.loads(json.dumps(base))
        conf = dict(meta.get("properties") or {})
        for k, v in props.items():
            if v is None:
                conf.pop(k, None)
            else:
                conf[str(k)] = str(v)
        meta["properties"] = conf
        meta["last-updated-ms"] = int(time.time() * 1000)
        return meta

    _claim_metadata(path, build)


def rollback_iceberg(path: str, snapshot_id: int) -> int:
    """`rollback_to_snapshot` (Java's SetCurrentSnapshot action):
    point `current-snapshot-id` back at a RETAINED ancestor snapshot —
    metadata-only, no snapshot is produced, no file moves; every
    snapshot committed after the target stays in `snapshots` (and
    time-travelable) until expiry.  The snapshot-log records the jump
    so `TIMESTAMP AS OF` history stays truthful.  Refuses an unknown
    id loudly with the retained ids listed."""
    result = {}

    def build(base: dict | None) -> dict:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        meta = json.loads(json.dumps(base))
        known = {
            int(s["snapshot-id"]): s for s in meta.get("snapshots") or []
        }
        if int(snapshot_id) not in known:
            raise ValueError(
                f"snapshot {snapshot_id} is not retained — known: "
                f"{sorted(known)}"
            )
        now_ms = int(time.time() * 1000)
        meta["current-snapshot-id"] = int(snapshot_id)
        meta.setdefault("snapshot-log", []).append(
            {"snapshot-id": int(snapshot_id), "timestamp-ms": now_ms}
        )
        meta["last-updated-ms"] = now_ms
        result["sid"] = int(snapshot_id)
        return meta

    _claim_metadata(path, build)
    return result["sid"]


def set_iceberg_ref(
    path: str, name: str, snapshot_id: int | None = None, kind: str = "tag"
) -> int:
    """Create/update a named ref — `kind="tag"` (immutable bookmark)
    or `kind="branch"` (independently-writable head) — pointing at
    `snapshot_id` (default: the current snapshot).  The spec's `refs`
    metadata map; `main` is reserved (it IS current-snapshot-id)."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"unknown ref kind {kind!r}")
    if name == "main":
        raise ValueError("'main' is the implicit current-snapshot branch")
    result = {}

    def build(base: dict | None) -> dict:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        meta = json.loads(json.dumps(base))
        sid = snapshot_id
        if sid is None:
            cur = meta.get("current-snapshot-id")
            if cur in (None, -1):
                raise ValueError("table has no current snapshot to ref")
            sid = cur
        _snapshot(meta, sid)  # must exist
        refs = meta.setdefault("refs", {})
        refs[name] = {"snapshot-id": int(sid), "type": kind}
        meta["last-updated-ms"] = int(time.time() * 1000)
        result["sid"] = int(sid)
        return meta

    _claim_metadata(path, build)
    return result["sid"]


def drop_iceberg_ref(path: str, name: str) -> None:
    def build(base: dict | None) -> dict:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        meta = json.loads(json.dumps(base))
        refs = meta.get("refs") or {}
        if name not in refs:
            raise ValueError(f"no ref {name!r}")
        del refs[name]
        meta["last-updated-ms"] = int(time.time() * 1000)
        return meta

    _claim_metadata(path, build)


def _resolve_ref(meta: dict, ref: str) -> int:
    if ref == "main":
        cur = meta.get("current-snapshot-id")
        if cur in (None, -1):
            raise ValueError("table has no current snapshot")
        return int(cur)
    refs = meta.get("refs") or {}
    if ref not in refs:
        raise ValueError(f"no ref {ref!r}")
    return int(refs[ref]["snapshot-id"])


def _is_ancestor(meta: dict, ancestor_id: int, descendant_id: int) -> bool:
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    cur = descendant_id
    while cur is not None:
        if cur == ancestor_id:
            return True
        cur = by_id.get(cur, {}).get("parent-snapshot-id")
    return False


def fast_forward_iceberg(path: str, branch: str) -> int:
    """PUBLISH step of write-audit-publish: make `main` point at the
    branch head.  Refuses unless main's current snapshot is an
    ANCESTOR of the branch head (the spec's fast-forward rule — a
    diverged main needs a real merge/cherry-pick, which this tier
    does not fake).  The branch's commits enter the snapshot-log as
    main history.  Returns the published snapshot id."""
    result = {}

    def build(base: dict | None) -> dict:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        meta = json.loads(json.dumps(base))
        refs = meta.get("refs") or {}
        if branch not in refs or refs[branch].get("type") != "branch":
            raise ValueError(f"no branch {branch!r}")
        head = int(refs[branch]["snapshot-id"])
        cur = meta.get("current-snapshot-id")
        if cur not in (None, -1) and not _is_ancestor(meta, cur, head):
            raise ValueError(
                f"cannot fast-forward: main ({cur}) is not an ancestor "
                f"of branch {branch!r} head ({head})"
            )
        # replay the branch's lineage (exclusive of current) into the
        # snapshot-log so main history stays contiguous
        by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
        chain = []
        walk = head
        while walk is not None and walk != cur:
            chain.append(walk)
            walk = by_id.get(walk, {}).get("parent-snapshot-id")
        log = list(meta.get("snapshot-log") or [])
        for sid in reversed(chain):
            log.append(
                {
                    "timestamp-ms": by_id[sid]["timestamp-ms"],
                    "snapshot-id": sid,
                }
            )
        meta["snapshot-log"] = log
        meta["current-snapshot-id"] = head
        meta["last-updated-ms"] = int(time.time() * 1000)
        result["sid"] = head
        return meta

    _claim_metadata(path, build)
    return result["sid"]


def _pa_of_ice(ice_t: str):
    """pyarrow type for an Iceberg primitive — internal-repr friendly
    (date accepts days ints, timestamps accept micros ints)."""
    import pyarrow as pa

    m = {
        "int": pa.int32(),
        "long": pa.int64(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "float": pa.float32(),
        "double": pa.float64(),
        "date": pa.date32(),
        "binary": pa.binary(),
        "timestamptz": pa.timestamp("us", tz="UTC"),
        "timestamp": pa.timestamp("us"),
    }
    if ice_t not in m:
        raise ValueError(
            f"Iceberg type {ice_t!r} unsupported in partition statistics"
        )
    return m[ice_t]


def write_iceberg_partition_stats(path: str) -> str:
    """Compute and register the spec's PARTITION STATISTICS FILE for
    the current snapshot: one parquet row per (spec_id, partition
    tuple) with data/position-delete/equality-delete record and file
    counts plus total data size, the partition column typed as the
    spec's UNIFIED partition struct (every partition field of every
    spec, by field id — entries fill only their own spec's fields).
    The file lands under `metadata/partition-stats-<snapshot-id>.
    parquet` and registers in table metadata `partition-statistics`
    (replacing a prior registration for the same snapshot), the
    structure engines use to answer per-partition planning questions
    (SHOW PARTITIONS, skew detection, compaction targeting) without
    opening manifests.  Derived ENTIRELY from manifest metadata —
    O(manifest entries), no data file is read; v3 deletion vectors
    count as position deletes (their record_count is the DV
    cardinality).  Returns the table-relative stats file path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = current_metadata(path)
    snap = _snapshot(meta, None)
    if snap is None:
        raise ValueError("table has no current snapshot")
    specs = meta.get("partition-specs") or [
        {"spec-id": _default_spec_id(meta), "fields": _spec_of(meta)}
    ]
    by_id = {f["id"]: f for f in _schema_of(meta)}
    # unified partition type: all partition fields of all specs, field
    # id ascending (the spec's rule for the stats file partition struct)
    uni: dict[int, dict] = {}
    for sp in specs:
        for pf in sp.get("fields") or []:
            if pf["field-id"] not in uni:
                src = by_id.get(pf["source-id"])
                if src is None:
                    raise ValueError(
                        f"partition field {pf['name']!r} references "
                        f"unknown source-id {pf['source-id']}"
                    )
                uni[pf["field-id"]] = {
                    "name": pf["name"],
                    "type": _pf_result_type(pf, src["type"]),
                }
    uni_ids = sorted(uni)
    if not uni_ids:
        # an empty unified struct cannot land in parquet (and the file
        # would answer no planning question anyway) — refuse, loudly
        raise ValueError(
            "table has no partition fields under any spec — partition "
            "statistics are per-partition; nothing to register"
        )
    spec_fields = {
        int(sp["spec-id"]): sp.get("fields") or [] for sp in specs
    }
    # fold every live manifest entry into (spec_id, partition) buckets
    acc: dict[tuple, list] = {}
    for mf in _read_manifest_list(path, snap):
        mf_content = mf.get("content") or 0
        sid = int(mf.get("partition_spec_id") or 0)
        spf = spec_fields.get(sid, [])
        records, _m, _s = avrotiny.read_container(
            _abs_path(path, mf["manifest_path"])
        )
        for r in records:
            if r.get("status", 0) not in (0, 1):
                continue
            rec = r["data_file"]
            part = dict(rec.get("partition") or {})
            vals = {fid: None for fid in uni_ids}
            for pf in spf:
                vals[pf["field-id"]] = part.get(pf["name"])
            k = (sid, tuple(vals[fid] for fid in uni_ids))
            a = acc.setdefault(k, [0, 0, 0, 0, 0, 0, 0])
            n = int(rec.get("record_count") or 0)
            if mf_content == 0:
                a[0] += n
                a[1] += 1
                a[2] += int(rec.get("file_size_in_bytes") or 0)
            elif (rec.get("content") or 0) == 1:
                a[3] += n  # position deletes AND v3 DVs
                a[4] += 1
            else:
                a[5] += n  # equality deletes
                a[6] += 1
    # rows sorted by partition tuple (spec rule), nulls last
    keys = sorted(
        acc,
        key=lambda k: tuple(
            (v is None, str(v)) for v in k[1]
        )
        + ((k[0],)),
    )
    part_arrays = []
    part_fields = []
    import pyarrow as _pa

    for i, fid in enumerate(uni_ids):
        t = _pa_of_ice(uni[fid]["type"])
        part_arrays.append(
            _pa.array([k[1][i] for k in keys], type=t)
        )
        part_fields.append(
            _pa.field(
                uni[fid]["name"], t,
                metadata={b"PARQUET:field_id": str(fid).encode()},
            )
        )
    cols: dict = {}
    names = [
        "data_record_count",
        "data_file_count",
        "total_data_file_size_in_bytes",
        "position_delete_record_count",
        "position_delete_file_count",
        "equality_delete_record_count",
        "equality_delete_file_count",
    ]
    for j, nm in enumerate(names):
        t = pa.int32() if nm.endswith("file_count") else pa.int64()
        cols[nm] = pa.array([acc[k][j] for k in keys], type=t)
    arrays = [
        pa.StructArray.from_arrays(
            part_arrays, fields=part_fields
        ) if part_fields else pa.array([{}] * len(keys), pa.struct([])),
        pa.array([k[0] for k in keys], pa.int32()),
    ] + [cols[nm] for nm in names]
    schema = pa.schema(
        [
            pa.field(
                "partition", pa.struct(part_fields),
                metadata={b"PARQUET:field_id": b"1"},
            ),
            pa.field(
                "spec_id", pa.int32(),
                metadata={b"PARQUET:field_id": b"2"},
            ),
        ]
        + [
            pa.field(
                nm,
                pa.int32() if nm.endswith("file_count") else pa.int64(),
                metadata={b"PARQUET:field_id": str(j + 3).encode()},
            )
            for j, nm in enumerate(names)
        ]
    )
    table = pa.Table.from_arrays(arrays, schema=schema)
    snap_id = int(snap["snapshot-id"])
    rel = f"metadata/partition-stats-{snap_id}.parquet"
    dest = os.path.join(path, rel)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    pq.write_table(table, dest)
    entry = {
        "snapshot-id": snap_id,
        "statistics-path": _file_uri(path, rel),
        "file-size-in-bytes": os.path.getsize(dest),
    }

    def build(base: dict | None) -> dict:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        m2 = json.loads(json.dumps(base))
        lst = [
            e
            for e in m2.get("partition-statistics") or []
            if e.get("snapshot-id") != snap_id
        ]
        lst.append(entry)
        m2["partition-statistics"] = lst
        m2["last-updated-ms"] = int(time.time() * 1000)
        return m2

    _claim_metadata(path, build)
    return rel


#: Iceberg types the theta NDV tier canonicalizes for hashing —
#: integral types hash their 8-byte LE long form, strings their UTF-8
#: bytes (the DataSketches update rules); everything else refuses.
_THETA_TYPES = {"int", "long", "string", "date"}


def _theta_supported(t) -> bool:
    """Types the NDV tier canonicalizes: the flat set plus decimal
    (unscaled minimal two's-complement bytes — Appendix B's bucket
    canonical form, so the sketch hashes are layout-independent)."""
    return (isinstance(t, str) and t in _THETA_TYPES) or (
        _dec_params(t) is not None
    )


def write_iceberg_table_stats(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    k: int = 4096,
) -> str:
    """Compute and register table-level NDV STATISTICS for the current
    snapshot: one `apache-datasketches-theta-v1` compact sketch per
    column in a Puffin file under `metadata/`, registered in table
    metadata `statistics` with per-blob `ndv` properties — the
    structure Trino/Spark planners read for distinct-count planning.

    Distributed as a single O(n) scan with NO shuffle: each partition
    hashes its values (murmur3 x64 128, seed 9001, folded to 63 bits
    per the DataSketches update rule), dedupes, and keeps its k+1
    smallest — the global k+1 smallest is a subset of the union of
    per-partition k+1 smallest (the KMV merge identity), so the
    driver merges ≤ (partitions × (k+1)) longs, KB-scale at any table
    size.  Byte-parity with the Java library is untestable offline;
    the format follows the published v3 compact layout and the seed
    hash is embedded, so a foreign reader with a different build
    refuses rather than misestimates.  Returns the table-relative
    Puffin path."""
    from . import puffin, theta

    meta = current_metadata(path)
    snap = _snapshot(meta, None)
    if snap is None:
        raise ValueError("table has no current snapshot")
    fields = _schema_of(meta)
    by_name = {f["name"]: f for f in fields}
    if columns is None:
        columns = [
            f["name"] for f in fields if _theta_supported(f["type"])
        ]
    for c in columns:
        if c not in by_name:
            raise ValueError(f"no column {c!r} in the Iceberg schema")
        if not _theta_supported(by_name[c]["type"]):
            raise ValueError(
                f"column {c!r} has type {by_name[c]['type']!r} — the "
                f"theta NDV tier canonicalizes "
                f"{sorted(_THETA_TYPES) + ['decimal(P, S)']} only"
            )
    snap_df = read_iceberg(spark, path).select(*columns)
    col_types = {c: by_name[c]["type"] for c in columns}
    pooled = _theta_topk_scan(snap_df, columns, col_types, int(k))
    blobs = []
    for c in columns:
        blob = theta.serialize_compact(
            sorted(pooled[c])[: int(k) + 1], k=int(k)
        )
        blobs.append((by_name[c]["id"], blob))
    return _register_theta_stats(path, snap, blobs)


def _theta_topk_scan(
    snap_df: DataFrame,
    columns: list[str],
    col_types: dict[str, str],
    kk: int,
) -> dict[str, set]:
    """The distributed KMV candidate scan shared by the full-rebuild
    and incremental stats paths: per-partition top-(k+1) smallest
    63-bit hashes per column via mapInPandas (no shuffle), pooled on
    the driver (≤ partitions × (k+1) longs)."""

    dec_scales = {
        c: _dec_params(t)[1]
        for c, t in col_types.items()
        if _dec_params(t) is not None
    }

    def topk(batches):
        import pandas as pd

        from . import avrotiny as _av, theta as _th

        best: dict[str, set] = {c: set() for c in columns}
        for pdf in batches:
            for c in columns:
                t = col_types[c]
                vals = pdf[c].dropna().unique()
                s = best[c]
                for v in vals:
                    if c in dec_scales:
                        import decimal as _dec

                        data = _av.min_signed_bytes(
                            int(_dec.Decimal(v).scaleb(dec_scales[c]))
                        )
                    elif t == "string":
                        data = str(v).encode("utf-8")
                    elif t == "date":
                        # Arrow hands DateType back as datetime.date
                        # (or a Timestamp after pandas coercion) — the
                        # documented canonical form is the days-int.
                        import datetime as _dt
                        import struct as _st

                        dv = v if type(v) is _dt.date else v.date()
                        days = (dv - _dt.date(1970, 1, 1)).days
                        data = _st.pack("<q", days)
                    elif t in ("int", "long"):
                        import struct as _st

                        data = _st.pack("<q", int(v))
                    else:  # pragma: no cover - gated above
                        continue
                    s.add(_th.hash63(data))
                if len(s) > 4 * (kk + 1):
                    best[c] = set(sorted(s)[: kk + 1])
        rows = []
        for c in columns:
            for h in sorted(best[c])[: kk + 1]:
                rows.append((c, h))
        yield pd.DataFrame(rows, columns=["col", "h"])

    cand = snap_df.mapInPandas(topk, schema="col string, h long")
    pooled: dict[str, set] = {c: set() for c in columns}
    for r in cand.collect():
        pooled[r["col"]].add(int(r["h"]))
    return pooled


def _register_theta_stats(
    path: str, snap: dict, blobs: list[tuple[int, bytes]]
) -> str:
    """Land [(field-id, compact sketch)] as a Puffin statistics file
    and register it for `snap` in table metadata (replacing any prior
    registration for the same snapshot).  Returns the table-relative
    Puffin path."""
    from . import puffin, theta

    out_blobs = []
    for fid, blob in blobs:
        out_blobs.append(
            {
                "type": "apache-datasketches-theta-v1",
                "data": blob,
                "fields": [int(fid)],
                "snapshot-id": int(snap["snapshot-id"]),
                "sequence-number": int(snap.get("sequence-number") or 0),
                "properties": {
                    "ndv": str(int(round(theta.estimate(blob))))
                },
            }
        )
    snap_id = int(snap["snapshot-id"])
    rel = f"metadata/{snap_id}-stats.puffin"
    dest = os.path.join(path, rel)
    metas = puffin.write_puffin(dest, out_blobs)
    size = os.path.getsize(dest)
    footer_size = size - 4 - sum(m["length"] for m in metas)
    entry = {
        "snapshot-id": snap_id,
        "statistics-path": _file_uri(path, rel),
        "file-size-in-bytes": size,
        "file-footer-size-in-bytes": footer_size,
        "blob-metadata": [
            {
                "type": m["type"],
                "snapshot-id": m["snapshot-id"],
                "sequence-number": m["sequence-number"],
                "fields": m["fields"],
                "properties": b.get("properties") or {},
            }
            for m, b in zip(metas, out_blobs)
        ],
    }

    def build(base: dict | None) -> dict:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        m2 = json.loads(json.dumps(base))
        lst = [
            e
            for e in m2.get("statistics") or []
            if e.get("snapshot-id") != snap_id
        ]
        lst.append(entry)
        m2["statistics"] = lst
        m2["last-updated-ms"] = int(time.time() * 1000)
        return m2

    _claim_metadata(path, build)
    return rel


def update_iceberg_table_stats(
    spark: SparkSession, path: str, k: int = 4096
) -> str:
    """INCREMENTAL NDV maintenance: refresh the registered statistics
    to the current snapshot by scanning ONLY the files appended since
    the last registration and unioning their per-column sketches into
    the registered ones (`theta.merge` — the KMV union keeps exactly
    the hashes a from-scratch rebuild would retain, so the refreshed
    estimate equals the rebuild's).  O(appended data), not O(table).

    Refuses loudly when union maintenance would be WRONG or
    impossible: no prior registration (run write_iceberg_table_stats),
    a non-append snapshot in between (NDV cannot shrink via union —
    deletes/overwrites stale the stats; rebuild), a registered column
    dropped from the schema, or the base snapshot expired out of the
    parent chain."""
    from . import puffin, theta

    meta = current_metadata(path)
    snap = _snapshot(meta, None)
    if snap is None:
        raise ValueError("table has no current snapshot")
    snap_id = int(snap["snapshot-id"])
    regs = meta.get("statistics") or []
    if any(e.get("snapshot-id") == snap_id for e in regs):
        have = next(
            e for e in regs if e.get("snapshot-id") == snap_id
        )
        return "metadata/" + os.path.basename(have["statistics-path"])
    if not regs:
        raise ValueError(
            "no statistics registered — run write_iceberg_table_stats "
            "for the initial full build"
        )
    by_sid = {int(s["snapshot-id"]): s for s in meta.get("snapshots") or []}
    reg_sids = {int(e["snapshot-id"]) for e in regs}
    # walk the parent chain from the current snapshot back to the
    # newest registered one; every hop must be an append
    chain: list[dict] = []
    cur = snap
    base_reg = None
    while True:
        parent = cur.get("parent-snapshot-id")
        chain.append(cur)
        if parent is None or int(parent) not in by_sid:
            break
        if int(parent) in reg_sids:
            base_reg = next(
                e for e in regs if int(e["snapshot-id"]) == int(parent)
            )
            break
        cur = by_sid[int(parent)]
    if base_reg is None:
        raise ValueError(
            "no registered statistics on this snapshot's parent chain "
            "(the base snapshot expired or stats were never built) — "
            "rebuild with write_iceberg_table_stats"
        )
    # append hops contribute files to the delta scan; `replace` hops
    # are steppable ONLY when purely metadata-reorganizing (manifest
    # rewrite, v3 delete-file fold, pos-delete compaction) — verified
    # below against the manifests: a replace that ADDED data files
    # (data compaction, which applies live deletes) refuses, since
    # NDV cannot shrink via union.  This lets the refresh compose with
    # the stream sink's manifest auto-compaction (r14).
    append_sids: set[int] = set()
    replace_sids: set[int] = set()
    for s in chain:
        op = (s.get("summary") or {}).get("operation", "append")
        if op == "append":
            append_sids.add(int(s["snapshot-id"]))
        elif op == "replace":
            replace_sids.add(int(s["snapshot-id"]))
        else:
            raise ValueError(
                f"snapshot {s['snapshot-id']} is a {op!r} — NDV cannot "
                "shrink via union, so incremental maintenance would "
                "serve a stale overestimate; rebuild with "
                "write_iceberg_table_stats"
            )
    # registered columns, resolved through the CURRENT schema
    local = _abs_path(path, base_reg["statistics-path"])
    footer = puffin.read_puffin_footer(local)
    fields = _schema_of(meta)
    by_id = {f["id"]: f for f in fields}
    base_blobs: list[tuple[int, bytes]] = []
    for bm in footer["blobs"]:
        if bm["type"] != "apache-datasketches-theta-v1":
            continue
        fid = (bm.get("fields") or [None])[0]
        if fid not in by_id:
            raise ValueError(
                f"registered statistics cover dropped field id {fid} — "
                "rebuild with write_iceberg_table_stats"
            )
        base_blobs.append(
            (fid, puffin.read_blob(local, bm["offset"], bm["length"]))
        )
    if not base_blobs:
        raise ValueError(
            "the registered statistics file carries no theta blobs — "
            "rebuild with write_iceberg_table_stats"
        )
    columns = [by_id[fid]["name"] for fid, _b in base_blobs]
    col_types = {by_id[fid]["name"]: by_id[fid]["type"] for fid, _b in base_blobs}
    # ONLY the files the intervening appends ADDED — matched by the
    # entry's snapshot_id, which survives a manifest rewrite folding
    # the entry to EXISTING; any data file attributed to a replace hop
    # means that replace rewrote data (compaction) and must refuse
    added = []
    for mf in _data_manifests(_read_manifest_list(path, snap)):
        for e in _read_manifest(path, mf):
            e_sid = int(e.get("snapshot_id") or 0)
            if e_sid in replace_sids:
                raise ValueError(
                    f"snapshot {e_sid} is a data-rewriting 'replace' "
                    "(compaction applies live deletes) — NDV cannot "
                    "shrink via union; rebuild with "
                    "write_iceberg_table_stats"
                )
            if e.get("status", 0) in (0, 1) and e_sid in append_sids:
                added.append(e)
    kk = int(k)
    merged: list[tuple[int, bytes]] = []
    if added:
        delta_df = _read_entries(spark, path, meta, added).select(*columns)
        pooled = _theta_topk_scan(delta_df, columns, col_types, kk)
        for fid, base_blob in base_blobs:
            c = by_id[fid]["name"]
            delta_blob = theta.serialize_compact(
                sorted(pooled[c])[: kk + 1], k=kk
            )
            merged.append((fid, theta.merge([base_blob, delta_blob], k=kk)))
    else:
        merged = base_blobs  # metadata-only appends: re-register as-is
    return _register_theta_stats(path, snap, merged)


def read_iceberg_ndv(path: str) -> dict[str, int]:
    """{column: NDV estimate} from the registered statistics file of
    the CURRENT snapshot — blob `ndv` properties when present, else
    the sketch itself re-estimated.  Raises when no statistics are
    registered for the current snapshot (stale stats must never be
    silently served)."""
    from . import puffin, theta

    meta = current_metadata(path)
    snap = _snapshot(meta, None)
    sid = snap["snapshot-id"] if snap else None
    reg = next(
        (
            e
            for e in meta.get("statistics") or []
            if e.get("snapshot-id") == sid
        ),
        None,
    )
    if reg is None:
        raise ValueError(
            "no statistics registered for the current snapshot — run "
            "write_iceberg_table_stats first"
        )
    local = _abs_path(path, reg["statistics-path"])
    footer = puffin.read_puffin_footer(local)
    by_id = {f["id"]: f["name"] for f in _schema_of(meta)}
    out: dict[str, int] = {}
    for bm in footer["blobs"]:
        if bm["type"] != "apache-datasketches-theta-v1":
            continue
        name = by_id.get((bm.get("fields") or [None])[0])
        if name is None:
            continue
        props = bm.get("properties") or {}
        if "ndv" in props:
            out[name] = int(props["ndv"])
        else:
            blob = puffin.read_blob(local, bm["offset"], bm["length"])
            out[name] = int(round(theta.estimate(blob)))
    return out


def rewrite_iceberg_manifests(path: str) -> int:
    """Manifest compaction (`rewrite_manifests`): consolidate the
    current snapshot's DATA manifests into ONE manifest per partition
    spec — the metadata-side maintenance the exactly-once streaming
    sink makes necessary (every micro-batch appends a manifest; after
    N triggers each planning pass opens N Avro files).  No data file
    moves: every live entry is rewritten as EXISTING with its data
    sequence number preserved; delete manifests carry forward
    untouched; the commit is a `replace` snapshot (row-invisible to
    the changelog and the incremental-append stream, like
    compact_iceberg).  Runs inside the commit retry loop."""
    result = {"n_before": 0}

    def build(base: dict | None, snapshot_id: int, seq: int, fv: int):
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        fields = _schema_of(base)
        schema_json = {"type": "struct", "schema-id": 0, "fields": fields}
        prev = _snapshot(base, None)
        mfs = _read_manifest_list(path, prev) if prev is not None else []
        data_mfs = _data_manifests(mfs)
        delete_mfs = [m for m in mfs if (m.get("content") or 0) == 1]
        result["n_before"] = len(data_mfs)
        entries = []
        for mf in data_mfs:
            for e in _read_manifest(path, mf):
                if e.get("status", 0) in (0, 1):
                    entries.append(
                        {
                            "status": 0,  # EXISTING under the new manifest
                            "snapshot_id": e.get("snapshot_id"),
                            "_seq": e.get("_seq", 0),
                            "_spec_id": e.get("_spec_id", 0),
                            "_first_row_id": e.get("_first_row_id"),
                            "data_file": e["data_file"],
                        }
                    )
        new_mfs = _write_manifests_by_spec(
            path, entries, snapshot_id, fields, base, schema_json, fv, seq
        )
        return new_mfs + delete_mfs

    return _commit_snapshot(path, "replace", build)


def evolve_iceberg_spec(path: str, partition_by: list[str]) -> int:
    """Metadata-only PARTITION evolution — the spec's headline feature
    over hive layouts: append a NEW partition spec (fresh spec-id,
    partition field-ids continuing from `last-partition-id`, reusing
    the field-id of any identical transform+source field from a prior
    spec) and make it the default.  No data moves: existing manifests
    keep their old spec-id and stay readable/prunable under the OLD
    spec; future writes land under the new one; `compact_iceberg`
    migrates old files to the new layout when rewriting.  Returns the
    new spec-id."""
    result = {}

    def build(base: dict | None) -> dict:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        meta = json.loads(json.dumps(base))
        fields = _schema_of(meta)
        by_name = {f["name"]: f for f in fields}
        new_fields = _parse_partition_by(list(partition_by), by_name)
        specs = meta.get("partition-specs") or [
            {"spec-id": 0, "fields": meta.get("partition-spec", [])}
        ]
        cur_default = _spec_of(meta)
        if [
            (pf.get("transform", "identity"), pf["source-id"])
            for pf in new_fields
        ] == [
            (pf.get("transform", "identity"), pf["source-id"])
            for pf in cur_default
        ]:
            raise ValueError(
                "new partition spec is identical to the current default"
            )
        # reuse field-ids for fields any prior spec already has
        seen: dict[tuple, int] = {}
        for s in specs:
            for pf in s["fields"]:
                seen[
                    (pf.get("transform", "identity"), pf["source-id"])
                ] = pf["field-id"]
        last_pid = int(meta.get("last-partition-id") or 999)
        for pf in new_fields:
            k = (pf["transform"], pf["source-id"])
            if k in seen:
                pf["field-id"] = seen[k]
            else:
                last_pid += 1
                pf["field-id"] = last_pid
        new_sid = max(int(s.get("spec-id", 0)) for s in specs) + 1
        specs = specs + [{"spec-id": new_sid, "fields": new_fields}]
        meta["partition-specs"] = specs
        meta["default-spec-id"] = new_sid
        meta["last-partition-id"] = max(
            last_pid, int(meta.get("last-partition-id") or 999)
        )
        # v1 legacy flat field mirrors the default spec
        meta["partition-spec"] = new_fields
        meta["last-updated-ms"] = int(time.time() * 1000)
        result["sid"] = new_sid
        return meta

    _claim_metadata(path, build)
    return result["sid"]


#: Spec-legal Iceberg type promotions (schema evolution §).
_ICE_WIDENINGS = {"int": {"long"}, "float": {"double"}}


def _legal_widening(frm, to) -> bool:
    """Spec type promotions: int→long, float→double, and
    decimal(P, S) → decimal(P', S) with P' > P (same scale)."""
    if to in _ICE_WIDENINGS.get(frm, ()):
        return True
    a, b = _dec_params(frm), _dec_params(to)
    return (
        a is not None and b is not None and b[1] == a[1] and b[0] > a[0]
    )


def evolve_iceberg_schema(
    path: str,
    add: list[tuple] | None = None,
    rename: dict[str, str] | None = None,
    drop: list[str] | None = None,
    widen: dict[str, str] | None = None,
) -> dict:
    """Metadata-only schema evolution by FIELD-ID, the spec's rule:

    - `add=[(name, ice_type), ...]` appends fields with fresh ids —
      files written before the add read the column as null; a
      3-tuple `(name, ice_type, default)` sets the v3 DEFAULT VALUES
      pair (`initial-default` = what rows in files WITHOUT the column
      read, `write-default` = what writers fill) so pre-existing rows
      read the default instead of null;
    - `rename={old: new}` keeps the field-id and records the old name
      in `schema.name-mapping.default`, so files written before the
      rename (which carry NAMES, not field ids) still resolve;
    - `drop=[name, ...]` removes the field from the current schema —
      old files' bytes stay on disk, unprojected.  Dropping an
      identity-partition source column refuses.
    - `widen={name: wider_type}` performs the spec's TYPE PROMOTION
      (int→long, float→double) — metadata-only: the parquet reader
      upcasts old files' narrower values natively, and
      `deser_value` accepts the pre-promotion 4-byte bounds so data
      skipping keeps working on old manifests.

    Appends a NEW schema (fresh schema-id) to `schemas` and bumps
    `current-schema-id` / `last-column-id`; no snapshot is produced —
    only a new metadata version (the shape real engines commit for
    ALTER TABLE)."""

    def build(base: dict | None) -> dict:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        meta = json.loads(json.dumps(base))
        fields = json.loads(json.dumps(_schema_of(meta)))
        by_name = {f["name"]: f for f in fields}
        spec_src_ids = {pf["source-id"] for pf in _spec_of(meta)}
        mapping = _name_mapping(meta)
        for old in drop or []:
            if old not in by_name:
                raise ValueError(f"no column {old!r} to drop")
            if by_name[old]["id"] in spec_src_ids:
                raise ValueError(
                    f"cannot drop identity-partition source column {old!r}"
                )
            fields = [f for f in fields if f["name"] != old]
            by_name.pop(old)
        for cname, to_type in (widen or {}).items():
            if cname not in by_name:
                raise ValueError(f"no column {cname!r} to widen")
            frm = by_name[cname]["type"]
            if not _legal_widening(frm, to_type):
                raise ValueError(
                    f"cannot promote {cname!r} from {frm!r} to "
                    f"{to_type!r} — spec-legal promotions from {frm!r}: "
                    f"{sorted(_ICE_WIDENINGS.get(frm, ())) or 'none'}"
                )
            by_name[cname]["type"] = to_type
        for old, new in (rename or {}).items():
            if old not in by_name:
                raise ValueError(f"no column {old!r} to rename")
            if new in by_name:
                raise ValueError(f"column {new!r} already exists")
            f = by_name.pop(old)
            names = mapping.setdefault(f["id"], [f["name"]])
            if new not in names:
                names.append(new)
            f["name"] = new
            by_name[new] = f
        last_id = int(meta.get("last-column-id") or 0)
        for item in add or []:
            name, ice_type = item[0], item[1]
            default = item[2] if len(item) > 2 else None
            if name in by_name:
                raise ValueError(f"column {name!r} already exists")
            if any(name in names for names in mapping.values()):
                raise ValueError(
                    f"column name {name!r} is a HISTORICAL name of another "
                    "field (schema.name-mapping.default) — reusing it would "
                    "make old files ambiguous; pick a fresh name"
                )
            last_id += 1
            top_id = last_id

            def _alloc() -> int:
                nonlocal last_id
                last_id += 1
                return last_id

            try:
                # primitives pass through; nested struct/list/map get
                # fresh ids allocated past last-column-id (level-order)
                stamped = _stamp_type_ids(ice_type, _alloc)
            except ValueError:
                raise ValueError(
                    f"unsupported Iceberg type {ice_type!r} for ALTER "
                    "ADD (primitives incl. decimal, or an id-less "
                    "struct/list/map JSON type)"
                ) from None
            f = {
                "id": top_id,
                "name": name,
                "required": False,
                "type": stamped,
            }
            if default is not None:
                if (
                    not isinstance(ice_type, str)
                    or ice_type not in _DEFAULTABLE_TYPES
                ):
                    raise ValueError(
                        f"default value on type {ice_type!r} unsupported "
                        f"(spec JSON single-value types only: "
                        f"{sorted(_DEFAULTABLE_TYPES)})"
                    )
                # v3 default values: initial-default is what rows in
                # files WITHOUT the column read; write-default is what
                # writers fill for omitted columns — set equal here, so
                # read semantics stay consistent either way
                f["initial-default"] = default
                f["write-default"] = default
            fields.append(f)
            by_name[name] = f
        new_sid = (
            max(
                [sc.get("schema-id", 0) for sc in meta.get("schemas") or []]
                + [meta.get("current-schema-id", 0)]
            )
            + 1
        )
        new_schema = {
            "type": "struct",
            "schema-id": new_sid,
            "fields": fields,
        }
        meta["schemas"] = list(meta.get("schemas") or []) + [new_schema]
        meta["current-schema-id"] = new_sid
        meta["schema"] = new_schema  # v1 single-schema mirror
        meta["last-column-id"] = max(last_id, _max_field_id(fields))
        if mapping:
            props = dict(meta.get("properties") or {})
            props["schema.name-mapping.default"] = json.dumps(
                [
                    {"field-id": fid, "names": names}
                    for fid, names in sorted(mapping.items())
                ]
            )
            meta["properties"] = props
        meta["last-updated-ms"] = int(time.time() * 1000)
        return meta

    return _claim_metadata(path, build)


def read_changes_iceberg(
    spark: SparkSession, path: str, since_snapshot_id: int | None = None
) -> DataFrame:
    """Row-level CHANGELOG between snapshots — the shape Iceberg's
    `create_changelog_view` procedure exposes, derived from metadata:

    - an append snapshot's ADDED data files are inserts;
    - position-delete files ADDED at a snapshot emit exactly their
      (file, pos) rows as deletes (merge-on-read);
    - a rewrite snapshot (copy-on-write DELETE / overwrite) diffs the
      removed files' pre-image rows against the added files' rows with
      CARRYOVER REMOVAL (`exceptAll` both ways) — rows a rewrite
      merely copied between files appear in neither leg, exactly the
      carryover rule the reference procedure applies;
    - equality-delete files ADDED at a snapshot emit the rows they hid
      (r11): the pre-image of the affected files — older data
      sequence, scope-pruned for partition-scoped deletes — is diffed
      masked WITHOUT vs WITH the new deletes, so exactly the
      newly-hidden rows report as deletes (the engine's own
      `upsert_iceberg` snapshots changelog-read this way: inserts from
      the added files, deletes from the eq leg);
    - prior delete files keep masking pre-image reads, so rows hidden
      before a rewrite are not re-reported.

    Returns table columns + `_change_type` ('insert' | 'delete') +
    `_snapshot_ordinal` (1-based position in the snapshot log — the
    stable per-table change ordering).  Walks snapshots AFTER
    `since_snapshot_id` (None = from the first snapshot)."""
    meta = current_metadata(path)
    fields = _schema_of(meta)
    snaps = sorted(
        meta.get("snapshots") or [], key=lambda s: s.get("timestamp-ms", 0)
    )
    start = 0
    if since_snapshot_id is not None:
        ids = [s["snapshot-id"] for s in snaps]
        if since_snapshot_id not in ids:
            raise ValueError(f"snapshot {since_snapshot_id} not in the log")
        start = ids.index(since_snapshot_id) + 1
    schema = _spark_schema(fields)
    names = [f.name for f in schema.fields]
    frames: list[DataFrame] = []
    for ordinal, snap in enumerate(snaps, start=1):
        if ordinal <= start:
            continue
        sid = snap["snapshot-id"]
        mfs = _read_manifest_list(path, snap)
        data_entries = []
        for mf in _data_manifests(mfs):
            data_entries.extend(_read_manifest(path, mf))
        added = [
            e
            for e in data_entries
            if e.get("status", 0) == 1 and e.get("snapshot_id") == sid
        ]
        removed = [
            e
            for e in data_entries
            if e.get("status", 0) == 2 and e.get("snapshot_id") == sid
        ]
        # delete files, split into prior (mask pre-image reads) and
        # newly-added-at-this-snapshot (merge-on-read delete rows).
        # Prior deletes come from the PARENT snapshot's manifests: a
        # compaction (replace) drops its delete manifests, so the
        # current list cannot say which deletes masked the pre-image —
        # reading them from the parent keeps rows hidden before the
        # rewrite out of its diff.
        prior_pos: list[str] = []
        new_pos: list[str] = []
        prior_eq: list[dict] = []
        new_eq: list[dict] = []
        prior_dvs: list[dict] = []
        new_dvs: list[dict] = []

        def _dv_desc(df_rec: dict) -> dict:
            return {
                "path": _abs_path(path, df_rec["file_path"]),
                "offset": int(df_rec.get("content_offset") or 0),
                "length": int(df_rec.get("content_size_in_bytes") or 0),
                "referenced": df_rec.get("referenced_data_file") or "",
                "cardinality": int(df_rec.get("record_count") or 0),
            }

        parent = next(
            (
                s
                for s in snaps
                if s["snapshot-id"] == snap.get("parent-snapshot-id")
            ),
            None,
        )
        if parent is not None:
            for mf in _read_manifest_list(path, parent):
                if (mf.get("content") or 0) != 1:
                    continue
                mp = _abs_path(path, mf["manifest_path"])
                records, _m, _s = avrotiny.read_container(mp)
                for r in records:
                    if r.get("status", 0) not in (0, 1):
                        continue
                    df_rec = r["data_file"]
                    fp = _abs_path(path, df_rec["file_path"])
                    if (df_rec.get("file_format") or "").upper() == "PUFFIN":
                        prior_dvs.append(_dv_desc(df_rec))
                        continue
                    if (df_rec.get("content") or 0) == 2:
                        prior_eq.append(
                            {
                                "path": fp,
                                "seq": _entry_seq(r, mf),
                                "ids": list(
                                    df_rec.get("equality_ids") or []
                                ),
                                # scope fields: a global delete lives
                                # under the unpartitioned spec — the
                                # storing manifest's spec id decides
                                "spec_id": int(
                                    mf.get("partition_spec_id") or 0
                                ),
                                "partition": dict(
                                    df_rec.get("partition") or {}
                                ),
                            }
                        )
                    else:
                        prior_pos.append(fp)
        for mf in mfs:
            if (mf.get("content") or 0) != 1:
                continue
            mp = _abs_path(path, mf["manifest_path"])
            records, _m, _s = avrotiny.read_container(mp)
            for r in records:
                if r.get("status", 0) not in (0, 1):
                    continue
                if r.get("snapshot_id") != sid:
                    continue
                df_rec = r["data_file"]
                if (df_rec.get("file_format") or "").upper() == "PUFFIN":
                    # v3 DV: a replacement vector contains its
                    # predecessor's positions too — the prior-DV mask
                    # on the pre-image scan subtracts them, so only
                    # genuinely new deletes are reported
                    new_dvs.append(_dv_desc(df_rec))
                    continue
                if (df_rec.get("content") or 0) == 2:
                    # equality delete added at this snapshot: its
                    # hidden rows are derived below by diffing the
                    # pre-image of the affected (older-sequence)
                    # files with and without this delete applied
                    new_eq.append(
                        {
                            "path": _abs_path(path, df_rec["file_path"]),
                            "seq": _entry_seq(r, mf),
                            "ids": list(df_rec.get("equality_ids") or []),
                            "spec_id": int(mf.get("partition_spec_id") or 0),
                            "partition": dict(df_rec.get("partition") or {}),
                        }
                    )
                    continue
                new_pos.append(_abs_path(path, df_rec["file_path"]))
        tag = lambda df, ct: df.select(  # noqa: E731
            *names,
            F.lit(ct).alias("_change_type"),
            F.lit(ordinal).cast("long").alias("_snapshot_ordinal"),
        )
        if added and removed:
            pre = _read_entries(
                spark, path, meta, removed, prior_pos, prior_eq,
                dvs=prior_dvs,
            )
            post = _read_entries(spark, path, meta, added, [], [])
            frames.append(tag(pre.exceptAll(post), "delete"))
            frames.append(tag(post.exceptAll(pre), "insert"))
        elif added:
            frames.append(
                tag(_read_entries(spark, path, meta, added, [], []), "insert")
            )
        elif removed:
            frames.append(
                tag(
                    _read_entries(
                        spark, path, meta, removed, prior_pos, prior_eq,
                        dvs=prior_dvs,
                    ),
                    "delete",
                )
            )
        if new_pos or new_dvs:
            legs = []
            if new_pos:
                legs.append(_pos_delete_rows(spark, new_pos))
            if new_dvs:
                legs.append(_dv_positions_df(spark, new_dvs))
            pos_df = legs[0]
            for leg in legs[1:]:
                pos_df = pos_df.unionByName(leg)
            tails = {
                r[_IB_FILE] for r in pos_df.select(_IB_FILE).distinct().collect()
            }
            touched = [
                e
                for e in data_entries
                if e.get("status", 0) in (0, 1)
                and e["data_file"]["file_path"].rsplit("/", 1)[-1] in tails
            ]
            scan = _read_entries(
                spark, path, meta, touched, prior_pos, prior_eq,
                keep_identity=True, dvs=prior_dvs,
            )
            hit = scan.join(
                F.broadcast(pos_df), [_IB_FILE, _IB_POS], "inner"
            ).drop(_IB_FILE, _IB_POS)
            frames.append(tag(hit, "delete"))
        if new_eq:
            # equality deletes hide rows in files whose data sequence
            # is STRICTLY BELOW the delete's — prune the pre-image to
            # those (and, when every new delete is partition-scoped,
            # to the scoped tuples); the hidden rows are then exactly
            # the diff of the pre-image masked WITHOUT vs WITH the new
            # deletes, the same shape as the cow-rewrite leg
            max_seq = max(d["seq"] for d in new_eq)
            affected = [
                e
                for e in data_entries
                if e.get("status", 0) in (0, 1)
                and e.get("_seq", 0) < max_seq
            ]
            spec_names = {
                int(s.get("spec-id", 0)): [
                    pf["name"] for pf in s.get("fields") or []
                ]
                for s in meta.get("partition-specs") or []
            }

            def _entry_scope(e: dict):
                sid_e = int(e.get("_spec_id", 0))
                names_e = spec_names.get(sid_e) or []
                pv = e["data_file"].get("partition") or {}
                return (sid_e, tuple(pv.get(n) for n in names_e))

            scopes = set()
            all_scoped = True
            for d in new_eq:
                names_d = spec_names.get(int(d.get("spec_id", 0))) or []
                if names_d:
                    scopes.add(
                        (
                            int(d["spec_id"]),
                            tuple(d["partition"].get(n) for n in names_d),
                        )
                    )
                else:
                    all_scoped = False
            if all_scoped and scopes:
                affected = [
                    e for e in affected if _entry_scope(e) in scopes
                ]
            if affected:
                # the snapshot's OWN pos-deletes/DVs mask BOTH sides:
                # a row hidden by a new pos/DV at this snapshot was
                # already reported by the pos leg above — without the
                # mask, an eq-matched row would survive into this diff
                # and report 'delete' twice (replacement DVs are
                # supersets of their predecessors, and the mask union
                # dropDuplicates before the anti-join, so prior+new
                # concatenation is safe)
                pre_wo = _read_entries(
                    spark, path, meta, affected, prior_pos + new_pos,
                    [dict(d) for d in prior_eq],
                    dvs=prior_dvs + new_dvs,
                )
                pre_w = _read_entries(
                    spark, path, meta, affected, prior_pos + new_pos,
                    [dict(d) for d in prior_eq + new_eq],
                    dvs=prior_dvs + new_dvs,
                )
                frames.append(tag(pre_wo.exceptAll(pre_w), "delete"))
    if not frames:
        empty = spark.createDataFrame([], schema)
        return empty.withColumn("_change_type", F.lit("")).withColumn(
            "_snapshot_ordinal", F.lit(0).cast("long")
        )
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df)
    return out


def expire_iceberg_snapshots(
    path: str, keep_last: int = 1, older_than_ms: int | None = None
) -> int:
    """Drop all but the newest `keep_last` snapshots from the table
    metadata (snapshot-log pruned to match; the current snapshot
    always survives) — the metadata half of Iceberg table maintenance.
    `older_than_ms` (r14, Java's expireSnapshots(olderThan) knob):
    snapshots at or after that instant are ALSO kept regardless of
    count, so a retention window never destroys recent time travel.
    Files only the expired snapshots referenced become orphans for
    `remove_orphan_iceberg_files`.  Returns snapshots removed."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    removed = {"n": 0}

    def build(base: dict | None) -> dict:
        if base is None:
            raise FileNotFoundError(f"no Iceberg metadata under {path}")
        meta = json.loads(json.dumps(base))
        snaps = sorted(
            meta.get("snapshots") or [],
            key=lambda s: s.get("timestamp-ms", 0),
        )
        keep = snaps[-keep_last:]
        if older_than_ms is not None:
            keep = [
                s
                for s in snaps
                if int(s.get("timestamp-ms", 0)) >= int(older_than_ms)
            ] + [s for s in keep if int(s.get("timestamp-ms", 0))
                 < int(older_than_ms)]
        kept_ids = {s["snapshot-id"] for s in keep}
        cur = meta.get("current-snapshot-id")
        pinned = [cur] if cur not in (None, -1) else []
        # named refs pin their heads (tags AND branch heads survive)
        pinned += [
            int(r["snapshot-id"]) for r in (meta.get("refs") or {}).values()
        ]
        for sid in pinned:
            if sid not in kept_ids:
                keep.append(_snapshot(meta, sid))
                kept_ids.add(sid)
        keep_ids = {s["snapshot-id"] for s in keep}
        removed["n"] = len(snaps) - len(keep_ids)
        meta["snapshots"] = [
            s for s in snaps if s["snapshot-id"] in keep_ids
        ]
        # parent pointers to expired snapshots are dangling — drop them
        for s in meta["snapshots"]:
            if s.get("parent-snapshot-id") not in keep_ids:
                s.pop("parent-snapshot-id", None)
        meta["snapshot-log"] = [
            e
            for e in meta.get("snapshot-log") or []
            if e.get("snapshot-id") in keep_ids
        ]
        # statistics registrations of expired snapshots are dead —
        # drop them so their files become orphans (spec maintenance)
        for stats_key in ("partition-statistics", "statistics"):
            if meta.get(stats_key):
                meta[stats_key] = [
                    e
                    for e in meta[stats_key]
                    if e.get("snapshot-id") in keep_ids
                ]
                if not meta[stats_key]:
                    meta.pop(stats_key)
        meta["last-updated-ms"] = int(time.time() * 1000)
        return meta

    _claim_metadata(path, build)
    return removed["n"]


def cleanup_iceberg_metadata(path: str, keep_last: int = 1) -> int:
    """Delete old `v<N>.metadata.json` versions, keeping the newest
    `keep_last` — the `write.metadata.previous-versions-max` /
    delete-after-commit maintenance real Iceberg writers run so the
    metadata dir stops growing one file per commit.  Snapshots,
    manifests and data files are untouched (those are
    `expire_iceberg_snapshots` / orphan-removal territory); only
    METADATA time travel below the cut is traded.  Returns files
    deleted."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = _metadata_versions(path)
    if not vs:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    md = _meta_dir(path)
    deleted = 0
    for v in vs[:-keep_last]:
        fp = _metadata_file(md, v)
        if fp is not None:
            os.unlink(fp)
            deleted += 1
    return deleted


def remove_orphan_iceberg_files(path: str, min_age_s: float = 600.0) -> int:
    """Delete data parquet and manifest/manifest-list Avro files no
    RETAINED snapshot references (every entry status counts — a
    DELETED entry still names a real file an older retained snapshot
    may read).  Files younger than `min_age_s` are SPARED — an
    in-flight writer lands files before claiming its metadata (the
    same retention rule as VACUUM).  Metadata JSONs and version-hint
    are never touched.  Returns files deleted."""
    import time as _time

    meta = current_metadata(path)
    referenced: set[str] = set()
    for snap in meta.get("snapshots") or []:
        ml = _abs_path(path, snap["manifest-list"])
        referenced.add(os.path.realpath(ml))
        for mf in _read_manifest_list(path, snap):
            mp = _abs_path(path, mf["manifest_path"])
            referenced.add(os.path.realpath(mp))
            records, _m, _sch = avrotiny.read_container(mp)
            for r in records:
                referenced.add(
                    os.path.realpath(
                        _abs_path(path, r["data_file"]["file_path"])
                    )
                )
    # registered statistics files (partition stats etc.) are pinned
    for stats_key in ("partition-statistics", "statistics"):
        for e in meta.get(stats_key) or []:
            if e.get("statistics-path"):
                referenced.add(
                    os.path.realpath(
                        _abs_path(path, e["statistics-path"])
                    )
                )
    now = _time.time()
    deleted = 0
    for sub, suffixes in (
        ("data", (".parquet", ".puffin")),
        ("metadata", (".avro", ".parquet")),
    ):
        root = os.path.join(path, sub)
        if not os.path.isdir(root):
            continue
        for dirpath, _dirs, files in os.walk(root):
            for fname in files:
                if not fname.endswith(suffixes):
                    continue
                full = os.path.realpath(os.path.join(dirpath, fname))
                if full in referenced:
                    continue
                if now - os.path.getmtime(full) < min_age_s:
                    continue
                os.unlink(full)
                deleted += 1
    return deleted


def uniform_iceberg_metadata(spark: SparkSession, path: str) -> int:
    """Delta-UniForm shape: generate an ICEBERG metadata tree for an
    existing DELTA table's current snapshot — pointing at the SAME
    parquet data files, no copy — so the table reads through either
    protocol (`deltaproto.read_delta` AND `read_iceberg` / any
    field-id/name resolving Iceberg reader).  Field-ids are assigned
    in schema order (or taken from `delta.columnMapping.id` when the
    table is column-mapped — both engines then agree on field
    identity); numeric bounds come from the Delta add-action stats
    (string bounds are skipped — Delta may truncate them, and a
    truncated max is not a valid upper bound); partition values
    convert from Delta's hive strings to the Iceberg internal repr.
    DELETION VECTORS (r12): each Delta DV decodes (roaring, the Delta
    framing) and re-serializes as an Iceberg v3 ``deletion-vector-v1``
    Puffin blob — one puffin file per generation — referenced from a
    delete manifest, and the metadata commits at format-version 3;
    the two sidecar encodings differ, but the positions are the same
    integers, so both protocols hide exactly the same rows.  COLUMN
    MAPPING (r12): Iceberg resolves the physical parquet names via
    the spec's `schema.name-mapping.default` property (physical name →
    field id), the exact mechanism the spec provides for files
    written without field ids; id-mode files additionally carry
    parquet field ids, which foreign readers may use directly.
    Re-running refreshes: each call commits a fresh snapshot of the
    current Delta state.  Returns the snapshot id."""
    from . import deltaproto as dp

    meta_d, live, _v = dp._fold_delta_state(spark, path, None)
    dschema = json.loads(meta_d["schemaString"])
    mapped = dp._mapping_mode(meta_d) != "none"
    fields = []
    phys_of: dict[str, str] = {}
    name_mapping: list[dict] = []
    for i, f in enumerate(dschema["fields"], start=1):
        t = f["type"]
        ice_t = None
        if isinstance(t, str):
            if t in _SPARK_TO_ICE:
                ice_t = _SPARK_TO_ICE[t]
            else:
                dm = _DEC_RE.match(t.replace(" ", ""))
                if dm:
                    ice_t = f"decimal({dm.group(1)}, {dm.group(2)})"
        if ice_t is None:
            raise ValueError(
                f"column {f['name']!r}: Spark type {t!r} unsupported by "
                "the Iceberg interop tier"
            )
        md = f.get("metadata") or {}
        fid = int(md.get("delta.columnMapping.id", i))
        phys = md.get("delta.columnMapping.physicalName", f["name"])
        fields.append(
            {
                "id": fid,
                "name": f["name"],
                "required": False,
                "type": ice_t,
            }
        )
        phys_of[f["name"]] = phys
        name_mapping.append({"field-id": fid, "names": [phys]})
    by_name = {f["name"]: f for f in fields}
    # mapped tables record partitionColumns under PHYSICAL names (the
    # namespace files/partitionValues use) — normalize to logical
    log_of = {v: k for k, v in phys_of.items()}
    part_cols = [
        log_of.get(c, c) for c in (meta_d.get("partitionColumns") or [])
    ]
    spec = [
        {
            "name": c,
            "transform": "identity",
            "source-id": by_name[c]["id"],
            "field-id": 1000 + i,
        }
        for i, c in enumerate(part_cols)
    ]
    schema_json = {"type": "struct", "schema-id": 0, "fields": fields}
    from . import puffin

    data_files = []
    # (referenced data-file uri, partition tuple, payload, cardinality)
    dv_blobs: list[tuple[str, dict, bytes, int]] = []
    for rel in sorted(live):
        add = live[rel]
        pvals = {}
        for c in part_cols:
            # mapped tables key partitionValues by PHYSICAL name
            pv_raw = add.get("partitionValues") or {}
            raw = pv_raw.get(phys_of.get(c, c), pv_raw.get(c))
            pvals[c] = (
                None
                if raw is None
                else _parse_hive_value(by_name[c]["type"], raw)
            )
        if add.get("deletionVector"):
            positions = dp._dv_positions(path, add["deletionVector"])
            dv_blobs.append(
                (
                    _file_uri(path, rel),
                    pvals,
                    puffin.dv_payload(positions),
                    len(positions),
                )
            )
        stats = {}
        if add.get("stats"):
            try:
                stats = json.loads(add["stats"])
            except ValueError:
                stats = {}
        n_rows = stats.get("numRecords")
        if n_rows is None:
            import pyarrow.parquet as pq

            n_rows = pq.ParquetFile(
                os.path.join(path, rel)
            ).metadata.num_rows
        lbs, ubs = {}, {}
        for f in fields:
            if f["type"] in ("string", "binary"):
                continue  # Delta may truncate; numeric bounds only
            # stats key on PHYSICAL names under column mapping
            pn = phys_of.get(f["name"], f["name"])
            mns = stats.get("minValues") or {}
            mxs = stats.get("maxValues") or {}
            mn = mns.get(pn, mns.get(f["name"]))
            mx = mxs.get(pn, mxs.get(f["name"]))
            if mn is not None and mx is not None:
                try:
                    lbs[f["id"]] = ser_value(f["type"], mn)
                    ubs[f["id"]] = ser_value(f["type"], mx)
                except (ValueError, TypeError):
                    pass
        data_files.append(
            {
                "file_path": _file_uri(path, rel),
                "file_format": "PARQUET",
                "partition": pvals,
                "record_count": int(n_rows),
                "file_size_in_bytes": int(add.get("size") or 0),
                "block_size_in_bytes": _BLOCK_SIZE,
                "value_counts": None,
                "null_value_counts": None,
                "lower_bounds": [
                    {"key": k, "value": v} for k, v in sorted(lbs.items())
                ]
                or None,
                "upper_bounds": [
                    {"key": k, "value": v} for k, v in sorted(ubs.items())
                ]
                or None,
                "split_offsets": None,
            }
        )

    def build_manifests(
        base: dict | None, snapshot_id: int, seq: int, fv: int
    ) -> list[dict]:
        entries = [
            {"status": 1, "snapshot_id": snapshot_id, "data_file": d}
            for d in data_files
        ]
        mfs = [
            _write_manifest(
                path, entries, snapshot_id, fields, spec, schema_json,
                fv=fv, seq=seq,
            )
        ]
        if dv_blobs:
            # one puffin file per generation, one deletion-vector-v1
            # blob per DV'd data file (the spec's recommended packing)
            name = f"{uuid.uuid4().hex}-uniform-deletes.puffin"
            dest = os.path.join(path, "metadata", name)
            metas = puffin.write_puffin(
                dest,
                [
                    {
                        "type": "deletion-vector-v1",
                        "data": payload,
                        "snapshot-id": snapshot_id,
                        "sequence-number": seq,
                        "properties": {
                            "referenced-data-file": uri,
                            "cardinality": str(card),
                        },
                    }
                    for uri, _pv, payload, card in dv_blobs
                ],
                properties={"created-by": "sparkgraft-uniform/1.0"},
            )
            puffin_uri = _file_uri(path, f"metadata/{name}")
            puffin_size = os.path.getsize(dest)
            dv_entries = [
                {
                    "status": 1,
                    "snapshot_id": snapshot_id,
                    "data_file": {
                        "content": 1,
                        "file_path": puffin_uri,
                        "file_format": "PUFFIN",
                        "partition": pv,
                        "record_count": int(card),
                        "file_size_in_bytes": puffin_size,
                        "value_counts": None,
                        "null_value_counts": None,
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "split_offsets": None,
                        "equality_ids": None,
                        "first_row_id": None,
                        "referenced_data_file": uri,
                        "content_offset": int(m["offset"]),
                        "content_size_in_bytes": int(m["length"]),
                    },
                }
                for (uri, pv, _payload, card), m in zip(dv_blobs, metas)
            ]
            mfs.append(
                _write_manifest(
                    path, dv_entries, snapshot_id, fields, spec,
                    schema_json, fv=fv, content="deletes", seq=seq,
                )
            )
        return mfs

    properties = {}
    if mapped:
        properties["schema.name-mapping.default"] = json.dumps(
            name_mapping
        )
    return _commit_snapshot(
        path,
        "append" if not _metadata_versions(path) else "overwrite",
        build_manifests,
        schema_fields=fields,
        spec_fields=spec,
        # DVs (PUFFIN delete manifests) and the variant type are v3
        # constructs; plain snapshots stay at v1 for maximal reader
        # compatibility, exactly like the batch writer's default
        format_version=(
            3
            if dv_blobs or any(f["type"] == "variant" for f in fields)
            else None
        ),
        properties=properties or None,
    )


def _hive_partition_value(ice_type: str, v) -> str | None:
    """Delta's hive-string partitionValues encoding for an Iceberg
    internal partition value (date = days int, per the spec)."""
    if v is None:
        return None
    if ice_type == "boolean":
        return "true" if v else "false"
    if ice_type == "date":
        import datetime as _dt

        return (
            _dt.date(1970, 1, 1) + _dt.timedelta(days=int(v))
        ).isoformat()
    if ice_type in ("int", "long", "string", "float", "double"):
        return str(v)
    if _dec_params(ice_type) is not None:
        return str(_to_decimal(v))
    raise ValueError(
        f"identity partition value of Iceberg type {ice_type!r} has no "
        "Delta hive-string encoding in this tier (timestamps carry "
        "engine-zone ambiguity) — refusing to mis-encode"
    )


#: Iceberg types whose entry bounds convert losslessly into Delta
#: stats JSON min/max (strings may be truncated by metrics modes — a
#: truncated max is not a valid upper bound; timestamps/binary skip).
_DELTA_STATS_TYPES = {"int", "long", "float", "double", "boolean", "date"}


def uniform_delta_metadata(spark: SparkSession, path: str) -> int:
    """REVERSE UniForm (the XTable direction): generate a DELTA log
    for an existing ICEBERG table's current snapshot — pointing at the
    SAME parquet data files, no copy — so the table reads through
    either protocol (`read_iceberg` AND `deltaproto.read_delta` / any
    Delta reader).  The mirror of `uniform_iceberg_metadata`:

    - identity partition fields become Delta `partitionColumns`
      (internal partition values re-encode as hive strings — both our
      writer and the identity-projection rule keep those columns OUT
      of the file content, exactly Delta's layout); non-identity
      transform fields are dropped from the Delta view (their SOURCE
      columns stay in the files per the spec, so the data is whole —
      only the transform's pruning is lost to Delta readers)
    - POSITION deletes and v3 DELETION VECTORS both re-serialize as
      Delta deletion vectors (roaring + Z85 framing, one bin file):
      the sidecar codecs differ but the hidden positions are the same
      integers, so both protocols mask exactly the same rows;
      EQUALITY deletes (no Delta representation of their own)
      MATERIALIZE into the same deletion vectors: only the
      scope-affected data files (sequence strictly below a delete's,
      partition-matched) are scanned with row identity and the
      eq-removed (file, pos) set — the exceptAll of the undeleted vs
      eq-applied reads — folds into the masks, O(affected rows) never
      O(table)
    - per-entry bounds/null counts re-encode as add-action `stats`
      JSON, so Delta data skipping keeps working
    - the protocol climbs to the features tier only when needed
      (deletionVectors / timestampNtz / variantType), staying at the
      maximally-compatible reader 1 / writer 2 otherwise

    Each call commits a fresh Delta version reconciling to the current
    Iceberg snapshot (removes for files no longer live, adds for the
    live set — same-path remove+add resolves add-wins per the spec).
    Returns the Delta version.  O(live entries) driver-side — deleted
    positions expand and serialize on the executors; no data file is
    read or written except the eq-affected subset's identity scan."""
    from . import deltaproto as dp

    meta = current_metadata(path)
    fields = _schema_of(meta)
    spec = _spec_of(meta)
    snap = _snapshot(meta, None)
    # ---- schema: Iceberg fields -> Delta schemaString ----
    delta_fields = []
    by_id = {f["id"]: f for f in fields}
    feats: set[str] = set()
    for f in fields:
        t = f["type"]
        ps = _dec_params(t)
        if ps is not None:
            delta_t = f"decimal({ps[0]},{ps[1]})"
        elif isinstance(t, str) and t in _ICE_TO_SPARK:
            delta_t = _ICE_TO_SPARK[t]
        else:
            raise ValueError(
                f"field {f['name']!r}: Iceberg type {t!r} unsupported by "
                "the Delta interop tier"
            )
        if t == "timestamp":
            feats.add("timestampNtz")
        if t == "variant":
            feats.add("variantType")
        delta_fields.append(
            {
                "name": f["name"],
                "type": delta_t,
                "nullable": not f.get("required", False),
                "metadata": {},
            }
        )
    part_cols = [
        by_id[pf["source-id"]]["name"]
        for pf in spec
        if _parse_transform(pf.get("transform", "identity"))[0]
        == "identity"
    ]
    # ---- live entries + delete state of the current snapshot ----
    entries = _live_entries(path, meta, snap) if snap is not None else []
    mfs = _read_manifest_list(path, snap) if snap is not None else []
    pos_files, eq, dvs = _delete_files(path, mfs)
    # positions to hide, keyed by the data file's table-relative path
    local_root = os.path.abspath(path)

    def _rel(file_path: str) -> str:
        local = _abs_path(path, file_path)
        rel = os.path.relpath(os.path.abspath(local), local_root)
        if rel.startswith(".."):
            raise ValueError(
                f"data file {file_path!r} lies outside the table root — "
                "a relative Delta add action cannot reference it"
            )
        return rel.replace(os.sep, "/")

    # ---- renames: Iceberg renames are field-id-based (files keep the
    # OLD column name, resolved through schema.name-mapping.default);
    # a Delta reader knows nothing of field ids, so without help it
    # silently NULL-fills the renamed column.  Resolve each renamed
    # field's on-disk name from the live files' parquet footers
    # (memoized, O(live files) metadata reads) and emit Delta COLUMN
    # MAPPING (name mode: physicalName = the bytes' name).  Delta has
    # ONE physicalName per column, so live files carrying the column
    # under BOTH names (writes continued after the rename) are not
    # representable — refuse loudly; compact_iceberg rewrites under
    # the current names and the conversion then needs no mapping.
    mapping_hist = _name_mapping(meta)
    phys_of = {f["name"]: f["name"] for f in fields}
    for f in fields:
        hist = [n for n in mapping_hist.get(f["id"], []) if n != f["name"]]
        if not hist:
            continue
        candidates = [f["name"]] + hist
        seen: set[str] = set()
        for e in entries:
            rec = e["data_file"]
            if (rec.get("file_format") or "PARQUET").upper() != "PARQUET":
                continue  # non-parquet refuses in the add loop below
            names = _footer_names(_abs_path(path, rec["file_path"]))
            hit = [c for c in candidates if c in names]
            if len(hit) > 1:
                raise ValueError(
                    f"file {rec['file_path']!r} carries column "
                    f"{f['name']!r} under several historical names "
                    f"{hit} — compact_iceberg first"
                )
            if hit:
                seen.add(hit[0])
        if len(seen) > 1:
            raise ValueError(
                f"renamed column {f['name']!r} appears under multiple "
                f"on-disk names {sorted(seen)} across live files — a "
                "Delta log has one physicalName per column; run "
                "compact_iceberg to rewrite under the current names, "
                "then convert"
            )
        if seen:
            phys_of[f["name"]] = seen.pop()
    use_mapping = any(phys_of[f["name"]] != f["name"] for f in fields)
    configuration: dict[str, str] = {}
    if use_mapping:
        for f, df_field in zip(fields, delta_fields):
            df_field["metadata"] = {
                "delta.columnMapping.id": int(f["id"]),
                "delta.columnMapping.physicalName": phys_of[f["name"]],
            }
        configuration = {
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": str(
                max(int(f["id"]) for f in fields)
            ),
        }

    # Positions to hide — pos-delete files, v3 DVs, and eq-delete
    # materialization ALL flow as DISTRIBUTED (file-tail, pos) frames
    # (r14): the per-file roaring bitmaps serialize on the executors
    # (Arrow-batched groupBy kernel, same shape as _land_dv_deletes'
    # forward path) and only the compressed blobs travel to the driver
    # for the single DV-file write — a 100-TB table's deleted
    # positions never pool as Python ints on the driver.
    tail_to_rel = {
        _rel(e["data_file"]["file_path"]).rsplit("/", 1)[-1]:
            _rel(e["data_file"]["file_path"])
        for e in entries
    }
    legs: list = []
    if pos_files:
        legs.append(_pos_delete_rows(spark, pos_files))
    if dvs:
        legs.append(_dv_positions_df(spark, dvs))
    if eq:
        # equality deletes materialize into positions: scan ONLY the
        # scope-affected files (conservatively pruned here; the eq
        # application inside _read_entries is exactly scoped) and diff
        # the undeleted read against the eq-applied read on row
        # identity — O(affected rows), the changelog eq leg's bound
        specs_by_id = _specs_by_id(meta)

        def eq_affects(e: dict, d: dict) -> bool:
            if int(e.get("_seq", 0)) >= int(d["seq"]):
                return False
            d_sid = int(d.get("spec_id", 0))
            d_names = [
                pf["name"] for pf in specs_by_id.get(d_sid, [])
            ]
            if not d_names:
                return True  # stored under an unpartitioned spec: global
            if int(e.get("_spec_id", 0)) != d_sid:
                return True  # cross-spec: let the exact join decide
            part = dict(e["data_file"].get("partition") or {})
            dp_part = d.get("partition") or {}
            return all(part.get(n) == dp_part.get(n) for n in d_names)

        affected = [
            e for e in entries if any(eq_affects(e, d) for d in eq)
        ]
        if affected:
            sub_all = _read_entries(
                spark, path, meta, affected, keep_identity=True
            ).select(_IB_FILE, _IB_POS)
            sub_kept = _read_entries(
                spark,
                path,
                meta,
                affected,
                eq_deletes=[dict(d) for d in eq],
                keep_identity=True,
            ).select(_IB_FILE, _IB_POS)
            legs.append(sub_all.exceptAll(sub_kept))
    descs: dict[str, dict] = {}
    if legs:
        pos_df = legs[0]
        for leg in legs[1:]:
            pos_df = pos_df.unionByName(leg)

        def to_rbm(pdf):
            import pandas as pd

            from . import roaring as _rr

            positions = sorted(set(int(x) for x in pdf[_IB_POS]))
            return pd.DataFrame(
                {
                    "tail": [pdf[_IB_FILE].iloc[0]],
                    "blob": [_rr.serialize_rbm64(positions)],
                    "card": [len(positions)],
                }
            )

        blobs = (
            pos_df.groupBy(_IB_FILE)
            .applyInPandas(to_rbm, "tail string, blob binary, card long")
            .collect()
        )
        payload = {
            tail_to_rel[b["tail"]]: (bytes(b["blob"]), int(b["card"]))
            for b in blobs
            if b["tail"] in tail_to_rel
        }
        # Delta DV descriptors land once per conversion (one bin file)
        if payload:
            descs = dp._write_dv_blobs(path, payload)
    if descs:
        feats.add("deletionVectors")
    # ---- add actions ----
    now_ms = int(time.time() * 1000)
    adds: dict[str, dict] = {}
    for e in entries:
        rec = e["data_file"]
        fmt = (rec.get("file_format") or "PARQUET").upper()
        if fmt != "PARQUET":
            raise ValueError(
                f"data file format {fmt} cannot sit in a Delta log "
                "(format.provider is parquet) — rewrite first "
                "(compact_iceberg)"
            )
        rel = _rel(rec["file_path"])
        pvals: dict[str, str | None] = {}
        raw_part = dict(rec.get("partition") or {})
        for pf in spec:
            kind, _p = _parse_transform(pf.get("transform", "identity"))
            if kind != "identity":
                continue
            src = by_id[pf["source-id"]]
            # mapped tables key partitionValues/stats on PHYSICAL names
            # (the spec's rule; the readers resolve via the mapping)
            pvals[phys_of[src["name"]]] = _hive_partition_value(
                src["type"], raw_part.get(pf["name"])
            )
        lbs = _norm_id_map(rec.get("lower_bounds"))
        ubs = _norm_id_map(rec.get("upper_bounds"))
        nulls = _norm_id_map(rec.get("null_value_counts"))
        mins: dict = {}
        maxs: dict = {}
        ncs: dict = {}
        for f in fields:
            pn = phys_of[f["name"]]
            if pn in pvals:
                continue  # partition columns carry no file stats
            if f["type"] in _DELTA_STATS_TYPES:
                lo_b, hi_b = lbs.get(f["id"]), ubs.get(f["id"])
                if lo_b is not None and hi_b is not None:
                    lo_v = deser_value(f["type"], bytes(lo_b))
                    hi_v = deser_value(f["type"], bytes(hi_b))
                    if f["type"] == "date":
                        lo_v = _hive_partition_value("date", lo_v)
                        hi_v = _hive_partition_value("date", hi_v)
                    mins[pn], maxs[pn] = lo_v, hi_v
            nc = nulls.get(f["id"])
            if nc is not None:
                ncs[pn] = int(nc)
        add = {
            "path": rel,
            "partitionValues": pvals,
            "size": int(rec.get("file_size_in_bytes") or 0),
            "modificationTime": now_ms,
            "dataChange": True,
            "stats": json.dumps(
                {
                    "numRecords": int(rec.get("record_count") or 0),
                    "minValues": mins,
                    "maxValues": maxs,
                    "nullCount": ncs,
                }
            ),
        }
        if rel in descs:
            add["deletionVector"] = descs[rel]
        adds[rel] = add
    # ---- commit ----
    prev_live: dict[str, dict] = {}
    prev_v: int | None = None
    meta_id = str(uuid.uuid4())
    if dp.delta_versions(path) or dp._last_checkpoint(path) is not None:
        prev_meta, prev_live, prev_v = dp._fold_delta_state(spark, path, None)
        meta_id = prev_meta["id"]
    schema_str = json.dumps({"type": "struct", "fields": delta_fields})
    if use_mapping and feats:
        feats.add("columnMapping")  # features tier lists it explicitly
    base_proto = (
        {"minReaderVersion": 2, "minWriterVersion": 5}
        if use_mapping
        else {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    proto = (
        dp._protocol_with_features(base_proto, sorted(feats), sorted(feats))
        if feats
        else base_proto
    )
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CONVERT",
                    "operationParameters": {"sourceFormat": "iceberg"},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        ),
        json.dumps({"protocol": proto}),
        json.dumps(
            {
                "metaData": {
                    "id": meta_id,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_str,
                    "partitionColumns": part_cols,
                    "configuration": configuration,
                    "createdTime": now_ms,
                }
            }
        ),
    ]
    for rel in sorted(prev_live):
        lines.append(
            json.dumps(
                {
                    "remove": {
                        "path": rel,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
        )
    for rel in sorted(adds):
        lines.append(json.dumps({"add": adds[rel]}))
    return dp._claim_delta_version(path, lines, read_version=prev_v)


def convert_to_iceberg(
    spark: SparkSession,
    path: str,
    partition_schema: dict[str, str] | None = None,
) -> int:
    """`migrate` / `add_files` (in-place table conversion): generate
    Iceberg metadata over an EXISTING parquet directory — no file is
    read beyond its footer, none is rewritten or moved.  Flat layouts
    convert as unpartitioned; hive `key=value` trees need
    `partition_schema` ({col: spark ddl type}) and become identity
    partition fields (the partition values live only in the dir names,
    decoded through the hive rules).  Each data_file record carries
    footer-derived per-field-id bounds, so manifest pruning works from
    snapshot 1.  O(files) footer reads."""
    from pyspark.sql.types import StructType

    from .deltaproto import _convert_layout_and_fields

    if _metadata_versions(path):
        raise ValueError(f"{path!r} already carries Iceberg metadata")
    part_cols = list(partition_schema or {})
    layout, full = _convert_layout_and_fields(
        spark, path, partition_schema
    )
    fields = _iceberg_fields(StructType(full))
    by_name = {f["name"]: f for f in fields}
    spec = _parse_partition_by(part_cols, by_name)
    schema_json = {"type": "struct", "schema-id": 0, "fields": fields}
    records = []
    for local, pvals in layout:
        internal = {}
        for pf in spec:
            src = by_name[pf["name"]]
            raw = pvals[pf["name"]]
            internal[pf["name"]] = (
                None if raw is None else _parse_hive_value(src["type"], raw)
            )
        rel = os.path.relpath(local, path).replace(os.sep, "/")
        records.append(
            _data_file_record(
                local, _file_uri(path, rel), by_name, internal
            )
        )

    def build_manifests(
        base: dict | None, snapshot_id: int, seq: int, fv: int
    ) -> list[dict]:
        entries = [
            {"status": 1, "snapshot_id": snapshot_id, "data_file": d}
            for d in records
        ]
        return [
            _write_manifest(
                path, entries, snapshot_id, fields, spec, schema_json,
                fv=fv, seq=seq, spec_id=0,
            )
        ]

    return _commit_snapshot(
        path, "append", build_manifests,
        schema_fields=fields, spec_fields=spec,
    )


# --------------------------------------------------------------------------
# Driver entry
# --------------------------------------------------------------------------

_ICEBERG_LAKE_VERSION = 1


def iceberg_interop_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate entry for the Iceberg path: write `documents` as a
    REAL v1 Iceberg table partitioned by lang (metadata JSON + Avro
    manifest list/manifests + hive-layout parquet), append a second
    slice (fast-append: prior manifests carried forward), DELETE a
    doc_id range copy-on-write (EXISTING/DELETED/ADDED statuses), then
    read the final snapshot back through the full metadata tree and
    aggregate per lang.  The DuckDB oracle restates the same content
    off the raw parquet, so a value match proves the manifest tree,
    single-value bounds, status folding, and identity-partition
    reconstruction are all exact."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("iceberg", _ICEBERG_LAKE_VERSION, sf_dir),
        "docs_iceberg",
    )
    if not _metadata_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_iceberg(
            docs.filter(F.col("doc_id") % 2 == 0),
            path,
            partition_by=["lang"],
        )
        write_iceberg(docs.filter(F.col("doc_id") % 2 == 1), path)
        delete_where_iceberg(spark, path, "doc_id", 100, 199)
    snap = read_iceberg(spark, path)
    return (
        snap.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("lang")
    )


def uniform_dual_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for UNIFORM: generate Iceberg metadata over
    the deltaproto fixture table (same parquet files, both logs) and
    aggregate the ICEBERG-protocol read; the oracle is the same
    content off the raw parquet, and `lake_delta_interop` checks the
    DELTA-protocol read of the SAME files — together they prove the
    dual-format contract value-exactly."""
    from ..functions.scale import default_index_dir
    from . import deltaproto as dp

    # the deltaproto entry builds (and caches) the Delta side
    dp.delta_interop_entry(spark, sf_dir).count()
    path = os.path.join(
        default_index_dir("deltaproto", dp._DELTA_LAKE_VERSION, sf_dir),
        "docs_delta",
    )
    if not _metadata_versions(path):
        uniform_iceberg_metadata(spark, path)
    snap = read_iceberg(spark, path)
    return (
        snap.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("lang")
    )


UNIFORM_DUAL_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
GROUP BY lang
ORDER BY lang
"""


#: Bump when the DV+mapped UniForm fixture changes shape.
_UNIFORM_DV_LAKE_VERSION = 1
#: DV-deleted doc_id range — populated at every SF.
_UNIFORM_DV_RANGE = (100, 149)


def _ensure_uniform_dv_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once fixture for UniForm over ADVANCED Delta features
    (r12 — both were refusals): documents as a lang-partitioned Delta
    table, a column RENAME (enables name-mode column mapping — files
    keep physical name 'text' while the logical schema says 'body'),
    then a deletion-vector DELETE of a doc_id range; finally the
    Iceberg metadata generation, which re-serializes the Delta roaring
    DV as a v3 Puffin deletion-vector blob and registers the physical
    names under schema.name-mapping.default."""
    from ..functions.scale import default_index_dir
    from . import deltaproto as dp, load_table

    path = os.path.join(
        default_index_dir(
            "uniform_dv", _UNIFORM_DV_LAKE_VERSION, sf_dir
        ),
        "docs_uniform_dv",
    )
    if not dp.delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        dp.write_delta(docs, path, partition_by=["lang"])
        dp.rename_delta_column(spark, path, "text", "body")
        lo, hi = _UNIFORM_DV_RANGE
        dp.delete_where_delta(spark, path, "doc_id", lo, hi, strategy="dv")
        uniform_iceberg_metadata(spark, path)
    return path


def uniform_dv_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for UNIFORM over DV-carrying, COLUMN-MAPPED
    Delta tables (r12): the Iceberg-protocol read of the fixture must
    hide exactly the DV'd rows (Puffin deletion-vector blob decoded
    and anti-joined on (file, pos)) and resolve the renamed column
    through name-mapping.  The oracle restates the delete off the raw
    parquet; `_rows`-level Delta parity is pinned in pytest, so a
    value match here proves BOTH protocols agree with the source of
    truth."""
    path = _ensure_uniform_dv_lake(spark, sf_dir)
    snap = read_iceberg(spark, path)
    return (
        snap.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("body")).cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("lang")
    )


UNIFORM_DV_ORACLE_SQL = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
WHERE doc_id NOT BETWEEN {_UNIFORM_DV_RANGE[0]} AND {_UNIFORM_DV_RANGE[1]}
GROUP BY lang
ORDER BY lang
"""


#: Bump when the reverse-uniform fixture's pipeline changes shape.
_UNIFORM_REV_LAKE_VERSION = 1
#: doc_id range MOR-deleted before the Delta log generation — present
#: at every SF (documents spans 0..499 even at sf0.001).
_UNIFORM_REV_RANGE = (200, 274)


def _ensure_uniform_rev_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once fixture for REVERSE UniForm (r12): documents as a
    lang-partitioned Iceberg table, a second append, a merge-on-read
    position DELETE of a doc_id range, then the Delta log generation —
    which converts the identity partition into Delta partitionColumns
    and the position-delete parquet into a Delta deletion vector."""
    from ..functions.scale import default_index_dir
    from . import deltaproto as dp, load_table

    path = os.path.join(
        default_index_dir(
            "uniform_rev", _UNIFORM_REV_LAKE_VERSION, sf_dir
        ),
        "docs_uniform_rev",
    )
    if not dp.delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_iceberg(
            docs.filter(F.col("doc_id") % 2 == 0),
            path,
            partition_by=["lang"],
        )
        write_iceberg(docs.filter(F.col("doc_id") % 2 == 1), path)
        lo, hi = _UNIFORM_REV_RANGE
        delete_where_iceberg(
            spark, path, "doc_id", lo, hi, strategy="merge-on-read"
        )
        uniform_delta_metadata(spark, path)
    return path


def uniform_rev_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for REVERSE UniForm (r12): the
    Delta-protocol read of an Iceberg-written, MOR-deleted table must
    reconstruct the identity partition from converted hive strings and
    hide exactly the position-deleted rows through the converted
    deletion vector.  The oracle restates the same content off the raw
    parquet; Iceberg-side `_rows` parity is pinned in pytest, so a
    value match proves both protocols agree with the source of
    truth."""
    from . import deltaproto as dp

    path = _ensure_uniform_rev_lake(spark, sf_dir)
    snap = dp.read_delta(spark, path)
    return (
        snap.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("lang")
    )


UNIFORM_REV_ORACLE_SQL = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
WHERE doc_id NOT BETWEEN {_UNIFORM_REV_RANGE[0]} AND {_UNIFORM_REV_RANGE[1]}
GROUP BY lang
ORDER BY lang
"""


#: Bump when the partition-stats fixture's pipeline changes shape.
_ICEBERG_PSTATS_LAKE_VERSION = 1
#: doc_id range MOR-deleted before the stats computation.
_PSTATS_RANGE = (150, 249)


def _ensure_pstats_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once fixture for partition statistics: documents as a
    lang-partitioned Iceberg table (two appends), a merge-on-read
    position DELETE of a doc_id range, then the spec's partition
    statistics file computed and registered."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir(
            "iceberg_pstats", _ICEBERG_PSTATS_LAKE_VERSION, sf_dir
        ),
        "docs_iceberg_pstats",
    )
    if not _metadata_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_iceberg(
            docs.filter(F.col("doc_id") % 2 == 0),
            path,
            partition_by=["lang"],
        )
        write_iceberg(docs.filter(F.col("doc_id") % 2 == 1), path)
        lo, hi = _PSTATS_RANGE
        delete_where_iceberg(
            spark, path, "doc_id", lo, hi, strategy="merge-on-read"
        )
        write_iceberg_partition_stats(path)
    return path


def iceberg_pstats_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for PARTITION STATISTICS (r12): the
    registered stats file's per-partition data and position-delete
    record counts must equal what the raw table implies — the oracle
    restates both off the raw parquet, so a value match proves the
    manifest fold (record_count sums, per-partition delete
    attribution, unified partition struct) is exact.  Metadata-only:
    the entry never scans a data file."""
    path = _ensure_pstats_lake(spark, sf_dir)
    stats = read_iceberg_meta(spark, path, "partition_stats")
    return (
        stats.select(
            F.col("partition.lang").alias("lang"),
            F.col("data_record_count").alias("data_records"),
            F.col("position_delete_record_count").alias("pos_deleted"),
            (
                F.col("data_record_count")
                - F.col("position_delete_record_count")
            ).alias("live_records"),
        )
        .orderBy("lang")
    )


ICEBERG_PSTATS_ORACLE_SQL = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS data_records,
       CAST(SUM(CASE WHEN doc_id BETWEEN {_PSTATS_RANGE[0]} AND
                {_PSTATS_RANGE[1]} THEN 1 ELSE 0 END) AS BIGINT)
           AS pos_deleted,
       CAST(COUNT(*) - SUM(CASE WHEN doc_id BETWEEN {_PSTATS_RANGE[0]}
                AND {_PSTATS_RANGE[1]} THEN 1 ELSE 0 END) AS BIGINT)
           AS live_records
FROM documents
GROUP BY lang
ORDER BY lang
"""


#: Bump when the NDV-stats fixture's pipeline changes shape.
_ICEBERG_NDV_LAKE_VERSION = 1


def _ensure_ndv_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once fixture for table statistics: documents as an
    Iceberg table with theta NDV sketches computed and registered for
    its low-cardinality columns (lang, source) — below the sketch's
    nominal k the KMV estimate is LOSSLESS, so the entry is exactly
    oracle-checkable at every SF."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir(
            "iceberg_ndv", _ICEBERG_NDV_LAKE_VERSION, sf_dir
        ),
        "docs_iceberg_ndv",
    )
    if not _metadata_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_iceberg(docs.repartition(8), path)
        write_iceberg_table_stats(spark, path, columns=["lang", "source"])
    return path


def iceberg_ndv_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for TABLE STATISTICS (r12): the registered
    `apache-datasketches-theta-v1` NDV sketches must reproduce the
    exact distinct counts for below-k columns — a value match proves
    the murmur-hash canonicalization, the KMV retention, the compact
    serialization, and the statistics registration round-trip."""
    path = _ensure_ndv_lake(spark, sf_dir)
    ndv = read_iceberg_ndv(path)
    rows = [(c, int(n)) for c, n in sorted(ndv.items())]
    return local_rows_df(spark, rows, "col string, ndv bigint").orderBy(
        "col"
    )


ICEBERG_NDV_ORACLE_SQL = """
SELECT 'lang' AS col, CAST(COUNT(DISTINCT lang) AS BIGINT) AS ndv
FROM documents
UNION ALL
SELECT 'source' AS col, CAST(COUNT(DISTINCT source) AS BIGINT) AS ndv
FROM documents
ORDER BY col
"""


#: Bump when the equality-upsert fixture's pipeline changes shape.
_ICEBERG_EQ_LAKE_VERSION = 1
#: Upserted keys — present at every SF (documents spans 0..499 even
#: at sf0.001).
_EQ_UPSERT_IDS = (5, 17, 123, 250, 411, 499)


def _ensure_eq_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once equality-upsert fixture: documents as an
    UNPARTITIONED v2 table, a key-based equality DELETE of six doc_ids,
    then replacement rows for the same keys appended AFTER the delete
    (source rewritten to 'upserted') — the CDC upsert shape.  The
    replacements carry a higher data sequence number than the delete,
    so the spec's strictly-below rule must keep them while hiding the
    originals."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("iceberg_eq", _ICEBERG_EQ_LAKE_VERSION, sf_dir),
        "docs_iceberg_eq",
    )
    if not _metadata_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_iceberg(docs.repartition(4), path, format_version=2)
        delete_eq_iceberg(path, ["doc_id"], list(_EQ_UPSERT_IDS))
        repl = docs.filter(
            F.col("doc_id").isin(*_EQ_UPSERT_IDS)
        ).withColumn("source", F.lit("upserted"))
        write_iceberg(repl, path, mode="append")
    return path


def iceberg_eq_upsert_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for EQUALITY-delete round-trips: read the
    upsert fixture back through the full v2 metadata tree and
    aggregate per source.  The oracle restates the upsert over the raw
    parquet (CASE-map the six keys to 'upserted'), so a value match
    proves the O(keys) delete file hid EXACTLY the old rows (null-safe
    key match, sequence strictly-below) and the re-appended
    replacements survived — no row lost, none doubled."""
    snap = read_iceberg(spark, _ensure_eq_lake(spark, sf_dir))
    return (
        snap.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("source")
    )


ICEBERG_EQ_ORACLE_SQL = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM (
    SELECT CASE WHEN doc_id IN {_EQ_UPSERT_IDS} THEN 'upserted'
                ELSE source END AS source,
           doc_id, text
    FROM documents
)
GROUP BY source
ORDER BY source
"""


_ICEBERG_V2_LAKE_VERSION = 1


def _ensure_v2_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once v2 fixture table shared by the v2-deletes and
    changelog entries: documents partitioned by lang, two OVERLAPPING
    merge-on-read deletes (doc_id 100-199 then 150-249), then a
    copy-on-write delete (300-349) over live position-delete files."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("iceberg_v2", _ICEBERG_V2_LAKE_VERSION, sf_dir),
        "docs_iceberg_v2",
    )
    if not _metadata_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_iceberg(docs, path, partition_by=["lang"])
        delete_where_iceberg(
            spark, path, "doc_id", 100, 199, strategy="merge-on-read"
        )
        delete_where_iceberg(
            spark, path, "doc_id", 150, 249, strategy="merge-on-read"
        )
        delete_where_iceberg(spark, path, "doc_id", 300, 349)
    return path


def iceberg_v2_deletes_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for the v2 DELETE paths: write `documents`
    partitioned by lang (v1), merge-on-read DELETE two OVERLAPPING
    doc_id ranges — the first upgrades the table to format-version 2
    (position-delete parquet + sequence numbers); the second lands
    only newly-matched positions against a table ALREADY carrying
    deletes — then copy-on-write DELETE a third range while live
    position-delete files mask the EXISTING files (carried delete
    manifests), and read the final snapshot back through the full v2
    metadata tree.  A value match against the raw-parquet oracle
    proves sequence bookkeeping, delete-manifest carry-forward, and
    position-delete application are all exact."""
    snap = read_iceberg(spark, _ensure_v2_lake(spark, sf_dir))
    return (
        snap.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("lang")
    )


def iceberg_changes_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for the CHANGELOG: derive the row-level
    change feed of the shared v2 fixture table across all four
    snapshots and aggregate per (lang, change type).  The oracle
    restates the expected feed off the raw parquet — inserts are the
    initial load, deletes are exactly the union of the deleted ranges
    (the overlapping merge-on-read deletes must not double-report
    150-199, and the copy-on-write rewrite must report NO carryover
    inserts) — so a value match proves newly-matched-only position
    deletes, pre-image masking, and carryover removal."""
    ch = read_changes_iceberg(spark, _ensure_v2_lake(spark, sf_dir))
    return (
        ch.groupBy("lang", "_change_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("lang", "_change_type")
    )


ICEBERG_CHANGES_ORACLE_SQL = """
SELECT lang, _change_type, n_rows, sum_ids FROM (
    SELECT lang,
           'insert' AS _change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM documents GROUP BY lang
    UNION ALL
    SELECT lang,
           'delete' AS _change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM documents
    WHERE doc_id BETWEEN 100 AND 249 OR doc_id BETWEEN 300 AND 349
    GROUP BY lang
)
ORDER BY lang, _change_type
"""


#: Bump when the transform-partitioned fixture changes shape.
_ICEBERG_TX_LAKE_VERSION = 1


def _ensure_transform_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once transform-partitioned fixture: orders as a real
    Iceberg table partitioned by years(o_orderdate) + bucket(4,
    o_custkey) — the canonical time-plus-hash layout a 100-TB event
    table ships with (Flink/Spark writers emit exactly this spec)."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("iceberg_tx", _ICEBERG_TX_LAKE_VERSION, sf_dir),
        "orders_iceberg",
    )
    if not _metadata_versions(path):
        orders = load_table(spark, sf_dir, "orders")
        write_iceberg(
            orders,
            path,
            partition_by=["years(o_orderdate)", "bucket(4, o_custkey)"],
        )
    return path


def iceberg_transforms_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for PARTITION TRANSFORMS: orders written as a
    real Iceberg table partitioned by `years(o_orderdate)` +
    `bucket(4, o_custkey)` (spec transform strings in the metadata
    JSON, transformed values in manifest partition tuples with result
    types, source columns KEPT in data files per the projection rule),
    then two pruned scans through the metadata tiers: a year-range
    scan (predicate bounds mapped through the monotone `year`
    transform) aggregated per order priority, and a bucket point
    lookup (the predicate value hashed with the spec's seed-0 murmur3
    into one bucket).  The oracle restates both legs off the raw
    parquet, so a value match proves the transform math, hive landing,
    Avro partition typing, and pruned reads are all exact; the skip
    COUNTS are pinned in pytest."""
    import datetime

    path = _ensure_transform_lake(spark, sf_dir)
    rng, _fr, _fs, _ms = read_iceberg_pruned(
        spark,
        path,
        "o_orderdate",
        datetime.datetime(1995, 1, 1),
        datetime.datetime(1995, 12, 31),
    )
    range_leg = rng.groupBy(
        F.col("o_orderpriority").alias("leg")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("sum_keys"),
    )
    pt, _fr2, _fs2, _ms2 = read_iceberg_pruned(
        spark, path, "o_custkey", 42, 42
    )
    point_leg = pt.groupBy(F.lit("custkey:42").alias("leg")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("sum_keys"),
    )
    return range_leg.unionByName(point_leg).orderBy("leg")


def iceberg_meta_tables_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for METADATA TABLES: the `partitions`
    inspection table of the shared v1 interop fixture (append ×2 +
    copy-on-write delete) must account for every live row WITHOUT
    touching a single data file — record counts come purely from
    manifest bookkeeping.  The oracle restates the same per-lang
    counts off the raw parquet, so a value match proves the
    add/existing/deleted status folding and per-entry record_count
    stats are exact (a file double-counted across carried manifests,
    or a DELETED entry left live, breaks the match)."""
    # reuse (and build if needed) the interop fixture
    iceberg_interop_entry(spark, sf_dir).count()
    from ..functions.scale import default_index_dir

    path = os.path.join(
        default_index_dir("iceberg", _ICEBERG_LAKE_VERSION, sf_dir),
        "docs_iceberg",
    )
    parts = read_iceberg_meta(spark, path, "partitions")
    return (
        parts.select(
            F.get_json_object("partition", "$.lang").alias("lang"),
            "record_count",
            "file_count",
        )
        .groupBy("lang")
        .agg(
            F.sum("record_count").cast("bigint").alias("n_rows"),
            F.sum("file_count").cast("bigint").alias("n_files_gt0"),
        )
        .select(
            "lang",
            "n_rows",
            (F.col("n_files_gt0") > 0).alias("has_files"),
        )
        .orderBy("lang")
    )


ICEBERG_META_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS has_files
FROM documents
WHERE doc_id NOT BETWEEN 100 AND 199
GROUP BY lang
ORDER BY lang
"""


ICEBERG_TRANSFORMS_ORACLE_SQL = """
SELECT leg, n_rows, sum_keys FROM (
    SELECT o_orderpriority AS leg,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                          AND TIMESTAMP '1995-12-31'
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'custkey:42' AS leg,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
    FROM orders
    WHERE o_custkey = 42
)
ORDER BY leg
"""


ICEBERG_V2_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
WHERE doc_id NOT BETWEEN 100 AND 249
  AND doc_id NOT BETWEEN 300 AND 349
GROUP BY lang
ORDER BY lang
"""


ICEBERG_INTEROP_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
WHERE doc_id NOT BETWEEN 100 AND 199
GROUP BY lang
ORDER BY lang
"""


#: Bump when the v3 fixture lifecycle changes shape.
_ICEBERG_V3_LAKE_VERSION = 1


def _ensure_v3_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once v3 fixture exercising the whole deletion-vector
    lifecycle: even docs land partitioned by lang (v1), a merge-on-read
    DELETE (100-199) creates position-delete parquet (v2), the upgrade
    folds those into puffin DVs (v3), the odd docs append AFTER the
    upgrade (row-lineage assignment over a live-DV table), and a second
    overlapping DELETE (150-249) replaces DVs with merged supersets.
    The surviving set is therefore ranges over PARITY×ID — exactly
    restatable in SQL."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("iceberg_v3", _ICEBERG_V3_LAKE_VERSION, sf_dir),
        "docs_iceberg_v3",
    )
    if not _metadata_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_iceberg(
            docs.filter(F.col("doc_id") % 2 == 0),
            path,
            partition_by=["lang"],
        )
        delete_where_iceberg(
            spark, path, "doc_id", 100, 199, strategy="merge-on-read"
        )
        upgrade_iceberg_format(spark, path, 3)
        write_iceberg(docs.filter(F.col("doc_id") % 2 == 1), path)
        delete_where_iceberg(
            spark, path, "doc_id", 150, 249, strategy="merge-on-read"
        )
    return path


def iceberg_v3_dv_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for the v3 DELETION-VECTOR path (table spec
    v3 + Puffin spec): the fixture's first delete lands as v2
    position-delete parquet, the upgrade folds it into per-data-file
    roaring DVs in one puffin file, a post-upgrade append proves DVs
    are file-scoped (re-appended ids survive), and the second
    OVERLAPPING delete must write replacement DVs containing their
    predecessors (one live DV per file) while marking the superseded
    blobs DELETED.  The oracle restates the survivor set off the raw
    parquet — evens deleted in 100-199, everyone deleted in 150-249 —
    so a value match proves blob framing (CRC + magic), bitmap
    merge-on-replace, manifest rewrite, and DV application are all
    exact."""
    snap = read_iceberg(spark, _ensure_v3_lake(spark, sf_dir))
    return (
        snap.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("lang")
    )


ICEBERG_V3_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
WHERE NOT (doc_id BETWEEN 150 AND 249)
  AND NOT (doc_id BETWEEN 100 AND 199 AND doc_id % 2 = 0)
GROUP BY lang
ORDER BY lang
"""


#: Bump when the lineage fixture lifecycle changes shape.
_ICEBERG_LINEAGE_LAKE_VERSION = 1


def _ensure_lineage_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once row-lineage fixture with DETERMINISTIC id
    assignment: each batch lands as ONE file sorted by doc_id, so
    `_row_id` = the doc's rank within its batch plus the batch's
    first-row-id offset — a mapping SQL can restate exactly.  Batch 1
    is the evens, batch 2 the odds, then a DV delete removes 100-249
    (ids stay immutable for survivors)."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir(
            "iceberg_lineage", _ICEBERG_LINEAGE_LAKE_VERSION, sf_dir
        ),
        "docs_iceberg_lineage",
    )
    if not _metadata_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang"
        )
        for parity in (0, 1):
            batch = (
                docs.filter(F.col("doc_id") % 2 == parity)
                .repartition(1)
                .sortWithinPartitions("doc_id")
            )
            write_iceberg(batch, path, format_version=3)
        delete_where_iceberg(
            spark, path, "doc_id", 100, 249, strategy="merge-on-read"
        )
    return path


def iceberg_row_lineage_entry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-tail entry for v3 ROW LINEAGE: read the lineage fixture
    with `_row_id` / `_last_updated_sequence_number` attached and
    aggregate per lang — count, sum/min/max of the row ids, and the
    set-sum of update sequences.  The oracle recomputes every
    surviving row's id from first principles (rank within its sorted
    single-file batch + the batch's first-row-id offset, offsets being
    exact batch sizes because manifest assignment consumes
    added_rows_count), so a value match proves inheritance-based id
    assignment, next-row-id bookkeeping across commits, and id
    immutability under DV deletes — the property that makes _row_id a
    durable join key for incremental downstream pipelines at 100 TB."""
    lin = read_iceberg(
        spark, _ensure_lineage_lake(spark, sf_dir), with_row_lineage=True
    )
    return (
        lin.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_row_id").cast("bigint").alias("sum_row_ids"),
            F.min("_row_id").cast("bigint").alias("min_row_id"),
            F.max("_row_id").cast("bigint").alias("max_row_id"),
            F.sum("_last_updated_sequence_number")
            .cast("bigint")
            .alias("sum_seqs"),
        )
        .orderBy("lang")
    )


ICEBERG_LINEAGE_ORACLE_SQL = """
WITH ids AS (
    SELECT doc_id, lang,
           (ROW_NUMBER() OVER (
                PARTITION BY doc_id % 2 ORDER BY doc_id
            ) - 1)
           + CASE WHEN doc_id % 2 = 1
                  THEN (SELECT COUNT(*) FROM documents
                        WHERE doc_id % 2 = 0)
                  ELSE 0 END AS row_id,
           CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 1 END AS seq
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(row_id) AS BIGINT) AS sum_row_ids,
       CAST(MIN(row_id) AS BIGINT) AS min_row_id,
       CAST(MAX(row_id) AS BIGINT) AS max_row_id,
       CAST(SUM(seq) AS BIGINT) AS sum_seqs
FROM ids
WHERE doc_id NOT BETWEEN 100 AND 249
GROUP BY lang
ORDER BY lang
"""


#: Keys replaced / cloned by the atomic-upsert fixture (populated at
#: every SF) and the doc_id offset of the inserted twins.
_ATOMIC_UPSERT_IDS = (20, 21, 22, 23)
_ATOMIC_UPSERT_OFFSET = 10_000_000

#: Bump when the atomic-upsert fixture lifecycle changes shape.
_ICEBERG_UPSERT_LAKE_VERSION = 1


def _ensure_upsert_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once atomic-upsert fixture: documents as a v2 table, then
    ONE `upsert_iceberg` commit that simultaneously REPLACES four keys
    (source → 'upserted') and INSERTS four new rows (doc_id + 10M,
    source 'inserted') — replacements, insertions, and the equality
    delete all at the same sequence number in one snapshot."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir(
            "iceberg_upsert", _ICEBERG_UPSERT_LAKE_VERSION, sf_dir
        ),
        "docs_iceberg_upsert",
    )
    if not _metadata_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_iceberg(docs.repartition(4), path, format_version=2)
        hit = docs.filter(F.col("doc_id").isin(*_ATOMIC_UPSERT_IDS))
        repl = hit.withColumn("source", F.lit("upserted"))
        ins = hit.select(
            (F.col("doc_id") + _ATOMIC_UPSERT_OFFSET).alias("doc_id"),
            F.lit("inserted").alias("source"),
            "lang",
            "text",
        )
        upsert_iceberg(spark, repl.unionByName(ins), path, ["doc_id"])
    return path


def iceberg_upsert_atomic_entry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-tail entry for the ATOMIC single-snapshot upsert: one
    commit carries the replacement rows, brand-new rows, AND the
    equality delete of the replaced keys at the same sequence number.
    The oracle restates the post-state off the raw parquet (CASE-map
    the replaced keys, UNION the inserted twins), so a value match
    proves the strictly-below rule keeps the same-sequence
    replacements while hiding every older key row — the commit shape
    that makes CDC upserts atomic at 100 TB (no reader can see the
    delete without the re-insert)."""
    snap = read_iceberg(spark, _ensure_upsert_lake(spark, sf_dir))
    return (
        snap.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("source")
    )


ICEBERG_UPSERT_ORACLE_SQL = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM (
    SELECT CASE WHEN doc_id IN {_ATOMIC_UPSERT_IDS} THEN 'upserted'
                ELSE source END AS source,
           doc_id, text
    FROM documents
    UNION ALL
    SELECT 'inserted' AS source,
           doc_id + {_ATOMIC_UPSERT_OFFSET} AS doc_id,
           text
    FROM documents
    WHERE doc_id IN {_ATOMIC_UPSERT_IDS}
)
GROUP BY source
ORDER BY source
"""


#: doc_id threshold splitting the defaults fixture's two eras.
_DEFAULTS_SPLIT = 500

#: Bump when the defaults fixture lifecycle changes shape.
_ICEBERG_DEFAULTS_LAKE_VERSION = 1


def _ensure_defaults_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once v3-default-values fixture: era 1 (doc_id < 500)
    lands BEFORE the column exists; `evolve_iceberg_schema` then adds
    `score long` with default 7; era 2 (doc_id >= 500) lands after,
    carrying real scores — doc_id % 100, with every % 10 == 3 row a
    REAL NULL that must not be overwritten by the default."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir(
            "iceberg_defaults", _ICEBERG_DEFAULTS_LAKE_VERSION, sf_dir
        ),
        "docs_iceberg_defaults",
    )
    if not _metadata_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang"
        )
        ib_split = F.col("doc_id") < _DEFAULTS_SPLIT
        write_iceberg(docs.filter(ib_split).repartition(2), path)
        evolve_iceberg_schema(path, add=[("score", "long", 7)])
        era2 = docs.filter(~ib_split).withColumn(
            "score",
            F.when(F.col("doc_id") % 10 == 3, F.lit(None))
            .otherwise(F.col("doc_id") % 100)
            .cast("long"),
        )
        write_iceberg(era2, path)
    return path


def iceberg_defaults_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for v3 DEFAULT VALUES: a column added with
    `initial-default` after the first era landed.  The oracle restates
    the era rule in SQL (old rows read 7, new rows their written value
    INCLUDING real NULLs), so a value match proves per-file column
    presence is decided correctly from field-id stats — defaults fill
    exactly the pre-evolution files, never clobbering genuine nulls —
    the metadata-only ADD COLUMN ... DEFAULT a 100-TB table needs (no
    backfill rewrite of a petabyte of history)."""
    snap = read_iceberg(spark, _ensure_defaults_lake(spark, sf_dir))
    return (
        snap.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("score").cast("bigint").alias("sum_scores"),
            F.count("score").cast("bigint").alias("n_scored"),
            F.sum(
                F.when(F.col("score") == 7, 1).otherwise(0)
            ).cast("bigint").alias("n_default"),
        )
        .orderBy("lang")
    )


ICEBERG_DEFAULTS_ORACLE_SQL = f"""
WITH scored AS (
    SELECT lang,
           CASE WHEN doc_id < {_DEFAULTS_SPLIT} THEN 7
                WHEN doc_id % 10 = 3 THEN NULL
                ELSE doc_id % 100 END AS score
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(score) AS BIGINT) AS sum_scores,
       CAST(COUNT(score) AS BIGINT) AS n_scored,
       CAST(SUM(CASE WHEN score = 7 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_default
FROM scored
GROUP BY lang
ORDER BY lang
"""


_ICEBERG_VARIANT_LAKE_VERSION = 1


def _ensure_variant_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once v3 VARIANT fixture: two appends of (doc_id, props)
    where props is a real VARIANT built from the row's own fields,
    then a merge-on-read DV delete over a doc_id range — variant +
    Puffin deletion vectors + row lineage on one v3 table."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir(
            "iceberg_variant", _ICEBERG_VARIANT_LAKE_VERSION, sf_dir
        ),
        "docs_iceberg_variant",
    )
    if not _metadata_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.parse_json(
                F.to_json(F.struct("lang", "source", "n_chars"))
            ).alias("props"),
        )
        half = F.col("doc_id") % 2 == 0
        write_iceberg(
            docs.filter(half).repartition(2), path, format_version=3
        )
        write_iceberg(
            docs.filter(~half).repartition(2), path,
            mode="append", format_version=3,
        )
        delete_where_iceberg(
            spark, path, "doc_id", 100, 199, strategy="merge-on-read"
        )
    return path


def iceberg_variant_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for the Iceberg v3 VARIANT type: read the
    variant table (DV mask applied), extract typed fields with
    variant_get, and aggregate.  The oracle restates the aggregate
    from the raw documents parquet, so a value match proves the v3
    storage round-trip — schema type `variant`, annotated parquet,
    Puffin-DV-masked scan — is lossless field-by-field."""
    snap = read_iceberg(spark, _ensure_variant_lake(spark, sf_dir))
    return (
        snap.select(
            F.variant_get("props", "$.lang", "string").alias("lang"),
            F.variant_get("props", "$.n_chars", "long").alias("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
        )
        .orderBy("lang")
    )


ICEBERG_VARIANT_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars
FROM documents
WHERE doc_id NOT BETWEEN 100 AND 199
GROUP BY lang
ORDER BY lang
"""


def iceberg_changes_eq_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for the CHANGELOG over EQUALITY-DELETE
    snapshots (r11 — previously a refusal): changelog-read the atomic
    upsert fixture and aggregate per (ordinal, change type, source).
    The oracle restates the exact feed — snapshot 1 inserts every
    original document; snapshot 2 deletes the four replaced keys'
    OLD images and inserts their replacements plus the four fresh
    rows.  A value match proves the eq-delete leg reports precisely
    the newly-hidden rows (older sequence only, no phantom keys, no
    re-reported history).  Scale shape: the eq leg scans only
    affected files (sequence-pruned), masked diff, no cartesian."""
    ch = read_changes_iceberg(spark, _ensure_upsert_lake(spark, sf_dir))
    return (
        ch.groupBy("_snapshot_ordinal", "_change_type", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("_snapshot_ordinal", "_change_type", "source")
    )


ICEBERG_CHANGES_EQ_ORACLE_SQL = f"""
WITH feed AS (
    SELECT 1 AS _snapshot_ordinal, 'insert' AS _change_type,
           source, doc_id
    FROM documents
    UNION ALL
    SELECT 2, 'delete', source, doc_id
    FROM documents WHERE doc_id IN {_ATOMIC_UPSERT_IDS}
    UNION ALL
    SELECT 2, 'insert', 'upserted', doc_id
    FROM documents WHERE doc_id IN {_ATOMIC_UPSERT_IDS}
    UNION ALL
    SELECT 2, 'insert', 'inserted', doc_id + {_ATOMIC_UPSERT_OFFSET}
    FROM documents WHERE doc_id IN {_ATOMIC_UPSERT_IDS}
)
SELECT CAST(_snapshot_ordinal AS BIGINT) AS _snapshot_ordinal,
       _change_type, source,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM feed
GROUP BY _snapshot_ordinal, _change_type, source
ORDER BY _snapshot_ordinal, _change_type, source
"""


_ICEBERG_STREAM_HOURS_LAKE_VERSION = 1


def _ensure_stream_hours_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once STREAMED fixture: the events table micro-batched
    through the partitioned exactly-once streaming sink into an
    Iceberg table partitioned by `hours(ts)` — the canonical
    time-partitioned CDC landing shape (r12; timestamp-sourced
    transforms previously refused in the sink).  The stream source is
    pre-bucketed by hour so each partition tuple lands in ONE task —
    without it, a T-task micro-batch writes up to T files per hour
    tuple; at 100 TB the upstream job should bucket/sort by the
    partition source for exactly this reason."""
    from ..functions.scale import default_index_dir
    from . import icestream, load_table

    base = default_index_dir(
        "iceberg_sh", _ICEBERG_STREAM_HOURS_LAKE_VERSION, sf_dir
    )
    path = os.path.join(base, "events_hours_iceberg")
    done = os.path.join(base, "_DONE")
    if not os.path.exists(done):
        # build is NOT failure-atomic (empty pre-create + stream):
        # a marker decides completeness, and any partial tree from an
        # interrupted build is discarded
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        icestream.register(spark)
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        )
        src = os.path.join(base, "_src")
        ckpt = os.path.join(base, "_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        # `ts` is TimestampNTZ (events.parquet is TIMESTAMP(NANOS,
        # isAdjustedToUTC=false)); calendar fields on NTZ are tz-free,
        # so this hour bucketing is engine-deterministic
        ev.repartition(
            8, F.col("ts").cast("date"), F.hour("ts")
        ).write.mode("overwrite").parquet(src)
        write_iceberg(ev.limit(0), path, partition_by=["hours(ts)"])
        q = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp_ntz, "
                "user_id bigint, event_type string"
            )
            .parquet(src)
            .writeStream.format("iceberg")
            .option("path", path)
            .option("streamAppId", "stream-hours-fixture")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):  # pragma: no cover - hang guard
            q.stop()
            raise TimeoutError("stream-hours fixture build timed out")
        with open(done, "w") as fh:
            fh.write("ok\n")
    return path


def iceberg_stream_hours_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for TIMESTAMP PARTITION TRANSFORMS through
    the partitioned exactly-once STREAMING sink (r12): events streamed
    into an `hours(ts)`-partitioned Iceberg table (hour values
    computed python-side in the sink workers from the row codec's
    naive-UTC datetimes — probed engine-deterministic), then a 2-day
    pruned scan (predicate bounds mapped through the monotone `hour`
    transform skip non-matching tuples unopened) aggregated per event
    type.  The oracle restates the window off the raw parquet, so a
    value match proves the python hour kernel, hive landing, manifest
    partition structs, and pruned read are all exact; pruning counts
    and exactly-once replay are pinned in pytest."""
    import datetime

    path = _ensure_stream_hours_lake(spark, sf_dir)
    df, _fr, _fs, _ms = read_iceberg_pruned(
        spark,
        path,
        "ts",
        datetime.datetime(2024, 1, 2, 0, 0, 0),
        datetime.datetime(2024, 1, 3, 23, 59, 59, 999999),
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("event_type")
    )


ICEBERG_STREAM_HOURS_ORACLE_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
  AND ts < TIMESTAMP '2024-01-04 00:00:00'
GROUP BY event_type
ORDER BY event_type
"""


_ICEBERG_DECIMAL_LAKE_VERSION = 2


def _ensure_decimal_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once DECIMAL + NESTED fixture (r13: the flat-schema gates
    are gone): lineitem cast to decimal money columns plus a struct
    column, landed under a `truncate(1000000, price)` partition spec
    (Appendix-B decimal truncate floors the UNSCALED value, so width
    10^6 at scale 2 = 10000.00-wide buckets — ~11 partitions), then a decimal
    range DELETE (copy-on-write over decimal bounds) and a
    metadata-only precision widening decimal(12,2)→decimal(20,2)."""
    from decimal import Decimal

    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir(
            "iceberg_decimal", _ICEBERG_DECIMAL_LAKE_VERSION, sf_dir
        ),
        "li_iceberg_decimal",
    )
    if not _metadata_versions(path):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
            F.col("l_quantity").cast("decimal(8,2)").alias("qty"),
            F.struct(
                F.col("l_returnflag").alias("rf"),
                F.col("l_linestatus").alias("ls"),
            ).alias("flags"),
        )
        write_iceberg(
            li.repartition(4),
            path,
            partition_by=["truncate(1000000, price)"],
        )
        delete_where_iceberg(
            spark, path, "price", Decimal("2000.00"), Decimal("2999.99")
        )
        evolve_iceberg_schema(path, widen={"price": "decimal(20, 2)"})
    return path


def iceberg_decimal_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for DECIMAL + NESTED types in the Iceberg
    tier: a pruned scan over the widened decimal column (bounds wrote
    at decimal(12,2), read at decimal(20,2) — Appendix-D bytes decode
    at any width; the truncate partition tier maps the range through
    the monotone decimal transform), grouped on a STRUCT member.  The
    oracle restates the cast/delete/filter pipeline in SQL, so a value
    match proves schema mapping, decimal stats, hive decimal landing,
    the copy-on-write delete, and precision widening are all exact."""
    from decimal import Decimal

    path = _ensure_decimal_lake(spark, sf_dir)
    df, _fr, _fs, _ms = read_iceberg_pruned(
        spark, path, "price", Decimal("1000.00"), Decimal("50000.00")
    )
    return (
        df.groupBy(F.col("flags.rf").alias("rf"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("price").cast("decimal(18,2)").alias("sum_price"),
            F.max("qty").cast("decimal(8,2)").alias("max_qty"),
            F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
        )
        .orderBy("rf")
    )


ICEBERG_DECIMAL_ORACLE_SQL = """
WITH src AS (
    SELECT l_orderkey,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
           CAST(l_quantity AS DECIMAL(8,2)) AS qty,
           l_returnflag AS rf
    FROM lineitem
)
SELECT rf,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price) AS DECIMAL(18,2)) AS sum_price,
       CAST(MAX(qty) AS DECIMAL(8,2)) AS max_qty,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM src
WHERE price BETWEEN 1000.00 AND 50000.00
  AND NOT (price BETWEEN 2000.00 AND 2999.99)
GROUP BY rf
ORDER BY rf
"""


_ICEBERG_EXOTIC_LAKE_VERSION = 1


def _ensure_exotic_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once uuid/fixed/time fixture (r13: the primitive type
    matrix is complete): orders derive a uuid column (md5 hex in
    canonical 8-4-4-4-12 form), a fixed[8] column (the md5's first 8
    bytes) and a time-of-day column (o_orderkey % 86400 seconds since
    midnight — TimeType values cross the Arrow boundary in a
    mapInPandas kernel because Spark 4.1 has no expression that
    CONSTRUCTS a TIME), landed under a `bucket(4, u)` spec with
    declared `iceberg_types={"u": "uuid", "fx": "fixed[8]"}`, then a
    copy-on-write DELETE re-lands affected files through the
    surrogate + pyarrow rewrite pass."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir(
            "iceberg_exotic", _ICEBERG_EXOTIC_LAKE_VERSION, sf_dir
        ),
        "orders_iceberg_exotic",
    )
    if not _metadata_versions(path):
        src = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("okey"),
            F.md5(F.col("o_orderkey").cast("string")).alias("h"),
            ((F.col("o_orderkey") * 9973) % 86400).alias("secs"),
        ).select(
            "okey",
            F.concat_ws(
                "-",
                F.substring("h", 1, 8),
                F.substring("h", 9, 4),
                F.substring("h", 13, 4),
                F.substring("h", 17, 4),
                F.substring("h", 21, 12),
            ).alias("u"),
            F.unhex(F.substring("h", 1, 16)).alias("fx"),
            "secs",
        )

        def to_time(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "okey": pdf["okey"],
                        "u": pdf["u"],
                        "fx": pdf["fx"],
                        "tm": [
                            _time_of_micros(int(s) * 1_000_000)
                            for s in pdf["secs"]
                        ],
                    }
                )

        df = src.mapInPandas(
            to_time, schema="okey bigint, u string, fx binary, tm time(6)"
        )
        write_iceberg(
            df.repartition(4),
            path,
            partition_by=["bucket(4, u)"],
            iceberg_types={"u": "uuid", "fx": "fixed[8]"},
        )
        delete_where_iceberg(spark, path, "okey", 500, 600)
    return path


def iceberg_exotic_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for uuid/fixed/time: a TIME-range pruned scan
    (bounds wrote as INT64 TIME(MICROS); the Arrow kernel projects
    TimeType) over a bucket(4, uuid)-partitioned table, uuid and
    fixed[8] projected back out as canonical string / hex.  The
    oracle restates the md5/secs derivation in SQL, so a value match
    proves the Appendix-A physical forms, Appendix-D bounds and the
    copy-on-write delete over exotic columns are all exact."""
    import datetime

    path = _ensure_exotic_lake(spark, sf_dir)
    df, _fr, _fs, _ms = read_iceberg_pruned(
        spark,
        path,
        "tm",
        datetime.time(6, 0, 0),
        datetime.time(8, 59, 59, 999999),
    )
    return df.select(
        "u",
        F.hex(F.col("fx")).alias("fx_hex"),
        F.col("tm").cast("string").alias("tm_str"),
        "okey",
    ).orderBy("okey")


ICEBERG_EXOTIC_ORACLE_SQL = """
WITH src AS (
    SELECT o_orderkey AS okey,
           md5(CAST(o_orderkey AS VARCHAR)) AS h,
           (o_orderkey * 9973) % 86400 AS secs
    FROM orders
)
SELECT substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' ||
       substr(h, 13, 4) || '-' || substr(h, 17, 4) || '-' ||
       substr(h, 21, 12) AS u,
       upper(substr(h, 1, 16)) AS fx_hex,
       lpad(CAST(secs // 3600 AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST((secs % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST(secs % 60 AS VARCHAR), 2, '0') AS tm_str,
       okey
FROM src
WHERE secs BETWEEN 21600 AND 32399
  AND NOT (okey BETWEEN 500 AND 600)
ORDER BY okey
"""


_ICEBERG_MAINT_LAKE_VERSION = 1


def _ensure_maint_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once MAINTENANCE fixture (r13 continuation): a SORTED v2
    table (write_iceberg(sort_by) — disjoint per-file bounds) whose
    metadata then flips to gzip (`write.metadata.compression-codec`),
    takes two merge-on-read range DELETEs (two position-delete
    files), and compacts them with `rewrite_iceberg_position_deletes`
    (one delete file, gz-compressed commit).  The serving read folds
    sorted data files + ONE compacted pos-delete file through gzip
    metadata — three r13 ops in the same oracle-graded path."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir(
            "iceberg_maint", _ICEBERG_MAINT_LAKE_VERSION, sf_dir
        ),
        "orders_iceberg_maint",
    )
    if not _metadata_versions(path):
        src = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_custkey").alias("ckey"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        write_iceberg(
            src.repartition(4),
            path,
            format_version=2,
            sort_by=["okey"],
        )
        set_iceberg_properties(
            path, {"write.metadata.compression-codec": "gzip"}
        )
        delete_where_iceberg(
            spark, path, "okey", 100, 199, strategy="merge-on-read"
        )
        delete_where_iceberg(
            spark, path, "okey", 1200, 1399, strategy="merge-on-read"
        )
        rewrite_iceberg_position_deletes(spark, path)
    return path


def iceberg_maint_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for the maintenance tier: a bounds-pruned
    range scan over the sorted files (the sort wrote disjoint
    per-file okey ranges, so the manifest tier skips files) with the
    COMPACTED position-delete file applied, under gzip metadata.  The
    oracle restates the two deleted ranges in SQL — a value match
    proves the rewrite dropped nothing, kept the right positions, and
    the gz metadata chain reads exactly."""
    path = _ensure_maint_lake(spark, sf_dir)
    df, _fr, _fs, _ms = read_iceberg_pruned(spark, path, "okey", 1, 4000)
    return (
        df.groupBy((F.col("okey") % 7).alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("okey").cast("bigint").alias("sum_keys"),
            F.sum("price").cast("decimal(18,2)").alias("sum_price"),
            F.countDistinct("ckey").cast("bigint").alias("n_custs"),
        )
        .orderBy("bucket")
    )


ICEBERG_MAINT_ORACLE_SQL = """
SELECT o_orderkey % 7 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS sum_price,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders
WHERE o_orderkey BETWEEN 1 AND 4000
  AND NOT (o_orderkey BETWEEN 100 AND 199)
  AND NOT (o_orderkey BETWEEN 1200 AND 1399)
GROUP BY 1
ORDER BY 1
"""


QUERIES = {
    "lake_iceberg_interop": iceberg_interop_entry,
    "lake_iceberg_v2_deletes": iceberg_v2_deletes_entry,
    "lake_iceberg_changes": iceberg_changes_entry,
    "lake_uniform_dual": uniform_dual_entry,
    "lake_iceberg_eq_upsert": iceberg_eq_upsert_entry,
    "lake_iceberg_transforms": iceberg_transforms_entry,
    "lake_iceberg_meta": iceberg_meta_tables_entry,
    "lake_iceberg_v3_dv": iceberg_v3_dv_entry,
    "lake_iceberg_row_lineage": iceberg_row_lineage_entry,
    "lake_iceberg_upsert_atomic": iceberg_upsert_atomic_entry,
    "lake_iceberg_defaults": iceberg_defaults_entry,
    "lake_iceberg_variant": iceberg_variant_entry,
    "lake_iceberg_changes_eq": iceberg_changes_eq_entry,
    "lake_iceberg_stream_hours": iceberg_stream_hours_entry,
    "lake_uniform_dv": uniform_dv_entry,
    "lake_uniform_rev": uniform_rev_entry,
    "lake_iceberg_pstats": iceberg_pstats_entry,
    "lake_iceberg_ndv": iceberg_ndv_entry,
    "lake_iceberg_decimal": iceberg_decimal_entry,
    "lake_iceberg_exotic": iceberg_exotic_entry,
    "lake_iceberg_maint": iceberg_maint_entry,
}

ORACLES = {
    "lake_iceberg_interop": ICEBERG_INTEROP_ORACLE_SQL,
    "lake_iceberg_v2_deletes": ICEBERG_V2_ORACLE_SQL,
    "lake_iceberg_changes": ICEBERG_CHANGES_ORACLE_SQL,
    "lake_uniform_dual": UNIFORM_DUAL_ORACLE_SQL,
    "lake_iceberg_eq_upsert": ICEBERG_EQ_ORACLE_SQL,
    "lake_iceberg_transforms": ICEBERG_TRANSFORMS_ORACLE_SQL,
    "lake_iceberg_meta": ICEBERG_META_ORACLE_SQL,
    "lake_iceberg_v3_dv": ICEBERG_V3_ORACLE_SQL,
    "lake_iceberg_row_lineage": ICEBERG_LINEAGE_ORACLE_SQL,
    "lake_iceberg_upsert_atomic": ICEBERG_UPSERT_ORACLE_SQL,
    "lake_iceberg_defaults": ICEBERG_DEFAULTS_ORACLE_SQL,
    "lake_iceberg_variant": ICEBERG_VARIANT_ORACLE_SQL,
    "lake_iceberg_changes_eq": ICEBERG_CHANGES_EQ_ORACLE_SQL,
    "lake_iceberg_stream_hours": ICEBERG_STREAM_HOURS_ORACLE_SQL,
    "lake_uniform_dv": UNIFORM_DV_ORACLE_SQL,
    "lake_uniform_rev": UNIFORM_REV_ORACLE_SQL,
    "lake_iceberg_pstats": ICEBERG_PSTATS_ORACLE_SQL,
    "lake_iceberg_ndv": ICEBERG_NDV_ORACLE_SQL,
    "lake_iceberg_decimal": ICEBERG_DECIMAL_ORACLE_SQL,
    "lake_iceberg_exotic": ICEBERG_EXOTIC_ORACLE_SQL,
    "lake_iceberg_maint": ICEBERG_MAINT_ORACLE_SQL,
}
