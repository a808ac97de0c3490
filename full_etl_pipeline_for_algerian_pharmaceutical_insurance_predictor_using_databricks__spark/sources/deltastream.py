"""Spark DataSource over the REAL Delta log — `sources/deltaproto.py`
surfaced as a first-class `format("deltaproto")` for batch and
Structured Streaming, the contract delta-spark gives real Delta
tables: a table is also a stream.

- **Batch** (`spark.read.format("deltaproto").load(path)`): the
  current snapshot, one live add-action → one `InputPartition`; each
  task reads exactly one immutable parquet file, applies its deletion
  vector, reconstructs partition columns from the add's
  partitionValues, and resolves column mapping (name mode).
- **Streaming** (`spark.readStream.format("deltaproto").load(path)`):
  the `_delta_log` IS the offset log — `{"version": v}` marks the
  last consumed commit and each micro-batch carries the rows of the
  dataChange add actions in `(start, end]`.  dataChange:false commits
  (OPTIMIZE / checkpoints) contribute nothing and do not break the
  stream; a remove with dataChange inside the range fails the batch
  loudly (incremental consumption spans appends — re-sync from a
  snapshot, delta-spark's own rule without `ignoreChanges`).
  With `option("readChangeFeed", "true")` the stream is the CDF
  instead: committed `cdc` actions win (their `_change_data` parquet
  IS the batch), insert-only commits derive inserts, delete-only
  commits derive deletes from the still-present pre-image files
  (partition values and prior DVs applied via the rolled-forward
  pre-image fold), and underivable mixed rewrites fail loudly —
  `deltaproto.read_changes_delta`'s rules, per micro-batch.

Readers run in Python workers on pyarrow; rows are schema-ordered
tuples.  The slow general path by design — bulk snapshot reads stay
on `deltaproto.read_delta` (JVM scans); the DataSource exists for the
STREAMING contract, where the per-trigger delta is small.  Snapshot
state is folded by `_fold_py`, a pure-Python twin of
`_fold_delta_state` (JSON tail + pyarrow checkpoint) usable where no
SparkSession exists (DataSource.schema() and executor readers).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from . import deltaproto as dp

FORMAT_NAME = "deltaproto"


def _rt_option(options: dict) -> bool:
    v = options.get("withrowtracking", options.get("withRowTracking"))
    return str(v).lower() == "true"


def _rt_cols_of(path: str) -> tuple[str, str]:
    """Materialized row-id/commit-version column names of a
    row-tracked table; refuses when row tracking is off."""
    meta, _live, _v = _fold_py(path)
    cols = dp._rt_materialized_cols(meta)
    if cols is None:
        raise ValueError(
            "withRowTracking on a table without row tracking — run "
            "enable_delta_row_tracking first"
        )
    return cols


def _cdf_option(options: dict) -> bool:
    v = options.get("readchangefeed", options.get("readChangeFeed", "false"))
    return str(v).lower() == "true"


def _fold_py(path: str, version: int | None = None):
    """Pure-Python snapshot fold: newest usable parquet checkpoint
    (pyarrow) + the JSON tail, with the same per-commit removes-then-
    adds reconciliation as `deltaproto._fold_delta_state`.  Returns
    (metaData, {file: add-action}, version)."""
    import pyarrow.parquet as pq

    vs = dp.delta_versions(path)
    ckpt = dp._last_checkpoint(path)
    live: dict[str, dict] = {}
    meta = None
    proto: dict = {}
    start_after = -1
    if ckpt is not None and (version is None or ckpt["version"] <= version):
        ck_v = int(ckpt["version"])
        ck_files = dp._find_checkpoint_files(path, ck_v)

        def rows_of(f: str):
            if f.endswith(".json"):
                out = []
                with open(f) as fh:
                    for line in fh:
                        line = line.strip()
                        if line:
                            out.append(json.loads(line))
                return out
            return pq.read_table(f).to_pylist()

        if ck_files:
            sidecars: list[str] = []
            for f in ck_files:  # multi-part classic or v2 top-level
                for d in rows_of(f):
                    if d.get("add") and d["add"].get("path"):
                        live[d["add"]["path"]] = d["add"]
                    if d.get("remove") and d["remove"].get("path"):
                        live.pop(d["remove"]["path"], None)
                    if d.get("metaData") and d["metaData"].get("id"):
                        meta = d["metaData"]
                    if d.get("protocol") and d["protocol"].get(
                        "minReaderVersion"
                    ):
                        proto = d["protocol"]
                    if d.get("sidecar") and d["sidecar"].get("path"):
                        sidecars.append(d["sidecar"]["path"])
            for sc in sidecars:  # v2: file actions live in sidecars
                sc_file = (
                    sc
                    if os.path.isabs(sc)
                    else os.path.join(dp._log_dir(path), "_sidecars", sc)
                )
                for d in rows_of(sc_file):
                    if d.get("add") and d["add"].get("path"):
                        live[d["add"]["path"]] = d["add"]
                    if d.get("remove") and d["remove"].get("path"):
                        live.pop(d["remove"]["path"], None)
            start_after = ck_v
    if version is None:
        if not vs and start_after < 0:
            raise FileNotFoundError(f"no Delta log under {path}")
        version = vs[-1] if vs else start_after
    for v in vs:
        if v <= start_after or v > version:
            continue
        commit_adds: dict[str, dict] = {}
        commit_removes: list[str] = []
        for a in dp._read_actions(path, v):
            if "add" in a:
                commit_adds[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                commit_removes.append(a["remove"]["path"])
            elif "metaData" in a:
                meta = a["metaData"]
            elif "protocol" in a:
                proto = a["protocol"]
        for p in commit_removes:
            live.pop(p, None)
        live.update(commit_adds)
    if proto:
        dp._check_protocol(proto)
    if meta is None:
        raise ValueError(f"Delta log under {path} has no metaData action")
    return meta, live, version


def _strip_field_metadata(dt):
    """Schema with every StructField's metadata dropped, recursively.
    Delta schemaStrings carry columnMapping / generationExpression
    field metadata, but Spark's streaming scan asserts
    `fromArrowSchema(prefetched batch) == declared schema` with
    metadata-inclusive StructField equality — and Arrow round-trips
    drop the metadata, so a mapped/generated table's stream would die
    on that assert unless the DataSource declares a clean schema."""
    from pyspark.sql.types import ArrayType, MapType, StructField

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(
                    f.name, _strip_field_metadata(f.dataType), f.nullable
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_strip_field_metadata(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _strip_field_metadata(dt.keyType),
            _strip_field_metadata(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _latest_schema(path: str) -> StructType:
    meta, _live, _v = _fold_py(path)
    schema = _strip_field_metadata(
        StructType.fromJson(json.loads(meta["schemaString"]))
    )
    if dp._schema_has_variant(schema):
        # the stream tasks decode files with pyarrow in Python workers,
        # and this pyarrow build cannot open VARIANT-typed parquet —
        # refuse loudly instead of failing mid-stream inside a task
        raise ValueError(
            "variant columns are not supported by the deltaproto "
            "STREAM reader (pyarrow-decoded tasks) — read the table "
            "in batch via read_delta"
        )
    return schema


def _pv_value(spark_type: str, raw: str | None):
    """One hive-string partition value → the Python value Spark's
    DataSource row converter expects for the field's type."""
    if raw is None:
        return None
    if spark_type in ("tinyint", "smallint", "int", "bigint"):
        return int(raw)
    if spark_type in ("float", "double"):
        return float(raw)
    if spark_type == "boolean":
        return raw.lower() == "true"
    if spark_type == "date":
        import datetime

        return datetime.date.fromisoformat(raw)
    if spark_type == "string":
        return raw
    raise ValueError(
        f"partition type {spark_type!r} unsupported by the deltaproto "
        "DataSource"
    )


def _meta_layout(meta: dict, field_names: list[str]):
    """(physical-name per logical field, partition cols (logical),
    {logical: spark simpleString type}, {logical: parquet field id} or
    None) — the per-file read plan.  In `id` mapping mode data columns
    resolve by parquet FIELD ID (the fourth element); physical names
    still key partitionValues per the spec."""
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    fids = None
    if dp._mapping_mode(meta) == "id":
        id_map = dp._field_id_mapping(meta)
        mapping = {k: v[1] for k, v in id_map.items()}
        fids = {k: v[0] for k, v in id_map.items()}
    else:
        mapping = dp._column_mapping(meta)
    phys_to_log = {v: k for k, v in mapping.items()}
    part_cols = [
        phys_to_log.get(c, c) for c in (meta.get("partitionColumns") or [])
    ]
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    return mapping, part_cols, types, fids


def _add_rows(
    path: str,
    meta: dict,
    add: dict,
    field_names: list[str],
    positions: set[int] | None = None,
    rt_cols: tuple[str, str] | None = None,
) -> list[tuple]:
    """Rows of one add-action's file as schema-ordered tuples: DV
    positions hidden (or, when `positions` is given, ONLY those
    positions emitted — the CDF delete-derivation shape), partition
    columns reconstructed, column mapping resolved.  With `rt_cols`
    (the table's materialized hidden column names), the reserved
    names `_row_id` / `_row_commit_version` in `field_names` resolve
    by the row-tracking rule: materialized file column wins, else the
    add-action anchor (baseRowId + position / defaultRowCommitVersion)."""
    import pyarrow.parquet as pq

    mapping, part_cols, types, fids = _meta_layout(meta, field_names)
    fpath = os.path.join(path, add["path"])
    table = pq.read_table(fpath)
    cols = {n: table.column(n).to_pylist() for n in table.column_names}
    if fids is not None:
        # id mode: remap file columns to LOGICAL names by the parquet
        # field ids the writer stamped (names are free to differ
        # file-to-file across renames — that is the point of id mode)
        id_to_name = {}
        for f in table.schema:
            md = f.metadata or {}
            fid = md.get(b"PARQUET:field_id")
            if fid is not None:
                id_to_name[int(fid)] = f.name
        remapped = {
            logical: cols[id_to_name[fid]]
            for logical, fid in fids.items()
            if fid in id_to_name and id_to_name[fid] in cols
        }
        if rt_cols:
            # materialized row-tracking columns carry no field id —
            # they survive the remap under their own names
            for c in rt_cols:
                if c in cols:
                    remapped[c] = cols[c]
        cols = remapped
    pv = add.get("partitionValues") or {}
    # partitionValues keys stay PHYSICAL in both mapping modes
    part_vals = {
        c: _pv_value(types[c], pv.get(mapping.get(c, c), pv.get(c)))
        for c in part_cols
    }
    if fids is not None:
        mapping = {}  # data columns were remapped to logical names
    hidden: set[int] = set()
    if positions is None and add.get("deletionVector"):
        hidden = set(dp._dv_positions(path, add["deletionVector"]))
    out = []
    for i in range(table.num_rows):
        if positions is not None:
            if i not in positions:
                continue
        elif i in hidden:
            continue
        row = []
        for name in field_names:
            if rt_cols and name == "_row_id":
                rid, _rcv = rt_cols
                mat = cols.get(rid, [None] * table.num_rows)[i]
                base = add.get("baseRowId")
                row.append(
                    mat if mat is not None
                    else (base + i if base is not None else None)
                )
            elif rt_cols and name == "_row_commit_version":
                _rid, rcv = rt_cols
                mat = cols.get(rcv, [None] * table.num_rows)[i]
                row.append(
                    mat if mat is not None
                    else add.get("defaultRowCommitVersion")
                )
            elif name in part_cols:
                row.append(part_vals[name])
            else:
                phys = mapping.get(name, name)
                row.append(cols[phys][i] if phys in cols else None)
        out.append(tuple(row))
    return out


@dataclass
class _DeltaPartition(InputPartition):
    add_json: str


class DeltaProtoReader(DataSourceReader):
    """Batch: the current snapshot — or time travel via
    `option("versionAsOf", v)` / `option("timestampAsOf", epoch_ms)`,
    the same reader options delta-spark exposes — one task per live
    add-action."""

    def __init__(self, options: dict, schema: StructType):
        path = options.get("path")
        if not path:
            raise ValueError("deltaproto requires a path")
        self.path = path
        self.field_names = [f.name for f in schema.fields]
        self.rt_cols = _rt_cols_of(path) if _rt_option(options) else None
        v = options.get("versionasof", options.get("versionAsOf"))
        ts = options.get("timestampasof", options.get("timestampAsOf"))
        if v is not None and ts is not None:
            raise ValueError("pass versionAsOf OR timestampAsOf, not both")
        self.version: int | None = int(v) if v is not None else None
        if ts is not None:
            self.version = dp.delta_version_at_timestamp(path, int(ts))

    def partitions(self) -> list[_DeltaPartition]:
        _meta, live, _v = _fold_py(self.path, self.version)
        return [_DeltaPartition(json.dumps(live[f])) for f in sorted(live)]

    def read(self, partition: _DeltaPartition) -> Iterator[tuple]:
        meta, _live, _v = _fold_py(self.path, self.version)
        yield from _add_rows(
            self.path,
            meta,
            json.loads(partition.add_json),
            self.field_names,
            rt_cols=self.rt_cols,
        )


class DeltaProtoStreamReader(SimpleDataSourceStreamReader):
    """The Delta log as the streaming offset log (see module doc)."""

    def __init__(self, options: dict, schema: StructType):
        path = options.get("path")
        if not path:
            raise ValueError("deltaproto requires a path")
        self.path = path
        self.cdf = _cdf_option(options)
        self.rt_cols = _rt_cols_of(path) if _rt_option(options) else None
        base = [f.name for f in schema.fields]
        if self.cdf:
            base = [
                n for n in base if n not in ("_change_type", "_commit_version")
            ]
        self.field_names = base
        # schema fingerprint at stream start: a mid-stream schema
        # change (rename/drop/widen commits a new metaData) must FAIL
        # the stream like delta-spark does — silently decoding old
        # batches against a moved mapping serves stale column names
        meta0, _l0, _v0 = _fold_py(path)
        self._schema_sig = self._sig_of(meta0)

    @staticmethod
    def _sig_of(meta: dict) -> list[tuple[str, str]]:
        return [
            (f["name"], json.dumps(f["type"], sort_keys=True))
            for f in json.loads(meta["schemaString"])["fields"]
        ]

    def _check_schema_stable(self, meta: dict) -> None:
        if self._sig_of(meta) != self._schema_sig:
            raise ValueError(
                "the Delta table schema changed since this stream "
                "started (rename/drop/add/widen) — restart the stream "
                "from a NEW checkpoint so it binds the new schema"
            )

    def _check_offset_schema(self, start: dict) -> None:
        """The offset log carries the schema hash the stream was bound
        to when it produced that offset; a resumed stream whose table
        schema moved underneath the checkpoint must fail LOUDLY with
        the cause (delta-spark's rule) — without this, the failure
        surfaces as an opaque sink-side schema mismatch."""
        import hashlib

        want = start.get("schema")
        if want is None:
            return  # pre-upgrade checkpoint: stable-schema guard only
        have = hashlib.sha256(
            json.dumps(self._schema_sig).encode()
        ).hexdigest()[:16]
        if want != have:
            raise ValueError(
                "this checkpoint was written against a different table "
                "schema (rename/drop/add/widen since) — restart the "
                "stream from a NEW checkpoint so it binds the new schema"
            )

    def _offset(self, version: int) -> dict:
        import hashlib

        return {
            "version": version,
            "schema": hashlib.sha256(
                json.dumps(self._schema_sig).encode()
            ).hexdigest()[:16],
        }

    def initialOffset(self) -> dict:
        return self._offset(-1)

    def _plain_rows(self, start_v: int, end_v: int) -> list[tuple]:
        meta, live, _v = _fold_py(self.path)
        self._check_schema_stable(meta)
        rows: list[tuple] = []
        for v in dp.delta_versions(self.path):
            if not start_v < v <= end_v:
                continue
            acts = dp._read_actions(self.path, v)
            removes = [
                a["remove"]
                for a in acts
                if "remove" in a and a["remove"].get("dataChange", True)
            ]
            if removes:
                raise ValueError(
                    f"deltaproto stream hit a data-changing remove at "
                    f"version {v} — incremental consumption only spans "
                    "appends; restart the stream from a fresh snapshot"
                )
            for a in acts:
                if "add" in a and a["add"].get("dataChange"):
                    add = a["add"]
                    if self.rt_cols and add.get("baseRowId") is None:
                        # commits that PREDATE row-tracking enablement
                        # carry no anchors — the id is a property of
                        # the FILE, so resolve it from the live fold
                        # (the enablement backfill re-added every live
                        # file with its assigned range)
                        cur = live.get(add["path"])
                        if cur is not None:
                            add = dict(
                                add,
                                baseRowId=cur.get("baseRowId"),
                                defaultRowCommitVersion=cur.get(
                                    "defaultRowCommitVersion"
                                ),
                            )
                    rows.extend(
                        _add_rows(
                            self.path,
                            meta,
                            add,
                            self.field_names,
                            rt_cols=self.rt_cols,
                        )
                    )
        return rows

    def _change_rows(self, start_v: int, end_v: int) -> list[tuple]:
        """CDF rows for (start_v, end_v] — `read_changes_delta`'s
        derivation rules per micro-batch, with the pre-image fold
        rolled forward so derived deletes reconstruct partition
        columns and respect prior DVs."""
        import pyarrow.parquet as pq

        meta, _live, _v = _fold_py(self.path)
        self._check_schema_stable(meta)
        pre_live: dict[str, dict] = {}
        if start_v >= 0:
            try:
                _m, pre_live, _pv = _fold_py(self.path, start_v)
            except (ValueError, FileNotFoundError):
                pre_live = {}
        rows: list[tuple] = []
        for v in dp.delta_versions(self.path):
            if v > end_v:
                break
            if v <= start_v:
                continue
            acts = dp._read_actions(self.path, v)
            all_adds = {a["add"]["path"]: a["add"] for a in acts if "add" in a}
            all_removes = [a["remove"] for a in acts if "remove" in a]
            cdc = [a["cdc"] for a in acts if "cdc" in a]
            if cdc:
                for c in cdc:
                    t = pq.read_table(os.path.join(self.path, c["path"]))
                    cols = {
                        n: t.column(n).to_pylist() for n in t.column_names
                    }
                    for i in range(t.num_rows):
                        rows.append(
                            tuple(
                                cols[n][i] if n in cols else None
                                for n in self.field_names
                            )
                            + (cols["_change_type"][i], v)
                        )
            else:
                adds = {
                    p: a for p, a in all_adds.items() if a.get("dataChange")
                }
                removes = [
                    r for r in all_removes if r.get("dataChange", True)
                ]
                if adds and removes:
                    raise ValueError(
                        f"commit {v}: mixed add+remove rewrite without cdc "
                        "actions — change feed not derivable"
                    )
                for a in adds.values():
                    for r in _add_rows(self.path, meta, a, self.field_names):
                        rows.append(r + ("insert", v))
                for rm in removes:
                    pre = pre_live.get(rm["path"], rm)
                    if not os.path.exists(
                        os.path.join(self.path, rm["path"])
                    ):
                        raise ValueError(
                            f"commit {v}: removed file no longer present — "
                            "cannot reconstruct the change feed"
                        )
                    for r in _add_rows(
                        self.path, meta, pre, self.field_names
                    ):
                        rows.append(r + ("delete", v))
            for rm in all_removes:
                pre_live.pop(rm["path"], None)
            pre_live.update(all_adds)
        return rows

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        self._check_offset_schema(start)
        vs = dp.delta_versions(self.path)
        end_v = vs[-1] if vs else start["version"]
        rows = (
            self._change_rows(start["version"], end_v)
            if self.cdf
            else self._plain_rows(start["version"], end_v)
        )
        # materialized list, not a generator: the engine's prefetch
        # cache copies the returned iterator for replay
        return iter(rows), self._offset(end_v)

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        self._check_offset_schema(start)
        rows = (
            self._change_rows(start["version"], end["version"])
            if self.cdf
            else self._plain_rows(start["version"], end["version"])
        )
        return iter(rows)


@dataclass
class _DeltaWriteMessage(WriterCommitMessage):
    file_name: str | None
    n_rows: int


class DeltaProtoStreamWriter(DataSourceStreamWriter):
    """Streaming sink (`df.writeStream.format("deltaproto")`): the
    engine's at-least-once micro-batch replay becomes exactly-once via
    the Delta spec's `txn` action — each commit carries
    (appId, version=batchId) and a replayed batch whose id is not
    newer than the appId's committed txn state commits NOTHING (its
    just-landed files stay unreferenced, `vacuum_delta` fodder).
    Tasks land immutable uuid parquet files; `commit` claims one log
    version per micro-batch with per-file stats, creating the table
    (protocol + metaData) on the first commit.  Unpartitioned targets
    only — the tuple-at-a-time Python path cannot land hive tuples."""

    def __init__(self, options: dict, schema: StructType):
        path = options.get("path")
        if not path:
            raise ValueError("deltaproto requires a path")
        self.path = path
        self.schema = schema
        self.app_id = options.get(
            "txnappid", options.get("txnAppId", "deltastream-sink")
        )
        if dp.delta_versions(path):
            meta, _live, _v = _fold_py(path)
            if meta.get("partitionColumns"):
                raise ValueError(
                    "format('deltaproto') streaming sink cannot write to "
                    "a PARTITIONED table; use foreachBatch over "
                    "deltaproto.write_delta (which lands hive tuples)"
                )
            if dp._column_mapping(meta):
                raise ValueError(
                    "writing to a column-mapped Delta table is unsupported"
                )
            # the sink lands rows in Python workers and cannot run the
            # write-time validations write_delta enforces — refuse
            # rather than land unvalidated rows on a guarded table
            # (checked before the schema comparison: a guarded table
            # refuses regardless of what schema the stream brings)
            if any(
                k.startswith("delta.constraints.")
                for k in (meta.get("configuration") or {})
            ):
                raise ValueError(
                    "the target table has CHECK constraints — the "
                    "streaming sink cannot validate them; use "
                    "foreachBatch over deltaproto.write_delta"
                )
            if dp._generation_exprs(meta):
                raise ValueError(
                    "the target table has GENERATED columns — the "
                    "streaming sink cannot compute/verify them; use "
                    "foreachBatch over deltaproto.write_delta"
                )
            existing = json.loads(meta["schemaString"])
            ours = json.loads(self.schema.json())
            if existing != ours:
                raise ValueError(
                    "stream schema differs from the table's schemaString"
                )

    def write(self, rows) -> _DeltaWriteMessage:
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        tuples = [tuple(r) for r in rows]
        if not tuples:
            return _DeltaWriteMessage(file_name=None, n_rows=0)
        arrow_schema = to_arrow_schema(self.schema)
        cols = list(zip(*tuples))
        table = pa.Table.from_arrays(
            [
                pa.array(col, type=arrow_schema.field(i).type)
                for i, col in enumerate(cols)
            ],
            schema=arrow_schema,
        )
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{_uuid.uuid4().hex}.parquet"
        pq.write_table(table, os.path.join(self.path, name))
        return _DeltaWriteMessage(file_name=name, n_rows=len(tuples))

    def commit(self, messages, batchId: int) -> None:
        import time as _time

        files = sorted(m.file_name for m in messages if m and m.file_name)
        committed = _txn_versions_py(self.path).get(self.app_id, -1)
        if committed >= int(batchId):
            for f in files:  # replay: exactly-once no-op
                full = os.path.join(self.path, f)
                if os.path.exists(full):
                    os.unlink(full)
            return
        now_ms = int(_time.time() * 1000)
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": now_ms,
                        "operation": "STREAMING UPDATE",
                        "operationParameters": {
                            "outputMode": "Append",
                            "epochId": int(batchId),
                        },
                        "engineInfo": "sparkgraft-deltastream/1.0",
                    }
                }
            )
        ]
        if not dp.delta_versions(self.path):
            lines.append(json.dumps({"protocol": dict(dp._WRITE_PROTOCOL)}))
            lines.append(
                json.dumps(
                    {
                        "metaData": {
                            "id": str(__import__("uuid").uuid4()),
                            "format": {"provider": "parquet", "options": {}},
                            "schemaString": self.schema.json(),
                            "partitionColumns": [],
                            "configuration": {},
                            "createdTime": now_ms,
                        }
                    }
                )
            )
        for f in files:
            full = os.path.join(self.path, f)
            add = {
                "path": f,
                "partitionValues": {},
                "size": os.path.getsize(full),
                "modificationTime": now_ms,
                "dataChange": True,
            }
            stats = dp._file_stats_json(full)
            if stats is not None:
                add["stats"] = stats
            lines.append(json.dumps({"add": add}))
        lines.append(
            json.dumps(
                {
                    "txn": {
                        "appId": self.app_id,
                        "version": int(batchId),
                        "lastUpdated": now_ms,
                    }
                }
            )
        )
        dp._claim_delta_version(self.path, lines)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.file_name:
                full = os.path.join(self.path, m.file_name)
                if os.path.exists(full):
                    os.unlink(full)


def _txn_versions_py(path: str) -> dict[str, int]:
    """Pure-Python twin of `deltaproto.delta_txn_versions` (checkpoint
    via pyarrow + JSON tail) for the sink's driver-side replay check."""
    import pyarrow.parquet as pq

    txns: dict[str, int] = {}
    start_after = -1
    ckpt = dp._last_checkpoint(path)
    if ckpt is not None:
        ck_file = os.path.join(
            dp._log_dir(path), dp._CKPT_FMT.format(int(ckpt["version"]))
        )
        if os.path.exists(ck_file):
            t = pq.read_table(ck_file)
            if "txn" in t.column_names:
                for d in t.column("txn").to_pylist():
                    if d and d.get("appId") is not None:
                        txns[d["appId"]] = max(
                            txns.get(d["appId"], -1), int(d["version"])
                        )
            start_after = int(ckpt["version"])
    for v in dp.delta_versions(path):
        if v <= start_after:
            continue
        for a in dp._read_actions(path, v):
            if "txn" in a:
                t = a["txn"]
                txns[t["appId"]] = max(
                    txns.get(t["appId"], -1), int(t["version"])
                )
    return txns


class DeltaProtoDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        from pyspark.sql.types import LongType, StringType

        schema = _latest_schema(self.options["path"])
        if _cdf_option(self.options) and _rt_option(self.options):
            raise ValueError(
                "readChangeFeed and withRowTracking are mutually "
                "exclusive reader options"
            )
        if _cdf_option(self.options):
            schema = schema.add("_change_type", StringType()).add(
                "_commit_version", LongType()
            )
        if _rt_option(self.options):
            _rt_cols_of(self.options["path"])  # refuse early if off
            schema = schema.add("_row_id", LongType()).add(
                "_row_commit_version", LongType()
            )
        return schema

    def reader(self, schema: StructType) -> DeltaProtoReader:
        return DeltaProtoReader(self.options, schema)

    def simpleStreamReader(self, schema: StructType) -> DeltaProtoStreamReader:
        return DeltaProtoStreamReader(self.options, schema)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> DeltaProtoStreamWriter:
        return DeltaProtoStreamWriter(self.options, schema)


def register(spark) -> None:
    spark.dataSource.register(DeltaProtoDataSource)
