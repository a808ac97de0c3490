"""Spark DataSource over the Iceberg metadata tree —
`sources/iceberg.py` surfaced as a first-class `format("iceberg")`
for batch and Structured Streaming, the sibling of
`format("deltaproto")`.

- **Batch** (`spark.read.format("iceberg").load(path)`): the current
  snapshot, one live manifest entry → one `InputPartition`; each task
  reads its parquet file, hides v2 position-delete rows (path-matched)
  and equality-delete rows (null-safe on the equality_ids columns,
  strictly-older-sequence rule), reconstructs typed identity-partition
  columns, and resolves renamed columns through the name-mapping.
- **Streaming** (`spark.readStream.format("iceberg").load(path)`):
  the snapshot log is the offset log — `{"ordinal": n}` marks the
  last consumed snapshot (1-based position, the stable per-table
  ordering) and each micro-batch carries the rows of the data files
  ADDED by the `append` snapshots in `(start, end]` — Iceberg's
  incremental append scan.  `replace` snapshots (compaction) carry no
  new rows and pass through silently; `delete` / `overwrite`
  snapshots fail the batch loudly (an incremental consumer across a
  row-removing snapshot must re-sync — the same rule the deltaproto
  stream applies).

Readers run in Python workers on pyarrow + the avrotiny codec (both
SparkSession-free); rows are schema-ordered tuples.  The slow general
path by design — bulk snapshot reads stay on `iceberg.read_iceberg`
(JVM scans); the DataSource exists for the STREAMING contract, where
the per-trigger delta is small.
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

from . import avrotiny, iceberg as ib

FORMAT_NAME = "iceberg"


def _schema(path: str) -> StructType:
    fields = ib._schema_of(ib.current_metadata(path))
    from .deltaproto import _schema_has_variant

    if _schema_has_variant(ib._spark_schema(fields)):
        # stream tasks decode files with pyarrow in Python workers, and
        # this pyarrow build cannot open VARIANT-typed parquet — refuse
        # loudly instead of failing mid-stream inside a task
        raise ValueError(
            "variant columns are not supported by the iceberg STREAM "
            "reader (pyarrow-decoded tasks) — read the table in batch "
            "via read_iceberg"
        )
    return ib._spark_schema(fields)


def _from_internal(ice_type: str, v):
    """Internal partition repr → the Python value Spark's DataSource
    converter expects (date days-int → datetime.date, timestamptz
    micros → datetime)."""
    import datetime

    if v is None:
        return None
    if ice_type == "date":
        return datetime.date(1970, 1, 1) + datetime.timedelta(days=int(v))
    if ice_type in ("timestamptz", "timestamp"):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=int(v)
        )
    return v


def _snap_ordered(meta: dict) -> list[dict]:
    return sorted(
        meta.get("snapshots") or [], key=lambda s: s.get("timestamp-ms", 0)
    )


def _pyval(t, v):
    """Normalize one pyarrow-decoded value to the shape Spark's
    Python-DataSource codec expects for its Iceberg type: pyarrow
    returns MAP columns as lists of (key, value) PAIRS, the codec
    asserts dict; struct/list recurse for nested maps."""
    if v is None or isinstance(t, str):
        if t == "uuid" and isinstance(v, (bytes, bytearray)):
            return ib._uuid_str(v)  # FLBA(16) → canonical string
        return v
    kind = t.get("type")
    if kind == "struct":
        return {
            f["name"]: _pyval(f["type"], v.get(f["name"]))
            for f in t["fields"]
        }
    if kind == "list":
        return [_pyval(t["element"], x) for x in v]
    if kind == "map":
        pairs = v.items() if isinstance(v, dict) else v
        return {k: _pyval(t["value"], val) for k, val in pairs}
    return v


def _entry_rows(
    path: str,
    meta: dict,
    entry: dict,
    field_names: list[str],
    pos_files: list[str],
    eq_deletes: list[dict],
    dvs: list[dict] | None = None,
) -> list[tuple]:
    """Rows of one data-manifest entry as schema-ordered tuples, with
    v2 deletes (and v3 deletion vectors) applied and
    partition/name-mapping resolved."""
    import pyarrow.parquet as pq

    fields = ib._schema_of(meta)
    # the entry's OWN spec interprets its partition tuple (after
    # partition evolution manifests of different specs coexist)
    spec = ib._specs_by_id(meta).get(
        int(entry.get("_spec_id", 0)), ib._spec_of(meta)
    )
    by_id = {f["id"]: f for f in fields}
    nm = ib._name_mapping(meta)
    # only IDENTITY partition values reconstruct as columns — transform
    # sources live inside the data files (spec projection rule)
    id_pfs = [
        pf for pf in spec if pf.get("transform", "identity") == "identity"
    ]
    part_src = {pf["name"]: by_id[pf["source-id"]]["name"] for pf in id_pfs}
    part_type = {pf["name"]: by_id[pf["source-id"]]["type"] for pf in id_pfs}
    df_rec = entry["data_file"]
    fpath = ib._abs_path(path, df_rec["file_path"])
    tail = fpath.rsplit("/", 1)[-1]
    table = pq.read_table(fpath)
    cols = {n: table.column(n).to_pylist() for n in table.column_names}
    pv = _unslim_partition(df_rec.get("partition") or {})
    part_vals = {
        src: _from_internal(part_type[pname], pv.get(pname))
        for pname, src in part_src.items()
    }
    hidden: set[int] = set()
    for d in dvs or []:
        if d["referenced"].rsplit("/", 1)[-1] == tail:
            from . import puffin

            hidden.update(
                puffin.read_dv(d["path"], d["offset"], d["length"])
            )
    for pf in sorted(set(pos_files)):
        t = pq.read_table(pf, columns=["file_path", "pos"])
        for fp, pos in zip(
            t.column("file_path").to_pylist(), t.column("pos").to_pylist()
        ):
            if fp.rsplit("/", 1)[-1] == tail:
                hidden.add(int(pos))
    seq = int(entry.get("_seq", 0))
    entry_sid = int(entry.get("_spec_id", 0))
    specs_by_id = ib._specs_by_id(meta)
    eq_rows: list[tuple[list[str], set]] = []
    for ed in eq_deletes:
        if seq >= int(ed["seq"]):
            continue  # strictly-older rule: this file postdates it
        # scoping rule: a delete stored under a PARTITIONED spec
        # applies only to data files in the SAME partition of that
        # spec; unpartitioned-spec deletes are global
        d_sid = int(ed.get("spec_id", 0))
        d_spec = specs_by_id.get(d_sid, [])
        if d_spec:
            d_names = [pf["name"] for pf in d_spec]
            if entry_sid != d_sid or tuple(
                (ed.get("partition") or {}).get(n) for n in d_names
            ) != tuple(pv.get(n) for n in d_names):
                continue
        for i in ed["ids"]:
            f0 = by_id.get(i)
            if f0 is None or not isinstance(f0["type"], str):
                raise ValueError(
                    f"equality delete references field id {i}, which is "
                    "not a top-level primitive column of the current "
                    "schema — refusing to mis-apply"
                )
            if f0["type"] in ("uuid", "time") or (
                ib._fixed_size(f0["type"]) is not None
            ):
                raise ValueError(
                    f"equality delete on {f0['name']!r} ({f0['type']}) "
                    "is unsupported — the delete file's physical form "
                    "cannot be matched against the projected column "
                    "without ambiguity"
                )
        names = [by_id[i]["name"] for i in ed["ids"]]
        t = pq.read_table(ed["path"], columns=names)
        vals = {
            tuple(t.column(n)[i].as_py() for n in names)
            for i in range(t.num_rows)
        }
        eq_rows.append((names, vals))

    def value(name: str, i: int):
        if name in part_src.values():
            return part_vals[name]
        fd = next(f for f in fields if f["name"] == name)
        for cand in [name] + [
            n for n in nm.get(fd["id"], []) if n != name
        ]:
            if cand in cols:
                return _pyval(fd["type"], cols[cand][i])
        # v3 default values: a column ABSENT from the file reads its
        # initial-default (files that predate the column), same as the
        # native reader's presence rule
        return fd.get("initial-default")

    out = []
    for i in range(table.num_rows):
        if i in hidden:
            continue
        if any(
            tuple(value(n, i) for n in names) in vals
            for names, vals in eq_rows
        ):
            continue
        out.append(tuple(value(n, i) for n in field_names))
    return out


def _slim_entry(e: dict) -> dict:
    """JSON-safe projection of a manifest entry: exactly what the row
    reader needs (bounds are bytes and never cross the wire; DECIMAL
    partition values ride as tagged strings — json has no Decimal)."""
    import decimal

    df_rec = e["data_file"]
    part = {
        k: ({"__decimal__": str(v)} if isinstance(v, decimal.Decimal) else v)
        for k, v in (df_rec.get("partition") or {}).items()
    }
    return {
        "_seq": int(e.get("_seq", 0)),
        "_spec_id": int(e.get("_spec_id", 0)),
        "data_file": {
            "file_path": df_rec["file_path"],
            "partition": part,
        },
    }


def _unslim_partition(pv: dict) -> dict:
    """Inverse of _slim_entry's partition encoding."""
    import decimal

    return {
        k: (
            decimal.Decimal(v["__decimal__"])
            if isinstance(v, dict) and "__decimal__" in v
            else v
        )
        for k, v in (pv or {}).items()
    }


@dataclass
class _IcePartition(InputPartition):
    entry_json: str


class IcebergReader(DataSourceReader):
    """Batch: the current snapshot — or time travel via
    `option("snapshotId", id)` / a named tag/branch head via
    `option("ref", name)` — one task per live manifest entry."""

    def __init__(self, options: dict, schema: StructType):
        path = options.get("path")
        if not path:
            raise ValueError("iceberg requires a path")
        self.path = path
        self.ref = options.get("ref")
        sid = options.get("snapshotid", options.get("snapshotId"))
        ts = options.get("asoftimestamp", options.get("asOfTimestamp"))
        if sum(x is not None for x in (sid, self.ref, ts)) > 1:
            raise ValueError(
                "pass at most one of snapshotId / ref / asOfTimestamp"
            )
        if ts is not None:
            # TIMESTAMP AS OF, ms epoch — the same reader option real
            # Iceberg DataSources expose; resolves via the snapshot-log
            sid = ib.iceberg_snapshot_at_timestamp(path, int(ts))
        self.snapshot_id: int | None = int(sid) if sid is not None else None
        self.field_names = [f.name for f in schema.fields]

    def _snap(self, meta: dict):
        if self.ref is not None:
            return ib._snapshot(meta, ib._resolve_ref(meta, self.ref))
        return ib._snapshot(meta, self.snapshot_id)

    def partitions(self) -> list[_IcePartition]:
        meta = ib.current_metadata(self.path)
        snap = self._snap(meta)
        if snap is None:
            return []
        # slim JSON-safe projection: full entries carry BYTES bounds
        return [
            _IcePartition(json.dumps(_slim_entry(e)))
            for e in ib._live_entries(self.path, meta, snap)
        ]

    def read(self, partition: _IcePartition) -> Iterator[tuple]:
        meta = ib.current_metadata(self.path)
        snap = self._snap(meta)
        pos_files, eq_deletes, dvs = ib._delete_files(
            self.path, ib._read_manifest_list(self.path, snap)
        )
        yield from _entry_rows(
            self.path,
            meta,
            json.loads(partition.entry_json),
            self.field_names,
            pos_files,
            eq_deletes,
            dvs,
        )


class IcebergStreamReader(SimpleDataSourceStreamReader):
    """The snapshot log as the streaming offset log (see module doc)."""

    def __init__(self, options: dict, schema: StructType):
        path = options.get("path")
        if not path:
            raise ValueError("iceberg requires a path")
        self.path = path
        self.field_names = [f.name for f in schema.fields]
        # schema fingerprint at stream start: evolve_iceberg_schema
        # (rename/drop/add/widen) mid-stream or under a resumed
        # checkpoint must fail LOUDLY with the cause (the delta stream
        # reader's rule) — field ids make old files readable, but the
        # stream's DECLARED schema is fixed at bind time
        self._schema_sig = self._sig_of(ib.current_metadata(path))

    @staticmethod
    def _sig_of(meta: dict) -> str:
        import hashlib

        sig = [
            (f["id"], f["name"], json.dumps(f["type"], sort_keys=True))
            for f in ib._schema_of(meta)
        ]
        return hashlib.sha256(json.dumps(sig).encode()).hexdigest()[:16]

    def _check_schema(self, meta: dict, start: dict) -> None:
        now = self._sig_of(meta)
        if now != self._schema_sig:
            raise ValueError(
                "the Iceberg table schema changed since this stream "
                "started (evolve_iceberg_schema) — restart the stream "
                "from a NEW checkpoint so it binds the new schema"
            )
        want = start.get("schema")
        if want is not None and want != now:
            raise ValueError(
                "this checkpoint was written against a different table "
                "schema — restart the stream from a NEW checkpoint so "
                "it binds the new schema"
            )

    def initialOffset(self) -> dict:
        return {"ordinal": 0, "schema": self._schema_sig}

    def _rows(self, start: int, end: int) -> list[tuple]:
        meta = ib.current_metadata(self.path)
        snaps = _snap_ordered(meta)
        rows: list[tuple] = []
        for ordinal, snap in enumerate(snaps, start=1):
            if not start < ordinal <= end:
                continue
            op = (snap.get("summary") or {}).get("operation", "append")
            if op == "replace":
                continue  # compaction: every row already delivered
            if op != "append":
                raise ValueError(
                    f"iceberg stream hit a {op!r} snapshot at ordinal "
                    f"{ordinal} — incremental consumption only spans "
                    "appends; restart the stream from a fresh snapshot"
                )
            sid = snap["snapshot-id"]
            mfs = ib._read_manifest_list(self.path, snap)
            for mf in ib._data_manifests(mfs):
                for e in ib._read_manifest(self.path, mf):
                    if (
                        e.get("status", 0) == 1
                        and e.get("snapshot_id") == sid
                    ):
                        rows.extend(
                            _entry_rows(
                                self.path,
                                meta,
                                _slim_entry(e),
                                self.field_names,
                                [],
                                [],
                            )
                        )
        return rows

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        meta = ib.current_metadata(self.path)
        self._check_schema(meta, start)
        end = len(_snap_ordered(meta))
        rows = self._rows(start["ordinal"], end)
        # materialized list, not a generator: the engine's prefetch
        # cache copies the returned iterator for replay
        return iter(rows), {"ordinal": end, "schema": self._schema_sig}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        self._check_schema(ib.current_metadata(self.path), start)
        return iter(self._rows(start["ordinal"], end["ordinal"]))


@dataclass
class _IceWriteMessage(WriterCommitMessage):
    file_name: str | None
    n_rows: int
    # partitioned targets: [(rel_path_with_hive_segs, {pf_name:
    # internal_value}, n_rows)] per landed file — JSON-safe payload
    files: list | None = None


class IcebergStreamWriter(DataSourceStreamWriter):
    """Streaming sink (`df.writeStream.format("iceberg")`): the
    engine's at-least-once micro-batch replay becomes exactly-once via
    the snapshot-summary ledger — each commit's summary carries
    (streaming-app-id, streaming-batch-id) and a replayed batch whose
    id is not newer than the app's ledger entry commits NOTHING (its
    just-landed files stay unreferenced — `remove_orphan_iceberg_files`
    fodder), the same contract the deltaproto sink keys on `txn`
    actions.  Tasks land immutable uuid parquet files under `data/`;
    `commit` appends ONE snapshot per micro-batch with footer-derived
    stats, creating the table on the first commit (unpartitioned).

    PARTITIONED targets (pre-created via write_iceberg) fan each
    task's rows out by partition TUPLE — transforms evaluated in the
    Python worker with the same spec-pinned pure-python kernels the
    metadata pruner uses (`_apply_transform_py`: identity / bucket-
    murmur3 / truncate / year / month / day) — landing one hive-pathed
    file per tuple per task, identity source columns dropped from file
    content per the spec's projection rule; `commit` stamps each
    file's partition struct into the manifest, so downstream
    `read_iceberg_pruned` skips non-matching tuples without opening a
    file.  Timestamp-sourced transforms (hours/days/months/years) are
    supported (r12): the DataSource row codec is engine-deterministic
    — probed on this build, a timestamptz value arrives as a NAIVE
    UTC datetime (session-timezone-independent) and an ntz value as
    its wall-clock naive datetime — so `_to_internal`'s naive-as-UTC
    rule yields exactly the spec's internal micros for BOTH types and
    `_apply_transform_py`'s floor-division calendar math never sees a
    session timezone."""

    def __init__(self, options: dict, schema: StructType):
        path = options.get("path")
        if not path:
            raise ValueError("iceberg requires a path")
        self.path = path
        self.schema = schema
        from .deltaproto import _schema_has_variant

        if _schema_has_variant(schema):
            # write_iceberg gates variant on format_version=3; a first
            # commit through this sink would create table metadata at
            # the default (sub-v3) version — or die opaquely in the
            # Arrow conversion inside a task.  Refuse up front.
            raise ValueError(
                "variant columns require format_version=3 and are not "
                "supported by the iceberg STREAM sink — create the "
                "table via write_iceberg(format_version=3) and use "
                "foreachBatch"
            )
        self.app_id = options.get(
            "streamappid", options.get("streamAppId", "icestream-sink")
        )
        self.spec: list[dict] = []
        self.fields: list[dict] | None = None
        if ib._metadata_versions(path):
            meta = ib.current_metadata(path)
            theirs = ib._schema_of(meta)
            ours = ib._iceberg_fields(schema)
            if [(f["name"], f["type"]) for f in ours] != [
                (f["name"], f["type"]) for f in theirs
            ]:
                raise ValueError(
                    "stream schema differs from the Iceberg table schema"
                )
            self.spec = ib._spec_of(meta)
            self.fields = theirs
            by_id = {f["id"]: f for f in theirs}
            for pf in self.spec:
                src = by_id[pf["source-id"]]
                ib._parse_transform(pf.get("transform", "identity"))

    def _tuple_of(self, row: tuple, idx: dict) -> tuple:
        by_id = {f["id"]: f for f in self.fields}
        out = []
        for pf in self.spec:
            src = by_id[pf["source-id"]]
            vi = ib._to_internal(src["type"], row[idx[src["name"]]])
            out.append(ib._apply_transform_py(pf, src["type"], vi))
        return tuple(out)

    def write(self, rows) -> _IceWriteMessage:
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        tuples = [tuple(r) for r in rows]
        if not tuples:
            return _IceWriteMessage(file_name=None, n_rows=0)
        arrow_schema = to_arrow_schema(self.schema)

        def land(rows_k: list[tuple], segs: list[str],
                 drop: set[int]) -> str:
            cols = list(zip(*rows_k))
            table = pa.Table.from_arrays(
                [
                    pa.array(cols[i], type=arrow_schema.field(i).type)
                    for i in range(len(arrow_schema))
                    if i not in drop
                ],
                names=[
                    arrow_schema.field(i).name
                    for i in range(len(arrow_schema))
                    if i not in drop
                ],
            )
            d = os.path.join(self.path, "data", *segs)
            os.makedirs(d, exist_ok=True)
            name = f"{_uuid.uuid4().hex}.parquet"
            pq.write_table(table, os.path.join(d, name))
            return "/".join(segs + [name]) if segs else name

        if not self.spec:
            name = land(tuples, [], set())
            return _IceWriteMessage(file_name=name, n_rows=len(tuples))
        idx = {f.name: i for i, f in enumerate(self.schema.fields)}
        by_id = {f["id"]: f for f in self.fields}
        # identity source columns live in the partition struct, not in
        # file content (the spec's identity-projection rule the batch
        # writer and _read_entries already follow)
        drop = {
            idx[by_id[pf["source-id"]]["name"]]
            for pf in self.spec
            if ib._parse_transform(pf.get("transform", "identity"))[0]
            == "identity"
        }
        groups: dict[tuple, list[tuple]] = {}
        for t in tuples:
            groups.setdefault(self._tuple_of(t, idx), []).append(t)
        files = []
        for key, rows_k in sorted(
            groups.items(), key=lambda kv: str(kv[0])
        ):
            segs = [
                "{}={}".format(
                    pf["name"],
                    "__HIVE_DEFAULT_PARTITION__" if v is None else v,
                )
                for pf, v in zip(self.spec, key)
            ]
            rel = land(rows_k, segs, drop)
            files.append(
                (rel, dict(zip([pf["name"] for pf in self.spec], key)),
                 len(rows_k))
            )
        return _IceWriteMessage(
            file_name=None, n_rows=len(tuples), files=files
        )

    def commit(self, messages, batchId: int) -> None:
        landed: list = []
        for m in messages:
            if m is None:
                continue
            if m.file_name:
                landed.append(m.file_name)
            for rel, pvals, _n in m.files or []:
                landed.append((rel, pvals))
        if not landed:
            return
        snap = ib.commit_iceberg_files(
            self.path,
            landed,
            self.schema,
            app_id=self.app_id,
            batch_id=int(batchId),
            # the spec this writer computed its partition tuples under:
            # a mid-stream evolve_iceberg_spec must refuse the commit
            # (same-name spec changes would silently mis-attribute)
            expect_spec=[
                (
                    pf["name"],
                    pf.get("transform", "identity"),
                    pf["source-id"],
                )
                for pf in self.spec
            ],
        )
        if snap is None:  # replayed batch: exactly-once no-op
            for item in landed:
                rel = item if isinstance(item, str) else item[0]
                full = os.path.join(self.path, "data", rel)
                if os.path.exists(full):
                    os.unlink(full)
            return
        self._maybe_merge_manifests()
        self._maybe_refresh_stats()

    def _maybe_refresh_stats(self) -> None:
        """Post-commit NDV maintenance, OPT-IN via the engine property
        `write.statistics.auto-refresh.enabled` (r14; optional
        `write.statistics.auto-refresh.min-commits`, default 1 =
        every trigger): the first enabled commit lands the initial
        full sketch build, every later one runs the INCREMENTAL union
        (`update_iceberg_table_stats` — O(this batch's files), never a
        table rescan, and it steps over the manifest auto-compaction's
        row-preserving `replace` snapshots).  Best-effort like the
        manifest merge: a failed refresh never fails the committed
        batch, and stale stats are never served (read_iceberg_ndv
        refuses snapshots without a registration)."""
        try:
            from pyspark.sql import SparkSession

            meta = ib.current_metadata(self.path)
            props = meta.get("properties") or {}
            if props.get("write.statistics.auto-refresh.enabled") != "true":
                return
            spark = SparkSession.getActiveSession()
            if spark is None:
                return
            snap = ib._snapshot(meta, None)
            if snap is None:
                return
            regs = meta.get("statistics") or []
            if not regs:
                ib.write_iceberg_table_stats(spark, self.path)
                return
            every = int(
                props.get("write.statistics.auto-refresh.min-commits", 1)
            )
            if every > 1:
                # hops since the newest registration, via parent chain
                reg_sids = {int(e["snapshot-id"]) for e in regs}
                by_sid = {
                    int(s["snapshot-id"]): s
                    for s in meta.get("snapshots") or []
                }
                hops, cur = 0, snap
                while cur is not None and int(cur["snapshot-id"]) not in reg_sids:
                    hops += 1
                    parent = cur.get("parent-snapshot-id")
                    cur = by_sid.get(int(parent)) if parent else None
                if hops < every:
                    return
            ib.update_iceberg_table_stats(spark, self.path)
        except Exception:
            pass  # maintenance only: the batch commit already landed

    def _maybe_merge_manifests(self) -> None:
        """Post-commit manifest auto-compaction, OPT-IN via the table
        properties real Iceberg writers honor —
        `commit.manifest-merge.enabled` (+ the
        `commit.manifest.min-count-to-merge` threshold, default 100):
        every micro-batch appends one manifest, so a long-running
        stream otherwise grows an O(triggers) metadata list that every
        planning pass re-opens.  The rewrite is a `replace` snapshot
        (row-invisible to the changelog and the incremental stream
        reader) and best-effort: a failed compaction never fails the
        already-committed batch, and the exactly-once ledger scans ALL
        snapshot summaries so an interleaved replace never loses a
        (app-id, batch-id) entry."""
        try:
            meta = ib.current_metadata(self.path)
            props = meta.get("properties") or {}
            if props.get("commit.manifest-merge.enabled") != "true":
                return
            min_count = int(
                props.get("commit.manifest.min-count-to-merge", 100)
            )
            snap = ib._snapshot(meta, None)
            if snap is None:
                return
            n = len(
                ib._data_manifests(ib._read_manifest_list(self.path, snap))
            )
            if n >= min_count:
                ib.rewrite_iceberg_manifests(self.path)
        except Exception:
            pass  # maintenance only: the batch commit already landed

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m and m.file_name:
                full = os.path.join(self.path, "data", m.file_name)
                if os.path.exists(full):
                    os.unlink(full)


class IcebergDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        return _schema(self.options["path"])

    def reader(self, schema: StructType) -> IcebergReader:
        return IcebergReader(self.options, schema)

    def simpleStreamReader(self, schema: StructType) -> IcebergStreamReader:
        return IcebergStreamReader(self.options, schema)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return IcebergStreamWriter(self.options, schema)


def register(spark) -> None:
    spark.dataSource.register(IcebergDataSource)
