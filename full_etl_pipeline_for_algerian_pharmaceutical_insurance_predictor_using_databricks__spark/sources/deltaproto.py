"""Delta Lake PROTOCOL interop — read and write real `_delta_log`
tables (reference ING:211 `format("delta")...saveAsTable`; the
`delta-spark` package is not installable in this sandbox, re-verified
every round, but the transaction-log FORMAT is public — the Delta
PROTOCOL.md spec — so this module speaks it directly).

This is the engine's table format, and it is BYTE-LEVEL interop: a
table written here is a protocol-v1 Delta table — `_delta_log/<v>.json`
with `protocol` / `metaData` / `add` / `remove` actions
(newline-delimited JSON), hive-layout partition directories, relative
paths — that any real Delta engine (Spark+delta, DuckDB delta, Trino,
polars) can read; and `read_delta` folds a `_delta_log`
produced by any such engine, including parquet CHECKPOINTS via
`_last_checkpoint`, deletion vectors (v3 `deletionVectors`), and
column mapping in name mode (v3 `columnMapping` — physical parquet
names renamed to the logical schema, physical partitionValues keys);
any OTHER listed reader feature raises loudly rather than mis-read —
the spec's allowlist rule.

Scale notes: snapshot construction is the same driver-side fold real
Delta performs at planning time (the log is the tiny side); data stays
in distributed parquet scans.  Partition values come from the log's
`partitionValues` (authoritative — partition columns are NOT stored in
the data files, per the Delta/Hive layout), attached as typed literal
columns per partition group so Catalyst still prunes and codegens the
scan.  Commits claim versions with an atomic put-if-absent (`os.link`) —
the optimistic concurrency the protocol requires of writers.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import struct
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..parallel import run_concurrently
from .catalog import local_rows_df

_LOG_FMT = "{:020d}.json"
_CKPT_FMT = "{:020d}.checkpoint.parquet"
_CRC_FMT = "{:020d}.crc"

#: Reader/writer protocol versions this module writes (v1 readers —
#: the maximally-compatible tier) and the highest it can READ without
#: feature flags.
_WRITE_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
_MAX_READER_VERSION = 2  # v2 adds nothing a plain reader must act on
#: Reader features (protocol v3+) this module DOES implement.  The
#: Delta spec's rule for v3 tables is an ALLOWLIST: a reader may open
#: the table iff it implements EVERY listed readerFeature — any
#: feature outside this set (including ones newer than this module)
#: must raise, never silently mis-read.
_SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    # timestampNtz only marks the TYPE's presence — schemaString's
    # `timestamp_ntz` maps 1:1 onto Spark's TimestampNTZType
    "timestampNtz",
    # v2 checkpoints (Delta 3.x): UUID-named top-level checkpoint with
    # checkpointMetadata + sidecar actions; file actions live in
    # `_delta_log/_sidecars/*.parquet` — `_fold_delta_state` chases
    # them.  Write side still emits classic checkpoints.
    "v2Checkpoint",
    # type widening: the read schema carries the WIDER type and the
    # parquet reader upcasts narrower file values natively
    "typeWidening",
    # VARIANT type (Delta 4.x): schemaString type "variant", parquet
    # physical group {value, metadata} under the VARIANT logical
    # annotation — Spark 4's parquet reader assembles it natively
    "variantType",
    # shredded variant (typed_value subtrees): Spark reads shredded
    # files natively (spark.sql.variant.allowReadingShredded, default
    # on), so the feature costs nothing extra on the read path
    "variantShredding",
}
#: Protocol announced once a table carries deletion vectors (the spec
#: requires the feature flags from the first DV commit on).
_DV_PROTOCOL = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}

#: Legacy reader versions → the table features they imply (spec's
#: upgrade table, reader side) — expanded when raising a table to the
#: features protocol so nothing the table relied on goes unlisted.
_IMPLIED_READER_FEATURES = {2: ["columnMapping"]}


def _protocol_with_features(
    proto: dict,
    add_reader: list[str] | tuple = (),
    add_writer: list[str] | tuple = (),
) -> dict:
    """The table's protocol raised to the features tier (reader 3 /
    writer 7) with the given features ADDED — existing listed features
    and the legacy-version-implied ones are preserved, never dropped
    (the spec's upgrade rule)."""
    feats_r = set(proto.get("readerFeatures") or [])
    if proto.get("minReaderVersion", 1) < 3:
        for ver, feats in _IMPLIED_READER_FEATURES.items():
            if proto.get("minReaderVersion", 1) >= ver:
                feats_r.update(feats)
    feats_w = set(proto.get("writerFeatures") or [])
    if proto.get("minWriterVersion", 1) < 7:
        for ver, feats in _IMPLIED_WRITER_FEATURES.items():
            if proto.get("minWriterVersion", 1) >= ver:
                feats_w.update(feats)
    feats_r.update(add_reader)
    feats_w.update(add_writer)
    # spec: reader-affecting features appear in BOTH lists
    feats_w.update(feats_r)
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(feats_r),
        "writerFeatures": sorted(feats_w),
    }
_DV_MAGIC = 1681511377


def _log_dir(path: str) -> str:
    return os.path.join(path, "_delta_log")


def delta_versions(path: str) -> list[int]:
    """Committed versions of a Delta table (empty if absent)."""
    ld = _log_dir(path)
    if not os.path.isdir(ld):
        return []
    return sorted(
        int(n[:-5])
        for n in os.listdir(ld)
        if n.endswith(".json") and n[:-5].isdigit()
    )


def _read_actions(path: str, version: int) -> list[dict]:
    """One commit's actions (newline-delimited JSON, per spec)."""
    out = []
    with open(os.path.join(_log_dir(path), _LOG_FMT.format(version))) as f:
        for line in f:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def _check_protocol(proto: dict) -> None:
    if proto.get("minReaderVersion", 1) > _MAX_READER_VERSION:
        feats = set(proto.get("readerFeatures") or [])
        unsupported = feats - _SUPPORTED_READER_FEATURES
        # v3 tables LIST their reader features; the spec says a reader
        # may open the table iff it implements every listed feature —
        # an empty list on a v3 table is malformed, so it raises too
        if unsupported or not feats:
            raise ValueError(
                "Delta table requires unsupported reader capabilities: "
                f"minReaderVersion={proto.get('minReaderVersion')} "
                f"features={sorted(unsupported or feats) or 'unknown'}"
            )


#: Writer features this module implements — the spec's rule for v7
#: writers mirrors the reader allowlist: refuse to WRITE to a table
#: listing any feature we would not honor (e.g. invariants we don't
#: enforce would silently corrupt the table's contract).
_SUPPORTED_WRITER_FEATURES = {
    "deletionVectors",
    "checkConstraints",
    "changeDataFeed",
    "appendOnly",
    "columnMapping",  # write paths refuse separately via _column_mapping
    "timestampNtz",
    # column invariants are enforced at write time (_enforce_constraints
    # reads each field's delta.invariants metadata)
    "invariants",
    # generated columns are verified/derived on write (r9)
    "generatedColumns",
    # v2 checkpoints: write_delta_checkpoint emits the v2 layout on
    # tables announcing the feature (r10)
    "v2Checkpoint",
    # in-commit timestamps: _claim_delta_version stamps a monotone
    # commitInfo.inCommitTimestamp on every commit when the table
    # property is on (r10)
    "inCommitTimestamp",
    # row tracking: baseRowId assignment at claim time, materialized
    # _row_id/_row_commit_version columns on rewrite (r10)
    "rowTracking",
    "domainMetadata",
    # type widening: metadata-only primitive promotion; readers upcast
    # narrower parquet values natively (r10)
    "typeWidening",
    # liquid clustering: columns recorded in the delta.clustering
    # domain; recluster_delta re-runs the rewrite (r10)
    "clustering",
    # VARIANT writes land spec-shaped annotated parquet (write_delta
    # forces UNSHREDDED files for maximum foreign-reader compat and
    # declares only variantType; shredded FOREIGN data still reads)
    "variantType",
    "variantShredding",
    # column DEFAULT values: INSERTs missing the column fill from its
    # CURRENT_DEFAULT expression at write time (r13)
    "allowColumnDefaults",
}


def _check_writer(proto: dict, meta: dict, operation: str) -> None:
    """Gate a WRITE against the table's writer protocol + properties:
    unknown writer features refuse; `delta.appendOnly` tables refuse
    any operation that removes data."""
    if proto.get("minWriterVersion", 1) >= 7:
        feats = set(proto.get("writerFeatures") or [])
        unsupported = feats - _SUPPORTED_WRITER_FEATURES
        if unsupported:
            raise ValueError(
                "Delta table requires unsupported writer capabilities: "
                f"features={sorted(unsupported)}"
            )
    conf = meta.get("configuration") or {}
    if (
        str(conf.get("delta.appendOnly", "false")).lower() == "true"
        and operation not in ("append", "optimize")
    ):
        raise ValueError(
            f"delta.appendOnly table: {operation!r} would remove data"
        )


def _table_constraints(meta: dict) -> dict[str, str]:
    """{name: SQL expression} from the metaData configuration's
    `delta.constraints.<name>` keys (the spec's CHECK constraints)."""
    out = {}
    for k, v in (meta.get("configuration") or {}).items():
        if k.startswith("delta.constraints."):
            out[k[len("delta.constraints.") :]] = v
    return out


def _generation_exprs(meta: dict) -> dict[str, str]:
    """{column: SQL expression} from schemaString field metadata —
    `delta.generationExpression`, the spec's GENERATED columns."""
    try:
        schema = json.loads(meta.get("schemaString") or "{}")
    except ValueError:  # pragma: no cover - malformed log
        return {}
    out = {}
    for f in schema.get("fields") or []:
        expr = (f.get("metadata") or {}).get("delta.generationExpression")
        if expr:
            out[f["name"]] = expr
    return out


def _column_defaults(meta: dict) -> dict[str, str]:
    """{column: SQL expression} from schemaString field metadata —
    `CURRENT_DEFAULT`, the allowColumnDefaults feature's key (the
    Spark ANSI default-column convention Delta adopted)."""
    try:
        schema = json.loads(meta.get("schemaString") or "{}")
    except ValueError:  # pragma: no cover - malformed log
        return {}
    out = {}
    for f in schema.get("fields") or []:
        expr = (f.get("metadata") or {}).get("CURRENT_DEFAULT")
        if expr:
            out[f["name"]] = expr
    return out


#: Generation-expression shapes whose outputs are MONOTONE in the
#: source column — the shapes Delta's own generated-column partition
#: filters derive predicates for.  month()/day() alone are NOT
#: monotone across year boundaries and are deliberately absent.
_GEN_YEAR = re.compile(r"^\s*year\s*\(\s*([A-Za-z_]\w*)\s*\)\s*$", re.I)
_GEN_DATEFMT = re.compile(
    r"^\s*date_format\s*\(\s*([A-Za-z_]\w*)\s*,\s*"
    r"'(yyyy-MM|yyyy-MM-dd)'\s*\)\s*$",
    re.I,
)
_GEN_CASTDATE = re.compile(
    r"^\s*(?:cast\s*\(\s*([A-Za-z_]\w*)\s+as\s+date\s*\)"
    r"|to_date\s*\(\s*([A-Za-z_]\w*)\s*\))\s*$",
    re.I,
)


def _gen_source_col(expr: str) -> str | None:
    """Source column of a monotone generation shape, else None."""
    m = _GEN_YEAR.match(expr)
    if m:
        return m.group(1)
    m = _GEN_DATEFMT.match(expr)
    if m:
        return m.group(1)
    m = _GEN_CASTDATE.match(expr)
    if m:
        return m.group(1) or m.group(2)
    return None


def _gen_partition_value(expr: str, v):
    """The partition-value STRING the generation expression produces
    for a date/datetime bound, plus whether comparisons are numeric —
    (value, numeric) — or (None, False) when the shape/bound is
    unsupported.  Used to map a source-column range predicate into
    generated-partition space (monotone shapes only)."""
    import datetime

    if isinstance(v, str):
        try:
            v = datetime.datetime.fromisoformat(v)
        except ValueError:
            return None, False
    if not isinstance(v, (datetime.date, datetime.datetime)):
        return None, False
    if _GEN_YEAR.match(expr):
        return str(v.year), True
    m = _GEN_DATEFMT.match(expr)
    if m:
        if m.group(2) == "yyyy-MM":
            return f"{v.year:04d}-{v.month:02d}", False
        return f"{v.year:04d}-{v.month:02d}-{v.day:02d}", False
    if _GEN_CASTDATE.match(expr):
        return f"{v.year:04d}-{v.month:02d}-{v.day:02d}", False
    return None, False


def _enforce_constraints(df: DataFrame, meta: dict) -> None:
    """Refuse the write if any row VIOLATES a CHECK constraint or a
    COLUMN INVARIANT (the spec's `delta.invariants` field metadata —
    the writer-v2 feature).  SQL semantics both ways: only FALSE
    violates — TRUE and NULL pass."""
    for name, expr in sorted(_table_constraints(meta).items()):
        n_bad = df.filter(f"NOT COALESCE(({expr}), true)").count()
        if n_bad:
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) violated by "
                f"{n_bad} row(s)"
            )
    for f in json.loads(meta["schemaString"]).get("fields", []):
        inv = (f.get("metadata") or {}).get("delta.invariants")
        if not inv:
            continue
        expr = json.loads(inv)["expression"]["expression"]
        n_bad = df.filter(f"NOT COALESCE(({expr}), true)").count()
        if n_bad:
            raise ValueError(
                f"column invariant on {f['name']!r} ({expr}) violated "
                f"by {n_bad} row(s)"
            )


def add_delta_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT: validate every EXISTING row against
    the CHECK expression, then commit a metaData update carrying
    `delta.constraints.<name>` and a protocol raise to writer
    version 3 (the spec's checkConstraints tier) — later appends and
    merges enforce it at write time."""
    meta, live, _v = _fold_delta_state(spark, path, None)
    if name in _table_constraints(meta):
        raise ValueError(f"constraint {name!r} already exists")
    snap = _read_adds(spark, path, meta, live) if live else None
    if snap is not None:
        n_bad = snap.filter(f"NOT COALESCE(({expr}), true)").count()
        if n_bad:
            raise ValueError(
                f"cannot add CHECK constraint {name!r}: {n_bad} existing "
                "row(s) violate it"
            )
    new_meta = json.loads(json.dumps(meta))
    conf = dict(new_meta.get("configuration") or {})
    conf[f"delta.constraints.{name}"] = expr
    new_meta["configuration"] = conf
    proto = _current_protocol(path)
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "ADD CONSTRAINT",
                    "operationParameters": {"name": name, "expr": expr},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    if proto.get("minWriterVersion", 1) < 3:
        proto = dict(proto)
        proto["minWriterVersion"] = 3
        lines.append(json.dumps({"protocol": proto}))
    lines.append(json.dumps({"metaData": new_meta}))
    return _claim_delta_version(path, lines)


def _remove_action(old_add: dict, now_ms: int, data_change: bool) -> dict:
    """Spec-shaped remove action carrying the removed file's extended
    metadata (partitionValues / size / deletionVector from its add
    action, `extendedFileMetadata: true`) — what real writers emit and
    what CDF delete-derivation on partitioned/DV'd tables needs."""
    rm = {
        "path": old_add["path"],
        "deletionTimestamp": now_ms,
        "dataChange": data_change,
        "extendedFileMetadata": True,
        "partitionValues": old_add.get("partitionValues") or {},
        "size": old_add.get("size"),
    }
    if old_add.get("deletionVector"):
        rm["deletionVector"] = old_add["deletionVector"]
    return rm


def _last_checkpoint(path: str) -> dict | None:
    p = os.path.join(_log_dir(path), "_last_checkpoint")
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None  # spec: _last_checkpoint is a hint, never required


def _find_checkpoint_files(path: str, ck_v: int) -> list[str] | None:
    """Locate version `ck_v`'s checkpoint: the classic single-part
    `%020d.checkpoint.parquet`, or a V2 UUID-named top-level file
    (`%020d.checkpoint.<uuid>.{parquet,json}` — Delta 3.x's
    `v2Checkpoint` reader feature).  Returns None when neither exists
    (the `_last_checkpoint` hint is allowed to dangle)."""
    classic = os.path.join(_log_dir(path), _CKPT_FMT.format(ck_v))
    if os.path.exists(classic):
        return [classic]
    import glob as _glob

    # multi-part classic: %020d.checkpoint.%010d.%010d.parquet — all
    # parts must be present (their shared num-parts suffix says how
    # many); a partial set means an in-flight writer, fall through
    parts = sorted(
        _glob.glob(
            os.path.join(
                _log_dir(path),
                f"{ck_v:020d}.checkpoint.[0-9]*.[0-9]*.parquet",
            )
        )
    )
    multi = [
        f
        for f in parts
        if len(os.path.basename(f).split(".")) == 5
        and all(
            seg.isdigit()
            for seg in os.path.basename(f).split(".")[2:4]
        )
    ]
    if multi:
        want = int(os.path.basename(multi[0]).split(".")[3])
        if len(multi) == want:
            return multi
        # Incomplete multi-part set = in-flight (or interrupted)
        # writer.  The parts themselves must never fold (partial
        # state), but a COMPLETE v2 top-level at the same version is
        # still a valid base (another writer finished after the
        # multi-part one died) — the v2 glob below excludes multi-part
        # names explicitly, so falling through cannot mistake a stray
        # part for a v2 checkpoint; with no v2 present it returns None
        # and the reader replays JSON.

    def _is_multipart(f: str) -> bool:
        segs = os.path.basename(f).split(".")
        return len(segs) == 5 and all(s.isdigit() for s in segs[2:4])

    v2 = sorted(
        f
        for f in _glob.glob(
            os.path.join(_log_dir(path), f"{ck_v:020d}.checkpoint.*.parquet")
        )
        if not _is_multipart(f)
    ) + sorted(
        _glob.glob(
            os.path.join(_log_dir(path), f"{ck_v:020d}.checkpoint.*.json")
        )
    )
    return v2[-1:] if v2 else None


def _checkpoint_versions(path: str) -> list[int]:
    """Distinct versions that have at least one COMPLETE checkpoint on
    disk (classic, multi-part, or v2 — `_find_checkpoint_files`
    decides completeness), sorted ascending."""
    import glob as _glob

    seen: set[int] = set()
    for f in _glob.glob(os.path.join(_log_dir(path), "*.checkpoint.*")):
        try:
            seen.add(int(os.path.basename(f).split(".", 1)[0]))
        except ValueError:
            continue
    return sorted(v for v in seen if _find_checkpoint_files(path, v))


def _checkpoint_action_rows(spark: SparkSession, ck_file: str) -> list[dict]:
    """One checkpoint file's action rows as dicts (parquet or, for V2
    JSON-format top-level checkpoints, newline-JSON)."""
    if ck_file.endswith(".json"):
        out = []
        with open(ck_file) as f:
            for line in f:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
        return out
    return [
        row.asDict(recursive=True)
        for row in spark.read.parquet(ck_file).collect()
    ]


def _fold_delta_state(spark: SparkSession, path: str, version: int | None):
    """Fold the Delta log into (metaData, {file: add-action}) as of
    `version` — from the newest usable checkpoint (classic parquet OR
    a V2 checkpoint, whose file actions are chased through its sidecar
    pointers into `_delta_log/_sidecars/`) plus the JSON tail, exactly
    as the spec prescribes for snapshot construction."""
    vs = delta_versions(path)
    ckpt_meta = _last_checkpoint(path)
    if version is not None and (
        ckpt_meta is None or int(ckpt_meta["version"]) > version
    ):
        # time travel below the newest checkpoint: the _last_checkpoint
        # hint is useless, but an OLDER on-disk checkpoint <= version is
        # a valid base (log cleanup keeps one as the replay anchor)
        older = [v for v in _checkpoint_versions(path) if v <= version]
        ckpt_meta = {"version": max(older)} if older else None
        if ckpt_meta is None and vs and vs[0] > 0:
            # oldest JSON commit is not version 0 and no usable
            # checkpoint: the base state is gone — refuse loudly
            # instead of folding a partial tail into wrong data
            raise ValueError(
                f"version {version} of {path} is no longer replayable: "
                f"oldest JSON commit is {vs[0]} and no checkpoint at or "
                "below the requested version survives log cleanup"
            )
    live: dict[str, dict] = {}
    meta = None
    proto: dict = {}
    start_after = -1
    if ckpt_meta is not None and (version is None or ckpt_meta["version"] <= version):
        ck_v = int(ckpt_meta["version"])
        ck_files = _find_checkpoint_files(path, ck_v)
        if ck_files:
            sidecars: list[str] = []
            rows = [
                d
                for f in ck_files
                for d in _checkpoint_action_rows(spark, f)
            ]
            for d in rows:
                if d.get("add"):
                    live[d["add"]["path"]] = d["add"]
                if d.get("remove"):
                    live.pop(d["remove"]["path"], None)
                if d.get("metaData") and d["metaData"].get("id"):
                    meta = d["metaData"]
                if d.get("protocol") and d["protocol"].get("minReaderVersion"):
                    proto = d["protocol"]
                if d.get("sidecar") and d["sidecar"].get("path"):
                    sidecars.append(d["sidecar"]["path"])
            # V2: file actions live in the sidecar parquet files
            # (paths relative to _delta_log/_sidecars/, absolute
            # allowed); the top-level file holds the non-file actions
            for sc in sidecars:
                sc_file = (
                    sc
                    if os.path.isabs(sc)
                    else os.path.join(_log_dir(path), "_sidecars", sc)
                )
                for d in _checkpoint_action_rows(spark, sc_file):
                    if d.get("add"):
                        live[d["add"]["path"]] = d["add"]
                    if d.get("remove"):
                        live.pop(d["remove"]["path"], None)
            start_after = ck_v
    if version is None:
        if not vs and start_after < 0:
            raise FileNotFoundError(f"no Delta log under {path}")
        version = vs[-1] if vs else start_after
    for v in vs:
        if v <= start_after or v > version:
            continue
        # per-commit reconciliation: removes apply first, then adds —
        # so a commit carrying remove+add of the SAME path (the spec's
        # deletion-vector update shape) resolves add-wins regardless
        # of action order, as the protocol prescribes
        commit_adds: dict[str, dict] = {}
        commit_removes: list[str] = []
        for a in _read_actions(path, v):
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
        _check_protocol(proto)
    if meta is None:
        raise ValueError(f"Delta log under {path} has no metaData action")
    _verify_delta_checksum(path, version, live)
    return meta, live, version


def _verify_delta_checksum(path: str, version: int, live: dict) -> None:
    """When a `<version>.crc` version-checksum file exists (real Delta
    writers emit them), verify the folded state against it and refuse
    LOUDLY on mismatch — a diverging file count / table size means the
    log or a checkpoint is corrupted, and serving rows from it would
    be a silent wrong answer.  Absent files verify nothing (they are
    an optimization, not part of the protocol's correctness core)."""
    crc = os.path.join(_log_dir(path), _CRC_FMT.format(version))
    if not os.path.exists(crc):
        return
    try:
        with open(crc) as f:
            want = json.load(f)
    except (OSError, ValueError):
        raise ValueError(
            f"version checksum file {_CRC_FMT.format(version)} is "
            "unreadable — refusing to serve a possibly-corrupted snapshot"
        ) from None
    n = want.get("numFiles")
    if n is not None and int(n) != len(live):
        raise ValueError(
            f"version checksum mismatch at {version}: crc records "
            f"{int(n)} live files, the folded log has {len(live)} — "
            "log or checkpoint corruption; refusing to serve"
        )
    ts = want.get("tableSizeBytes")
    if ts is not None:
        have = sum(int(a.get("size") or 0) for a in live.values())
        if int(ts) != have:
            raise ValueError(
                f"version checksum mismatch at {version}: crc records "
                f"tableSizeBytes={int(ts)}, the folded log sums {have} — "
                "log or checkpoint corruption; refusing to serve"
            )


def write_delta_checksum(
    spark: SparkSession, path: str, version: int | None = None
) -> str:
    """Emit the `<version>.crc` VERSION CHECKSUM file delta-spark
    writes per commit (VersionChecksum): a JSON summary of the
    post-commit state — live file count, total table bytes, the
    metaData and protocol — that readers cross-check against their
    replay.  Returns the file path.  Automatic per-commit emission is
    opt-in via the `delta.writeChecksumFile` table property (the fold
    is metadata-scale but O(snapshot); a 100-TB deployment schedules
    it like checkpoints)."""
    meta, live, v = _fold_delta_state(spark, path, version)
    body = {
        "tableSizeBytes": sum(
            int(a.get("size") or 0) for a in live.values()
        ),
        "numFiles": len(live),
        "numMetadata": 1,
        "numProtocol": 1,
        "metadata": meta,
        "protocol": _current_protocol(path),
    }
    dest = os.path.join(_log_dir(path), _CRC_FMT.format(v))
    tmp = dest + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(body, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, dest)
    return dest


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    with_row_tracking: bool = False,
) -> DataFrame:
    """Snapshot (optionally time-travel by `version` or `TIMESTAMP AS
    OF` via `timestamp_ms`) read of a real Delta table.  Partition
    columns are reconstructed from each add-action's `partitionValues`
    (the authoritative source — they are absent from the data files),
    cast to the schema's types, and the groups unioned; unpartitioned
    tables are a single multi-file scan.  `with_row_tracking` appends
    the spec's `_row_id` / `_row_commit_version` metadata columns
    (row-tracked tables only)."""
    from pyspark.sql.types import StructType

    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp_ms, not both")
        version = delta_version_at_timestamp(path, timestamp_ms)
    meta, live, version = _fold_delta_state(spark, path, version)
    if not live:
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        out = spark.createDataFrame([], schema)
        if with_row_tracking:
            if _rt_materialized_cols(meta) is None:
                raise ValueError(
                    "row tracking is not enabled on this table — run "
                    "enable_delta_row_tracking first"
                )
            out = out.withColumn(
                "_row_id", F.lit(None).cast("bigint")
            ).withColumn("_row_commit_version", F.lit(None).cast("bigint"))
        return out
    return _read_adds(
        spark, path, meta, live, row_tracking=with_row_tracking
    )


def delta_version_at_timestamp(path: str, timestamp_ms: int) -> int:
    """`TIMESTAMP AS OF`: the last version whose commitInfo timestamp
    (fallback: log-file mtime, the rule real readers apply to logs
    without commitInfo) is at or before the given millisecond."""
    best = None
    for v in delta_versions(path):
        acts = _read_actions(path, v)
        info = next((a["commitInfo"] for a in acts if "commitInfo" in a), {})
        # ICT tables: the in-commit timestamp is the authoritative
        # clock for time travel (file mtimes are not trustworthy after
        # copies/restores — the feature's whole point)
        ts = info.get("inCommitTimestamp", info.get("timestamp"))
        if ts is None:
            ts = int(
                os.path.getmtime(
                    os.path.join(_log_dir(path), _LOG_FMT.format(v))
                )
                * 1000
            )
        if ts <= timestamp_ms:
            best = v
    if best is None:
        raise ValueError(
            f"no Delta commit at or before timestamp_ms={timestamp_ms}"
        )
    return best


def delta_txn_versions(spark: SparkSession, path: str) -> dict[str, int]:
    """Latest committed `txn` version per appId — the spec's
    application-transaction state idempotent (streaming) writers
    consult to drop replayed batches.  Folded from the newest parquet
    checkpoint's txn rows plus the JSON tail, like any other action."""
    txns: dict[str, int] = {}
    start_after = -1
    ckpt = _last_checkpoint(path)
    if ckpt is not None:
        ck_v = int(ckpt["version"])
        ck_files = _find_checkpoint_files(path, ck_v)
        if ck_files:
            # v2 checkpoints keep txn rows in the TOP-LEVEL file (only
            # file actions move to sidecars); multi-part classic may
            # scatter them across parts — the shared reader covers both
            for f in ck_files:
                for d in _checkpoint_action_rows(spark, f):
                    t = d.get("txn")
                    if t and t.get("appId") is not None:
                        txns[t["appId"]] = max(
                            txns.get(t["appId"], -1), int(t["version"])
                        )
            start_after = ck_v
    for v in delta_versions(path):
        if v <= start_after:
            continue
        for a in _read_actions(path, v):
            if "txn" in a:
                t = a["txn"]
                txns[t["appId"]] = max(
                    txns.get(t["appId"], -1), int(t["version"])
                )
    return txns


def _delta_domains(path: str) -> dict[str, str]:
    """Live `domainMetadata` state — {domain: configuration JSON
    string}, latest action per domain winning, `removed: true`
    dropping it — folded PURE-PYTHON (pyarrow for parquet
    checkpoints) so commit-time hooks can read it without a
    SparkSession.  Domain metadata lives in classic checkpoint rows /
    the v2 TOP-LEVEL file (never sidecars) plus the JSON tail."""
    domains: dict[str, str] = {}

    def fold(d: dict) -> None:
        dm = d.get("domainMetadata")
        if not dm or dm.get("domain") is None:
            return
        if dm.get("removed"):
            domains.pop(dm["domain"], None)
        else:
            domains[dm["domain"]] = dm.get("configuration") or "{}"

    start_after = -1
    ckpt = _last_checkpoint(path)
    if ckpt is not None:
        ck_v = int(ckpt["version"])
        ck_files = _find_checkpoint_files(path, ck_v)
        if ck_files:
            for f in ck_files:
                if f.endswith(".json"):
                    with open(f) as fh:
                        for line in fh:
                            line = line.strip()
                            if line:
                                fold(json.loads(line))
                else:
                    import pyarrow.parquet as pq

                    pf = pq.ParquetFile(f)
                    if "domainMetadata" in set(pf.schema_arrow.names):
                        for d in pq.read_table(
                            f, columns=["domainMetadata"]
                        ).to_pylist():
                            fold(d)
            start_after = ck_v
    for v in delta_versions(path):
        if v <= start_after:
            continue
        for a in _read_actions(path, v):
            fold(a)
    return domains


#: DomainMetadata domain carrying the row-tracking high-water mark.
_RT_DOMAIN = "delta.rowTracking"


def _rt_high_water_mark(path: str) -> int:
    """Highest row id ever assigned (-1 before any assignment), from
    the `delta.rowTracking` domain — the allocation cursor the spec
    keeps OUT of the metaData action so concurrent writers contend on
    one tiny domain row, not the schema."""
    cfg = _delta_domains(path).get(_RT_DOMAIN)
    if not cfg:
        return -1
    return int(json.loads(cfg).get("rowIdHighWaterMark", -1))


def _rt_materialized_cols(meta: dict) -> tuple[str, str] | None:
    """(row-id column, row-commit-version column) physical names for a
    row-tracked table, from the spec's configuration keys; None when
    row tracking is off."""
    cfg = meta.get("configuration") or {}
    if cfg.get("delta.enableRowTracking") != "true":
        return None
    rid = cfg.get("delta.rowTracking.materializedRowIdColumnName")
    rcv = cfg.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    if not rid or not rcv:
        raise ValueError(
            "row tracking enabled without materialized column names — "
            "malformed table configuration"
        )
    return rid, rcv


def _rt_stamp_lines(path: str, lines: list[str], version: int) -> list[str]:
    """Commit-time row-id assignment (runs INSIDE the claim retry loop
    so a lost race re-reads the high-water mark): every add action
    without a `baseRowId` gets the next id range (consuming its
    stats.numRecords), `defaultRowCommitVersion` defaults to the
    claimed version, and the new high-water mark lands as a
    domainMetadata action in the same commit.  Adds that already carry
    baseRowId (re-adds: DV updates, RESTORE, carried files) keep
    theirs — that is what makes row ids durable."""
    hwm = _rt_high_water_mark(path)
    cursor = hwm + 1
    out = []
    for ln in lines:
        a = json.loads(ln)
        add = a.get("add")
        if add is not None:
            if add.get("baseRowId") is None:
                stats = add.get("stats")
                n = json.loads(stats).get("numRecords") if stats else None
                if n is None:
                    raise ValueError(
                        "row tracking needs numRecords stats on every "
                        f"add action (missing for {add.get('path')!r})"
                    )
                add["baseRowId"] = cursor
                cursor += int(n)
            if add.get("defaultRowCommitVersion") is None:
                add["defaultRowCommitVersion"] = version
            ln = json.dumps(a)
        elif "domainMetadata" in a and (
            a["domainMetadata"].get("domain") == _RT_DOMAIN
        ):
            continue  # re-stamped below with the fresh cursor
        out.append(ln)
    new_hwm = max(hwm, cursor - 1)
    out.append(
        json.dumps(
            {
                "domainMetadata": {
                    "domain": _RT_DOMAIN,
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": new_hwm}
                    ),
                    "removed": False,
                }
            }
        )
    )
    return out


def _rt_materialize(df: DataFrame, rt_cols: tuple[str, str]) -> DataFrame:
    """Rename the logical lineage columns onto their configured hidden
    file-column names before landing a rewrite."""
    rid, rcv = rt_cols
    return df.withColumnRenamed("_row_id", rid).withColumnRenamed(
        "_row_commit_version", rcv
    )


def _rt_enabled_for_commit(path: str, lines: list[str]) -> bool:
    """Whether the commit being written targets a row-tracked table:
    a metaData action INSIDE the commit wins (the enablement commit
    itself), else the table's current configuration."""
    for ln in lines:
        a = json.loads(ln)
        if "metaData" in a:
            cfg = a["metaData"].get("configuration") or {}
            return cfg.get("delta.enableRowTracking") == "true"
    return (
        _current_config(path).get("delta.enableRowTracking") == "true"
    )


def delta_history(path: str) -> list[dict]:
    """(version, operation, n_added, n_removed) per commit, from the
    commitInfo + file actions."""
    out = []
    for v in delta_versions(path):
        acts = _read_actions(path, v)
        info = next((a["commitInfo"] for a in acts if "commitInfo" in a), {})
        out.append(
            {
                "version": v,
                "operation": info.get("operation", "UNKNOWN"),
                "n_added": sum(1 for a in acts if "add" in a),
                "n_removed": sum(1 for a in acts if "remove" in a),
            }
        )
    return out


def read_delta_meta(spark: SparkSession, path: str, kind: str) -> DataFrame:
    """Metadata tables — Delta's inspection surface (`DESCRIBE
    DETAIL`/`DESCRIBE HISTORY`/file listing) as DataFrames, from the
    same log fold the data reads run:

    - ``detail``: one row — format, id, location, createdAt,
      numFiles, sizeInBytes, partitionColumns, minReader/WriterVersion;
    - ``files``: one row per LIVE add action (path, partitionValues
      JSON, size, has_stats, has_dv);
    - ``partitions``: live files aggregated per partitionValues JSON;
    - ``history``: commitInfo per version (version, timestamp,
      operation).

    Metadata-only (log JSON + checkpoint fold, no parquet data IO)."""
    import datetime

    meta, live, _v = _fold_delta_state(spark, path, None)
    proto = _current_protocol(path)

    def ts(ms):
        return datetime.datetime.fromtimestamp(
            ms / 1000, tz=datetime.timezone.utc
        ).replace(tzinfo=None)

    if kind == "detail":
        rows = [
            (
                "delta",
                meta.get("id"),
                path,
                ts(meta["createdTime"]) if meta.get("createdTime") else None,
                len(live),
                sum(int(a.get("size") or 0) for a in live.values()),
                json.dumps(meta.get("partitionColumns") or []),
                int(proto.get("minReaderVersion", 1)),
                int(proto.get("minWriterVersion", 1)),
            )
        ]
        return local_rows_df(spark, 
            rows,
            "format string, id string, location string, "
            "createdAt timestamp_ntz, numFiles long, sizeInBytes long, "
            "partitionColumns string, minReaderVersion int, "
            "minWriterVersion int",
        )
    def n_records(a: dict):
        s = a.get("stats")
        try:
            if isinstance(s, str):
                s = json.loads(s)
            return int((s or {}).get("numRecords"))
        except (ValueError, TypeError, AttributeError):
            return None

    if kind == "files":
        rows = [
            (
                a["path"],
                json.dumps(a.get("partitionValues") or {}, sort_keys=True),
                int(a.get("size") or 0),
                n_records(a),
                a.get("stats") is not None,
                a.get("deletionVector") is not None,
            )
            for a in live.values()
        ]
        return local_rows_df(spark, 
            rows,
            "path string, partitionValues string, size long, "
            "record_count long, has_stats boolean, has_dv boolean",
        )
    if kind == "partitions":
        agg: dict[str, list] = {}
        for a in live.values():
            k = json.dumps(a.get("partitionValues") or {}, sort_keys=True)
            s = agg.setdefault(k, [0, 0, 0])
            s[0] += 1
            s[1] += int(a.get("size") or 0)
            nr = n_records(a)
            if s[2] is not None:
                s[2] = None if nr is None else s[2] + nr
        rows = [(k, v[0], v[1], v[2]) for k, v in sorted(agg.items())]
        return local_rows_df(spark, 
            rows,
            "partitionValues string, file_count long, total_size long, "
            "record_count long",
        )
    if kind == "history":
        rows = [
            (
                int(h["version"]),
                h.get("operation"),
                int(h.get("n_added") or 0),
                int(h.get("n_removed") or 0),
            )
            for h in delta_history(path)
        ]
        return local_rows_df(spark, 
            rows,
            "version long, operation string, n_added long, n_removed long",
        )
    raise ValueError(
        f"unknown metadata table {kind!r}: expected "
        "detail/files/partitions/history"
    )


def _current_config(path: str) -> dict:
    """The table's latest `configuration` map, checkpoint-seeded like
    `_current_protocol` (metaData actions can live only in a
    checkpoint after log cleanup)."""
    conf: dict = {}
    ckpt = _last_checkpoint(path)
    seeded_from = -1
    if ckpt is not None:
        ck_files = _find_checkpoint_files(path, int(ckpt["version"]))
        if ck_files:
            try:
                for ck in ck_files:
                    if ck.endswith(".json"):
                        with open(ck) as f:
                            for line in f:
                                line = line.strip()
                                if line:
                                    a = json.loads(line)
                                    if a.get("metaData"):
                                        conf = dict(
                                            a["metaData"].get("configuration")
                                            or {}
                                        )
                    else:
                        import pyarrow.parquet as pq

                        t = pq.read_table(ck, columns=["metaData"])
                        for rec in t.to_pylist():
                            m = rec.get("metaData")
                            if m and m.get("id"):
                                conf = dict(m.get("configuration") or {})
                seeded_from = int(ckpt["version"])
            except (OSError, KeyError, ValueError):
                pass
    for v in delta_versions(path):
        if v <= seeded_from:
            continue
        for a in _read_actions(path, v):
            if "metaData" in a:
                conf = dict(a["metaData"].get("configuration") or {})
    return conf


def _ict_enabled(path: str) -> bool:
    return (
        _current_config(path).get("delta.enableInCommitTimestamps")
        == "true"
    )


def _last_ict(path: str) -> int:
    """The newest commit's inCommitTimestamp (monotonicity floor for
    the next commit); falls back to the enablement-timestamp property,
    then 0."""
    for v in reversed(delta_versions(path)):
        for a in _read_actions(path, v):
            if "commitInfo" in a:
                ict = a["commitInfo"].get("inCommitTimestamp")
                if ict is not None:
                    return int(ict)
        break  # only the newest commit matters
    ts = _current_config(path).get(
        "delta.inCommitTimestampEnablementTimestamp"
    )
    return int(ts) if ts else 0


def _with_ict(lines: list[str], ts: int) -> list[str]:
    """Stamp `inCommitTimestamp` onto the commit's commitInfo — which
    the spec requires to be the FIRST action when ICT is enabled
    (prepended if the caller supplied none)."""
    out = list(lines)
    first = json.loads(out[0]) if out else {}
    if "commitInfo" in first:
        first["commitInfo"]["inCommitTimestamp"] = ts
        first["commitInfo"].setdefault("timestamp", ts)
        out[0] = json.dumps(first)
    else:
        out.insert(
            0,
            json.dumps(
                {"commitInfo": {"inCommitTimestamp": ts, "timestamp": ts}}
            ),
        )
    return out


def _maybe_auto_checkpoint(spark: SparkSession, path: str, version: int) -> None:
    """Post-commit auto-checkpointing per the table's
    `delta.checkpointInterval` property — the cadence real Delta
    writers run (default 10 there; here OPT-IN via the property, so
    tables without it keep their explicit-checkpoint behavior).  A
    failed checkpoint never fails the already-committed write: the
    checkpoint is an optimization, the JSON commit is the truth."""
    try:
        # read ONLY the configuration (checkpoint header + JSON tail):
        # folding full state here would add O(snapshot) work to every
        # write even when the property is unset (the default)
        conf = _current_config(path)
        iv = int(conf.get("delta.checkpointInterval", 0))
        if iv > 0 and version > 0 and version % iv == 0:
            write_delta_checkpoint(spark, path, version=version)
        # per-commit version checksums, opt-in like the interval above
        if conf.get("delta.writeChecksumFile") == "true":
            write_delta_checksum(spark, path, version=version)
    except Exception:
        pass  # best-effort: the commit itself already succeeded


class ConcurrentDeltaCommit(Exception):
    """A racing commit invalidated this read-modify-write: a file this
    commit removes/rewrites was already removed or rewritten (or the
    protocol/metaData changed) between the snapshot it was computed
    against and the version it tried to claim.  The Delta analogue of
    delta-spark's ConcurrentDeleteDelete/MetadataChangedException —
    blind retry here would silently LOSE the racer's update, so the
    caller must re-read and re-apply."""


def _add_in_read_scope(add: dict, scope) -> bool:
    """Whether an intervening commit's add-action lands NEW ROWS inside
    the read scope an RMW was planned against.  `scope` is `"table"`
    (full-table read: overwrite/restore), or a predicate descriptor
    {part_cols, col, lo, hi, phys_part, phys_col} mirroring the
    data-skipping prune the RMW itself ran — a file is in scope unless
    `_add_outside_range` PROVES it disjoint in both the logical and
    physical namespaces (exactly the RMW's own pruning rule, so scope
    == what the operation actually read).  dataChange=false adds
    (compaction rewrites) carry no new rows and never conflict."""
    if scope is None:
        return False
    if not add.get("dataChange", True):
        return False
    if scope == "table":
        return True
    return not (
        _add_outside_range(
            add, scope["part_cols"], scope["col"], scope["lo"], scope["hi"]
        )
        and _add_outside_range(
            add, scope["phys_part"], scope["phys_col"], scope["lo"],
            scope["hi"],
        )
    )


def _assert_no_commit_conflict(
    path: str, version: int, touched: set[str], read_scope=None
) -> None:
    """Raise ConcurrentDeltaCommit if commit `version` touches any of
    `touched` (file-level write-write conflict), ADDS files whose rows
    may fall inside `read_scope` (read-write conflict — delta-spark's
    ConcurrentAppendException), or changes the table's
    protocol/metaData (the schema this RMW was planned against)."""
    for a in _read_actions(path, version):
        if "protocol" in a or "metaData" in a:
            raise ConcurrentDeltaCommit(
                f"version {version} changed the table protocol/metadata "
                "after this operation read its snapshot — re-read and "
                "re-apply"
            )
        hit = None
        if "add" in a and a["add"]["path"] in touched:
            hit = a["add"]["path"]
        elif "remove" in a and a["remove"]["path"] in touched:
            hit = a["remove"]["path"]
        if hit is not None:
            raise ConcurrentDeltaCommit(
                f"version {version} already rewrote {hit!r} after this "
                "operation read its snapshot — blind commit would lose "
                "that update; re-read and re-apply"
            )
        if "add" in a and _add_in_read_scope(a["add"], read_scope):
            raise ConcurrentDeltaCommit(
                f"version {version} appended {a['add']['path']!r} inside "
                "the range this operation read (concurrent append) — its "
                "rows would silently escape the predicate; re-read and "
                "re-apply"
            )


def _claim_delta_version(
    path: str,
    lines: list[str],
    read_version: int | None = None,
    read_scope=None,
) -> int:
    """Atomic put-if-absent commit (os.link), retrying at the next
    version on a lost race — the writer rule the protocol requires.
    On ICT tables every attempt re-stamps a monotone
    commitInfo.inCommitTimestamp (max(prev+1, now), recomputed per
    attempt so a lost race never regresses the clock).  On row-tracked
    tables every attempt (re-)assigns baseRowId ranges from the
    freshly-read high-water mark and stamps the new mark's
    domainMetadata — so two racing appends can never hand out
    overlapping row ids.

    `read_version` (read-modify-write commits: DELETE/UPDATE/MERGE/
    OPTIMIZE/RESTORE/overwrite) is the snapshot version the commit was
    computed against: every intervening commit in
    (read_version, claimed) is validated file-level against this
    commit's remove/add set — and, when `read_scope` is given, its ADD
    actions are checked against the range/table scope the RMW read
    (delta-spark's ConcurrentAppendException) — raising
    ConcurrentDeltaCommit on overlap.  Without a read_scope the
    isolation is write-write/file-level only (appends never conflict:
    correct for dataChange=false maintenance rewrites like
    OPTIMIZE/compaction, which read no predicate).  Blind appends
    (read_version=None) never conflict and keep the plain retry."""
    touched: set[str] = set()
    if read_version is not None:
        for ln in lines:
            a = json.loads(ln)
            if "remove" in a:
                touched.add(a["remove"]["path"])
            elif "add" in a:
                touched.add(a["add"]["path"])
    ld = _log_dir(path)
    os.makedirs(ld, exist_ok=True)
    ict = _ict_enabled(path)
    rt = _rt_enabled_for_commit(path, lines)
    dynamic = ict or rt
    tmp = os.path.join(ld, f"_commit-{uuid.uuid4().hex}.json.tmp")
    if not dynamic:
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
            f.flush()
            os.fsync(f.fileno())
    checked_to: int | None = read_version
    while True:
        vs = delta_versions(path)
        # checkpoint-only tables (log-cleaned tail): the next version
        # continues AFTER the checkpoint, never back at 0
        ckpt = _last_checkpoint(path)
        floor = int(ckpt["version"]) + 1 if ckpt is not None else 0
        version = max((vs[-1] + 1) if vs else 0, floor)
        if checked_to is not None:
            # validate every commit that landed after the snapshot
            # this RMW read (each version checked at most once)
            for v_i in range(checked_to + 1, version):
                _assert_no_commit_conflict(path, v_i, touched, read_scope)
            checked_to = version - 1
        if dynamic:
            eff = _rt_stamp_lines(path, lines, version) if rt else lines
            if ict:
                ts = max(_last_ict(path) + 1, int(time.time() * 1000))
                eff = _with_ict(eff, ts)
            with open(tmp, "w") as f:
                f.write("\n".join(eff) + "\n")
                f.flush()
                os.fsync(f.fileno())
        try:
            os.link(tmp, os.path.join(ld, _LOG_FMT.format(version)))
        except FileExistsError:
            if dynamic:
                os.unlink(tmp)
                tmp = os.path.join(
                    ld, f"_commit-{uuid.uuid4().hex}.json.tmp"
                )
            continue
        os.unlink(tmp)
        return version


def _schema_has_variant(schema) -> bool:
    """Whether a Spark schema carries a VARIANT anywhere (top level or
    nested) — the trigger for the variantType protocol features and
    the unshredded-landing conf toggle."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructType,
        VariantType,
    )

    def walk(dt) -> bool:
        if isinstance(dt, VariantType):
            return True
        if isinstance(dt, StructType):
            return any(walk(f.dataType) for f in dt.fields)
        if isinstance(dt, ArrayType):
            return walk(dt.elementType)
        if isinstance(dt, MapType):
            return walk(dt.keyType) or walk(dt.valueType)
        return False

    return walk(schema)


class _unshredded_variant_writes:
    """Context manager pinning `spark.sql.variant.writeShredding.enabled`
    to false for the duration of a landing write: this Spark build
    SHREDS variant parquet by default, and the unshredded {value,
    metadata} group is the maximally-interoperable on-disk shape (the
    only one the plain `variantType` table feature allows — shredded
    files would additionally require declaring `variantShredding`)."""

    _KEY = "spark.sql.variant.writeShredding.enabled"
    _VALUE = "false"

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(self._KEY, None)
        self.spark.conf.set(self._KEY, self._VALUE)

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(self._KEY)
        else:
            self.spark.conf.set(self._KEY, self.prev)
        return False


class _shredded_variant_writes(_unshredded_variant_writes):
    """Opt-in counterpart (`write_delta(..., shredded_variants=True)`):
    pin shredding ON — explicitly, not via the build default, so the
    landed layout stays deterministic — producing the typed_value
    subtrees the variant-shredding spec defines (the layout Delta 4.x
    writers emit).  Tables carrying shredded files must declare the
    `variantShredding` table feature alongside `variantType`; the
    write paths do exactly that when this mode is on."""

    _VALUE = "true"


def _variant_writes(
    spark: SparkSession, frames: list[DataFrame], shred: bool = False
):
    """The landing guard for `frames`: shredding pinned off (on with
    `shred`) when any of them carries a VARIANT, else a no-op.  It sets
    a SESSION conf, so concurrent landings share one guard, entered on
    the calling thread around all of them."""
    if not any(_schema_has_variant(df.schema) for df in frames):
        return contextlib.nullcontext()
    guard = _shredded_variant_writes if shred else _unshredded_variant_writes
    return guard(spark)


def _file_stats_json(local_path: str) -> str | None:
    """The add-action `stats` JSON the Delta spec defines —
    numRecords / minValues / maxValues / nullCount, read from the
    parquet FOOTER (pyarrow, with a JVM fallback for files pyarrow
    cannot open — VARIANT-typed columns).  Real engines (Spark+delta,
    Trino) write and use the same structure for data skipping."""
    from .pqfooter import read_footer

    try:
        fm = read_footer(local_path)
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for col, st in fm["columns"].items():
        if "." in col:
            continue  # leaf of a nested group (variant value/metadata)
        if st["min"] is not None and st["max"] is not None:
            try:
                json.dumps([st["min"], st["max"]])
                mins[col], maxs[col] = st["min"], st["max"]
            except TypeError:
                pass  # non-JSON stat types (binary): omit, per spec
        if st["null_count"] is not None:
            nulls[col] = st["null_count"]
    return json.dumps(
        {
            "numRecords": fm["num_rows"],
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        }
    )


def _landed_rows(path: str, rel: str, stats: str | None = None) -> int | None:
    """Row count of a landed file: its add-action `stats` when given,
    else its parquet footer; None when neither can be read."""
    if stats:
        return json.loads(stats).get("numRecords")
    from .pqfooter import read_footer

    try:
        return read_footer(os.path.join(path, *rel.split("/")))["num_rows"]
    except Exception:
        return None


def _phys_select(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Rename a logical frame to the mapping's PHYSICAL namespace,
    stamping `parquet.field.id` column metadata on id-mode tables
    (`_ColumnMapping.ids`) so the landed files are id-resolvable."""
    ids = getattr(mapping, "ids", None) or {}
    return df.select(
        *[
            F.col(c).alias(
                mapping.get(c, c),
                metadata=(
                    {"parquet.field.id": ids[c]} if c in ids else None
                ),
            )
            for c in df.columns
        ]
    )


def _land_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None,
    mapping: dict[str, str] | None = None,
    shred_variants: bool = False,
) -> list[tuple[str, dict, int, str | None]]:
    """Write the frame as uuid-named parquet files in the Delta/Hive
    layout (hive partition dirs, partition columns DROPPED from file
    content, per spec) and return (relative path, partitionValues,
    size, stats-json) tuples — invisible until committed.  `mapping`
    (logical → physical, column-mapped tables) renames the frame and
    the partition columns so files land in PHYSICAL namespace; on
    id-mode tables (`mapping.ids`) each column also stamps its
    `parquet.field.id` — Spark writes the ids natively, and id-mode
    readers resolve by them."""
    with _variant_writes(df.sparkSession, [df], shred_variants):
        return _land_files(df, path, partition_by, mapping)


def _land_files(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None,
    mapping: dict[str, str] | None,
) -> list[tuple[str, dict, int, str | None]]:
    """`_land_parquet` under a variant guard the caller holds."""
    if mapping:
        df = _phys_select(df, mapping)
        partition_by = (
            [mapping.get(c, c) for c in partition_by]
            if partition_by
            else partition_by
        )
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    if partition_by:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(staging)
    else:
        df.write.mode("overwrite").parquet(staging)
    out = []
    for dirpath, _dirs, files in sorted(os.walk(staging)):
        rel = os.path.relpath(dirpath, staging)
        pvals: dict[str, str | None] = {}
        segs = [] if rel == "." else rel.split(os.sep)
        for seg in segs:
            k, _, v = seg.partition("=")
            if partition_by and k in partition_by:
                pvals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            name = f"part-{uuid.uuid4().hex}.snappy.parquet"
            relname = "/".join(segs + [name]) if segs else name
            dest = os.path.join(path, *segs, name)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(os.path.join(dirpath, f), dest)
            out.append(
                (relname, pvals, os.path.getsize(dest), _file_stats_json(dest))
            )
    shutil.rmtree(staging)
    return out


def _append_widens(have, want) -> bool:
    """Whether an append column of Spark type `have` may silently
    up-cast to the table's `want` — LOSSLESS widenings only (the
    typeWidening ladder): integral → wider integral, int-or-narrower →
    double, float → double, decimal growing in both precision room and
    scale.  Everything else must be cast explicitly by the caller."""
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    ladder = [ByteType, ShortType, IntegerType, LongType]

    def rung(t):
        for i, cls in enumerate(ladder):
            if isinstance(t, cls):
                return i
        return None

    rh, rw = rung(have), rung(want)
    if rh is not None and rw is not None:
        return rh < rw
    if isinstance(want, DoubleType):
        # double's 53-bit mantissa holds every int (not every long)
        return isinstance(have, FloatType) or (
            rh is not None and rh <= 2
        )
    if isinstance(have, DecimalType) and isinstance(want, DecimalType):
        return (
            want.scale >= have.scale
            and want.precision - want.scale >= have.precision - have.scale
            and (want.precision, want.scale)
            != (have.precision, have.scale)
        )
    return False


def write_delta(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    generated: dict[str, str] | None = None,
    shredded_variants: bool = False,
    merge_schema: bool = False,
) -> int:
    """Write a REAL protocol-v1 Delta commit: land hive-layout parquet,
    then one `_delta_log/<v>.json` with commitInfo + (first commit)
    protocol/metaData + add actions (+ remove actions for overwrite).
    The resulting table is readable by any Delta engine.  Appends to an
    existing table inherit its partitioning and must not contradict
    it; `mode="overwrite"` logically removes the prior live set (time
    travel keeps it readable).  `txn=(appId, version)` makes the write
    IDEMPOTENT via the spec's application-transaction action: a replay
    whose version is not newer than the appId's committed txn state is
    dropped (returns the current version, writes nothing) — the
    exactly-once contract streaming sinks key their micro-batches on.

    `generated={col: sql_expr}` defines GENERATED columns (spec:
    `delta.generationExpression` field metadata, minWriterVersion 4) —
    defined at table creation, enforced forever after: a missing
    generated column is COMPUTED at write time; a supplied one is
    VERIFIED against its expression (the spec's invariant) and the
    write refuses on any mismatch.  Partition on a generated column
    (`date_format(ts, 'yyyy-MM')`, `year(ts)`, `cast(ts as date)`)
    and `read_delta_pruned` on the SOURCE column maps range bounds
    through the expression — Delta's generated-column partition
    filter.

    `shredded_variants=True` (flag-gated; unshredded stays the
    default) lands VARIANT columns SHREDDED — the typed_value
    subtrees of the variant-shredding spec, the layout Delta 4.x
    writers actually produce — and declares the `variantShredding`
    table feature alongside `variantType` (the spec requires it
    before any shredded file may land).  Reads reassemble natively
    (Spark's shredded-read path); sibling-column footer stats stay
    intact for data skipping."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported mode {mode!r}")
    vs = delta_versions(path)
    # "first" = the log is truly empty: neither JSON commits NOR a
    # checkpoint (a log-cleaned table with only a checkpoint is an
    # EXISTING table — treating it as new would clobber it)
    first = not vs and _last_checkpoint(path) is None
    spark = df.sparkSession
    existing_meta = None
    evolved_fields = None
    if not first:
        existing_meta, live, _v = _fold_delta_state(spark, path, None)
        # the txn state is read AFTER the fold: a racing commit either
        # shows here (this write is a replay) or lands after `_v`,
        # where an overwrite's claim validates it as a conflict
        if txn is not None:
            app_id, txv = txn
            if delta_txn_versions(spark, path).get(app_id, -1) >= int(txv):
                return _v  # replayed batch: exactly-once no-op
        _check_writer(_current_protocol(path), existing_meta, mode)
        dflts = _column_defaults(existing_meta)
        if dflts:
            # allowColumnDefaults: an INSERT that OMITS the column
            # fills it from CURRENT_DEFAULT at write time (supplied
            # values always win); fill BEFORE constraint enforcement
            # so a CHECK over the defaulted column sees the value
            from pyspark.sql.types import StructField

            by_name = {
                f["name"]: f
                for f in json.loads(existing_meta["schemaString"])[
                    "fields"
                ]
            }
            for c, dexpr in sorted(dflts.items()):
                if c not in df.columns:
                    df = df.withColumn(
                        c,
                        F.expr(dexpr).cast(
                            StructField.fromJson(by_name[c]).dataType
                        ),
                    )
        if mode == "append":
            # SCHEMA ENFORCEMENT (delta-spark parity, r13): an append
            # whose frame carries UNKNOWN columns refuses (the table
            # projection would silently hide them forever) unless
            # merge_schema=True evolves the schema in this commit; a
            # column whose type DIFFERS refuses unless the lossless
            # typeWidening ladder covers it (then it up-casts here) —
            # landing the narrower/incompatible physical type would
            # poison every later read of that file
            from pyspark.sql.types import StructField

            tbl_fields = json.loads(existing_meta["schemaString"])[
                "fields"
            ]
            tmap = {f["name"]: f for f in tbl_fields}
            unknown = [c for c in df.columns if c not in tmap]
            if unknown and _column_mapping(existing_meta):
                # column-mapped tables keep their established refusal
                # (exact logical column sets; merge_schema cannot
                # assign physical names/field ids — add_delta_column
                # does)
                raise ValueError(
                    f"stream/table schema mismatch: "
                    f"{sorted(df.columns)} vs {sorted(tmap)} — use "
                    "add_delta_column on column-mapped tables"
                )
            if unknown and not merge_schema:
                raise ValueError(
                    f"append carries column(s) {unknown} not in the "
                    "table schema — pass merge_schema=True to evolve, "
                    "or drop them"
                )
            for c in df.columns:
                fld = tmap.get(c)
                if fld is None:
                    continue
                want = StructField.fromJson(fld).dataType
                have = df.schema[c].dataType
                if have == want:
                    continue
                if _append_widens(have, want):
                    df = df.withColumn(c, F.col(c).cast(want))
                    continue
                raise ValueError(
                    f"append column {c!r} is {have.simpleString()} but "
                    f"the table schema says {want.simpleString()} — "
                    "cast explicitly (a mismatched physical type would "
                    "poison later reads of the landed file)"
                )
            if unknown:
                evolved_fields = list(tbl_fields) + [
                    {
                        "name": c,
                        "type": df.schema[c].jsonValue()["type"],
                        "nullable": True,
                        "metadata": {},
                    }
                    for c in unknown
                ]
        _enforce_constraints(df, existing_meta)
        mapping = _column_mapping(existing_meta)
        if mapping:
            # column-mapped tables: files and partitionValues carry
            # PHYSICAL names — the logical frame renames before landing
            want = [
                f["name"]
                for f in json.loads(existing_meta["schemaString"])["fields"]
            ]
            if sorted(df.columns) != sorted(want):
                raise ValueError(
                    f"stream/table schema mismatch: {sorted(df.columns)} "
                    f"vs {sorted(want)}"
                )
        spec = list(existing_meta.get("partitionColumns") or [])
        if partition_by is not None and list(partition_by) != spec:
            raise ValueError(
                f"partition_by {list(partition_by)} contradicts the table's "
                f"partition spec {spec}"
            )
        partition_by = spec
        gens = _generation_exprs(existing_meta)
        if generated is not None and dict(generated) != gens:
            raise ValueError(
                f"generated {dict(generated)} contradicts the table's "
                f"generated columns {gens}"
            )
    else:
        partition_by = list(partition_by or [])
        live = {}
        gens = dict(generated or {})
        mapping = {}
    for c, expr in gens.items():
        if c in df.columns:
            # spec invariant: a SUPPLIED generated column must equal
            # its expression on every row — refuse, never corrupt
            bad = df.filter(
                ~F.expr(expr).eqNullSafe(F.col(c))
            ).limit(1).count()
            if bad:
                raise ValueError(
                    f"generated column {c!r} violates its generation "
                    f"expression {expr!r}"
                )
        else:
            df = df.withColumn(c, F.expr(expr))
        df = df.withColumn(
            c,
            F.col(c).alias(
                c, metadata={"delta.generationExpression": expr}
            ),
        )
    files = _land_parquet(
        df, path, partition_by, mapping=mapping,
        shred_variants=shredded_variants,
    )
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "WRITE",
                    "operationParameters": {"mode": mode.upper()},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    if first:
        proto = dict(_WRITE_PROTOCOL)
        if gens:
            # generated columns require writer version 4 (the spec's
            # generatedColumns table feature tier)
            proto["minWriterVersion"] = max(proto["minWriterVersion"], 4)
        if _schema_has_variant(df.schema):
            # VARIANT requires the table-features protocol tier (spec:
            # reader v3 / writer v7, `variantType` listed BOTH sides —
            # plus `variantShredding` when shredded files land);
            # legacy-implied writer features expand per the upgrade
            # table, exactly like the enable_* helpers
            var_feats = ["variantType"] + (
                ["variantShredding"] if shredded_variants else []
            )
            feats_w = set(var_feats)
            for ver, feats in _IMPLIED_WRITER_FEATURES.items():
                if proto["minWriterVersion"] >= ver:
                    feats_w.update(feats)
            proto = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(var_feats),
                "writerFeatures": sorted(feats_w),
            }
        lines.append(json.dumps({"protocol": proto}))
    elif _schema_has_variant(df.schema):
        # non-first write introducing a VARIANT column (e.g. overwrite
        # of an existing non-variant table) or first SHREDDED landing
        # on a variantType-only table: the schemaString/files alone
        # would leave the table spec-invalid — merge the missing
        # feature(s) into the existing protocol exactly like
        # add_delta_column does
        cur = _current_protocol(path)
        want = ["variantType"] + (
            ["variantShredding"] if shredded_variants else []
        )
        missing = [
            f for f in want
            if f not in set(cur.get("readerFeatures") or [])
        ]
        if missing:
            lines.append(
                json.dumps(
                    {"protocol": _protocol_with_features(cur, want, want)}
                )
            )
    if first or mode == "overwrite":
        meta_id = (
            existing_meta["id"] if existing_meta else str(uuid.uuid4())
        )
        # mapped tables keep their schemaString (it carries the
        # physicalName metadata — df.schema is physical-renamed by
        # now); overwrite also preserves table properties
        # (constraints, columnMapping mode) like real Delta does
        schema_str = (
            existing_meta["schemaString"]
            if mapping
            else df.schema.json()
        )
        lines.append(
            json.dumps(
                {
                    "metaData": {
                        "id": meta_id,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_str,
                        "partitionColumns": partition_by,
                        "configuration": dict(
                            (existing_meta or {}).get("configuration") or {}
                        ),
                        "createdTime": now_ms,
                    }
                }
            )
        )
    elif evolved_fields is not None:
        # merge_schema append: the evolved schema (new nullable
        # columns appended) commits alongside the data it describes
        lines.append(
            json.dumps(
                {
                    "metaData": {
                        "id": existing_meta["id"],
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": json.dumps(
                            {
                                "type": "struct",
                                "fields": evolved_fields,
                            }
                        ),
                        "partitionColumns": partition_by,
                        "configuration": dict(
                            existing_meta.get("configuration") or {}
                        ),
                        "createdTime": existing_meta.get(
                            "createdTime", now_ms
                        ),
                    }
                }
            )
        )
    if mode == "overwrite":
        for fname in sorted(live):
            lines.append(
                json.dumps(
                    {"remove": _remove_action(live[fname], now_ms, True)}
                )
            )
    lines += _file_lines(now_ms, files)
    if txn is not None:
        lines.append(
            json.dumps(
                {
                    "txn": {
                        "appId": txn[0],
                        "version": int(txn[1]),
                        "lastUpdated": now_ms,
                    }
                }
            )
        )
    # an overwrite is a read-modify-write of the prior live set: a
    # racing rewrite of any of those files must abort, never be
    # silently superseded — and a racing APPEND must too (its rows
    # would survive the overwrite, so the table would no longer equal
    # the overwriting frame); blind appends keep the plain retry
    _v_new = _claim_delta_version(
        path,
        lines,
        read_version=(
            _v if (not first and mode == "overwrite") else None
        ),
        read_scope=(
            "table" if (not first and mode == "overwrite") else None
        ),
    )
    _maybe_auto_checkpoint(spark, path, _v_new)
    return _v_new


def _add_outside_range(add: dict, part_cols: list[str], col: str, lo, hi) -> bool:
    """True iff the add-action's metadata PROVES no row of its file has
    `col` in [lo, hi] — by exact partition value first, then the stats
    JSON's minValues/maxValues (string-compare for string partition
    values, native compare for stats, exactly what Delta's data
    skipping does)."""
    if col in part_cols:
        pv = (add.get("partitionValues") or {}).get(col)
        if pv is None:
            # NULL partition value: no row of the file can be in [lo, hi]
            return True
        if isinstance(lo, bool) or isinstance(hi, bool):
            return pv < str(lo) or pv > str(hi)
        if isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
            # numeric bounds: compare NUMERICALLY — the serialized
            # partition string is lexicographic ("9" > "10"), which
            # mis-prunes across digit-count boundaries
            try:
                v = float(pv)
            except ValueError:
                return False  # can't prove anything: keep the file
            return v < float(lo) or v > float(hi)
        return pv < str(lo) or pv > str(hi)
    stats = add.get("stats")
    if not stats:
        return False
    try:
        s = json.loads(stats)
        mn = s.get("minValues", {}).get(col)
        mx = s.get("maxValues", {}).get(col)
    except (ValueError, AttributeError):
        return False
    if mn is None or mx is None:
        return False
    return mx < lo or mn > hi


def read_delta_pruned(
    spark: SparkSession, path: str, col: str, lo, hi
) -> tuple[DataFrame, int, int]:
    """Data-skipping snapshot read over a range predicate, from the
    log's add-action metadata alone (partition values, then the stats
    JSON) — no footer reads at query time.  Returns (frame filtered to
    the range, files_read, files_skipped).  Works identically on
    tables written by this module or by any engine that records
    per-file stats (they all do)."""
    from pyspark.sql.types import StructType

    meta, live, _v = _fold_delta_state(spark, path, None)
    mapping = _physical_name_map(meta)  # id-mode readable: names only
    phys_to_log = {v: k for k, v in mapping.items()}
    part_cols = [
        phys_to_log.get(c, c) for c in (meta.get("partitionColumns") or [])
    ]
    # stats and partitionValues key on PHYSICAL names on mapped tables
    phys_part = [mapping.get(c, c) for c in part_cols]
    phys_col = mapping.get(col, col)
    # generated-column partition filter: when a partition column is
    # GENERATED from `col` through a monotone shape, map the range
    # bounds into partition space and skip on the generated value too
    gen = None
    if col not in part_cols:
        for g, expr in _generation_exprs(meta).items():
            if g in part_cols and _gen_source_col(expr) == col:
                g_lo, num = _gen_partition_value(expr, lo)
                g_hi, _ = _gen_partition_value(expr, hi)
                if g_lo is not None and g_hi is not None:
                    gen = (mapping.get(g, g), g_lo, g_hi, num)
                break

    def _gen_outside(add: dict) -> bool:
        if gen is None:
            return False
        gcol, g_lo, g_hi, num = gen
        pv = (add.get("partitionValues") or {}).get(gcol)
        if pv is None:
            return False
        if num:
            try:
                return int(pv) < int(g_lo) or int(pv) > int(g_hi)
            except ValueError:
                return False
        return pv < g_lo or pv > g_hi

    skipped = 0
    kept: dict[str, dict] = {}
    for fname, add in live.items():
        if _gen_outside(add) or (
            _add_outside_range(add, phys_part, phys_col, lo, hi)
            and _add_outside_range(add, part_cols, col, lo, hi)
        ):
            skipped += 1
        else:
            kept[fname] = add
    cond = F.col(col).between(lo, hi)
    if not kept:
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        return spark.createDataFrame([], schema).filter(cond), 0, skipped
    df = _read_adds(spark, path, meta, kept)
    return df.filter(cond), len(kept), skipped


def _current_protocol(path: str) -> dict:
    proto = dict(_WRITE_PROTOCOL)
    # seed from the newest checkpoint: after log cleanup the JSON tail
    # may no longer carry a protocol action (a v2-checkpoint table's
    # protocol can live ONLY in the checkpoint) — missing it would let
    # a write bypass the writer-feature gate
    ckpt = _last_checkpoint(path)
    seeded_from = -1
    if ckpt is not None:
        ck_files = _find_checkpoint_files(path, int(ckpt["version"]))
        if ck_files:
            try:
                for ck in ck_files:
                    if ck.endswith(".json"):
                        with open(ck) as f:
                            for line in f:
                                line = line.strip()
                                if line:
                                    a = json.loads(line)
                                    if a.get("protocol"):
                                        proto = a["protocol"]
                    else:
                        import pyarrow.parquet as pq

                        t = pq.read_table(ck, columns=["protocol"])
                        for rec in t.to_pylist():
                            p = rec.get("protocol")
                            if p and p.get("minReaderVersion") is not None:
                                proto = p
                seeded_from = int(ckpt["version"])
            except (OSError, KeyError, ValueError):
                pass  # dangling/partial checkpoint: fall back to the tail
    for v in delta_versions(path):
        if v <= seeded_from:
            # already reflected in the checkpoint we read — re-applying
            # an older JSON protocol would override a newer one that
            # now lives only in the checkpoint
            continue
        for a in _read_actions(path, v):
            if "protocol" in a:
                proto = a["protocol"]
    return proto


class _RangeDmlPred:
    """Row-level-DML predicate carrier, range shape (the r11 fast
    path, byte-compatible with the original delete/update helpers):
    Catalyst owns row truth, add-action stats own file pruning, and
    the conflict read-scope is the same range descriptor the pruning
    used."""

    def __init__(self, col: str, lo, hi):
        self.col, self.lo, self.hi = col, lo, hi
        self.text = f"{col} BETWEEN {lo!r} AND {hi!r}"
        self.scan_prune = False

    def cond(self):
        return F.col(self.col).between(self.lo, self.hi)

    def not_cond(self):
        return F.col(self.col).isNull() | ~F.col(self.col).between(
            self.lo, self.hi
        )

    def touches(self, add: dict, part_cols: list[str], mapping: dict) -> bool:
        return not (
            _add_outside_range(add, part_cols, self.col, self.lo, self.hi)
            and _add_outside_range(
                add,
                [mapping.get(c, c) for c in part_cols],
                mapping.get(self.col, self.col),
                self.lo,
                self.hi,
            )
        )

    def scope(self, part_cols: list[str], mapping: dict):
        return {
            "part_cols": part_cols, "col": self.col,
            "lo": self.lo, "hi": self.hi,
            "phys_part": [mapping.get(c, c) for c in part_cols],
            "phys_col": mapping.get(self.col, self.col),
        }


def _add_colinfo(add: dict, part_cols: list[str], mapping: dict):
    """`predicates.may_match` column-info view of ONE add action:
    partition values (looked up physical-first like the reader) are
    point intervals; otherwise the stats JSON's minValues / maxValues /
    nullCount.  Missing information answers None — the analyzer stays
    conservative."""
    pv = add.get("partitionValues") or {}
    try:
        st = json.loads(add["stats"]) if add.get("stats") else {}
    except (ValueError, TypeError):
        st = {}
    mins = st.get("minValues") or {}
    maxs = st.get("maxValues") or {}
    nulls = st.get("nullCount") or {}
    nrec = st.get("numRecords")

    def colinfo(col: str):
        phys = mapping.get(col, col)
        if col in part_cols or phys in part_cols:
            if phys in pv or col in pv:
                v = pv.get(phys, pv.get(col))
                if v is None:
                    return (None, None, True, True)
                return (v, v, False, False)
            return None
        mn = mins.get(col, mins.get(phys))
        mx = maxs.get(col, maxs.get(phys))
        nc = nulls.get(col, nulls.get(phys))
        has_null = (nc > 0) if isinstance(nc, (int, float)) else None
        all_null = (
            (nc == nrec)
            if isinstance(nc, (int, float)) and isinstance(nrec, (int, float))
            else None
        )
        if mn is None and mx is None and has_null is None:
            return None
        return (mn, mx, has_null, all_null)

    return colinfo


class _SqlDmlPred:
    """General-predicate carrier (r15): any Catalyst-parseable WHERE
    text.  Row truth is `F.expr(text)` — never re-implemented; file
    pruning is the `predicates` module's interval walk over the same
    add-action stats the range path uses (an untokenizable text just
    prunes nothing).  `scan_prune=True` asks the rewrite path to
    narrow the stats candidates by one distributed scan — the
    matched-FILE set (O(matched files), metadata-sized) is all that
    returns to the driver.  The conflict read-scope is the whole
    table: a concurrent append can land rows matching an arbitrary
    predicate anywhere, so anything narrower would be unsound."""

    def __init__(self, text: str):
        from . import predicates

        self.text = text.strip()
        self._ast = predicates.parse_predicate(self.text)
        self.scan_prune = True

    def cond(self):
        return F.expr(self.text)

    def not_cond(self):
        return ~F.coalesce(F.expr(self.text), F.lit(False))

    def touches(self, add: dict, part_cols: list[str], mapping: dict) -> bool:
        if self._ast is None:
            return True
        from . import predicates

        return predicates.may_match(
            self._ast, _add_colinfo(add, part_cols, mapping)
        )

    def scope(self, part_cols: list[str], mapping: dict):
        return "table"


def delete_where_delta(
    spark: SparkSession, path: str, col: str, lo, hi, strategy: str = "rewrite"
) -> int:
    """`DELETE FROM delta_table WHERE col BETWEEN lo AND hi` as a real
    protocol commit.  Add-action stats/partition values pick the
    possibly-affected files; then:

    - ``strategy="rewrite"`` (copy-on-write): only touched files are
      rewritten (NULLs kept — three-valued BETWEEN), committed as
      remove+add actions any Delta engine replays;
    - ``strategy="dv"`` (merge-on-read): no data file is rewritten —
      matched row positions become real deletion vectors (roaring +
      Z85, spec file framing), each touched file re-added with its
      DeletionVectorDescriptor (unioned with any existing DV) and the
      protocol upgraded to readerVersion 3 + the `deletionVectors`
      feature flags, exactly the commit shape delta-spark emits.

    Both write a `cdc` action whose `_change_data` file carries the
    deleted rows (`_change_type='delete'`), so CDF readers get the
    exact row-level feed.  A delete that matches no row commits
    nothing and returns the current version; under ``rewrite`` a file
    it empties gets a remove action and no zero-row add.

    ``strategy="auto"`` (r14) resolves from the table's own
    configuration — ``delta.enableDeletionVectors=true`` picks the DV
    shape, exactly delta-spark's rule — without the caller folding the
    log a second time to peek."""
    return _delete_delta_pred(spark, path, _RangeDmlPred(col, lo, hi), strategy)


def delete_predicate_delta(
    spark: SparkSession, path: str, predicate: str, strategy: str = "auto"
) -> int:
    """`DELETE FROM delta_table WHERE <any predicate>` (r15) — the
    general-WHERE twin of `delete_where_delta`: strict `<`/`>`,
    multi-column conjunctions, `OR`, `IS [NOT] NULL`, `IN`, and any
    other Catalyst-parseable boolean text.  Row truth is Catalyst's
    (`F.expr`); file selection is two-tier — the `predicates` interval
    walk over add-action stats first (sound, prunes whatever the
    statistics can prove disjoint, including through OR/NOT), then ONE
    distributed scan of the surviving candidates narrows the rewrite
    to files that actually hold a matching row (the matched-file set
    is O(matched files), metadata-sized).  Same commit shapes, CDF
    feed, and row-tracking carry rules as the range path; the conflict
    read-scope is the whole table (an arbitrary predicate can match a
    row appended anywhere, so anything narrower would be unsound)."""
    return _delete_delta_pred(spark, path, _SqlDmlPred(predicate), strategy)


def _scan_prune_tails(old_rows: DataFrame, pred) -> set[str]:
    """File-name tails of candidate files that actually contain a
    matching row — ONE distributed aggregation; only the matched-file
    NAMES return to the driver."""
    return {
        r[0]
        for r in old_rows.filter(pred.cond())
        .select(_DP_FILE)
        .distinct()
        .collect()
    }


def _delete_delta_pred(
    spark: SparkSession, path: str, pred, strategy: str
) -> int:
    if strategy not in ("rewrite", "dv", "auto"):
        raise ValueError(f"unknown delete strategy {strategy!r}")
    meta, live, _v = _fold_delta_state(spark, path, None)
    if strategy == "auto":
        strategy = (
            "dv"
            if (
                (meta.get("configuration") or {}).get(
                    "delta.enableDeletionVectors"
                )
                or ""
            ).lower()
            == "true"
            else "rewrite"
        )
    _check_writer(_current_protocol(path), meta, "delete")
    mapping = _column_mapping(meta)
    part_cols = list(meta.get("partitionColumns") or [])
    # mapped tables: stats/partitionValues key on PHYSICAL names —
    # the pred prunes in both namespaces (conservative union)
    touched = {
        f: a for f, a in live.items() if pred.touches(a, part_cols, mapping)
    }
    vs = delta_versions(path)
    if not touched:
        return vs[-1]
    if strategy == "dv":
        return _delete_where_delta_dv(
            spark, path, meta, touched, part_cols, pred,
            read_version=_v,
        )
    rt_cols = _rt_materialized_cols(meta)
    old_rows = _read_adds(
        spark, path, meta, touched, row_tracking=bool(rt_cols),
        keep_file=pred.scan_prune,
    )
    if pred.scan_prune:
        # general predicates: stats may not have pruned at all — one
        # scan of the candidates finds the files that actually hold a
        # match, so the rewrite stays O(matching files)
        old_rows = old_rows.localCheckpoint(eager=True)
        hit = _scan_prune_tails(old_rows, pred)
        touched = {
            f: a for f, a in touched.items()
            if f.rsplit("/", 1)[-1] in hit
        }
        if not touched:
            return vs[-1]
        tails = sorted(hit)
        old_rows = old_rows.filter(F.col(_DP_FILE).isin(tails)).drop(
            _DP_FILE
        )
    kept = old_rows.filter(pred.not_cond())
    dropped = old_rows.filter(pred.cond())
    if rt_cols:
        # copy-on-write under row tracking: surviving rows carry their
        # ids and commit versions into the rewritten files as the
        # spec's MATERIALIZED columns
        kept = _rt_materialize(kept, rt_cols)
        dropped = dropped.drop("_row_id", "_row_commit_version")
    files, cdc_files = _land_commit(
        path, kept, dropped.withColumn("_change_type", F.lit("delete")),
        part_cols, mapping,
    )
    # a scan that dropped no row commits nothing, and a file the
    # delete emptied gets its remove action only: a zero-row add has
    # no min/max stats, so no later range could prove it disjoint
    if not any(_landed_rows(path, rel) != 0 for rel, _size in cdc_files):
        for rel in [f[0] for f in files] + [rel for rel, _ in cdc_files]:
            os.remove(os.path.join(path, *rel.split("/")))
        return vs[-1]
    empty = [f for f in files if _landed_rows(path, f[0], f[3]) == 0]
    for f in empty:
        os.remove(os.path.join(path, *f[0].split("/")))
    files = [f for f in files if f not in empty]
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "DELETE",
                    "operationParameters": {"predicate": pred.text},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    for fname in sorted(touched):
        lines.append(
            json.dumps(
                {"remove": _remove_action(touched[fname], now_ms, True)}
            )
        )
    lines += _file_lines(now_ms, files, cdc_files)
    _v_new = _claim_delta_version(
        path, lines, read_version=_v,
        read_scope=pred.scope(part_cols, mapping),
    )
    _maybe_auto_checkpoint(spark, path, _v_new)
    return _v_new


def _delete_where_delta_dv(
    spark: SparkSession,
    path: str,
    meta: dict,
    touched: dict,
    part_cols: list[str],
    pred,
    read_version: int | None = None,
    set_exprs: dict[str, str] | None = None,
) -> int:
    """Merge-on-read half of delete_where_delta: positions → roaring
    DV file → remove+add(same path, descriptor) commit + protocol
    upgrade.  The row scan, the CDF landing, AND the per-file roaring
    bitmap serialization are all distributed — the driver handles only
    the serialized KB-scale blobs, so a wide delete (millions of
    matched positions) never flows through driver memory.

    With `set_exprs` (r14) this is the merge-on-read half of
    update_where_delta — the commit shape delta-spark emits for UPDATE
    on a DV-enabled table: the matched positions hide behind deletion
    vectors exactly as for DELETE, the post-image rows land as NEW
    data files in the SAME commit, and the cdc feed carries
    `update_preimage` / `update_postimage` instead of `delete`."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    mapping = _column_mapping(meta)
    phys_to_log = {v: k for k, v in mapping.items()}
    # normalize to the LOGICAL namespace (mapped tables may state
    # partitionColumns physically; files always carry PHYSICAL names)
    log_part = [phys_to_log.get(c, c) for c in part_cols]
    types = {f.name: f.dataType for f in schema.fields}
    read_schema = StructType(
        [
            StructField(mapping.get(f.name, f.name), f.dataType, True)
            for f in schema.fields
            if f.name not in log_part
        ]
    )
    tail_to_rel = {f.rsplit("/", 1)[-1]: f for f in touched}
    groups: dict[tuple, list[str]] = {}
    for fname, add in touched.items():
        pv = (add.get("partitionValues") or {}) if part_cols else {}
        key = tuple(
            pv.get(mapping.get(c, c), pv.get(c)) for c in log_part
        )
        groups.setdefault(key, []).append(fname)
    frames = []
    for key, fs in sorted(groups.items(), key=_partition_group_order):
        df = spark.read.schema(read_schema).parquet(
            *[_abs_add_path(path, f) for f in sorted(fs)]
        )
        df = df.withColumn(
            _DP_FILE,
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        ).withColumn(_DP_RI, F.col("_metadata.row_index"))
        for f in schema.fields:
            phys = mapping.get(f.name, f.name)
            if phys != f.name and f.name not in log_part:
                df = df.withColumnRenamed(phys, f.name)
        for c, raw in zip(log_part, key):
            lit = F.lit(None) if raw is None else F.lit(raw)
            df = df.withColumn(c, lit.cast(types[c]))
        frames.append(
            df.select(*[f.name for f in schema.fields], _DP_FILE, _DP_RI)
        )
    scan = frames[0]
    for df in frames[1:]:
        scan = scan.unionByName(df)
    matches = scan.filter(pred.cond())
    # rows already hidden by an existing DV must not re-delete (or
    # re-appear in the change feed); old DVs are expanded to position
    # rows ON EXECUTORS (mapInPandas over the KB-scale descriptors) so
    # a wide existing DV never transits the driver
    old_desc_json = {
        fname.rsplit("/", 1)[-1]: json.dumps(add["deletionVector"])
        for fname, add in touched.items()
        if add.get("deletionVector")
    }
    if old_desc_json:
        desc_df = local_rows_df(spark, 
            sorted(old_desc_json.items()),
            f"{_DP_FILE} string, dv_desc string",
        )

        def _expand_old(pdfs):
            import pandas as pd

            for pdf in pdfs:
                for t, dj in zip(pdf[_DP_FILE], pdf["dv_desc"]):
                    yield pd.DataFrame(
                        {
                            _DP_FILE: t,
                            _DP_RI: pd.Series(
                                _dv_positions(path, json.loads(dj)),
                                dtype="int64",
                            ),
                        }
                    )

        adf = desc_df.mapInPandas(
            _expand_old, f"{_DP_FILE} string, {_DP_RI} bigint"
        )
        matches = matches.join(adf, [_DP_FILE, _DP_RI], "left_anti")
    matches = matches.localCheckpoint(eager=True)  # scan once, use twice
    post = None
    if set_exprs is None:
        cdc_df = matches.drop(_DP_FILE, _DP_RI).withColumn(
            "_change_type", F.lit("delete")
        )
    else:
        pre = matches.drop(_DP_FILE, _DP_RI)
        post = pre
        for c, expr in sorted(set_exprs.items()):
            post = post.withColumn(c, F.expr(expr).cast(types[c]))
        post = post.select(*pre.columns)
        _enforce_constraints(post, meta)
        post = post.localCheckpoint(eager=True)  # landed + fed to CDF
        cdc_df = pre.withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            post.withColumn("_change_type", F.lit("update_postimage"))
        )
    post_files, cdc_files = _land_commit(
        path, post, cdc_df, part_cols, mapping
    )

    # per-file roaring bitmaps are serialized ON EXECUTORS (groupBy
    # file → applyInPandas); the driver only ever handles the KB-scale
    # blobs — never an O(matched-rows) position list.  The union with
    # a file's existing DV happens in the same kernel.
    def _blob_kernel(key, pdf):
        import pandas as pd

        from . import roaring

        tail = key[0]
        pos = set(int(x) for x in pdf[_DP_RI])
        dj = old_desc_json.get(tail)
        if dj:
            pos |= set(_dv_positions(path, json.loads(dj)))
        return pd.DataFrame(
            {
                "tail": [tail],
                "blob": [roaring.serialize_rbm64(sorted(pos))],
                "card": [len(pos)],
            }
        )

    blob_rows = (
        matches.select(_DP_FILE, _DP_RI)
        .groupBy(_DP_FILE)
        .applyInPandas(_blob_kernel, "tail string, blob binary, card bigint")
        .collect()
    )
    vs = delta_versions(path)
    if not blob_rows:
        return vs[-1]
    blobs = {
        tail_to_rel[r["tail"]]: (bytes(r["blob"]), int(r["card"]))
        for r in blob_rows
    }
    descs = _write_dv_blobs(path, blobs)
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "DELETE" if set_exprs is None else "UPDATE",
                    "operationParameters": {"predicate": pred.text},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    proto = _current_protocol(path)
    if "deletionVectors" not in (proto.get("readerFeatures") or []):
        # MERGE the DV feature into the existing protocol — replacing
        # it wholesale would silently drop features the table already
        # carries (variantType, rowTracking, clustering, ...)
        lines.append(
            json.dumps(
                {
                    "protocol": _protocol_with_features(
                        proto,
                        add_reader=["deletionVectors"],
                        add_writer=["deletionVectors"],
                    )
                }
            )
        )
    for rel in sorted(blobs):
        old_add = touched[rel]
        lines.append(
            json.dumps({"remove": _remove_action(old_add, now_ms, True)})
        )
        new_add = {
            "path": rel,
            "partitionValues": old_add.get("partitionValues") or {},
            "size": old_add.get("size"),
            "modificationTime": now_ms,
            "dataChange": True,
            "deletionVector": descs[rel],
        }
        if old_add.get("stats"):
            new_add["stats"] = old_add["stats"]
        # row tracking: the SAME physical file keeps its anchors — the
        # whole point of the DV shape is that surviving rows' ids and
        # commit versions never change
        for k in ("baseRowId", "defaultRowCommitVersion"):
            if old_add.get(k) is not None:
                new_add[k] = old_add[k]
        lines.append(json.dumps({"add": new_add}))
    # update strategy: the post-image rows land as NEW data files in
    # the same commit (the matched positions are hidden by the DVs
    # above, so no reader sees both images)
    lines += _file_lines(now_ms, post_files, cdc_files)
    _v_new = _claim_delta_version(
        path, lines, read_version=read_version,
        read_scope=pred.scope(part_cols, mapping),
    )
    _maybe_auto_checkpoint(spark, path, _v_new)
    return _v_new


def _land_commit(
    path: str,
    data: DataFrame | None,
    cdc: DataFrame,
    part_cols: list[str],
    mapping: dict[str, str] | None,
) -> tuple[list[tuple[str, dict, int, str | None]], list[tuple[str, int]]]:
    """Land one DML commit's files: `data` as data files (none when it
    is None) and `cdc` as change-feed files, the two Spark jobs run
    concurrently.  Both land under ONE variant guard, so cdc files of
    a variant table are unshredded like its data files.  Returns
    (`_land_parquet` tuples, `_land_cdc` pairs)."""
    with _variant_writes(cdc.sparkSession, [cdc] if data is None else [data, cdc]):
        if data is None:
            return [], _land_cdc(cdc, path, mapping)
        files, cdc_files = run_concurrently(
            lambda: _land_files(data, path, part_cols or None, mapping),
            lambda: _land_cdc(cdc, path, mapping),
        )
    return files, cdc_files


def _file_lines(
    now_ms: int,
    files: list[tuple[str, dict, int, str | None]],
    cdc_files: list[tuple[str, int]] = (),
    data_change: bool = True,
) -> list[str]:
    """The `add` log lines of landed data files (their `stats` a JSON
    string inside the action, per spec) and the `cdc` lines of landed
    change-feed files."""
    lines = []
    for relname, pvals, size, stats in files:
        add = {
            "path": relname,
            "partitionValues": pvals,
            "size": size,
            "modificationTime": now_ms,
            "dataChange": data_change,
        }
        if stats is not None:
            add["stats"] = stats
        lines.append(json.dumps({"add": add}))
    for relname, size in cdc_files:
        cdc = {
            "path": relname,
            "partitionValues": {},
            "size": size,
            "dataChange": False,
        }
        lines.append(json.dumps({"cdc": cdc}))
    return lines


def _land_cdc(
    df: DataFrame, path: str, mapping: dict[str, str] | None = None
) -> list[tuple[str, int]]:
    """Land change-data rows (table columns + `_change_type`) under
    `_change_data/` — the directory the Delta CDF spec prescribes —
    and return (relative path, size) pairs for `cdc` actions.
    `mapping` renames to PHYSICAL column names (mapped tables' cdc
    files live in the same namespace as data files, per spec).  The
    caller holds the variant guard (`_land_commit`)."""
    if mapping:
        df = _phys_select(df, mapping)
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    os.makedirs(os.path.join(path, "_change_data"), exist_ok=True)
    out = []
    for f in sorted(os.listdir(staging)):
        if not f.endswith(".parquet"):
            continue
        name = f"cdc-{uuid.uuid4().hex}.snappy.parquet"
        rel = f"_change_data/{name}"
        os.rename(os.path.join(staging, f), os.path.join(path, *rel.split("/")))
        out.append((rel, os.path.getsize(os.path.join(path, *rel.split("/")))))
    shutil.rmtree(staging)
    return out


def _derived_changes(
    df: DataFrame, change_type: str, version: int
) -> DataFrame:
    """Tag rows derived from file actions as one change-feed leg.
    `_change_type` is NULLABLE, like the column read back from `cdc`
    files, so the feed's schema does not depend on which commits carry
    cdc actions (`nullif(x, NULL)` is x, typed nullable; a plain
    literal is not, and Spark folds `when(true, x)` back to one)."""
    kind = F.nullif(F.lit(change_type), F.lit(None).cast("string"))
    return df.withColumn("_change_type", kind).withColumn(
        "_commit_version", F.lit(version)
    )


def read_changes_delta(
    spark: SparkSession,
    path: str,
    since_version: int = 0,
    end_version: int | None = None,
) -> DataFrame:
    """Change data feed over a real Delta log, per the CDF spec's
    reader rules applied commit by commit:

    - a commit with `cdc` actions: its `_change_data` files ARE the
      changes (they carry `_change_type`); file actions are ignored;
    - otherwise insert-only commits (all dataChange adds) are inserts,
      delete-only commits (all dataChange removes) are whole-file
      deletes read back from the still-present pre-image files, and
      OVERWRITE commits are exact as full-snapshot delete + insert;
    - commits whose actions all carry `dataChange: false` (OPTIMIZE /
      checkpoint rewrites) contribute nothing;
    - any other mixed rewrite without `cdc` raises — per the spec a
      file-level diff of such a commit double-counts rewritten rows,
      so refusing beats mis-reading.

    Returns table columns + `_change_type` + `_commit_version`.
    Works on logs written by this module or any engine that follows
    the spec's cdc-action convention."""
    meta, _live, _v = _fold_delta_state(spark, path, None)
    # pre-image fold as of since_version-1, then rolled forward commit
    # by commit: a derived delete looks up the removed file's FULL
    # add-action here, so partition columns reconstruct and a DV a
    # prior commit attached still hides its rows (no double-counted
    # deletes) — the remove action's own optional fields are only the
    # fallback for foreign logs removing files never seen added
    pre_live: dict[str, dict] = {}
    if since_version > 0:
        try:
            _m, pre_live, _pv = _fold_delta_state(
                spark, path, since_version - 1
            )
        except (ValueError, FileNotFoundError):
            pre_live = {}
    vs = [
        v
        for v in delta_versions(path)
        if v >= since_version and (end_version is None or v <= end_version)
    ]
    frames = []
    for v in vs:
        acts = _read_actions(path, v)
        all_adds = {a["add"]["path"]: a["add"] for a in acts if "add" in a}
        all_remove_paths = [
            a["remove"]["path"] for a in acts if "remove" in a
        ]
        cdc = [a["cdc"] for a in acts if "cdc" in a]
        if cdc:
            files = [os.path.join(path, c["path"]) for c in cdc]
            df = spark.read.parquet(*sorted(files))
            # mapped tables' cdc files carry PHYSICAL names, per spec
            for logical, phys in _column_mapping(meta).items():
                if phys != logical and phys in df.columns:
                    df = df.withColumnRenamed(phys, logical)
            frames.append(df.withColumn("_commit_version", F.lit(v)))
        else:
            adds = {
                p: a for p, a in all_adds.items() if a.get("dataChange")
            }
            removes = {
                a["remove"]["path"]: a["remove"]
                for a in acts
                if "remove" in a and a["remove"].get("dataChange", True)
            }
            if adds and removes:
                info = next(
                    (a["commitInfo"] for a in acts if "commitInfo" in a), {}
                )
                op = (info.get("operation") or "").upper()
                mode = (info.get("operationParameters") or {}).get("mode", "")
                if not (op == "WRITE" and str(mode).upper() == "OVERWRITE"):
                    raise ValueError(
                        f"commit {v}: mixed add+remove rewrite without cdc "
                        "actions — change feed not derivable from file "
                        "actions"
                    )
            if adds:
                df = _read_adds(spark, path, meta, adds)
                frames.append(_derived_changes(df, "insert", v))
            if removes:
                # pre-image files are still on disk (VACUUM-less log);
                # every still-visible row of a dataChange remove is a
                # delete
                avail = {
                    f: pre_live.get(f, rm)
                    for f, rm in removes.items()
                    if os.path.exists(os.path.join(path, f))
                }
                if len(avail) != len(removes):
                    raise ValueError(
                        f"commit {v}: removed file(s) no longer present — "
                        "cannot reconstruct the change feed"
                    )
                df = _read_adds(spark, path, meta, avail)
                frames.append(_derived_changes(df, "delete", v))
        for p in all_remove_paths:
            pre_live.pop(p, None)
        pre_live.update(all_adds)
    if not frames:
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        return _derived_changes(spark.createDataFrame([], schema), "", 0)
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df)
    return out


def update_where_delta(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    col: str,
    lo,
    hi,
    strategy: str = "rewrite",
) -> int:
    """`UPDATE ... SET <col>=<expr>, ... WHERE col BETWEEN lo AND hi`
    as a real protocol commit: stats-pruned touched files rewritten
    (non-matching rows carried verbatim, deletion vectors applied),
    CHECK constraints enforced on the POST-image, and the commit's cdc
    actions carry `update_preimage` / `update_postimage` rows — the
    spec's row-level UPDATE feed.

    ``strategy="dv"`` (merge-on-read, r14 — the shape delta-spark
    emits for UPDATE on a DV-enabled table): no touched file is
    rewritten — matched positions hide behind deletion vectors and the
    post-image rows land as NEW data files in the same commit, so the
    commit cost is O(matched rows), not O(touched files).  Refused on
    row-tracked tables (updated rows land in fresh files whose
    baseRowId anchors cannot carry the pre-image ids — the rewrite
    strategy preserves them; delta-spark gates the same way).
    ``strategy="auto"`` resolves from the table's own configuration
    (DV property set AND not row-tracked → dv, else rewrite) in the
    single log fold this commit already pays."""
    return _update_delta_pred(
        spark, path, set_exprs, _RangeDmlPred(col, lo, hi), strategy
    )


def update_predicate_delta(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicate: str,
    strategy: str = "auto",
) -> int:
    """`UPDATE ... SET ... WHERE <any predicate>` (r15) — the
    general-WHERE twin of `update_where_delta`: same two-tier file
    selection as `delete_predicate_delta` (interval walk over
    add-action stats, then one distributed scan narrowing to files
    that actually hold a match), same commit shapes / CDF feed /
    row-tracking rules, whole-table conflict scope."""
    return _update_delta_pred(
        spark, path, set_exprs, _SqlDmlPred(predicate), strategy
    )


def _update_delta_pred(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    pred,
    strategy: str,
) -> int:
    if strategy not in ("rewrite", "dv", "auto"):
        raise ValueError(f"unknown update strategy {strategy!r}")
    meta, live, _v = _fold_delta_state(spark, path, None)
    if strategy == "auto":
        dv_on = (
            (meta.get("configuration") or {}).get(
                "delta.enableDeletionVectors"
            )
            or ""
        ).lower() == "true"
        strategy = (
            "dv"
            if dv_on and _rt_materialized_cols(meta) is None
            else "rewrite"
        )
    _check_writer(_current_protocol(path), meta, "update")
    mapping = _column_mapping(meta)
    unknown = set(set_exprs) - {
        f["name"] for f in json.loads(meta["schemaString"])["fields"]
    }
    if unknown:
        raise ValueError(f"SET targets unknown column(s) {sorted(unknown)}")
    part_cols = list(meta.get("partitionColumns") or [])
    phys_to_log = {v: k for k, v in mapping.items()}
    if set(set_exprs) & {phys_to_log.get(c, c) for c in part_cols}:
        raise ValueError("cannot UPDATE a partition column")
    touched = {
        f: a for f, a in live.items() if pred.touches(a, part_cols, mapping)
    }
    vs = delta_versions(path)
    if not touched:
        return vs[-1]
    rt_cols = _rt_materialized_cols(meta)
    if strategy == "dv":
        if rt_cols:
            raise ValueError(
                "merge-on-read UPDATE is refused on row-tracked tables "
                "(post-image rows land in fresh files whose baseRowId "
                "anchors cannot carry the pre-image ids) — use the "
                "default rewrite strategy"
            )
        return _delete_where_delta_dv(
            spark, path, meta, touched, part_cols, pred,
            read_version=_v, set_exprs=set_exprs,
        )
    old_rows = _read_adds(
        spark, path, meta, touched, row_tracking=bool(rt_cols),
        keep_file=pred.scan_prune,
    ).localCheckpoint(eager=True)
    if pred.scan_prune:
        # general predicates: narrow the stats candidates to files
        # that actually hold a match — the rewrite (and its remove
        # set) stays O(matching files)
        hit = _scan_prune_tails(old_rows, pred)
        touched = {
            f: a for f, a in touched.items()
            if f.rsplit("/", 1)[-1] in hit
        }
        if not touched:
            return vs[-1]
        tails = sorted(hit)
        old_rows = old_rows.filter(F.col(_DP_FILE).isin(tails)).drop(
            _DP_FILE
        )
    cond = pred.cond()
    pre = old_rows.filter(cond)
    carried = old_rows.filter(pred.not_cond())
    post = pre
    for c, expr in sorted(set_exprs.items()):
        post = post.withColumn(c, F.expr(expr))
    post = post.select(*old_rows.columns)
    _enforce_constraints(post, meta)
    if rt_cols:
        # spec: an updated row KEEPS its _row_id but its commit
        # version becomes the update's — materialize NULL so it
        # inherits the new file's defaultRowCommitVersion; carried
        # rows materialize both
        post = post.withColumn(
            "_row_commit_version", F.lit(None).cast("bigint")
        )
    merged = carried.unionByName(post)
    if rt_cols:
        merged = _rt_materialize(merged, rt_cols)
        pre = pre.drop("_row_id", "_row_commit_version")
        post = post.drop("_row_id", "_row_commit_version")
    cdc = (
        pre.withColumn("_change_type", F.lit("update_preimage"))
        .unionByName(
            post.withColumn("_change_type", F.lit("update_postimage"))
        )
    )
    files, cdc_files = _land_commit(path, merged, cdc, part_cols, mapping)
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "UPDATE",
                    "operationParameters": {"predicate": pred.text},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    for fname in sorted(touched):
        lines.append(
            json.dumps({"remove": _remove_action(touched[fname], now_ms, True)})
        )
    lines += _file_lines(now_ms, files, cdc_files)
    _v_new = _claim_delta_version(
        path, lines, read_version=_v,
        read_scope=pred.scope(part_cols, mapping),
    )
    _maybe_auto_checkpoint(spark, path, _v_new)
    return _v_new


def optimize_zorder_delta(
    spark: SparkSession,
    path: str,
    x_col: str,
    y_col: str,
    target_mb: int = 128,
    n_files: int | None = None,
) -> int:
    """`OPTIMIZE ZORDER BY (x, y)` as a protocol commit: rewrite the
    live snapshot range-partitioned along the 2-D Morton curve
    (`functions.scale.zorder_key_2d`) with `dataChange: false` — other
    engines' incremental consumers skip it, per spec — so the add-
    action stats become box-prunable in EITHER dimension (the same
    clustering real OPTIMIZE ZORDER buys).  Pre-optimize versions stay
    time-travelable."""
    import math

    from ..functions import scale

    meta, live, _v = _fold_delta_state(spark, path, None)
    if not live:
        return delta_versions(path)[-1]
    _check_writer(_current_protocol(path), meta, "optimize")
    mapping = _column_mapping(meta)
    part_cols = list(meta.get("partitionColumns") or [])
    rt_cols = _rt_materialized_cols(meta)
    snap = _read_adds(spark, path, meta, live, row_tracking=bool(rt_cols))
    lo_hi = snap.agg(
        F.min(x_col), F.max(x_col), F.min(y_col), F.max(y_col)
    ).first()
    if any(b is None for b in lo_hi):
        return delta_versions(path)[-1]
    if n_files is None:
        total = sum(int(a.get("size") or 0) for a in live.values())
        n_files = max(2, math.ceil(total / (target_mb << 20)))
    z = scale.zorder_key_2d(
        F.col(x_col), F.col(y_col), lo_hi[0], lo_hi[1], lo_hi[2], lo_hi[3]
    )
    clustered = (
        snap.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    if rt_cols:
        # a re-layout copies rows between files — lineage materializes
        clustered = _rt_materialize(clustered, rt_cols)
    files = _land_parquet(clustered, path, part_cols or None, mapping=mapping)
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "OPTIMIZE",
                    "operationParameters": {
                        "zOrderBy": f"[{x_col},{y_col}]"
                    },
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    for fname in sorted(live):
        lines.append(
            json.dumps({"remove": _remove_action(live[fname], now_ms, False)})
        )
    lines += _file_lines(now_ms, files, data_change=False)
    _v_new = _claim_delta_version(path, lines, read_version=_v)
    _maybe_auto_checkpoint(spark, path, _v_new)
    return _v_new


def restore_delta(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF: a NEW commit whose live set
    equals the target version's snapshot — removes for files live now
    but not then, re-adds (original add actions, dataChange true) for
    files live then but not now, and the target's metaData if it
    differs.  History is preserved (the restore itself is
    time-travelable); raises if a vacuum already reclaimed any file
    the target snapshot needs."""
    meta_t, live_t, _vt = _fold_delta_state(spark, path, version)
    meta_c, live_c, _vc = _fold_delta_state(spark, path, None)
    _check_writer(_current_protocol(path), meta_c, "restore")
    missing = [
        f
        for f in live_t
        if f not in live_c and not os.path.exists(os.path.join(path, f))
    ]
    if missing:
        raise ValueError(
            f"cannot restore to version {version}: {len(missing)} data "
            "file(s) were vacuumed away"
        )
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "RESTORE",
                    "operationParameters": {"version": version},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    if meta_t != meta_c:
        lines.append(json.dumps({"metaData": meta_t}))
    for f in sorted(set(live_c) - set(live_t)):
        lines.append(
            json.dumps({"remove": _remove_action(live_c[f], now_ms, True)})
        )
    for f in sorted(live_t):
        cur = live_c.get(f)
        if cur != live_t[f]:
            # absent now, or present with a DIFFERENT descriptor (e.g.
            # a deletion vector attached after the target): re-add the
            # target's action so the DV state restores too
            add = dict(live_t[f])
            add["dataChange"] = True
            add["modificationTime"] = now_ms
            lines.append(json.dumps({"add": add}))
    _v_new = _claim_delta_version(
        path, lines, read_version=_vc, read_scope="table"
    )
    _maybe_auto_checkpoint(spark, path, _v_new)
    return _v_new


def merge_upsert_delta(
    spark: SparkSession, updates: DataFrame, path: str, key: str
) -> int:
    """MERGE (WHEN MATCHED UPDATE / NOT MATCHED INSERT) as a real
    protocol commit: add-action stats prune the live files whose key
    range can contain an updated key; ONLY those are rewritten (their
    unmatched rows carried over, deletion vectors applied so hidden
    rows never resurrect), untouched files keep their add actions.

    One pass, like Delta's own MERGE: the touched pre-image ∪ the
    updates, one window over `key` flagging whether the key has a
    target row (`has_old`) and a source row (`has_new`) — a NULL key
    has neither, so never matches — checkpointed once.  From it land
    the data (updates + target rows without `has_new`) and the spec's
    cdc feed: target rows with `has_new` → `update_preimage`, source
    rows → `update_postimage` if `has_old` else `insert`.  Row-tracked
    tables: a source row takes the `_row_id` of each target row it
    matches (one row per match; fresh id if none) and the merge's
    commit version."""
    meta, live, _v = _fold_delta_state(spark, path, None)
    _check_writer(_current_protocol(path), meta, "merge")
    _enforce_constraints(updates, meta)
    mapping = _column_mapping(meta)
    part_cols = list(meta.get("partitionColumns") or [])
    bounds = updates.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        # no non-NULL key: nothing can match, so the rows (if any) are
        # pure inserts that touch no file and read no key range
        if updates.isEmpty():
            return delta_versions(path)[-1]  # empty update set: no-op
        touched = {}
    else:
        touched = {
            f: a
            for f, a in live.items()
            if not (
                _add_outside_range(a, part_cols, key, lo, hi)
                and _add_outside_range(
                    a,
                    [mapping.get(c, c) for c in part_cols],
                    mapping.get(key, key),
                    lo,
                    hi,
                )
            )
        }
    rt_cols = _rt_materialized_cols(meta)
    cols = updates.columns
    rows = updates.withColumn(_DP_NEW, F.lit(True))
    if rt_cols:
        none = F.lit(None).cast("bigint")
        rows = rows.withColumns({"_row_id": none, "_row_commit_version": none})
    if touched:
        old = _read_adds(spark, path, meta, touched, row_tracking=bool(rt_cols))
        rows = old.withColumn(_DP_NEW, F.lit(False)).unionByName(rows)
    new, hit = F.col(_DP_NEW), F.col(key).isNotNull()
    w = Window.partitionBy(key)
    flags = {
        _DP_HAS_OLD: F.max(hit & ~new).over(w),
        _DP_HAS_NEW: F.max(hit & new).over(w),
    }
    if rt_cols:
        # ids are never NULL on a row-tracked table (every add carries
        # its baseRowId anchor), so collect_list drops no match
        flags["_row_id"] = F.when(
            new, F.collect_list(F.when(hit & ~new, F.col("_row_id"))).over(w)
        ).otherwise(F.array("_row_id"))
    tagged = rows.withColumns(flags).localCheckpoint(eager=True)
    merged = tagged.where(new | ~F.col(_DP_HAS_NEW)).drop(
        _DP_NEW, _DP_HAS_OLD, _DP_HAS_NEW
    )
    if rt_cols:
        merged = _rt_materialize(
            merged.withColumn("_row_id", F.explode_outer("_row_id")), rt_cols
        )
    cdc = tagged.where(new | F.col(_DP_HAS_NEW)).select(
        *cols,
        F.when(~new, "update_preimage")
        .when(F.col(_DP_HAS_OLD), "update_postimage")
        .otherwise("insert")
        .alias("_change_type"),
    )
    files, cdc_files = _land_commit(path, merged, cdc, part_cols, mapping)
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "MERGE",
                    "operationParameters": {"predicate": f"t.{key} = s.{key}"},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    for fname in sorted(touched):
        lines.append(
            json.dumps({"remove": _remove_action(touched[fname], now_ms, True)})
        )
    lines += _file_lines(now_ms, files, cdc_files)
    _scope = None if lo is None else {
        "part_cols": part_cols, "col": key, "lo": lo, "hi": hi,
        "phys_part": [mapping.get(c, c) for c in part_cols],
        "phys_col": mapping.get(key, key),
    }
    _v_new = _claim_delta_version(
        path, lines, read_version=_v, read_scope=_scope
    )
    _maybe_auto_checkpoint(spark, path, _v_new)
    return _v_new


def delete_keys_delta(
    spark: SparkSession, keys_df: DataFrame, path: str, key: str
) -> int:
    """`MERGE … WHEN MATCHED THEN DELETE` (key-list delete) as a real
    protocol commit — the cleanup/dedupe shape: rows whose `key`
    appears in `keys_df` disappear, everything else carries verbatim.

    Same scale discipline as merge_upsert_delta: the key set's min/max
    bounds prune the live files from add-action stats (only files
    whose key range can contain a doomed key are read or rewritten),
    deletion vectors apply to the pre-image so hidden rows never
    resurrect, row-tracked tables keep carried rows' `_row_id`, and
    the commit carries the spec's row-level `delete` change feed.
    Commits with read_version + read_scope, so a racing writer in the
    key range conflicts instead of being silently clobbered."""
    meta, live, _v = _fold_delta_state(spark, path, None)
    _check_writer(_current_protocol(path), meta, "delete")
    mapping = _column_mapping(meta)
    part_cols = list(meta.get("partitionColumns") or [])
    keys = keys_df.select(key).distinct()
    bounds = keys.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    vs = delta_versions(path)
    if lo is None:
        return vs[-1]  # empty key set: no-op
    touched = {
        f: a
        for f, a in live.items()
        if not (
            _add_outside_range(a, part_cols, key, lo, hi)
            and _add_outside_range(
                a,
                [mapping.get(c, c) for c in part_cols],
                mapping.get(key, key),
                lo,
                hi,
            )
        )
    }
    if not touched:
        return vs[-1]
    rt_cols = _rt_materialized_cols(meta)
    old_rows = _read_adds(
        spark, path, meta, touched, row_tracking=bool(rt_cols)
    ).localCheckpoint(eager=True)
    carried = old_rows.join(F.broadcast(keys), key, "left_anti")
    deleted = old_rows.join(F.broadcast(keys), key, "left_semi")
    merged = _rt_materialize(carried, rt_cols) if rt_cols else carried
    cdc = deleted
    if rt_cols:
        cdc = cdc.drop("_row_id", "_row_commit_version")
    cdc = cdc.withColumn("_change_type", F.lit("delete"))
    files, cdc_files = _land_commit(path, merged, cdc, part_cols, mapping)
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "DELETE",
                    "operationParameters": {
                        "predicate": f"{key} IN (<key list>)"
                    },
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    for fname in sorted(touched):
        lines.append(
            json.dumps({"remove": _remove_action(touched[fname], now_ms, True)})
        )
    lines += _file_lines(now_ms, files, cdc_files)
    _scope = {
        "part_cols": part_cols, "col": key, "lo": lo, "hi": hi,
        "phys_part": [mapping.get(c, c) for c in part_cols],
        "phys_col": mapping.get(key, key),
    }
    _v_new = _claim_delta_version(
        path, lines, read_version=_v, read_scope=_scope
    )
    _maybe_auto_checkpoint(spark, path, _v_new)
    return _v_new


def rename_delta_column(spark: SparkSession, path: str, old: str, new: str) -> int:
    """Metadata-only `ALTER TABLE RENAME COLUMN` — the operation that
    REQUIRES column mapping (without it, renaming means rewriting
    every file): on first use the table upgrades to column mapping
    `name` mode (each field gets `delta.columnMapping.id` and a
    `physicalName` equal to its CURRENT name, so every existing file
    keeps resolving; protocol bumps to reader 2 / writer 5 per the
    spec's feature requirements), then the logical field renames while
    the physical name stays.  Reads resolve through the mapping
    (existing machinery); writes keep working too — they land under
    physical names.  Zero data IO."""
    meta, _live, _v = _fold_delta_state(spark, path, None)
    schema = json.loads(meta["schemaString"])
    names = [f["name"] for f in schema["fields"]]
    if old not in names:
        raise ValueError(f"no column {old!r} to rename")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    conf = dict(meta.get("configuration") or {})
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "RENAME COLUMN",
                    "operationParameters": {"from": old, "to": new},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    if conf.get("delta.columnMapping.mode") != "name":
        conf["delta.columnMapping.mode"] = "name"
        max_id = 0
        for f in schema["fields"]:
            max_id += 1
            md = f.setdefault("metadata", {})
            md.setdefault("delta.columnMapping.id", max_id)
            md.setdefault("delta.columnMapping.physicalName", f["name"])
        conf["delta.columnMapping.maxColumnId"] = str(max_id)
        proto = _current_protocol(path)
        if proto.get("minWriterVersion", 1) < 5:
            lines.append(
                json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": max(
                                2, proto.get("minReaderVersion", 1)
                            ),
                            "minWriterVersion": 5,
                        }
                    }
                )
            )
    for f in schema["fields"]:
        if f["name"] == old:
            f["name"] = new
    # a renamed partition column keeps its PHYSICAL name in
    # partitionColumns (the namespace files/partitionValues use)
    mapping_after = {
        f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in schema["fields"]
    }
    part_cols = [
        mapping_after.get(new, c) if c == old else c
        for c in (meta.get("partitionColumns") or [])
    ]
    lines.append(
        json.dumps(
            {
                "metaData": {
                    "id": meta["id"],
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": part_cols,
                    "configuration": conf,
                    "createdTime": meta.get("createdTime", now_ms),
                }
            }
        )
    )
    return _claim_delta_version(path, lines)


def set_delta_properties(
    spark: SparkSession, path: str, props: dict[str, str | None]
) -> int:
    """`ALTER TABLE SET/UNSET TBLPROPERTIES`: a metadata-only commit
    updating the table configuration (None values UNSET).  The knobs
    other operations honor land here — `delta.checkpointInterval`
    (post-commit auto-checkpointing), `delta.appendOnly` (write
    guard), retention properties.  Protocol-governed properties
    (columnMapping mode, constraints) refuse — they have dedicated
    helpers that also manage the protocol/feature side."""
    guarded = (
        "delta.columnMapping.",
        "delta.constraints.",
        # row tracking is protocol-governed too: flipping the property
        # without the rowTracking/domainMetadata writer features and
        # materialized column names makes every later write either
        # refuse or stamp undeclared actions
        "delta.enableRowTracking",
        "delta.rowTracking.",
    )
    for k in props:
        if any(k.startswith(g) for g in guarded):
            raise ValueError(
                f"property {k!r} is protocol-governed — use the "
                "dedicated helper (rename/drop_delta_column, "
                "add_delta_constraint, enable_row_tracking)"
            )
    meta, _live, _v = _fold_delta_state(spark, path, None)
    conf = dict(meta.get("configuration") or {})
    for k, v in props.items():
        if v is None:
            conf.pop(k, None)
        else:
            conf[str(k)] = str(v)
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {
                        "properties": json.dumps(
                            {k: v for k, v in props.items()}
                        )
                    },
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        ),
        json.dumps(
            {
                "metaData": {
                    "id": meta["id"],
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": meta["schemaString"],
                    "partitionColumns": meta.get("partitionColumns") or [],
                    "configuration": conf,
                    "createdTime": meta.get("createdTime", now_ms),
                }
            }
        ),
    ]
    # a property update is itself a read-modify-write of the
    # configuration map: two racing updates must not silently lose one
    # — the metaData action already conflicts in
    # _assert_no_commit_conflict, so the loser re-reads and re-applies
    return _claim_delta_version(path, lines, read_version=_v)


def set_delta_column_default(
    spark: SparkSession, path: str, col: str, expr: str | None
) -> int:
    """`ALTER TABLE ALTER COLUMN col SET DEFAULT expr` (None = DROP
    DEFAULT): records the SQL expression as the field's
    `CURRENT_DEFAULT` metadata and declares the `allowColumnDefaults`
    writer feature — later `write_delta` calls that OMIT the column
    fill it from the expression at write time (the spec's writer-only
    contract; readers never fill, files always carry the value).
    Existing rows are untouched — SET DEFAULT affects future INSERTs
    only, exactly delta-spark's semantics (which also refuses ADD
    COLUMN ... DEFAULT on existing tables for this reason).

    The expression must be constant-foldable (no column references,
    Spark's ANSI default-column rule) — validated here by evaluating
    it against a unit row, so a typo refuses at ALTER time instead of
    poisoning a later write.  Commits with read_version, so racing
    schema changes conflict instead of losing one."""
    meta, _live, _v = _fold_delta_state(spark, path, None)
    schema = json.loads(meta["schemaString"])
    fld = next((f for f in schema["fields"] if f["name"] == col), None)
    if fld is None:
        raise ValueError(f"no column {col!r} in the Delta schema")
    if expr is not None:
        from pyspark.sql.types import StructField

        want_t = StructField.fromJson(fld).dataType
        try:
            # zero-column unit row: a column REFERENCE in the
            # expression fails resolution here (constants only —
            # spark.range's `id` column would leak into the check)
            spark.range(1).select().select(
                F.expr(expr).cast(want_t)
            ).collect()
        except Exception as e:
            raise ValueError(
                f"default expression {expr!r} for column {col!r} is "
                f"not a castable constant: {e}"
            ) from None
    md = dict(fld.get("metadata") or {})
    if expr is None:
        md.pop("CURRENT_DEFAULT", None)
    else:
        md["CURRENT_DEFAULT"] = expr
    fld["metadata"] = md
    proto = _current_protocol(path)
    feats = set(proto.get("writerFeatures") or [])
    proto_line = None
    if expr is not None and "allowColumnDefaults" not in feats:
        # WRITER-ONLY feature: the writer side climbs to the features
        # tier (7, with the legacy-version-implied features preserved)
        # while the reader requirement stays untouched — raising the
        # reader tier would lock out every reader for a feature that
        # never affects reads
        new_proto = dict(proto)
        if new_proto.get("minWriterVersion", 1) < 7:
            for ver, fs in _IMPLIED_WRITER_FEATURES.items():
                if new_proto.get("minWriterVersion", 1) >= ver:
                    feats.update(fs)
        feats.add("allowColumnDefaults")
        new_proto["minWriterVersion"] = 7
        new_proto["writerFeatures"] = sorted(feats)
        proto_line = json.dumps({"protocol": new_proto})
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CHANGE COLUMN",
                    "operationParameters": {
                        "column": col,
                        "default": expr,
                    },
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    if proto_line is not None:
        lines.append(proto_line)
    lines.append(
        json.dumps(
            {
                "metaData": {
                    "id": meta["id"],
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": meta.get("partitionColumns") or [],
                    "configuration": meta.get("configuration") or {},
                    "createdTime": meta.get("createdTime", now_ms),
                }
            }
        )
    )
    return _claim_delta_version(path, lines, read_version=_v)


def drop_delta_column(spark: SparkSession, path: str, name: str) -> int:
    """Metadata-only `ALTER TABLE DROP COLUMN` — the OTHER operation
    that requires column mapping (the dropped column's bytes stay in
    every file, merely unprojected; without the mapping a reader could
    not tell a dropped-then-readded column from the original, so the
    spec gates drops on it).  First use upgrades the table to name
    mode exactly like rename_delta_column; re-adding the same logical
    name later is safe because add_delta_column assigns a FRESH
    physical name on mapped tables — the old bytes never resurrect.
    Refuses: partition columns, columns referenced by a generation
    expression or CHECK constraint, and the last remaining column.
    Zero data IO; time travel below this commit still reads the
    column."""
    import re

    meta, _live, _v = _fold_delta_state(spark, path, None)
    schema = json.loads(meta["schemaString"])
    names = [f["name"] for f in schema["fields"]]
    if name not in names:
        raise ValueError(f"no column {name!r} to drop")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    mapping = _column_mapping(meta)
    phys = mapping.get(name, name) if mapping else name
    if name in (meta.get("partitionColumns") or []) or phys in (
        meta.get("partitionColumns") or []
    ):
        raise ValueError(f"{name!r} is a partition column — cannot drop")
    token = re.compile(rf"\b{re.escape(name)}\b")
    for f in schema["fields"]:
        if f["name"] == name:
            continue
        expr = (f.get("metadata") or {}).get("delta.generationExpression")
        if expr and token.search(expr):
            raise ValueError(
                f"{name!r} is referenced by {f['name']!r}'s generation "
                "expression — cannot drop"
            )
    conf = dict(meta.get("configuration") or {})
    for k, v in conf.items():
        if k.startswith("delta.constraints.") and token.search(v):
            raise ValueError(
                f"{name!r} is referenced by CHECK constraint "
                f"{k.removeprefix('delta.constraints.')!r} — cannot drop"
            )
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "DROP COLUMNS",
                    "operationParameters": {"columns": f"[{name}]"},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    if conf.get("delta.columnMapping.mode") not in ("name", "id"):
        conf["delta.columnMapping.mode"] = "name"
        max_id = 0
        for f in schema["fields"]:
            max_id += 1
            md = f.setdefault("metadata", {})
            md.setdefault("delta.columnMapping.id", max_id)
            md.setdefault("delta.columnMapping.physicalName", f["name"])
        conf["delta.columnMapping.maxColumnId"] = str(max_id)
        proto = _current_protocol(path)
        if proto.get("minWriterVersion", 1) < 5:
            lines.append(
                json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": max(
                                2, proto.get("minReaderVersion", 1)
                            ),
                            "minWriterVersion": 5,
                        }
                    }
                )
            )
    schema["fields"] = [f for f in schema["fields"] if f["name"] != name]
    lines.append(
        json.dumps(
            {
                "metaData": {
                    "id": meta["id"],
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": meta.get("partitionColumns") or [],
                    "configuration": conf,
                    "createdTime": meta.get("createdTime", now_ms),
                }
            }
        )
    )
    return _claim_delta_version(path, lines)


def add_delta_column(
    spark: SparkSession, path: str, name: str, ddl_type: str
) -> int:
    """Metadata-only `ALTER TABLE ADD COLUMN` — a new NULLABLE field
    appended to the schema in one metaData commit; zero data IO.
    Files written before the add read the column as NULL (explicit
    read schemas null-fill missing columns); later appends carry it.
    On column-mapped tables the new field gets a fresh
    `delta.columnMapping.id` and a UUID physical name (maxColumnId
    bumped), exactly the spec's rule — so id-mode readers resolve it
    by field id and name-mode files never collide with a recycled
    logical name."""
    from pyspark.sql.types import StructField, _parse_datatype_string

    meta, _live, _v = _fold_delta_state(spark, path, None)
    _check_writer(_current_protocol(path), meta, "add column")
    schema = json.loads(meta["schemaString"])
    taken = {f["name"] for f in schema["fields"]} | {
        (f.get("metadata") or {}).get("delta.columnMapping.physicalName")
        for f in schema["fields"]
    }
    if name in taken:
        raise ValueError(f"column {name!r} already exists")
    new_field = StructField(
        name, _parse_datatype_string(ddl_type), True
    ).jsonValue()
    conf = dict(meta.get("configuration") or {})
    mode = conf.get("delta.columnMapping.mode")
    if mode in ("name", "id"):
        new_id = int(conf.get("delta.columnMapping.maxColumnId") or 0) + 1
        new_field["metadata"] = {
            "delta.columnMapping.id": new_id,
            "delta.columnMapping.physicalName": f"col-{uuid.uuid4().hex}",
        }
        conf["delta.columnMapping.maxColumnId"] = str(new_id)
    schema["fields"] = list(schema["fields"]) + [new_field]
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "ADD COLUMNS",
                    "operationParameters": {
                        "columns": f"{name} {ddl_type}"
                    },
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        ),
    ]
    from pyspark.sql.types import StructType as _ST

    if _schema_has_variant(
        _ST.fromJson({"type": "struct", "fields": [new_field]})
    ):
        # adding the table's first VARIANT column: the spec requires
        # the variantType feature BOTH sides from this commit on
        proto = _current_protocol(path)
        if "variantType" not in (proto.get("readerFeatures") or []):
            lines.append(
                json.dumps(
                    {
                        "protocol": _protocol_with_features(
                            proto,
                            add_reader=["variantType"],
                            add_writer=["variantType"],
                        )
                    }
                )
            )
    lines += [
        json.dumps(
            {
                "metaData": {
                    "id": meta["id"],
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": list(
                        meta.get("partitionColumns") or []
                    ),
                    "configuration": conf,
                    "createdTime": meta.get("createdTime", now_ms),
                }
            }
        ),
    ]
    return _claim_delta_version(path, lines)


#: DomainMetadata domain recording a clustered table's columns.
_CLUSTERING_DOMAIN = "delta.clustering"


def cluster_delta(
    spark: SparkSession, path: str, cols: list[str],
    target_mb: int = 128,
) -> int:
    """LIQUID CLUSTERING (the spec's `clustering` writer feature):
    record the clustering columns in the `delta.clustering` domain and
    rewrite the live set clustered on them — one column range-sorts,
    two columns interleave on the Morton curve (the same multi-
    dimensional locality OPTIMIZE ZORDER buys, but the column choice
    is TABLE METADATA other writers discover and maintain, not a
    per-command argument).  `recluster_delta` re-runs the rewrite
    using the recorded columns.  dataChange=false adds, so
    incremental consumers skip the re-layout."""
    if not cols or len(cols) > 2:
        raise ValueError(
            "clustering needs 1 or 2 columns (Morton interleave is 2-D)"
        )
    meta, _live, _v = _fold_delta_state(spark, path, None)
    _check_writer(_current_protocol(path), meta, "cluster")
    names = {f["name"] for f in json.loads(meta["schemaString"])["fields"]}
    missing = [c for c in cols if c not in names]
    if missing:
        raise ValueError(f"no clustering column(s) {missing}")
    if meta.get("partitionColumns"):
        raise ValueError(
            "clustering and hive partitioning are mutually exclusive "
            "(the spec's clustered-table rule)"
        )
    proto = _current_protocol(path)
    feats_w = set(proto.get("writerFeatures") or [])
    if proto.get("minWriterVersion", 1) < 7:
        for ver, feats in _IMPLIED_WRITER_FEATURES.items():
            if proto.get("minWriterVersion", 1) >= ver:
                feats_w.update(feats)
    feats_w.update({"clustering", "domainMetadata"})
    unsupported = feats_w - _SUPPORTED_WRITER_FEATURES
    if unsupported:
        raise ValueError(
            "cannot upgrade: implied writer features we do not "
            f"implement: {sorted(unsupported)}"
        )
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CLUSTER BY",
                    "operationParameters": {"columns": ",".join(cols)},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        ),
        json.dumps(
            {
                "protocol": {
                    "minReaderVersion": proto.get("minReaderVersion", 1),
                    "minWriterVersion": 7,
                    **(
                        {
                            "readerFeatures": sorted(
                                set(proto.get("readerFeatures") or [])
                            )
                        }
                        if proto.get("minReaderVersion", 1) >= 3
                        else {}
                    ),
                    "writerFeatures": sorted(feats_w),
                }
            }
        ),
        json.dumps(
            {
                "domainMetadata": {
                    "domain": _CLUSTERING_DOMAIN,
                    "configuration": json.dumps(
                        {"clusteringColumns": [[c] for c in cols]}
                    ),
                    "removed": False,
                }
            }
        ),
    ]
    _claim_delta_version(path, lines)
    return recluster_delta(spark, path, target_mb=target_mb)


def recluster_delta(
    spark: SparkSession, path: str, target_mb: int = 128
) -> int:
    """OPTIMIZE on a clustered table: rewrite the live set clustered
    on the columns recorded in the `delta.clustering` domain."""
    cfg = _delta_domains(path).get(_CLUSTERING_DOMAIN)
    if not cfg:
        raise ValueError(
            "not a clustered table — run cluster_delta first"
        )
    # spec stores column PATHS (nested arrays); we support top-level
    cols = [
        c[0] if isinstance(c, list) else c
        for c in json.loads(cfg).get("clusteringColumns") or []
    ]
    if len(cols) == 2:
        return optimize_zorder_delta(
            spark, path, cols[0], cols[1], target_mb=target_mb
        )
    import math

    meta, live, _v = _fold_delta_state(spark, path, None)
    _check_writer(_current_protocol(path), meta, "optimize")
    if not live:
        return delta_versions(path)[-1]
    total = sum(int(a.get("size") or 0) for a in live.values())
    n_files = max(2, math.ceil(total / (target_mb << 20)))
    rt_cols = _rt_materialized_cols(meta)
    snap = _read_adds(
        spark, path, meta, live, row_tracking=bool(rt_cols)
    ).repartitionByRange(n_files, cols[0]).sortWithinPartitions(cols[0])
    if rt_cols:
        snap = _rt_materialize(snap, rt_cols)
    files = _land_parquet(snap, path, None, mapping=_column_mapping(meta))
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "OPTIMIZE",
                    "operationParameters": {"clusterBy": ",".join(cols)},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    for fname in sorted(live):
        lines.append(
            json.dumps({"remove": _remove_action(live[fname], now_ms, False)})
        )
    lines += _file_lines(now_ms, files, data_change=False)
    _v_new = _claim_delta_version(path, lines, read_version=_v)
    _maybe_auto_checkpoint(spark, path, _v_new)
    return _v_new


#: Spec-legal widenings (typeWidening table feature): strictly
#: information-preserving primitive promotions.
_WIDENINGS = {
    "byte": {"short", "integer", "long", "double"},
    "short": {"integer", "long", "double"},
    "integer": {"long", "double"},
    "float": {"double"},
}


def widen_delta_column(
    spark: SparkSession, path: str, name: str, to_type: str
) -> int:
    """Metadata-only TYPE WIDENING (`ALTER TABLE ... TYPE <wider>`,
    the spec's `typeWidening` table feature): the schema field's type
    changes to a strictly-wider primitive and the change is recorded
    in the field's `delta.typeChanges` metadata with the table version
    that performed it.  Zero data IO — readers upcast old files'
    narrower parquet values natively (Spark 4 reads INT32 under a LONG
    read schema), so a 100-TB history never rewrites.  The protocol
    upgrades to reader v3 / writer v7 with the feature announced both
    sides (readers MUST understand the upcast rule)."""
    meta, _live, _v = _fold_delta_state(spark, path, None)
    _check_writer(_current_protocol(path), meta, "widen column")
    schema = json.loads(meta["schemaString"])
    fld = next((f for f in schema["fields"] if f["name"] == name), None)
    if fld is None:
        raise ValueError(f"no column {name!r} to widen")
    frm = fld["type"]
    if not isinstance(frm, str) or to_type not in _WIDENINGS.get(frm, ()):
        raise ValueError(
            f"cannot widen {name!r} from {frm!r} to {to_type!r} — "
            f"spec-legal widenings from {frm!r}: "
            f"{sorted(_WIDENINGS.get(frm, ())) or 'none'}"
        )
    proto = _current_protocol(path)
    feats_w = set(proto.get("writerFeatures") or [])
    feats_r = set(proto.get("readerFeatures") or [])
    if proto.get("minWriterVersion", 1) < 7:
        for ver, feats in _IMPLIED_WRITER_FEATURES.items():
            if proto.get("minWriterVersion", 1) >= ver:
                feats_w.update(feats)
    feats_w.add("typeWidening")
    feats_r.add("typeWidening")
    unsupported = feats_w - _SUPPORTED_WRITER_FEATURES
    if unsupported:
        raise ValueError(
            "cannot upgrade: implied writer features we do not "
            f"implement: {sorted(unsupported)}"
        )
    expected = delta_versions(path)[-1] + 1
    fld["type"] = to_type
    md = fld.setdefault("metadata", {})
    md["delta.typeChanges"] = list(md.get("delta.typeChanges") or []) + [
        {"fromType": frm, "toType": to_type, "tableVersion": expected}
    ]
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CHANGE COLUMN",
                    "operationParameters": {
                        "column": name,
                        "from": frm,
                        "to": to_type,
                    },
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        ),
        json.dumps(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(feats_r),
                    "writerFeatures": sorted(feats_w),
                }
            }
        ),
        json.dumps(
            {
                "metaData": {
                    "id": meta["id"],
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": list(
                        meta.get("partitionColumns") or []
                    ),
                    "configuration": dict(
                        meta.get("configuration") or {}
                    ),
                    "createdTime": meta.get("createdTime", now_ms),
                }
            }
        ),
    ]
    return _claim_delta_version(path, lines)


def clone_delta(spark: SparkSession, src: str, dst: str) -> int:
    """SHALLOW CLONE — a zero-copy writable fork of `src`'s current
    snapshot: `dst` gets its own `_delta_log` (fresh table id, same
    schema/partitioning) whose add actions reference the SOURCE data
    files as absolute file:// URIs (the spec's absolute-path form;
    no byte is copied).  Writes/deletes/OPTIMIZE on the clone land new
    files under `dst` and never mutate `src`; `vacuum_delta` on the
    clone cannot reclaim source bytes (they live outside its root).
    Live deletion vectors carry over: a relative (`u`) descriptor
    would mis-resolve from the clone's root, so each one is rewritten
    to the spec's ABSOLUTE form (storageType `p`, file:// URI of the
    SOURCE DV file) — the same absolute-path rule the add actions
    follow; inline (`i`) and already-absolute (`p`) descriptors carry
    verbatim.  A fresh DV delete on the clone lands new `u` vectors
    under the clone's own root, replacing the absolute pointer for the
    touched file — source bytes stay untouched."""
    meta, live, _v = _fold_delta_state(spark, src, None)
    if delta_versions(dst):
        raise ValueError(f"clone target {dst!r} already has a _delta_log")
    now_ms = int(time.time() * 1000)
    proto = _current_protocol(src)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CLONE",
                    "operationParameters": {"source": src},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        ),
        json.dumps({"protocol": dict(proto)}),
        json.dumps(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),  # a clone is a NEW table
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": meta["schemaString"],
                    "partitionColumns": list(
                        meta.get("partitionColumns") or []
                    ),
                    "configuration": dict(meta.get("configuration") or {}),
                    "createdTime": now_ms,
                }
            }
        ),
    ]
    from urllib.parse import quote

    for fname in sorted(live):
        add = dict(live[fname])
        src_abs = _abs_add_path(src, add["path"])
        add["path"] = "file://" + quote(src_abs)
        dv = add.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            dv_rel = _dv_file_name(src, dv)
            add["deletionVector"] = {
                "storageType": "p",
                "pathOrInlineDv": "file://"
                + quote(os.path.abspath(os.path.join(src, dv_rel))),
                "offset": dv.get("offset"),
                "sizeInBytes": dv.get("sizeInBytes"),
                "cardinality": dv.get("cardinality"),
            }
        add["dataChange"] = True
        lines.append(json.dumps({"add": add}))
    os.makedirs(dst, exist_ok=True)
    return _claim_delta_version(dst, lines)


def compact_delta(spark: SparkSession, path: str, target_mb: int = 128) -> int:
    """OPTIMIZE as a real protocol commit: rewrite the live snapshot
    into ceil(bytes/target) files per partition and commit remove+add
    actions with `dataChange: false` — the spec flag that tells other
    engines' incremental/streaming consumers these adds carry no new
    rows (exactly how Delta's own OPTIMIZE avoids re-delivering data).
    Pre-compaction versions stay time-travelable."""
    import math

    meta, live, _v = _fold_delta_state(spark, path, None)
    if not live:
        return delta_versions(path)[-1]
    _check_writer(_current_protocol(path), meta, "optimize")
    mapping = _column_mapping(meta)
    part_cols = list(meta.get("partitionColumns") or [])
    total = sum(int(a.get("size") or 0) for a in live.values())
    n_files = max(1, math.ceil(total / (target_mb << 20)))
    rt_cols = _rt_materialized_cols(meta)
    snap = _read_adds(
        spark, path, meta, live, row_tracking=bool(rt_cols)
    ).repartition(n_files)
    if rt_cols:
        # compaction copies rows between files — lineage materializes
        snap = _rt_materialize(snap, rt_cols)
    files = _land_parquet(snap, path, part_cols or None, mapping=mapping)
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "OPTIMIZE",
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        )
    ]
    for fname in sorted(live):
        lines.append(
            json.dumps(
                {"remove": _remove_action(live[fname], now_ms, False)}
            )
        )
    lines += _file_lines(now_ms, files, data_change=False)
    _v_new = _claim_delta_version(path, lines, read_version=_v)
    _maybe_auto_checkpoint(spark, path, _v_new)
    return _v_new


# --------------------------------------------------------------------------
# Deletion vectors (protocol v3 readerFeature, roaring + Z85 per spec)
# --------------------------------------------------------------------------


def _dv_positions(path: str, desc: dict) -> list[int]:
    """Decode a DeletionVectorDescriptor into its deleted row indices,
    per the spec's three storage types: `u` (relative file named by a
    Z85 uuid, optional random prefix), `p` (absolute path), `i`
    (inline Z85 payload).  File-stored DVs live in the spec's framed
    layout — version byte, then [size int32 BE][data][CRC32 BE] with
    data = magic int32 LE + portable RoaringBitmapArray."""
    import binascii

    from . import roaring

    st = desc.get("storageType")
    if st == "i":
        data = roaring.z85_decode(desc["pathOrInlineDv"])
    elif st in ("u", "p"):
        if st == "u":
            # the Z85 uuid is always the LAST 20 chars; everything
            # before is the random directory prefix (no separator in
            # the encoding — '/' is itself a Z85 alphabet character)
            enc = desc["pathOrInlineDv"]
            prefix, uuid_enc = enc[:-20], enc[-20:]
            dv_uuid = uuid.UUID(bytes=roaring.z85_decode(uuid_enc))
            parts = [path] + ([prefix] if prefix else [])
            fpath = os.path.join(*parts, f"deletion_vector_{dv_uuid}.bin")
        else:
            from urllib.parse import unquote

            fpath = unquote(desc["pathOrInlineDv"])
            if fpath.startswith("file:"):
                fpath = fpath[len("file:") :]
                while fpath.startswith("//"):
                    fpath = fpath[1:]
        with open(fpath, "rb") as f:
            raw = f.read()
        off = int(desc.get("offset") or 1)
        (size,) = struct.unpack(">i", raw[off : off + 4])
        data = raw[off + 4 : off + 4 + size]
        (crc,) = struct.unpack(">I", raw[off + 4 + size : off + 8 + size])
        if binascii.crc32(data) & 0xFFFFFFFF != crc:
            raise ValueError(f"deletion vector checksum mismatch in {fpath}")
    else:
        raise ValueError(f"unknown DV storageType {st!r}")
    (magic,) = struct.unpack("<i", data[:4])
    if magic != _DV_MAGIC:
        raise ValueError(f"bad deletion-vector magic {magic}")
    return roaring.deserialize_rbm64(data[4:])


def _write_dv_blobs(
    path: str, blobs: dict[str, tuple[bytes, int]]
) -> dict[str, dict]:
    """Write ONE on-disk DV file holding every (file → serialized
    RoaringBitmapArray blob, cardinality) of a commit — the packing
    real writers use — and return per-data-file
    DeletionVectorDescriptors (storageType `u`).  Blobs arrive already
    serialized (built on executors for wide deletes)."""
    import binascii

    from . import roaring

    dv_uuid = uuid.uuid4()
    fname = f"deletion_vector_{dv_uuid}.bin"
    buf = bytearray(b"\x01")  # format version
    descs: dict[str, dict] = {}
    for data_file in sorted(blobs):
        blob, cardinality = blobs[data_file]
        data = int(_DV_MAGIC).to_bytes(4, "little", signed=True) + blob
        offset = len(buf)
        buf += len(data).to_bytes(4, "big", signed=True)
        buf += data
        buf += (binascii.crc32(data) & 0xFFFFFFFF).to_bytes(4, "big")
        descs[data_file] = {
            "storageType": "u",
            "pathOrInlineDv": roaring.z85_encode(dv_uuid.bytes),
            "offset": offset,
            "sizeInBytes": len(data),
            "cardinality": cardinality,
        }
    tmp = os.path.join(path, f"_dv-{uuid.uuid4().hex}.tmp")
    with open(tmp, "wb") as f:
        f.write(bytes(buf))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, fname))
    return descs


_DP_FILE, _DP_RI = "_dp_dv_file", "_dp_dv_ri"
#: merge_upsert_delta's row tags: source side, key has a target row,
#: key has a source row
_DP_NEW, _DP_HAS_OLD, _DP_HAS_NEW = "_dp_new", "_dp_has_old", "_dp_has_new"


def _apply_dvs(
    spark: SparkSession, path: str, df: DataFrame, dv_files: dict[str, dict]
) -> DataFrame:
    """Anti-join a scan against its files' decoded DV position sets —
    the Delta DV read shape: the bitmap is loaded in memory (KB-scale
    roaring, exactly what real readers do) and broadcast against the
    parquet reader's `_metadata.row_index`."""
    pos_rows = []
    for fname, desc in dv_files.items():
        tail = fname.rsplit("/", 1)[-1]
        for ri in _dv_positions(path, desc):
            pos_rows.append((tail, ri))
    if not pos_rows:
        return df
    pos = local_rows_df(spark, 
        pos_rows, f"{_DP_FILE} string, {_DP_RI} bigint"
    )
    # callers that already carry the identity columns (row-tracking
    # scans) keep them through the anti-join; otherwise they are
    # derived from _metadata here and dropped after
    have = _DP_FILE in df.columns
    keyed = (
        df
        if have
        else df.withColumn(
            _DP_FILE,
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        ).withColumn(_DP_RI, F.col("_metadata.row_index"))
    )
    joined = keyed.join(F.broadcast(pos), [_DP_FILE, _DP_RI], "left_anti")
    return joined if have else joined.drop(_DP_FILE, _DP_RI)


def _mapping_mode(meta: dict) -> str:
    """The table's `delta.columnMapping.mode` ("none"/"name"/"id")."""
    return (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode"
    ) or "none"


class _ColumnMapping(dict):
    """logical → physical rename map for landing frames; `.ids`
    carries {logical → parquet field id} on ID-mode tables — landed
    files must stamp the ids, because that is the ONLY way id-mode
    readers resolve their columns (names are free to differ
    file-to-file across renames)."""

    ids: dict[str, int] | None = None


def _column_mapping(meta: dict) -> dict[str, str]:
    """{logical column → physical parquet name} when the table enables
    column mapping (`delta.columnMapping.mode` in the metaData
    configuration; physical names in each schema field's
    `delta.columnMapping.physicalName` metadata).  In `name` mode the
    physical NAMES are authoritative; in `id` mode (r12 — writes
    previously refused) the spec still assigns a physicalName to every
    field, so new files land under those names AND carry the fields'
    parquet ids (`.ids` on the returned map — `_land_parquet` stamps
    them), which is what id-mode readers resolve by."""
    mode = _mapping_mode(meta)
    if mode == "none":
        return {}
    if mode == "id":
        fim = _field_id_mapping(meta)
        out = _ColumnMapping({k: v[1] for k, v in fim.items()})
        out.ids = {k: v[0] for k, v in fim.items()}
        return out
    if mode != "name":
        raise ValueError(
            f"unsupported column mapping mode {mode!r}"
        )
    out = _ColumnMapping()
    for f in json.loads(meta["schemaString"]).get("fields", []):
        md = f.get("metadata") or {}
        out[f["name"]] = md.get(
            "delta.columnMapping.physicalName", f["name"]
        )
    return out


def _physical_name_map(meta: dict) -> dict[str, str]:
    """{logical → physicalName} for ANY column-mapping mode — stats
    JSON and partitionValues key on physicalName in both `name` and
    `id` modes (only DATA-column resolution differs); empty when
    mapping is off.  Lets metadata-only paths (pruning, CDC renames)
    serve id-mode tables that the write paths refuse."""
    mode = _mapping_mode(meta)
    if mode == "none":
        return {}
    if mode == "id":
        return {k: v[1] for k, v in _field_id_mapping(meta).items()}
    return _column_mapping(meta)


def _field_id_mapping(meta: dict) -> dict[str, tuple[int, str]]:
    """{logical column → (parquet field id, physicalName)} for an
    id-mode table.  The spec stores BOTH on every field when mapping
    is enabled: the id is what resolves data-file columns (parquet
    names are free to differ file-to-file across renames), the
    physicalName is still the namespace of `partitionValues` keys."""
    out = {}
    for f in json.loads(meta["schemaString"]).get("fields", []):
        md = f.get("metadata") or {}
        if "delta.columnMapping.id" not in md:
            raise ValueError(
                f"id-mode table field {f['name']!r} missing "
                "delta.columnMapping.id"
            )
        out[f["name"]] = (
            int(md["delta.columnMapping.id"]),
            md.get("delta.columnMapping.physicalName", f["name"]),
        )
    return out


def _dv_file_name(path: str, desc: dict) -> str | None:
    """Table-relative on-disk file a DV descriptor references (None
    for inline payloads / external absolute paths)."""
    if desc.get("storageType") != "u":
        return None
    enc = desc["pathOrInlineDv"]
    from . import roaring

    prefix, uuid_enc = enc[:-20], enc[-20:]
    dv_uuid = uuid.UUID(bytes=roaring.z85_decode(uuid_enc))
    parts = ([prefix] if prefix else []) + [f"deletion_vector_{dv_uuid}.bin"]
    return "/".join(parts)


def vacuum_delta(
    spark: SparkSession,
    path: str,
    retain_versions: int = 0,
    min_age_s: float = 600.0,
) -> int:
    """Delete data files, DV sidecars, and `_change_data` files
    unreferenced by the retained history: everything reachable from
    the last `retain_versions`+1 snapshots stays (0 = current only).
    Unreferenced files younger than `min_age_s` are SPARED — they may
    belong to an in-flight writer that landed data but has not yet
    claimed its commit (real VACUUM's modification-time retention
    window, default 7 days).  Returns the number of files deleted —
    the step that trades time travel for space."""
    import time as _time

    vs = delta_versions(path)
    if not vs:
        return 0
    retained = vs[-(retain_versions + 1) :]
    referenced: set[str] = set()
    for v in retained:
        _meta, live, _v = _fold_delta_state(spark, path, v)
        for f, add in live.items():
            referenced.add(f)
            dv = add.get("deletionVector")
            if dv:
                name = _dv_file_name(path, dv)
                if name:
                    referenced.add(name)
        for a in _read_actions(path, v):
            if "cdc" in a:
                referenced.add(a["cdc"]["path"])
    # CDF replay over the retained window also needs cdc files of the
    # retained commits themselves (covered above); everything else is
    # reclaimable once old enough
    now = _time.time()
    deleted = 0
    for dirpath, dirs, files in os.walk(path):
        rel_dir = os.path.relpath(dirpath, path)
        if rel_dir.startswith("_delta_log"):
            dirs[:] = []
            continue
        for fname in files:
            if not (
                fname.endswith(".parquet")
                or fname.startswith("deletion_vector_")
            ):
                continue
            rel = (
                fname if rel_dir == "." else f"{rel_dir}/{fname}"
            ).replace(os.sep, "/")
            if rel in referenced:
                continue
            full = os.path.join(dirpath, fname)
            if now - os.path.getmtime(full) < min_age_s:
                continue
            os.unlink(full)
            deleted += 1
    return deleted


def _abs_add_path(table_path: str, p: str) -> str:
    """Resolve an add-action path: the spec allows a path RELATIVE to
    the table root or an ABSOLUTE URL-encoded URI (what shallow CLONE
    writes, pointing into the source table)."""
    if p.startswith("file://"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(p).path)
    if os.path.isabs(p):
        return p
    return os.path.join(table_path, p)


def _partition_group_order(item: tuple[tuple, list[str]]) -> list:
    """Sort key for {partition-value tuple: files} groups: a NULL
    partition value (None in the log) orders before any string instead
    of failing the comparison."""
    return [(v is not None, v or "") for v in item[0]]


def _read_adds(
    spark: SparkSession,
    path: str,
    meta: dict,
    adds: dict,
    row_tracking: bool = False,
    keep_file: bool = False,
) -> DataFrame:
    """Read a set of add-actions' files with partition columns
    reconstructed and deletion vectors applied — the shared scan used
    by read_delta and the pruned/delete paths.  Tables with column
    mapping (name mode) scan by PHYSICAL parquet names and rename to
    the logical schema; partitionValues keys are looked up physical-
    first (the spec's convention), falling back to logical.

    `id` mode resolves data-file columns by PARQUET FIELD ID instead:
    the read schema carries each field's `delta.columnMapping.id` as
    `parquet.field.id` metadata and Spark's native field-id resolution
    (`spark.sql.parquet.fieldId.read.enabled`) matches it against the
    ids the writer stamped in the files — parquet column NAMES are
    free to differ file-to-file (that is the point of id mode: renames
    never rewrite data), so no rename pass exists; `partitionValues`
    keys remain in the physicalName namespace per the spec.

    `row_tracking=True` appends `_row_id` / `_row_commit_version`:
    a MATERIALIZED hidden column in the data file wins (files written
    by a row-id-preserving rewrite), else the add-action anchors —
    baseRowId + `_metadata.row_index`, defaultRowCommitVersion — via
    one broadcast map join (the spec's fresh-row rule)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    id_mode = _mapping_mode(meta) == "id"
    if id_mode:
        ids = _field_id_mapping(meta)
        # the verify/rename machinery below keys on physicalName only
        # for partitionValues lookups; data columns resolve by id
        mapping = {k: v[1] for k, v in ids.items()}
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    else:
        mapping = _column_mapping(meta)
    phys_to_log = {v: k for k, v in mapping.items()}
    # partitionColumns may be stated in either namespace by foreign
    # writers; normalize to logical
    part_cols = [
        phys_to_log.get(c, c) for c in (meta.get("partitionColumns") or [])
    ]
    types = {f.name: f.dataType for f in schema.fields}
    if id_mode:
        read_schema = StructType(
            [
                StructField(
                    f.name, f.dataType, True, {"parquet.field.id": ids[f.name][0]}
                )
                for f in schema.fields
                if f.name not in part_cols
            ]
        )
    else:
        read_schema = StructType(
            [
                StructField(mapping.get(f.name, f.name), f.dataType, True)
                for f in schema.fields
                if f.name not in part_cols
            ]
        )
    rt_cols = _rt_materialized_cols(meta) if row_tracking else None
    if row_tracking and rt_cols is None:
        raise ValueError(
            "row tracking is not enabled on this table — run "
            "enable_delta_row_tracking first"
        )
    if rt_cols:
        for c in rt_cols:
            read_schema = read_schema.add(StructField(c, LongType(), True))
    groups: dict[tuple, list[str]] = {}
    for fname, add in adds.items():
        pv = (add.get("partitionValues") or {}) if part_cols else {}
        key = tuple(
            pv.get(mapping.get(c, c), pv.get(c)) for c in part_cols
        )
        groups.setdefault(key, []).append(fname)
    frames = []
    for key, fs in sorted(groups.items(), key=_partition_group_order):
        dv_files = {
            f: adds[f]["deletionVector"]
            for f in fs
            if adds[f].get("deletionVector")
        }
        df = spark.read.schema(read_schema).parquet(
            *[_abs_add_path(path, f) for f in sorted(fs)]
        )
        if rt_cols or keep_file:
            df = df.withColumn(
                _DP_FILE,
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
            ).withColumn(_DP_RI, F.col("_metadata.row_index"))
        if dv_files:
            df = _apply_dvs(spark, path, df, dv_files)
        # name mode scans under physical names → rename to logical;
        # id mode already read under logical names (field-id resolution)
        if not id_mode:
            for f in schema.fields:
                phys = mapping.get(f.name, f.name)
                if phys != f.name and f.name not in part_cols:
                    df = df.withColumnRenamed(phys, f.name)
        for c, raw in zip(part_cols, key):
            lit = F.lit(None) if raw is None else F.lit(raw)
            df = df.withColumn(c, lit.cast(types[c]))
        out_cols = [f.name for f in schema.fields]
        if rt_cols:
            out_cols += [_DP_FILE, _DP_RI, *rt_cols]
        elif keep_file:
            out_cols += [_DP_FILE]
        frames.append(df.select(*out_cols))
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df)
    if rt_cols:
        anchors = local_rows_df(spark, 
            [
                (
                    f.rsplit("/", 1)[-1],
                    a.get("baseRowId"),
                    a.get("defaultRowCommitVersion"),
                )
                for f, a in adds.items()
            ],
            f"{_DP_FILE} string, _dp_base bigint, _dp_dcv bigint",
        )
        rid, rcv = rt_cols
        out = (
            out.join(F.broadcast(anchors), _DP_FILE, "left")
            .withColumn(
                "_row_id",
                F.coalesce(
                    F.col(rid), F.col("_dp_base") + F.col(_DP_RI)
                ),
            )
            .withColumn(
                "_row_commit_version",
                F.coalesce(F.col(rcv), F.col("_dp_dcv")),
            )
            .select(
                *[f.name for f in schema.fields],
                *([_DP_FILE] if keep_file else []),
                "_row_id",
                "_row_commit_version",
            )
        )
    return out


def write_delta_checkpoint(
    spark: SparkSession, path: str, version: int | None = None,
    v2: bool | None = None,
) -> int:
    """Write a CHECKPOINT of the folded state and point
    `_last_checkpoint` at it — the structure real readers use to skip
    the JSON tail.  Commits stay untouched (time travel).

    Layout follows the table's protocol: on a table announcing the
    `v2Checkpoint` feature (or with ``v2=True``) the V2 layout is
    written — file actions in a parquet SIDECAR under
    `_delta_log/_sidecars/`, a UUID-named JSON top-level carrying
    checkpointMetadata + protocol + metaData + txn + the sidecar
    pointer (the spec REQUIRES v2 format once the feature is on);
    otherwise the classic single parquet."""
    vs = delta_versions(path)
    if not vs and _last_checkpoint(path) is None:
        raise FileNotFoundError(f"no Delta log under {path}")
    if version is None:
        version = vs[-1] if vs else int(_last_checkpoint(path)["version"])
    meta, live, version = _fold_delta_state(spark, path, version)
    proto_now = _current_protocol(path)
    if v2 is None:
        v2 = "v2Checkpoint" in set(proto_now.get("readerFeatures") or [])
    if v2:
        return _write_checkpoint_v2(spark, path, version, meta, live, proto_now)
    add_type = (
        "struct<path:string,partitionValues:map<string,string>,"
        "size:bigint,modificationTime:bigint,dataChange:boolean,"
        "stats:string,deletionVector:struct<storageType:string,"
        "pathOrInlineDv:string,offset:int,sizeInBytes:int,"
        "cardinality:bigint>,baseRowId:bigint,"
        "defaultRowCommitVersion:bigint>"
    )
    meta_type = (
        "struct<id:string,format:struct<provider:string>,"
        "schemaString:string,partitionColumns:array<string>,"
        "configuration:map<string,string>,createdTime:bigint>"
    )
    proto_type = (
        "struct<minReaderVersion:int,minWriterVersion:int,"
        "readerFeatures:array<string>,writerFeatures:array<string>>"
    )
    txn_type = "struct<appId:string,version:bigint>"
    dm_type = "struct<domain:string,configuration:string,removed:boolean>"
    rows = [
        {
            "add": {
                "path": a["path"],
                "partitionValues": a.get("partitionValues") or {},
                "size": int(a.get("size") or 0),
                "modificationTime": int(a.get("modificationTime") or 0),
                "dataChange": False,
                # stats survive checkpointing, or data skipping would
                # silently stop working once a checkpoint lands
                "stats": a.get("stats"),
                # and so do deletion vectors, or checkpointing would
                # silently resurrect deleted rows
                "deletionVector": (
                    {
                        "storageType": dv["storageType"],
                        "pathOrInlineDv": dv["pathOrInlineDv"],
                        "offset": int(dv.get("offset") or 0),
                        "sizeInBytes": int(dv.get("sizeInBytes") or 0),
                        "cardinality": int(dv.get("cardinality") or 0),
                    }
                    if (dv := a.get("deletionVector"))
                    else None
                ),
                # row-tracking anchors survive too, or every row id
                # would silently change after a checkpoint
                "baseRowId": a.get("baseRowId"),
                "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
            },
            "metaData": None,
            "protocol": None,
            "txn": None,
            "domainMetadata": None,
        }
        for a in live.values()
    ]
    rows.append(
        {
            "add": None,
            "metaData": {
                "id": meta["id"],
                "format": {"provider": "parquet"},
                "schemaString": meta["schemaString"],
                "partitionColumns": list(meta.get("partitionColumns") or []),
                # configuration must survive, or CHECK constraints /
                # column mapping / row tracking silently degrade after
                # log cleanup
                "configuration": dict(meta.get("configuration") or {}),
                "createdTime": int(meta.get("createdTime") or 0),
            },
            "protocol": None,
            "txn": None,
            "domainMetadata": None,
        }
    )
    # the checkpoint must restate the table's ACTUAL protocol (feature
    # flags included) — writing the default here would un-announce
    # deletionVectors and break readers' feature gating
    rows.append(
        {
            "add": None,
            "metaData": None,
            "protocol": _current_protocol(path),
            "txn": None,
            "domainMetadata": None,
        }
    )
    # and the application-transaction state (latest txn per appId), or
    # an idempotent streaming writer would re-apply batches after the
    # JSON tail is checkpointed away — the spec's checkpoint rule
    for app_id, txv in sorted(delta_txn_versions(spark, path).items()):
        rows.append(
            {
                "add": None,
                "metaData": None,
                "protocol": None,
                "txn": {"appId": app_id, "version": int(txv)},
                "domainMetadata": None,
            }
        )
    # live metadata domains (e.g. delta.rowTracking's high-water mark)
    for dom, cfg in sorted(_delta_domains(path).items()):
        rows.append(
            {
                "add": None,
                "metaData": None,
                "protocol": None,
                "txn": None,
                "domainMetadata": {
                    "domain": dom,
                    "configuration": cfg,
                    "removed": False,
                },
            }
        )
    schema = (
        f"add {add_type}, metaData {meta_type}, protocol {proto_type}, "
        f"txn {txn_type}, domainMetadata {dm_type}"
    )
    ck = os.path.join(_log_dir(path), _CKPT_FMT.format(version))
    tmpdir = os.path.join(_log_dir(path), f"_ckpt-{uuid.uuid4().hex}")
    local_rows_df(spark, 
        [
            (
                r["add"],
                r["metaData"],
                r["protocol"],
                r["txn"],
                r["domainMetadata"],
            )
            for r in rows
        ],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(tmpdir)
    part = next(
        f for f in sorted(os.listdir(tmpdir)) if f.endswith(".parquet")
    )
    os.replace(os.path.join(tmpdir, part), ck)
    shutil.rmtree(tmpdir)
    tmp = os.path.join(_log_dir(path), f"_lc-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump({"version": version, "size": len(rows)}, f)
    os.replace(tmp, os.path.join(_log_dir(path), "_last_checkpoint"))
    return version


def _write_checkpoint_v2(
    spark: SparkSession,
    path: str,
    version: int,
    meta: dict,
    live: dict,
    proto: dict,
) -> int:
    """The V2 checkpoint layout: one parquet sidecar holding every
    live add action, one UUID-named JSON top-level with the non-file
    actions and the sidecar pointer."""
    ld = _log_dir(path)
    sc_dir = os.path.join(ld, "_sidecars")
    os.makedirs(sc_dir, exist_ok=True)
    add_type = (
        "struct<path:string,partitionValues:map<string,string>,"
        "size:bigint,modificationTime:bigint,dataChange:boolean,"
        "stats:string,deletionVector:struct<storageType:string,"
        "pathOrInlineDv:string,offset:int,sizeInBytes:int,"
        "cardinality:bigint>,baseRowId:bigint,"
        "defaultRowCommitVersion:bigint>"
    )
    add_rows = [
        (
            (
                a["path"],
                a.get("partitionValues") or {},
                int(a.get("size") or 0),
                int(a.get("modificationTime") or 0),
                False,
                a.get("stats"),
                (
                    (
                        dv["storageType"],
                        dv["pathOrInlineDv"],
                        int(dv.get("offset") or 0),
                        int(dv.get("sizeInBytes") or 0),
                        int(dv.get("cardinality") or 0),
                    )
                    if (dv := a.get("deletionVector"))
                    else None
                ),
                a.get("baseRowId"),
                a.get("defaultRowCommitVersion"),
            ),
        )
        for a in live.values()
    ]
    sc_name = f"{uuid.uuid4().hex}.parquet"
    tmpdir = os.path.join(ld, f"_ckpt-{uuid.uuid4().hex}")
    if add_rows:
        df = local_rows_df(spark, add_rows, f"add {add_type}")
    else:
        from pyspark.sql.types import StructType

        df = spark.createDataFrame(
            [], StructType.fromDDL(f"add {add_type}")
        )
    df.coalesce(1).write.mode("overwrite").parquet(tmpdir)
    part = next(
        f for f in sorted(os.listdir(tmpdir)) if f.endswith(".parquet")
    )
    os.replace(os.path.join(tmpdir, part), os.path.join(sc_dir, sc_name))
    shutil.rmtree(tmpdir)
    top = os.path.join(
        ld, f"{version:020d}.checkpoint.{uuid.uuid4()}.json"
    )
    lines = [
        json.dumps(
            {"checkpointMetadata": {"version": version, "tags": {}}}
        ),
        json.dumps({"protocol": proto}),
        json.dumps(
            {
                "metaData": {
                    "id": meta["id"],
                    "format": {"provider": "parquet"},
                    "schemaString": meta["schemaString"],
                    "partitionColumns": list(
                        meta.get("partitionColumns") or []
                    ),
                    "configuration": dict(meta.get("configuration") or {}),
                    "createdTime": int(meta.get("createdTime") or 0),
                }
            }
        ),
    ]
    for app_id, txv in sorted(delta_txn_versions(spark, path).items()):
        lines.append(
            json.dumps({"txn": {"appId": app_id, "version": int(txv)}})
        )
    for dom, cfg in sorted(_delta_domains(path).items()):
        lines.append(
            json.dumps(
                {
                    "domainMetadata": {
                        "domain": dom,
                        "configuration": cfg,
                        "removed": False,
                    }
                }
            )
        )
    sc_path = os.path.join(sc_dir, sc_name)
    lines.append(
        json.dumps(
            {
                "sidecar": {
                    "path": sc_name,
                    "sizeInBytes": os.path.getsize(sc_path),
                    "modificationTime": int(os.path.getmtime(sc_path) * 1000),
                }
            }
        )
    )
    tmp = os.path.join(ld, f"_ckpt-{uuid.uuid4().hex}.json.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, top)
    lc = os.path.join(ld, f"_lc-{uuid.uuid4().hex}.tmp")
    with open(lc, "w") as f:
        json.dump({"version": version, "size": len(live) + len(lines)}, f)
    os.replace(lc, os.path.join(ld, "_last_checkpoint"))
    return version


#: legacy writer versions → the table features they imply (spec's
#: upgrade table) — needed when raising a table to protocol (3, 7)
_IMPLIED_WRITER_FEATURES = {
    2: ["appendOnly", "invariants"],
    3: ["checkConstraints"],
    4: ["changeDataFeed", "generatedColumns"],
    5: ["columnMapping"],
    6: ["identityColumns"],
}


def enable_delta_ict(spark: SparkSession, path: str) -> int:
    """Enable In-Commit Timestamps: protocol upgrade to writer v7 with
    the `inCommitTimestamp` feature (legacy-implied features expanded,
    reader version untouched — ICT is writer-only) plus the spec's
    three table properties; the enablement commit itself carries the
    first inCommitTimestamp, and every later commit gets a strictly
    increasing one from `_claim_delta_version`."""
    meta, _live, _v = _fold_delta_state(spark, path, None)
    conf = dict(meta.get("configuration") or {})
    if conf.get("delta.enableInCommitTimestamps") == "true":
        return delta_versions(path)[-1]
    proto = _current_protocol(path)
    feats_w = set(proto.get("writerFeatures") or [])
    if proto.get("minWriterVersion", 1) < 7:
        for ver, feats in _IMPLIED_WRITER_FEATURES.items():
            if proto.get("minWriterVersion", 1) >= ver:
                feats_w.update(feats)
    feats_w.add("inCommitTimestamp")
    unsupported = feats_w - _SUPPORTED_WRITER_FEATURES
    if unsupported:
        raise ValueError(
            "cannot upgrade: implied writer features we do not "
            f"implement: {sorted(unsupported)}"
        )
    new_proto = {
        "minReaderVersion": proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        "writerFeatures": sorted(feats_w),
    }
    if proto.get("minReaderVersion", 1) >= 3:
        new_proto["readerFeatures"] = sorted(
            set(proto.get("readerFeatures") or [])
        )
    now_ms = int(time.time() * 1000)
    expected = delta_versions(path)[-1] + 1
    conf["delta.enableInCommitTimestamps"] = "true"
    conf["delta.inCommitTimestampEnablementVersion"] = str(expected)
    conf["delta.inCommitTimestampEnablementTimestamp"] = str(now_ms)
    new_meta = dict(meta, configuration=conf)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "inCommitTimestamp": now_ms,
                    "operation": "UPGRADE",
                }
            }
        ),
        json.dumps({"protocol": new_proto}),
        json.dumps({"metaData": new_meta}),
    ]
    got = _claim_delta_version(path, lines)
    if got != expected:
        # lost a race: fix the recorded enablement version (the
        # property is informational for time-travel boundaries)
        conf["delta.inCommitTimestampEnablementVersion"] = str(got)
        _claim_delta_version(
            path,
            [json.dumps({"metaData": dict(meta, configuration=conf)})],
        )
    return got


def enable_delta_row_tracking(spark: SparkSession, path: str) -> int:
    """Enable ROW TRACKING (spec: writer feature `rowTracking` +
    `domainMetadata`, writer v7; readers need nothing, which is why
    the feature is writer-only): every row gets a durable `_row_id`
    (fresh rows: add-action `baseRowId` + position) and a
    `_row_commit_version` (fresh: `defaultRowCommitVersion`), with
    rewrites materializing both into hidden file columns whose names
    live in the table configuration.  The enablement commit BACKFILLS
    the existing table metadata-only: every live add is re-committed
    with its original commit version as `defaultRowCommitVersion`
    (from a log walk; checkpoint-era files fall back to the enablement
    version) and `_claim_delta_version` assigns their baseRowId ranges
    + the `delta.rowTracking` high-water mark in the same commit — no
    data file is touched."""
    meta, live, _v = _fold_delta_state(spark, path, None)
    conf = dict(meta.get("configuration") or {})
    if conf.get("delta.enableRowTracking") == "true":
        return delta_versions(path)[-1]
    proto = _current_protocol(path)
    feats_w = set(proto.get("writerFeatures") or [])
    if proto.get("minWriterVersion", 1) < 7:
        for ver, feats in _IMPLIED_WRITER_FEATURES.items():
            if proto.get("minWriterVersion", 1) >= ver:
                feats_w.update(feats)
    feats_w.update({"rowTracking", "domainMetadata"})
    unsupported = feats_w - _SUPPORTED_WRITER_FEATURES
    if unsupported:
        raise ValueError(
            "cannot upgrade: implied writer features we do not "
            f"implement: {sorted(unsupported)}"
        )
    new_proto = {
        "minReaderVersion": proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        "writerFeatures": sorted(feats_w),
    }
    if proto.get("minReaderVersion", 1) >= 3:
        new_proto["readerFeatures"] = sorted(
            set(proto.get("readerFeatures") or [])
        )
    tag = uuid.uuid4().hex[:8]
    conf["delta.enableRowTracking"] = "true"
    conf["delta.rowTracking.materializedRowIdColumnName"] = (
        f"_row_id_col_{tag}"
    )
    conf["delta.rowTracking.materializedRowCommitVersionColumnName"] = (
        f"_row_cv_col_{tag}"
    )
    # original commit version per live file (for defaultRowCommitVersion)
    add_versions: dict[str, int] = {}
    for v in delta_versions(path):
        for a in _read_actions(path, v):
            if "add" in a:
                add_versions[a["add"]["path"]] = v
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "UPGRADE",
                    "operationParameters": {"feature": "rowTracking"},
                }
            }
        ),
        json.dumps({"protocol": new_proto}),
        json.dumps({"metaData": dict(meta, configuration=conf)}),
    ]
    for fname in sorted(live):
        add = dict(live[fname])
        add.pop("baseRowId", None)  # assigned at claim time
        ov = add_versions.get(fname)
        if ov is not None:
            add["defaultRowCommitVersion"] = ov
        else:
            add.pop("defaultRowCommitVersion", None)
        add["dataChange"] = False
        lines.append(json.dumps({"add": add}))
    return _claim_delta_version(path, lines)


def upgrade_delta_to_v2_checkpoints(path: str) -> int:
    """Enable the `v2Checkpoint` feature: commit a protocol upgrade to
    (minReader 3, minWriter 7) listing v2Checkpoint PLUS every feature
    the table's previous legacy versions implied (the spec's upgrade
    rule — dropping an implied feature would silently waive it).
    Subsequent `write_delta_checkpoint` calls emit the v2 layout, as
    the feature requires."""
    proto = _current_protocol(path)
    feats_r = set(proto.get("readerFeatures") or [])
    feats_w = set(proto.get("writerFeatures") or [])
    if "v2Checkpoint" in feats_r and "v2Checkpoint" in feats_w:
        vs = delta_versions(path)
        if vs:
            return vs[-1]
        ckpt = _last_checkpoint(path)  # log-cleaned, checkpoint-only
        if ckpt is not None:
            return int(ckpt["version"])
        raise FileNotFoundError(f"no Delta log under {path}")
    if proto.get("minWriterVersion", 1) < 7:
        for v, feats in _IMPLIED_WRITER_FEATURES.items():
            if proto.get("minWriterVersion", 1) >= v:
                feats_w.update(feats)
    if proto.get("minReaderVersion", 1) >= 2:
        feats_r.add("columnMapping")
    feats_r.add("v2Checkpoint")
    feats_w.add("v2Checkpoint")
    unsupported = feats_w - _SUPPORTED_WRITER_FEATURES
    if unsupported:
        raise ValueError(
            "cannot upgrade: implied writer features we do not "
            f"implement: {sorted(unsupported)}"
        )
    new_proto = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(feats_r),
        "writerFeatures": sorted(feats_w),
    }
    return _claim_delta_version(
        path, [json.dumps({"protocol": new_proto})]
    )


def _pyarrow_rows(f: str) -> list[dict]:
    """Sidecar rows of a parquet checkpoint without a Spark session
    (raises KeyError-ish if the file has no sidecar column — classic
    checkpoints — which callers treat as 'none')."""
    import pyarrow.parquet as pq

    t = pq.read_table(f, columns=["sidecar"])
    return t.to_pylist()


def cleanup_delta_log(path: str, retain_versions: int = 0) -> int:
    """Metadata log cleanup (`delta.logRetentionDuration`'s version-
    count analogue): delete JSON commits and superseded checkpoint
    files STRICTLY OLDER than the newest checkpoint minus
    `retain_versions` — everything at/after the cut stays replayable
    (checkpoint + tail), older time travel is traded for space,
    exactly what real Delta's log cleanup does.  V2 sidecars that no
    remaining checkpoint references are removed too.  Requires a
    checkpoint (there is nothing to fold from otherwise); returns the
    number of files deleted."""
    ckpt = _last_checkpoint(path)
    if ckpt is None:
        raise ValueError(
            "log cleanup requires a checkpoint — write one first "
            "(write_delta_checkpoint)"
        )
    ck_v = int(ckpt["version"])
    cut = ck_v - max(0, int(retain_versions))
    ld = _log_dir(path)
    deleted = 0
    # Replay anchor: the newest complete checkpoint AT OR BELOW the
    # cut.  Retained versions in [cut, ck_v) fold from this anchor +
    # the retained JSON tail; without it they would need the full JSON
    # history we are about to delete, so JSON commits are only deleted
    # up to the anchor (<= anchor: the anchor checkpoint IS that
    # snapshot), and the anchor checkpoint itself is kept.
    anchors = [v for v in _checkpoint_versions(path) if v <= cut]
    anchor = max(anchors) if anchors else None
    json_cut = min(cut, anchor + 1) if anchor is not None else min(0, cut)
    for v in delta_versions(path):
        if v < json_cut:
            os.unlink(os.path.join(ld, _LOG_FMT.format(v)))
            deleted += 1
            # the version's checksum sidecar goes with its commit
            crc = os.path.join(ld, _CRC_FMT.format(v))
            if os.path.exists(crc):
                os.unlink(crc)
                deleted += 1
    # superseded checkpoints (any layout) below the newest one — the
    # replay anchor survives
    import glob as _glob

    kept_sidecars: set[str] = set()
    for f in sorted(set(_glob.glob(os.path.join(ld, "*.checkpoint.*")))):
        base = os.path.basename(f)
        try:
            v = int(base.split(".", 1)[0])
        except ValueError:
            continue
        if v < ck_v and v != anchor:
            os.unlink(f)
            deleted += 1
            continue
        # surviving v2 top-levels pin their sidecars (json or parquet)
        try:
            for d in _checkpoint_action_rows(None, f) if f.endswith(
                ".json"
            ) else _pyarrow_rows(f):
                if d.get("sidecar") and d["sidecar"].get("path"):
                    kept_sidecars.add(d["sidecar"]["path"])
        except (OSError, ValueError, KeyError):
            pass  # classic parquet without a sidecar column etc.
    sc_dir = os.path.join(ld, "_sidecars")
    if os.path.isdir(sc_dir):
        for name in os.listdir(sc_dir):
            if name.endswith(".parquet") and name not in kept_sidecars:
                os.unlink(os.path.join(sc_dir, name))
                deleted += 1
    return deleted


def _discover_parquet_layout(
    path: str, part_cols: list[str]
) -> list[tuple[str, dict]]:
    """(local file, hive partition values) for every parquet file
    under a plain directory layout — flat, or `key=value` hive dirs
    whose keys must equal `part_cols` exactly (a file under stray
    directories refuses rather than silently mis-partitioning)."""
    from urllib.parse import unquote

    out: list[tuple[str, dict]] = []
    for dirpath, dirs, fnames in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        rel = os.path.relpath(dirpath, path)
        segs = [] if rel == "." else rel.split(os.sep)
        pvals: dict[str, str | None] = {}
        for s in segs:
            if "=" not in s:
                raise ValueError(
                    f"directory {rel!r} is not hive-layout (key=value) "
                    "— CONVERT reads flat or hive-partitioned trees"
                )
            k, v = s.split("=", 1)
            pvals[k] = (
                None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
            )
        files = [
            f
            for f in fnames
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        if files and sorted(pvals) != sorted(part_cols):
            raise ValueError(
                f"files under partition dirs {sorted(pvals)} but "
                f"declared partition columns are {sorted(part_cols)} — "
                "declare the layout (partition_schema) exactly"
            )
        for f in sorted(files):
            out.append((os.path.join(dirpath, f), dict(pvals)))
    if not out:
        raise ValueError(f"no parquet files under {path!r}")
    # Spark's partitionBy writer reuses one basename across every
    # partition dir (part-<split>-<jobUUID>) — but this engine's
    # delete/DV machinery keys files by BASENAME (the uuid-named
    # landing invariant).  Colliding files are renamed IN PLACE (same
    # dir, pure metadata — still zero data movement) with their hive
    # segments prefixed, so the invariant holds from commit 0.
    import re as _re

    tails: dict[str, int] = {}
    for local, _p in out:
        t = os.path.basename(local)
        tails[t] = tails.get(t, 0) + 1
    dups = {t for t, c in tails.items() if c > 1}
    if dups:
        deduped = []
        for local, pvals in out:
            t = os.path.basename(local)
            if t in dups:
                prefix = "_".join(
                    _re.sub(r"\W+", "_", f"{k}_{v}")
                    for k, v in sorted(pvals.items())
                )
                new = os.path.join(os.path.dirname(local), f"{prefix}-{t}")
                os.rename(local, new)
                local = new
            deduped.append((local, pvals))
        out = deduped
    return out


def _convert_layout_and_fields(
    spark: SparkSession, path: str, partition_schema: dict[str, str] | None
) -> tuple[list[tuple[str, dict]], list]:
    """Shared CONVERT prelude (both converters): the discovered
    (file, hive values) layout plus the full StructField list — file
    schema extended with the declared partition columns, refusing a
    declaration that shadows a content column."""
    from pyspark.sql.types import StructField, _parse_datatype_string

    part_cols = list(partition_schema or {})
    layout = _discover_parquet_layout(path, part_cols)
    file_schema = spark.read.parquet(
        *sorted({f for f, _p in layout})
    ).schema
    overlap = set(part_cols) & {f.name for f in file_schema.fields}
    if overlap:
        raise ValueError(
            f"partition column(s) {sorted(overlap)} also live inside "
            "the files — hive layouts keep them out of the content"
        )
    fields = list(file_schema.fields) + [
        StructField(c, _parse_datatype_string(t), True)
        for c, t in (partition_schema or {}).items()
    ]
    return layout, fields


def convert_to_delta(
    spark: SparkSession,
    path: str,
    partition_schema: dict[str, str] | None = None,
) -> int:
    """`CONVERT TO DELTA parquet.`<dir>`` — generate a Delta log over
    an EXISTING parquet directory IN PLACE: no file is read beyond its
    footer, none is rewritten or moved.  Flat layouts convert as
    unpartitioned; hive `key=value` trees need `partition_schema`
    ({col: ddl type}) exactly like real CONVERT's PARTITIONED BY
    clause (partition values are not inferrable from the files — they
    live only in the dir names).  Each file's add action carries
    footer-derived stats JSON, so data skipping works from commit 0.
    O(files) footer reads, the same cost a first scan pays anyway."""
    if delta_versions(path) or _last_checkpoint(path) is not None:
        raise ValueError(f"{path!r} already carries a Delta log")
    part_cols = list(partition_schema or {})
    layout, fields = _convert_layout_and_fields(
        spark, path, partition_schema
    )
    schema_json = {
        "type": "struct", "fields": [f.jsonValue() for f in fields]
    }
    now_ms = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CONVERT",
                    "operationParameters": {"sourceFormat": "parquet"},
                    "engineInfo": "sparkgraft-deltaproto/1.0",
                }
            }
        ),
        json.dumps(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        ),
        json.dumps(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema_json),
                    "partitionColumns": part_cols,
                    "configuration": {},
                    "createdTime": now_ms,
                }
            }
        ),
    ]
    for local, pvals in layout:
        rel = os.path.relpath(local, path).replace(os.sep, "/")
        add = {
            "path": rel,
            "partitionValues": pvals,
            "size": os.path.getsize(local),
            "modificationTime": int(os.path.getmtime(local) * 1000),
            "dataChange": True,
        }
        stats = _file_stats_json(local)
        if stats is not None:
            add["stats"] = stats
        lines.append(json.dumps({"add": add}))
    return _claim_delta_version(path, lines, read_version=None)


# --------------------------------------------------------------------------
# Driver entry
# --------------------------------------------------------------------------

_DELTA_LAKE_VERSION = 2  # v2: fixture rebuilt so the checkpoint carries add stats


_DELTA_MERGE_LAKE_VERSION = 1


def delta_merge_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for MERGE: write `documents` as a Delta table
    (range-partitioned files so stats can prune), merge an update set
    (doc_id 100-149 with UPPER-cased text) plus an insert set (doc_id
    +10M clones of 150-159), then aggregate the snapshot per lang.
    The oracle restates the merged content off the raw parquet, so a
    value match proves key matching, file pruning, carried-row
    preservation, and the rewrite landed content-exact."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("deltamerge", _DELTA_MERGE_LAKE_VERSION, sf_dir),
        "docs_delta_merge",
    )
    if not delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_delta(docs.repartitionByRange(8, "doc_id"), path)
        updates = (
            docs.filter(F.col("doc_id").between(100, 149))
            .withColumn("text", F.upper(F.col("text")))
            .unionByName(
                docs.filter(F.col("doc_id").between(150, 159)).withColumn(
                    "doc_id", F.col("doc_id") + F.lit(10_000_000)
                )
            )
        )
        merge_upsert_delta(spark, updates, path, "doc_id")
    snap = read_delta(spark, path)
    return (
        snap.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.sum(F.length(F.lower("text"))).cast("bigint").alias("lower_chars"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("lang")
    )


DELTA_MERGE_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(LENGTH(LOWER(text))) AS BIGINT) AS lower_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM (
    SELECT doc_id, lang,
           CASE WHEN doc_id BETWEEN 100 AND 149 THEN UPPER(text)
                ELSE text END AS text
    FROM documents
    UNION ALL
    SELECT doc_id + 10000000 AS doc_id, lang, text
    FROM documents WHERE doc_id BETWEEN 150 AND 159
)
GROUP BY lang
ORDER BY lang
"""


def delta_interop_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate entry for the Delta-protocol path: write `documents`
    as a REAL partitioned Delta table (hive layout + `_delta_log` JSON
    commits: protocol/metaData/add actions), append a second slice,
    write a parquet checkpoint + `_last_checkpoint`, then read the
    snapshot back through the protocol reader (checkpoint + JSON tail,
    partition columns reconstructed from partitionValues) and aggregate
    per lang.  The DuckDB oracle restates the union off the raw
    parquet, so a value match proves the log format, hive partition
    landing, checkpoint fold, and partition-value reconstruction are
    exact."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("deltaproto", _DELTA_LAKE_VERSION, sf_dir),
        "docs_delta",
    )
    if not delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_delta(
            docs.filter(F.col("doc_id") % 2 == 0),
            path,
            partition_by=["lang"],
        )
        write_delta(docs.filter(F.col("doc_id") % 2 == 1), path)
        write_delta_checkpoint(spark, path)
    snap = read_delta(spark, path)
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


def delta_meta_tables_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for Delta METADATA TABLES: the `partitions`
    inspection table of the shared interop fixture must account for
    every live row from the LOG's stats JSON alone (numRecords per
    add action — no parquet data IO).  The oracle restates the per-lang
    counts off the raw parquet, so a value match proves the
    add/remove/checkpoint fold and per-file stats are exact."""
    # reuse (and build if needed) the interop fixture
    delta_interop_entry(spark, sf_dir).count()
    from ..functions.scale import default_index_dir

    path = os.path.join(
        default_index_dir("deltaproto", _DELTA_LAKE_VERSION, sf_dir),
        "docs_delta",
    )
    parts = read_delta_meta(spark, path, "partitions")
    return (
        parts.select(
            F.get_json_object("partitionValues", "$.lang").alias("lang"),
            "record_count",
            "file_count",
        )
        .groupBy("lang")
        .agg(
            F.sum("record_count").cast("bigint").alias("n_rows"),
            (F.sum("file_count") > 0).alias("has_files"),
        )
        .orderBy("lang")
    )


DELTA_META_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS has_files
FROM documents
GROUP BY lang
ORDER BY lang
"""


#: Bump when the generated-column fixture changes shape.
_DELTA_GEN_LAKE_VERSION = 1


def delta_generated_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for GENERATED COLUMNS: orders written as a
    real Delta table partitioned by a generated
    `date_format(o_orderdate, 'yyyy-MM')` month column
    (`delta.generationExpression` field metadata, minWriterVersion 4 —
    the protocol shape Databricks emits for generated partition
    columns), then a pruned scan whose RANGE PREDICATE IS ON THE
    SOURCE column: the reader maps the bounds through the monotone
    generation expression into partition space (Delta's
    generated-column partition filter) and aggregates one quarter per
    order priority.  The oracle restates the filter off the raw
    parquet — a value match proves expression computation, metadata
    persistence, and the bound mapping are exact; skip counts are
    pinned in pytest."""
    import datetime

    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("deltagen", _DELTA_GEN_LAKE_VERSION, sf_dir),
        "orders_delta_gen",
    )
    if not delta_versions(path):
        orders = load_table(spark, sf_dir, "orders")
        write_delta(
            orders,
            path,
            partition_by=["o_month"],
            generated={"o_month": "date_format(o_orderdate, 'yyyy-MM')"},
        )
    pr, _fr, _fs = read_delta_pruned(
        spark,
        path,
        "o_orderdate",
        datetime.datetime(1996, 4, 1),
        datetime.datetime(1996, 6, 30),
    )
    return (
        pr.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("sum_keys"),
        )
        .orderBy("o_orderpriority")
    )


DELTA_GENERATED_ORACLE_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-04-01' AND TIMESTAMP '1996-06-30'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


DELTA_INTEROP_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
GROUP BY lang
ORDER BY lang
"""


#: Bump when the row-tracking fixture lifecycle changes shape.
_DELTA_RT_LAKE_VERSION = 1


def _ensure_rt_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once row-tracking fixture with DETERMINISTIC id
    assignment: each batch lands as ONE file sorted by doc_id (so
    `_row_id` = rank within batch + batch offset, restatable in SQL).
    Lifecycle: v0 evens, v1 enable (backfill, commit version 0 kept),
    v2 odds, v3 DV delete 100-249 (anchors carried, no rewrite), v4
    UPDATE nchars for doc_id 300-349 (rewrite: ids MATERIALIZE, only
    the updated rows' commit version moves to 4)."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("deltart", _DELTA_RT_LAKE_VERSION, sf_dir),
        "docs_delta_rt",
    )
    if not delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", F.length("text").cast("bigint").alias("nchars")
        )
        for parity in (0, 1):
            batch = (
                docs.filter(F.col("doc_id") % 2 == parity)
                .repartition(1)
                .sortWithinPartitions("doc_id")
            )
            write_delta(batch, path)
            if parity == 0:
                enable_delta_row_tracking(spark, path)
        delete_where_delta(spark, path, "doc_id", 100, 249, strategy="dv")
        update_where_delta(
            spark, path, {"nchars": "nchars + 1000000"}, "doc_id", 300, 349
        )
    return path


def delta_row_tracking_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for Delta ROW TRACKING: read the fixture with
    `_row_id` / `_row_commit_version` attached and aggregate per lang.
    The oracle recomputes every surviving row's id from first
    principles (rank within its sorted single-file batch + the batch
    offset) and every row's commit version from the lifecycle (evens
    0, odds 2, updated rows 4), so a value match proves claim-time
    baseRowId assignment, high-water-mark bookkeeping, anchor
    preservation through the DV delete, and id materialization through
    the UPDATE rewrite — the durable-row-id contract an incremental
    100-TB pipeline joins on."""
    rt = read_delta(
        spark, _ensure_rt_lake(spark, sf_dir), with_row_tracking=True
    )
    return (
        rt.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_row_id").cast("bigint").alias("sum_row_ids"),
            F.min("_row_id").cast("bigint").alias("min_row_id"),
            F.max("_row_id").cast("bigint").alias("max_row_id"),
            F.sum("_row_commit_version").cast("bigint").alias("sum_cvs"),
        )
        .orderBy("lang")
    )


DELTA_RT_ORACLE_SQL = """
WITH ids AS (
    SELECT doc_id, lang,
           (ROW_NUMBER() OVER (
                PARTITION BY doc_id % 2 ORDER BY doc_id
            ) - 1)
           + CASE WHEN doc_id % 2 = 1
                  THEN (SELECT COUNT(*) FROM documents
                        WHERE doc_id % 2 = 0)
                  ELSE 0 END AS row_id,
           CASE WHEN doc_id BETWEEN 300 AND 349 THEN 4
                WHEN doc_id % 2 = 1 THEN 2
                ELSE 0 END AS cv
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(row_id) AS BIGINT) AS sum_row_ids,
       CAST(MIN(row_id) AS BIGINT) AS min_row_id,
       CAST(MAX(row_id) AS BIGINT) AS max_row_id,
       CAST(SUM(cv) AS BIGINT) AS sum_cvs
FROM ids
WHERE doc_id NOT BETWEEN 100 AND 249
GROUP BY lang
ORDER BY lang
"""


_DELTA_VARIANT_LAKE_VERSION = 1


def _ensure_variant_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once VARIANT fixture: `documents` projected to (doc_id,
    props) where props is a real VARIANT built from the row's own
    fields (`parse_json(to_json(struct(...)))`), landed as an
    unshredded variantType table, then DV-deleted over a doc_id range
    — variant + deletion vectors + the merged feature protocol on one
    table."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir(
            "deltavariant", _DELTA_VARIANT_LAKE_VERSION, sf_dir
        ),
        "docs_delta_variant",
    )
    if not delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.parse_json(
                F.to_json(F.struct("lang", "source", "n_chars"))
            ).alias("props"),
        )
        write_delta(docs.repartition(4), path)
        delete_where_delta(spark, path, "doc_id", 100, 199, strategy="dv")
    return path


def delta_variant_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for the Delta variantType feature: read the
    variant table (DV mask applied), extract typed fields with
    variant_get, and aggregate.  The oracle restates the same
    aggregate from the raw documents parquet, so a value match proves
    the storage round-trip — schemaString `variant`, annotated parquet
    group, DV-masked scan — is lossless field-by-field.  Scale shape:
    variant decode is a columnar scan expression (no UDF, no shuffle
    added); the group-by is the only exchange."""
    snap = read_delta(spark, _ensure_variant_lake(spark, sf_dir))
    return (
        snap.select(
            F.variant_get("props", "$.lang", "string").alias("lang"),
            F.variant_get("props", "$.n_chars", "long").alias("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("lang")
    )


DELTA_VARIANT_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
WHERE doc_id NOT BETWEEN 100 AND 199
GROUP BY lang
ORDER BY lang
"""


#: Bump when the schema-evolution fixture's pipeline changes shape.
_DELTA_EVOLUTION_LAKE_VERSION = 1


def _ensure_evolution_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once SCHEMA-EVOLUTION fixture: documents written, then
    the full metadata-only ALTER matrix applied — RENAME text→body
    (upgrades to column mapping), DROP source (bytes stay on disk,
    unprojected), ADD note (all-null), and an append against the
    evolved schema.  Every file on disk predates some part of the
    final schema, so the read exercises mapping resolution, dropped-
    column pruning, and missing-column null fill at once."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir(
            "deltaevol", _DELTA_EVOLUTION_LAKE_VERSION, sf_dir
        ),
        "docs_delta_evolution",
    )
    if not delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_delta(docs.filter(F.col("doc_id") % 2 == 0), path)
        rename_delta_column(spark, path, "text", "body")
        drop_delta_column(spark, path, "source")
        add_delta_column(spark, path, "note", "string")
        late = (
            docs.filter(F.col("doc_id") % 2 == 1)
            .withColumnRenamed("text", "body")
            .drop("source")
            .withColumn("note", F.lit("late"))
        )
        write_delta(
            late.select("doc_id", "lang", "body", "note"),
            path,
            mode="append",
        )
    return path


def delta_evolution_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for the ALTER TABLE matrix (r12): after
    rename + drop + add + append, the per-lang aggregate over the
    mapped/renamed column, the null-filled added column, and the
    surviving ids must restate exactly from the raw parquet — a value
    match proves mapping resolution and dropped-column pruning never
    touch row content."""
    path = _ensure_evolution_lake(spark, sf_dir)
    snap = read_delta(spark, path)
    return (
        snap.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("body")).cast("bigint").alias("total_chars"),
            F.count("note").cast("bigint").alias("n_notes"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("lang")
    )


DELTA_EVOLUTION_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_notes,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
GROUP BY lang
ORDER BY lang
"""


_DELTA_DEFAULTS_LAKE_VERSION = 1


def _ensure_defaults_delta_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once COLUMN-DEFAULTS fixture (allowColumnDefaults, r13):
    orders written with a `channel` column, a CHECK constraint over
    it, then SET DEFAULT 'web' — a second append OMITS the column
    entirely and write_delta fills it from CURRENT_DEFAULT (the
    constraint passing on the filled value).  Files carry the value,
    so any foreign reader sees the same rows."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir(
            "deltadflt", _DELTA_DEFAULTS_LAKE_VERSION, sf_dir
        ),
        "orders_delta_defaults",
    )
    if not delta_versions(path):
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_custkey").alias("ckey"),
            F.col("o_totalprice").alias("price"),
        )
        early = orders.filter(F.col("okey") % 2 == 0).withColumn(
            "channel", F.lit("store")
        )
        write_delta(early, path)
        add_delta_constraint(
            spark, path, "channel_known", "channel IS NOT NULL"
        )
        set_delta_column_default(spark, path, "channel", "'web'")
        late = orders.filter(F.col("okey") % 2 == 1)  # channel OMITTED
        write_delta(late, path, mode="append")
    return path


def delta_defaults_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for Delta column DEFAULTS: after the
    channel-omitting append, per-channel aggregates must restate from
    the raw orders with the default applied to exactly the odd keys —
    a value match proves the fill is write-time, typed, and
    constraint-checked."""
    path = _ensure_defaults_delta_lake(spark, sf_dir)
    return (
        read_delta(spark, path)
        .groupBy("channel")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("okey").cast("bigint").alias("sum_keys"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("sum_price"),
        )
        .orderBy("channel")
    )


DELTA_DEFAULTS_ORACLE_SQL = """
SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'store' ELSE 'web' END
           AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS sum_price
FROM orders
GROUP BY 1
ORDER BY 1
"""


#: doc_id range deleted by the roundtrip pipeline.
_ROUNDTRIP_DELETE_LO, _ROUNDTRIP_DELETE_HI = 100, 199
#: Bump a lake version when its entry's pipeline changes shape: each
#: entry reuses a previously-built lake only if its version tag matches.
_ROUNDTRIP_LAKE_VERSION = 1


def _ensure_roundtrip_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per version+sf, under spark-warehouse) the shared
    append → stats-pruned DELETE → OPTIMIZE documents table used by the
    roundtrip and changes-feed entries."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("docs_delta", _ROUNDTRIP_LAKE_VERSION, sf_dir),
        "docs_lake",
    )
    if not delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_delta(docs.repartitionByRange(8, "doc_id"), path)
        delete_where_delta(
            spark, path, "doc_id", _ROUNDTRIP_DELETE_LO, _ROUNDTRIP_DELETE_HI
        )
        compact_delta(spark, path, target_mb=128)
    return path


def documents_roundtrip_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked entry that value-checks the TABLE FORMAT itself:
    write `documents` as a Delta table, run a stats-pruned DELETE of a
    doc_id range and an OPTIMIZE compaction, then aggregate the
    surviving snapshot per source.  The DuckDB oracle states the same
    aggregate over the raw parquet with the deleted range excluded — so
    a value match proves the log fold, file pruning, delete rewrite and
    compaction preserved content EXACTLY (not just row counts).  The
    lake is built once per (version, sf) under spark-warehouse and
    reused — the same build-once pattern as the ANN/topic serving
    indexes."""
    snap = read_delta(spark, _ensure_roundtrip_lake(spark, sf_dir))
    return (
        snap.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.count_distinct("lang").cast("bigint").alias("n_langs"),
        )
        .orderBy("source")
    )


ROUNDTRIP_ORACLE_SQL = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents
WHERE doc_id NOT BETWEEN {_ROUNDTRIP_DELETE_LO} AND {_ROUNDTRIP_DELETE_HI}
GROUP BY source
ORDER BY source
"""


_DV_LAKE_VERSION = 1
_DV_DELETE_A = (100, 199)
_DV_DELETE_B = (300, 349)


def dv_roundtrip_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked entry for DELETION VECTORS: write `documents`, run
    TWO stacked DV deletes (no data file is rewritten — each touched
    file is re-added with its unioned deletion vector), then aggregate
    the visible snapshot per source.  The DuckDB oracle states the same
    aggregate over the raw parquet with both ranges excluded, so a
    value match proves position capture, DV stacking and scan-time DV
    application hide EXACTLY the deleted rows.  Lake built once per
    (version, sf), like its siblings."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("docs_delta_dv", _DV_LAKE_VERSION, sf_dir),
        "docs_lake_dv",
    )
    if not delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_delta(docs.repartitionByRange(8, "doc_id"), path)
        delete_where_delta(spark, path, "doc_id", *_DV_DELETE_A, strategy="dv")
        delete_where_delta(spark, path, "doc_id", *_DV_DELETE_B, strategy="dv")
    return (
        read_delta(spark, path)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("source")
    )


DV_ORACLE_SQL = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
WHERE doc_id NOT BETWEEN {_DV_DELETE_A[0]} AND {_DV_DELETE_A[1]}
  AND doc_id NOT BETWEEN {_DV_DELETE_B[0]} AND {_DV_DELETE_B[1]}
GROUP BY source
ORDER BY source
"""


def changes_feed_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked entry for the CHANGE DATA FEED: over the shared
    append → DELETE → OPTIMIZE lake, `read_changes_delta` from version
    0 must emit every ingested row as an 'insert', the deleted doc_id
    range as 'delete' rows (the DELETE commit's `cdc` file), and
    NOTHING for the compaction (its actions carry `dataChange: false`).
    The DuckDB oracle states both legs straight off the raw parquet, so
    a value match proves the feed is exact and maintenance commits are
    invisible to incremental consumers."""
    feed = read_changes_delta(
        spark, _ensure_roundtrip_lake(spark, sf_dir), since_version=0
    )
    return (
        feed.groupBy(
            F.col("_change_type").alias("change_type"), F.col("source")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("change_type", "source")
    )


CHANGES_FEED_ORACLE_SQL = f"""
SELECT change_type, source, n_rows, sum_ids FROM (
  SELECT 'insert' AS change_type, source,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(doc_id) AS BIGINT) AS sum_ids
  FROM documents GROUP BY source
  UNION ALL
  SELECT 'delete' AS change_type, source,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(doc_id) AS BIGINT) AS sum_ids
  FROM documents
  WHERE doc_id BETWEEN {_ROUNDTRIP_DELETE_LO} AND {_ROUNDTRIP_DELETE_HI}
  GROUP BY source
)
ORDER BY change_type, source
"""


_PART_LAKE_VERSION = 1
_PART_SCAN_LANG = "en"
_PART_SCAN_LO, _PART_SCAN_HI = 0, 249


def partitioned_scan_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked entry for PARTITIONED Delta tables: write `documents`
    PARTITIONED BY (lang), range-clustered on doc_id so the per-file
    stats are tight, then answer a lang + doc_id box query:
    `read_delta_pruned` skips files from the add-actions' doc_id stats
    alone (no footer reads) and the lang filter runs on the partition
    column rebuilt from `partitionValues`.  The surviving rows are
    aggregated per source; the DuckDB oracle states the same aggregate
    over the raw parquet, so a value match proves partition landing,
    partition-value reconstruction and stats pruning lost no rows and
    leaked none.  Lake built once per (version, sf) under
    spark-warehouse, like the roundtrip entry."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("docs_delta_part", _PART_LAKE_VERSION, sf_dir),
        "docs_lake_part",
    )
    if not delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        write_delta(
            docs.repartitionByRange(4, "doc_id"), path, partition_by=["lang"]
        )
    df, _read, _skipped = read_delta_pruned(
        spark, path, "doc_id", _PART_SCAN_LO, _PART_SCAN_HI
    )
    return (
        df.filter(F.col("lang") == _PART_SCAN_LANG)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
        .orderBy("source")
    )


PARTITIONED_ORACLE_SQL = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
FROM documents
WHERE lang = '{_PART_SCAN_LANG}'
  AND doc_id BETWEEN {_PART_SCAN_LO} AND {_PART_SCAN_HI}
GROUP BY source
ORDER BY source
"""


_BLOOM_LAKE_VERSION = 1
#: Probe ids present at every SF (documents spans 0..499 even at
#: sf0.001) plus two keys absent from the table, which must match
#: nothing.
_BLOOM_PROBE_IDS = (7, 57, 123, 250, 411)
_BLOOM_ABSENT_KEYS = ("not-a-key-a", "not-a-key-b")


def bloom_lookup_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked entry for point lookups on a high-cardinality
    UNSORTED string key: write `documents` keyed by `md5(doc_id)`, then
    look up five present keys and two absent ones in ONE scan with an
    IN filter.  Every file's [min, max] key range spans ~the whole hex
    space, so stats cannot skip here; one filtered scan beats a pruned
    read per key.  The DuckDB oracle states the same lookup over the
    raw parquet (`md5` is hex-identical in Spark and DuckDB), so a value
    match proves every probed row surfaces and nothing else leaks.
    Lake built once per (version, sf) under spark-warehouse, like its
    siblings."""
    import hashlib

    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("docs_delta_keys", _BLOOM_LAKE_VERSION, sf_dir),
        "docs_lake_keys",
    )
    if not delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            F.md5(F.col("doc_id").cast("string")).alias("key"),
        )
        write_delta(docs, path)
    probes = [
        hashlib.md5(str(i).encode()).hexdigest() for i in _BLOOM_PROBE_IDS
    ] + list(_BLOOM_ABSENT_KEYS)
    return (
        read_delta(spark, path)
        .filter(F.col("key").isin(probes))
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    )


BLOOM_LOOKUP_ORACLE_SQL = f"""
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE md5(CAST(doc_id AS VARCHAR)) IN (
    {", ".join(f"md5(CAST({i} AS VARCHAR))" for i in _BLOOM_PROBE_IDS)}
)
ORDER BY doc_id
"""


QUERIES = {
    "lake_documents_roundtrip": documents_roundtrip_entry,
    "lake_partitioned_scan": partitioned_scan_entry,
    "lake_changes_feed": changes_feed_entry,
    "lake_dv_roundtrip": dv_roundtrip_entry,
    "lake_bloom_lookup": bloom_lookup_entry,
    "lake_delta_interop": delta_interop_entry,
    "lake_delta_merge": delta_merge_entry,
    "lake_delta_generated": delta_generated_entry,
    "lake_delta_meta": delta_meta_tables_entry,
    "lake_delta_row_tracking": delta_row_tracking_entry,
    "lake_delta_variant": delta_variant_entry,
    "lake_delta_evolution": delta_evolution_entry,
    "lake_delta_defaults": delta_defaults_entry,
}

ORACLES = {
    "lake_documents_roundtrip": ROUNDTRIP_ORACLE_SQL,
    "lake_partitioned_scan": PARTITIONED_ORACLE_SQL,
    "lake_changes_feed": CHANGES_FEED_ORACLE_SQL,
    "lake_dv_roundtrip": DV_ORACLE_SQL,
    "lake_bloom_lookup": BLOOM_LOOKUP_ORACLE_SQL,
    "lake_delta_interop": DELTA_INTEROP_ORACLE_SQL,
    "lake_delta_merge": DELTA_MERGE_ORACLE_SQL,
    "lake_delta_generated": DELTA_GENERATED_ORACLE_SQL,
    "lake_delta_meta": DELTA_META_ORACLE_SQL,
    "lake_delta_row_tracking": DELTA_RT_ORACLE_SQL,
    "lake_delta_variant": DELTA_VARIANT_ORACLE_SQL,
    "lake_delta_evolution": DELTA_EVOLUTION_ORACLE_SQL,
    "lake_delta_defaults": DELTA_DEFAULTS_ORACLE_SQL,
}
