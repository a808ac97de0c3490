"""Log-structured table format on plain parquet — the engine's Delta
contract completed (reference ING:211 `format("delta").saveAsTable`;
delta-spark is not installable in this environment, re-verified every
round).  Where `sinks.py` emulates individual Delta operations with
directory renames, this module provides the actual mechanism those
operations share in a real lakehouse: an ordered JSON COMMIT LOG.

Layout:

    <table>/data/<uuid>.parquet        — immutable data files
    <table>/_log/<version 20d>.json    — one commit per version

A commit file lists the data files it adds and removes plus the
schema.  Readers materialize a snapshot by folding the log up to a
version — add minus remove — so they never see a torn write: data
files land first (invisible until referenced), then the commit claims
its version by `os.link` of a fully-written temp file (fails if the
version exists — atomic on POSIX; on object storage this is the
put-if-absent the Delta protocol requires).  A crashed writer leaves
only unreferenced data files, cleaned by `vacuum`.

What this gives over the rename-swap sinks: TIME TRAVEL across every
operation (including compaction — the pre-OPTIMIZE snapshot stays
readable because old files are removed from the LOG, not the disk,
until vacuum), append without rewrite, and one auditable history.

At 100 TB the log is the tiny side (one small JSON per commit; Delta
checkpoints would fold it periodically) and data files are immutable
parquet exactly as here — this is the standard architecture, not a
test shim.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

_LOG_FMT = "{:020d}.json"
_CKPT_FMT = "{:020d}.checkpoint.json"

# Write a folded-state checkpoint every N commits (0 disables).  This is
# the Delta checkpoint rule (default every 10 commits): without it every
# snapshot read replays the log from version 0 — O(total commits), a
# real cost once a streaming sink has appended for months.  With it a
# reader folds the latest checkpoint plus the tail commits only.
_CHECKPOINT_EVERY = int(os.environ.get("SPARK_GRAFT_LAKE_CHECKPOINT_EVERY", "10"))


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _dv_dir(path: str) -> str:
    return os.path.join(path, "dv")


def versions(path: str) -> list[int]:
    """Committed versions in order (empty for a fresh/absent table)."""
    ld = _log_dir(path)
    if not os.path.isdir(ld):
        return []
    out = []
    for name in os.listdir(ld):
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


def _read_commit(path: str, version: int) -> dict:
    with open(os.path.join(_log_dir(path), _LOG_FMT.format(version))) as f:
        return json.load(f)


def _latest_checkpoint(path: str, as_of: int | None = None) -> dict | None:
    """The newest readable checkpoint with version ≤ `as_of` (None =
    any).  A torn/unreadable checkpoint file is skipped, never fatal —
    readers fall back to older checkpoints or a full log fold."""
    ld = _log_dir(path)
    if not os.path.isdir(ld):
        return None
    cands = []
    for name in os.listdir(ld):
        if name.endswith(".checkpoint.json") and name[:-16].isdigit():
            v = int(name[:-16])
            if as_of is None or v <= as_of:
                cands.append(v)
    for v in sorted(cands, reverse=True):
        try:
            with open(os.path.join(ld, _CKPT_FMT.format(v))) as f:
                ck = json.load(f)
            if ck.get("version") == v and "live" in ck:
                return ck
        except (OSError, ValueError):
            continue
    return None


def _fold_state(path: str, as_of: int | None = None) -> dict:
    """Fold the log into reader state as of a version: start from the
    newest checkpoint ≤ as_of (if any) and apply only the tail commits.
    Returns {"version", "live": {file: zone|None}, "stream_batch_ids",
    "dvs": {file: [dv file names]}}.  This is what bounds
    snapshot-construction cost at scale: O(tail) commit reads instead
    of O(history).

    DV fold rules: a commit's `"dv"` map APPENDS deletion-vector files
    to its data files (multiple DV deletes stack); removing a data
    file drops its DV list (the rewrite/compaction physically applied
    them); a restore commit's `"dv_restore"` REPLACES the whole map
    with the target version's."""
    ck = _latest_checkpoint(path, as_of)
    if ck is not None:
        live: dict = dict(ck["live"])
        stream_ids = set(ck.get("stream_batch_ids", []))
        dvs: dict = {f: list(ns) for f, ns in ck.get("dvs", {}).items()}
        cons: dict = dict(ck.get("constraints", {}))
        start_after = ck["version"]
    else:
        live, stream_ids, dvs, cons, start_after = {}, set(), {}, {}, -1
    last = start_after
    for v in versions(path):
        if v <= start_after:
            continue
        if as_of is not None and v > as_of:
            break
        c = _read_commit(path, v)
        for f in c["remove"]:
            live.pop(f, None)
            dvs.pop(f, None)
        for f in c["add"]:
            live[f] = c.get("zones", {}).get(f)
        if "dv_restore" in c:
            dvs = {f: list(ns) for f, ns in c["dv_restore"].items()}
        for f, names in c.get("dv", {}).items():
            dvs.setdefault(f, []).extend(names)
        for name, expr in c.get("constraint_add", {}).items():
            cons[name] = expr
        for name in c.get("constraint_drop", []):
            cons.pop(name, None)
        if "stream_batch_id" in c:
            stream_ids.add(int(c["stream_batch_id"]))
        last = v
    return {
        "version": last,
        "live": live,
        "stream_batch_ids": stream_ids,
        "dvs": dvs,
        "constraints": cons,
    }


def write_checkpoint(path: str, version: int | None = None) -> int:
    """Write the folded state as of `version` (default: latest) to
    `_log/<version>.checkpoint.json` atomically (temp + os.replace).
    Idempotent and race-safe: the state is a pure function of the
    immutable log prefix, so concurrent writers produce equivalent
    checkpoints and last-replace-wins is harmless.
    Commits themselves are never touched — time travel to versions
    before the checkpoint still folds from older commits."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no minilake log under {path}")
    if version is None:
        version = vs[-1]
    if version not in vs:
        raise ValueError(f"version {version} not in log (have {vs})")
    st = _fold_state(path, as_of=version)
    ck = {
        "version": version,
        "live": st["live"],
        "stream_batch_ids": sorted(st["stream_batch_ids"]),
        "dvs": st["dvs"],
        "constraints": st["constraints"],
    }
    ld = _log_dir(path)
    tmp = os.path.join(ld, f"_ckpt-tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(ck, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(ld, _CKPT_FMT.format(version)))
    return version


def _file_zone_map(
    local_path: str,
    stat_cols: list[str],
    bloom_cols: list[str] | tuple = (),
) -> dict:
    """Per-file min/max/rowcount for `stat_cols`, read from the parquet
    FOOTER (row-group statistics — no data scan).  These are the zone
    maps Delta/Iceberg store in their logs; readers skip whole files
    whose [min, max] cannot match a predicate."""
    from .pqfooter import read_footer

    fm = read_footer(local_path)  # pyarrow, JVM fallback for VARIANT
    out: dict = {"rows": fm["num_rows"], "stats": {}, "nulls": {}}
    if bloom_cols:
        # blooms need the column VALUES, not just the footer — pyarrow
        # only; a variant-bearing file keeps its zone stats (above) but
        # skips blooms, the same degrade rule as an oversized distinct
        # set
        try:
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(local_path)
            names = set(pf.schema_arrow.names)
            for col in bloom_cols:
                if col not in names:
                    continue
                bloom = _bloom_build(
                    pf.read(columns=[col]).column(col).to_pylist()
                )
                if bloom is not None:
                    out.setdefault("bloom", {})[col] = bloom
        except Exception:
            pass
    for col in stat_cols:
        st = fm["columns"].get(col)
        if st is None:
            continue
        if st["min"] is not None and st["max"] is not None:
            out["stats"][col] = [st["min"], st["max"]]
        if st["null_count"] is not None:
            # null COUNT per column (Delta stores the same): lets an
            # IS NULL predicate skip files with provably zero nulls
            out["nulls"][col] = st["null_count"]
    return out


_BLOOM_MAX_DISTINCT = 200_000  # past this, skip the bloom (zone stays)
_BLOOM_FPP = 0.01


def _bloom_build(values) -> dict | None:
    """Per-file Bloom filter over a column's DISTINCT values (classic
    m/k sizing for ~1% false positives, double hashing from one
    blake2b digest) — the skipping tier for EQUALITY lookups on
    high-cardinality, unsorted columns where [min, max] zones cannot
    prune.  Serialized base64 into the commit log like Delta's file-
    level bloom indexes; ~1.2 KB per 1k distinct values."""
    import base64
    import math

    distinct = {v for v in values if v is not None}
    n = len(distinct)
    if n == 0 or n > _BLOOM_MAX_DISTINCT:
        return None
    m = max(64, int(math.ceil(-n * math.log(_BLOOM_FPP) / (math.log(2) ** 2))))
    k = max(1, round(m / n * math.log(2)))
    bits = bytearray((m + 7) // 8)
    for v in distinct:
        h1, h2 = _bloom_hashes(v)
        for i in range(k):
            pos = (h1 + i * h2) % m
            bits[pos >> 3] |= 1 << (pos & 7)
    return {
        "m": m,
        "k": k,
        "bits": base64.b64encode(bytes(bits)).decode(),
    }


def _bloom_hashes(v) -> tuple[int, int]:
    """Two independent 64-bit hashes of a value's canonical encoding
    (double-hashing base)."""
    import hashlib

    raw = repr(v).encode() if not isinstance(v, (str, bytes)) else (
        v.encode() if isinstance(v, str) else v
    )
    d = hashlib.blake2b(raw, digest_size=16).digest()
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:], "little") | 1


def _bloom_might_contain(bloom: dict, v) -> bool:
    import base64

    bits = base64.b64decode(bloom["bits"])
    m, k = bloom["m"], bloom["k"]
    h1, h2 = _bloom_hashes(v)
    for i in range(k):
        pos = (h1 + i * h2) % m
        if not bits[pos >> 3] & (1 << (pos & 7)):
            return False
    return True


def _bloom_cols_of(zones: dict) -> list[str]:
    """Bloom-indexed columns present in any live zone — rewrites carry
    the index forward exactly like stat columns (a compaction that
    silently dropped blooms would degrade equality skipping)."""
    return sorted(
        {c for z in zones.values() if z for c in (z.get("bloom") or {})}
    )


#: Hive's sentinel for a NULL partition value in directory names.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
#: Prefix for the throwaway partitionBy copies (see _land_data_files).
_PART_PREFIX = "__mlpart_"


def _parse_partition_value(raw: str, dtype_simple: str):
    """Hive-escaped directory value → JSON-able Python value, typed by
    the column's Spark simpleString type (integers/floats parse; all
    else stays the unescaped string, which sorts/compares correctly for
    string partition columns)."""
    from urllib.parse import unquote

    if raw == _HIVE_NULL:
        return None
    s = unquote(raw)
    if dtype_simple in ("tinyint", "smallint", "int", "bigint"):
        return int(s)
    if dtype_simple in ("float", "double"):
        return float(s)
    return s


def _land_data_files(
    df: DataFrame,
    path: str,
    stat_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> list[str] | tuple[list[str], dict]:
    """Write the frame's partitions as immutable uuid-named parquet
    files under data/; returns their table-relative names (plus their
    zone maps when `stat_cols` or `partition_by` is given).  The files
    are INVISIBLE to readers until a commit references them.

    Partitioned landing takes the ICEBERG layout, not Hive's: the
    partition columns STAY in the data files (each file remains a
    complete, self-describing row set — snapshot reads and the Python
    DataSource need no directory-name reconstruction), and the commit
    log records each file's partition TUPLE (`zones[f]["partition"]`)
    as exact metadata for partition pruning — the first skipping tier,
    checked before zone maps, with no footer reads.  Mechanically the
    frame is written `partitionBy` on throwaway COPIES of the partition
    columns so Spark splits files one-partition-value-per-file while
    the originals stay in the data."""
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    if partition_by:
        dtypes = dict(df.dtypes)
        dfw = df
        for c in partition_by:
            dfw = dfw.withColumn(_PART_PREFIX + c, F.col(c))
    else:
        dfw = df
    import contextlib

    from .deltaproto import _schema_has_variant, _unshredded_variant_writes

    shred_guard = (
        _unshredded_variant_writes(df.sparkSession)
        if _schema_has_variant(df.schema)
        else contextlib.nullcontext()
    )
    with shred_guard:
        if partition_by:
            dfw.write.mode("overwrite").partitionBy(
                *[_PART_PREFIX + c for c in partition_by]
            ).parquet(staging)
        else:
            dfw.write.mode("overwrite").parquet(staging)
    os.makedirs(_data_dir(path), exist_ok=True)
    names = []
    zones: dict = {}
    for dirpath, _dirs, files in sorted(os.walk(staging)):
        # partition tuple from the hive dirs between staging and file
        pvals: dict = {}
        rel = os.path.relpath(dirpath, staging)
        if partition_by and rel != ".":
            for seg in rel.split(os.sep):
                k, _, v = seg.partition("=")
                if k.startswith(_PART_PREFIX):
                    col = k[len(_PART_PREFIX):]
                    pvals[col] = _parse_partition_value(v, dtypes[col])
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            name = f"{uuid.uuid4().hex}.parquet"
            dest = os.path.join(_data_dir(path), name)
            os.rename(os.path.join(dirpath, f), dest)
            names.append(name)
            if stat_cols or partition_by or bloom_cols:
                zones[name] = _file_zone_map(
                    dest, stat_cols or [], bloom_cols or ()
                )
                if partition_by:
                    zones[name]["partition"] = pvals
    shutil.rmtree(staging)
    if stat_cols or partition_by or bloom_cols:
        return names, zones
    return names


def _claim_version(path: str, commit: dict, refresh=None) -> int:
    """Write the commit json to a temp file, then atomically claim the
    next version number with os.link (put-if-absent): a concurrent
    writer that claimed it first makes the link raise, and we retry at
    the next number — optimistic concurrency, the Delta protocol's
    commit rule.  `refresh(commit)` runs before every (re)attempt so
    snapshot-dependent fields (an overwrite's remove list) are
    re-validated against the log as it stands at claim time — a lost
    race must never commit a stale view of which files are live."""
    ld = _log_dir(path)
    os.makedirs(ld, exist_ok=True)
    tmp = os.path.join(ld, f"_tmp-{uuid.uuid4().hex}.json")
    # wall-clock commit time for TIMESTAMP AS OF — set once (a claim
    # retry keeps the first attempt's stamp; ordering across writers is
    # by VERSION, the timestamp is the human/audit axis, as in Delta)
    import time as _time

    commit.setdefault("timestamp_ms", int(_time.time() * 1000))
    while True:
        vs = versions(path)
        version = (vs[-1] + 1) if vs else 0
        commit["version"] = version
        if refresh is not None:
            refresh(commit)
        with open(tmp, "w") as f:
            json.dump(commit, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, os.path.join(ld, _LOG_FMT.format(version)))
        except FileExistsError:
            continue  # lost the race — recompute and retry
        finally:
            if os.path.exists(tmp) and os.path.exists(
                os.path.join(ld, _LOG_FMT.format(version))
            ):
                os.unlink(tmp)
        if _CHECKPOINT_EVERY > 0 and version > 0 and version % _CHECKPOINT_EVERY == 0:
            # Delta's rule: fold a checkpoint every N commits.  Best
            # effort — a failure here never fails the commit itself.
            # Broad except by design (post-review): once os.link has
            # succeeded the commit IS durable, and letting any
            # checkpoint exception (not just OSError — e.g. a malformed
            # zone entry surfacing as TypeError during the fold)
            # propagate would make the caller see its successful write
            # as failed; an at-least-once retry would then double-apply
            # a non-idempotent append.
            try:
                write_checkpoint(path, version)
            except Exception:
                pass
        return version


def _check_schema(df: DataFrame, path: str, allow_evolution: bool) -> None:
    """Schema ENFORCEMENT on append (Delta's write-time contract): the
    incoming frame must carry every existing column with the same type;
    NEW columns are rejected unless `allow_evolution` (they read back
    as NULL for old files via parquet schema merging).  Type changes
    are never silent."""
    _check_schema_struct(df.schema, path, allow_evolution)


def _check_schema_struct(schema, path: str, allow_evolution: bool) -> None:
    """`_check_schema` on a bare StructType (the DataSource writer has
    no DataFrame, only the schema Spark hands it)."""
    vs = versions(path)
    if not vs:
        return
    from pyspark.sql.types import StructType

    current = StructType.fromJson(json.loads(_read_commit(path, vs[-1])["schema"]))
    cur_types = {f.name: f.dataType for f in current.fields}
    new_types = {f.name: f.dataType for f in schema.fields}
    missing = sorted(set(cur_types) - set(new_types))
    if missing:
        raise ValueError(f"append is missing table columns {missing}")
    changed = sorted(
        n for n in cur_types if n in new_types and cur_types[n] != new_types[n]
    )
    if changed:
        raise ValueError(
            f"append changes column types {changed} — never silent; "
            "rewrite via commit_overwrite"
        )
    added = sorted(set(new_types) - set(cur_types))
    if added and not allow_evolution:
        raise ValueError(
            f"append adds new columns {added}; pass allow_evolution=True "
            "to evolve the table schema"
        )


def partition_spec(path: str) -> list[str]:
    """The table's partition columns (empty for an unpartitioned
    table) — a table-level property carried on every commit and fixed
    at table creation (an overwrite may change it, like Delta's
    `overwriteSchema`)."""
    vs = versions(path)
    if not vs:
        return []
    return list(_read_commit(path, vs[-1]).get("partition_by", []))


def add_constraint(
    spark: SparkSession, path: str, name: str, expr_sql: str
) -> int:
    """`ALTER TABLE ADD CONSTRAINT name CHECK (expr)`: record a
    write-time invariant in the log.  Every later append / stream
    batch / merge must satisfy it (SQL CHECK semantics: a row passes
    unless the expression is FALSE — NULL passes).  The constraint is
    validated against the CURRENT snapshot first, so a table can never
    hold a constraint its existing rows violate (Delta's rule)."""
    if name in _fold_state(path)["constraints"]:
        raise ValueError(f"constraint {name!r} already exists")
    snap = read_snapshot(spark, path)
    n_bad = snap.filter(
        ~F.coalesce(F.expr(expr_sql), F.lit(True))
    ).limit(1).count()
    if n_bad:
        raise ValueError(
            f"cannot add constraint {name!r}: existing rows violate "
            f"CHECK ({expr_sql})"
        )
    return _claim_version(
        path,
        {
            "mode": "alter",
            "add": [],
            "remove": [],
            "schema": _read_commit(path, versions(path)[-1])["schema"],
            "partition_by": partition_spec(path),
            "constraint_add": {name: expr_sql},
        },
    )


def drop_constraint(path: str, name: str) -> int:
    """`ALTER TABLE DROP CONSTRAINT name` as a versioned commit."""
    if name not in _fold_state(path)["constraints"]:
        raise ValueError(f"no constraint named {name!r}")
    return _claim_version(
        path,
        {
            "mode": "alter",
            "add": [],
            "remove": [],
            "schema": _read_commit(path, versions(path)[-1])["schema"],
            "partition_by": partition_spec(path),
            "constraint_drop": [name],
        },
    )


def _check_constraints(df: DataFrame, path: str) -> None:
    """Enforce every table CHECK constraint on the incoming frame in
    ONE aggregate pass (a count per constraint of rows where the
    expression is FALSE — NULL passes, per SQL CHECK).  Runs BEFORE
    any file lands, so a rejected write leaves no trace."""
    cons = _fold_state(path)["constraints"]
    if not cons:
        return
    names = sorted(cons)
    aggs = [
        F.sum(
            F.when(~F.coalesce(F.expr(cons[n]), F.lit(True)), 1).otherwise(0)
        ).alias(n)
        for n in names
    ]
    row = df.agg(*aggs).first()
    bad = {n: int(row[n] or 0) for n in names if row[n]}
    if bad:
        detail = ", ".join(
            f"{n} CHECK ({cons[n]}): {c} row(s)" for n, c in sorted(bad.items())
        )
        raise ValueError(f"write violates table constraints — {detail}")


def commit_append(
    df: DataFrame,
    path: str,
    allow_evolution: bool = False,
    stat_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """APPEND commit: enforce (or evolve) the schema, land the files,
    claim the next version.  `stat_cols` records per-file zone maps in
    the commit for data skipping and file-pruned MERGE; `partition_by`
    (first commit only — later appends inherit and must not contradict
    the table's spec) records per-file partition tuples for the
    cheaper pruning tier (see `_land_data_files`)."""
    _check_schema(df, path, allow_evolution)
    _check_constraints(df, path)
    spec = partition_spec(path)
    if versions(path):
        if partition_by is not None and list(partition_by) != spec:
            raise ValueError(
                f"append partition_by {list(partition_by)} contradicts the "
                f"table's partition spec {spec}"
            )
        partition_by = spec
    else:
        partition_by = list(partition_by or [])
    commit = {
        "mode": "append",
        "remove": [],
        "schema": df.schema.json(),
        "partition_by": partition_by,
    }
    if stat_cols or partition_by or bloom_cols:
        files, zones = _land_data_files(
            df, path, stat_cols, partition_by, bloom_cols
        )
        commit["zones"] = zones
    else:
        files = _land_data_files(df, path)
    commit["add"] = files
    return _claim_version(path, commit)


def commit_overwrite(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> int:
    """OVERWRITE commit: the new snapshot is exactly the landed files;
    every currently-live file is listed in `remove`.  Removed files
    stay on disk (time travel) until `vacuum`.  The partition spec is
    kept unless `partition_by` explicitly changes it (an overwrite is
    the one commit allowed to re-partition the table)."""
    spec = list(partition_by) if partition_by is not None else partition_spec(path)
    commit = {
        "mode": "overwrite",
        "remove": sorted(_live_files(path)),
        "schema": df.schema.json(),
        "partition_by": spec,
    }
    if spec:
        files, zones = _land_data_files(df, path, None, spec)
        commit["zones"] = zones
    else:
        files = _land_data_files(df, path)
    commit["add"] = files
    return _claim_version(
        path,
        commit,
        # re-derive the remove list at claim time: a concurrent append
        # that wins the race would otherwise survive the "overwrite"
        refresh=lambda c: c.__setitem__("remove", sorted(_live_files(path))),
    )


def _live_files(path: str, as_of: int | None = None) -> set[str]:
    return set(_fold_state(path, as_of)["live"])


#: Throwaway column names for the DV anti-join (never leak to callers).
_DV_FILE, _DV_RI = "_mlk_dv_file", "_mlk_dv_ri"


def _with_position(df: DataFrame) -> DataFrame:
    """Attach (file name, row index) identity columns from the parquet
    reader's generated `_metadata` — the physical row position Delta's
    deletion vectors key on, with no data-layout changes."""
    return df.withColumn(
        _DV_FILE,
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
    ).withColumn(_DV_RI, F.col("_metadata.row_index"))


def _read_dv(spark: SparkSession, path: str, names: list[str]) -> DataFrame:
    """The union of deletion-vector position sets (file, row_index)."""
    return (
        spark.read.parquet(*[os.path.join(_dv_dir(path), n) for n in sorted(set(names))])
        .select(
            F.col("file").alias(_DV_FILE), F.col("row_index").alias(_DV_RI)
        )
        .dropDuplicates()
    )


def _read_files_with_dvs(
    spark: SparkSession, path: str, files: list[str], dvs: dict
) -> DataFrame | None:
    """Read data files applying their deletion vectors: files without
    a DV take the plain fast path; files with DVs are read with row
    positions and anti-joined against the (broadcast, KB-sized) DV
    position set.  This is the Delta DV scan shape — deletes cost
    O(matched rows) at write time and a cheap hash anti-join at read
    time, no file rewrites.  Returns None for an empty file list."""
    if not files:
        return None
    plain = [f for f in files if not dvs.get(f)]
    dv_files = [f for f in files if dvs.get(f)]
    frames = []
    if plain:
        frames.append(
            spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(_data_dir(path), f) for f in sorted(plain)]
            )
        )
    if dv_files:
        df = _with_position(
            spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(_data_dir(path), f) for f in sorted(dv_files)]
            )
        )
        dv = _read_dv(
            spark, path, [n for f in dv_files for n in dvs[f]]
        )
        frames.append(
            df.join(F.broadcast(dv), [_DV_FILE, _DV_RI], "left_anti").drop(
                _DV_FILE, _DV_RI
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def version_at_timestamp(path: str, timestamp_ms: int) -> int:
    """`TIMESTAMP AS OF`: the last version committed at or before the
    given wall-clock millisecond (commits without a stamp — pre-r8
    logs — are treated as infinitely old, i.e. always included).
    Raises if the table did not exist yet at that time, like Delta."""
    vs = versions(path)
    best = None
    for v in vs:
        ts = _read_commit(path, v).get("timestamp_ms", 0)
        if ts <= timestamp_ms:
            best = v
    if best is None:
        raise ValueError(
            f"no commit at or before timestamp_ms={timestamp_ms} "
            f"(earliest is version {vs[0] if vs else None})"
        )
    return best


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> DataFrame:
    """Snapshot read, optionally as-of an older version or wall-clock
    timestamp (time travel), with each file's deletion vectors
    applied.  An empty snapshot still carries the committed schema."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no minilake log under {path}")
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp_ms, not both")
        version = version_at_timestamp(path, timestamp_ms)
    if version is None:
        version = vs[-1]
    if version not in vs:
        raise ValueError(f"version {version} not in log (have {vs})")
    state = _fold_state(path, as_of=version)
    out = _read_files_with_dvs(
        spark, path, sorted(state["live"]), state["dvs"]
    )
    if out is None:
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(
            json.loads(_read_commit(path, version)["schema"])
        )
        return spark.createDataFrame([], schema)
    return out


def compact(spark: SparkSession, path: str, target_mb: int = 128) -> int:
    """Log-driven OPTIMIZE: rewrite the live snapshot into
    ceil(bytes/target) files and commit (add=new, remove=old).  Every
    PRE-compaction version stays readable afterwards — old files leave
    the log, not the disk.  Zone maps are
    RE-RECORDED for every column any live file had stats on, so data
    skipping survives compaction (clustering quality is whatever the
    rewrite's partitioning gives — re-run `optimize_zorder` to restore
    a Morton layout; the zones honestly describe the new files either
    way).

    Conflict rule (post-review hardening): the commit ABORTS — and
    unlinks its orphaned rewrite — if any file it is REMOVING is no
    longer live at claim time: a compaction must exactly replace what
    it read, and committing a stale remove list after a racing
    delete/overwrite would resurrect deleted rows AND leave the racer's
    rewritten file live (duplicates).  A concurrent APPEND is benign
    and allowed through — the appended file is not in the remove list,
    so it survives the compaction commit untouched (Delta resolves
    OPTIMIZE-vs-append the same way: disjoint file sets commute)."""
    import math

    zones_before = _live_zones(path)
    live = sorted(zones_before)
    stat_cols = sorted(
        {c for z in zones_before.values() if z for c in z["stats"]}
    )
    bloom_cols = _bloom_cols_of(zones_before)
    total = sum(
        os.path.getsize(os.path.join(_data_dir(path), f)) for f in live
    )
    n_files = max(1, math.ceil(total / (target_mb << 20)))
    spec = partition_spec(path)
    snap = read_snapshot(spark, path)
    commit = {
        "mode": "compact",
        "remove": live,
        "schema": snap.schema.json(),
        "partition_by": spec,
    }
    if stat_cols or spec or bloom_cols:
        files, zones = _land_data_files(
            snap.repartition(n_files), path, stat_cols, spec, bloom_cols
        )
        commit["zones"] = zones
    else:
        files = _land_data_files(snap.repartition(n_files), path)
    commit["add"] = files

    def check_removed_live(_c: dict) -> None:
        if not set(live) <= _live_files(path):
            for f in files:  # clean our orphaned rewrite before raising
                os.unlink(os.path.join(_data_dir(path), f))
            raise RuntimeError(
                "compact lost a race with a concurrent rewrite "
                "(delete/overwrite/optimize); re-run against the new "
                "snapshot"
            )

    return _claim_version(path, commit, refresh=check_removed_live)


def optimize_zorder(
    spark: SparkSession,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 16,
) -> int:
    """`OPTIMIZE ZORDER BY (x, y)` as a commit: rewrite the live
    snapshot range-partitioned along the 2-D Morton curve
    (`functions.scale.zorder_key_2d`) and record both columns' zone
    maps, so `scan_pruned_multi` box predicates skip most files in
    EITHER dimension afterwards.  Like `compact`, pre-optimize versions
    stay time-travelable (old files leave the log, not the disk).
    Aborts instead of committing if a concurrent writer changed the
    table between read and claim — Delta resolves OPTIMIZE conflicts
    the same way (the rewrite must exactly replace what it read)."""
    from ..functions import scale

    snap = read_snapshot(spark, path)
    live = sorted(_live_files(path))
    lo_hi = snap.agg(
        F.min(x_col), F.max(x_col), F.min(y_col), F.max(y_col)
    ).first()
    if any(b is None for b in lo_hi):
        # empty snapshot or an all-NULL zorder column: nothing to
        # cluster — clean no-op, not a TypeError inside the key expr
        return versions(path)[-1]
    z = scale.zorder_key_2d(
        F.col(x_col), F.col(y_col), lo_hi[0], lo_hi[1], lo_hi[2], lo_hi[3]
    )
    clustered = (
        snap.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    spec = partition_spec(path)
    files, zones = _land_data_files(
        clustered, path, [x_col, y_col], spec,
        _bloom_cols_of(_live_zones(path)),
    )

    def check_unchanged(commit: dict) -> None:
        if sorted(_live_files(path)) != live:
            for f in files:  # clean our orphaned rewrite before raising
                os.unlink(os.path.join(_data_dir(path), f))
            raise RuntimeError(
                "optimize_zorder lost a race with a concurrent commit; "
                "re-run against the new snapshot"
            )

    return _claim_version(
        path,
        {
            "mode": "optimize",
            "add": files,
            "remove": live,
            "schema": snap.schema.json(),
            "zones": zones,
            "partition_by": spec,
        },
        refresh=check_unchanged,
    )


def vacuum(path: str, retain_versions: int = 0, min_age_s: float = 600.0) -> int:
    """Delete data files unreferenced by the retained history: keep
    everything reachable from the last `retain_versions`+1 snapshots
    (0 = current only).  Unreferenced files younger than `min_age_s`
    are SPARED — they may belong to an in-flight writer that has landed
    data but not yet claimed its commit (Delta's VACUUM has the same
    modification-time retention window, default 7 days).  Returns the
    number of files deleted — the step that trades time travel for
    space.

    The referenced set is built in ONE forward fold of the log (from
    the newest checkpoint ≤ the oldest retained version), accumulating
    each retained version's live set as it passes — O(tail) commit
    reads total, not O(retained × tail) as a per-version
    `_live_files(as_of=v)` loop would cost on a long-lived table with
    deep retention."""
    import time as _time

    vs = versions(path)
    if not vs:
        return 0
    keep_from = vs[max(0, len(vs) - 1 - retain_versions)]
    ck = _latest_checkpoint(path, as_of=keep_from)
    if ck is not None:
        live: set[str] = set(ck["live"])
        dvs: dict = {f: list(ns) for f, ns in ck.get("dvs", {}).items()}
        start_after = ck["version"]
    else:
        live, dvs, start_after = set(), {}, -1
    if start_after >= keep_from:
        referenced: set[str] = set(live)
        referenced_dv: set[str] = {n for ns in dvs.values() for n in ns}
    else:
        referenced, referenced_dv = set(), set()
    for v in vs:
        if v <= start_after:
            continue
        c = _read_commit(path, v)
        for f in c["remove"]:
            live.discard(f)
            dvs.pop(f, None)
        live.update(c["add"])
        if "dv_restore" in c:
            dvs = {f: list(ns) for f, ns in c["dv_restore"].items()}
        for f, names in c.get("dv", {}).items():
            dvs.setdefault(f, []).extend(names)
        if v >= keep_from:
            referenced |= live
            referenced_dv |= {n for ns in dvs.values() for n in ns}
    deleted = 0
    now = _time.time()

    def _sweep(directory: str, keep: set[str]) -> int:
        n = 0
        if os.path.isdir(directory):
            for f in os.listdir(directory):
                full = os.path.join(directory, f)
                if (
                    f.endswith(".parquet")
                    and f not in keep
                    and now - os.path.getmtime(full) >= min_age_s
                ):
                    os.unlink(full)
                    n += 1
        return n

    deleted += _sweep(_data_dir(path), referenced)
    deleted += _sweep(_dv_dir(path), referenced_dv)
    return deleted


def restore(path: str, version: int) -> int:
    """`RESTORE TABLE TO VERSION` as a pure log operation: commit
    add/remove deltas that make the live set exactly the target
    version's — ZERO data movement (the files are immutable and still
    on disk), which is what makes undoing an accidental overwrite or
    bad merge instant at any table size.  The restore is itself a
    versioned commit, so it is auditable and travelable like any
    other.  Zone maps ride along for re-added files.  Raises if any
    needed file was already vacuumed (Delta's RESTORE documents the
    same failure mode) — time travel trades against retention, and a
    restore cannot resurrect destroyed bytes."""
    vs = versions(path)
    if version not in vs:
        raise ValueError(f"version {version} not in log (have {vs})")
    target_state = _fold_state(path, as_of=version)
    target = target_state["live"]
    target_dvs = {
        f: ns for f, ns in target_state["dvs"].items() if f in target and ns
    }
    missing = sorted(
        f
        for f in target
        if not os.path.exists(os.path.join(_data_dir(path), f))
    ) + sorted(
        os.path.join("dv", n)
        for ns in target_dvs.values()
        for n in ns
        if not os.path.exists(os.path.join(_dv_dir(path), n))
    )
    if missing:
        raise FileNotFoundError(
            f"cannot restore to version {version}: {len(missing)} data "
            f"file(s) already vacuumed (first: {missing[0]})"
        )
    schema = _read_commit(path, version)["schema"]

    def refresh_deltas(commit: dict) -> None:
        # the add/remove deltas depend on the CURRENT live set, so they
        # must be recomputed at claim time (like commit_overwrite): a
        # concurrent append between fold and claim would otherwise be
        # neither removed nor accounted for, silently breaking the
        # "live set becomes exactly the target version's" postcondition
        cur = _live_files(path)
        add = sorted(set(target) - cur)
        commit["add"] = add
        commit["remove"] = sorted(cur - set(target))
        commit["zones"] = {f: target[f] for f in add if target[f] is not None}
        commit["partition_by"] = _read_commit(path, version).get(
            "partition_by", []
        )
        # full DV-state replacement: the restored snapshot's visible
        # rows are its files MINUS its DVs, exactly as they were
        commit["dv_restore"] = target_dvs

    return _claim_version(
        path,
        {
            "mode": "restore",
            "add": [],
            "remove": [],
            "schema": schema,
            "zones": {},
            "restored_version": version,
        },
        refresh=refresh_deltas,
    )


def history(path: str) -> list[dict]:
    """The audit log: (version, mode, files added/removed) per commit."""
    return [
        {
            "version": v,
            "mode": (c := _read_commit(path, v))["mode"],
            "n_added": len(c["add"]),
            "n_removed": len(c["remove"]),
        }
        for v in versions(path)
    ]


#: Bump when the roundtrip entry's pipeline changes shape — the entry
#: reuses a previously-built lake only if its version tag matches.
#: v2: delete commits record their CDF predicate (read by
#: lake_changes_feed, which shares this lake).
_ROUNDTRIP_LAKE_VERSION = 2
#: doc_id range deleted by the roundtrip pipeline.
_ROUNDTRIP_DELETE_LO, _ROUNDTRIP_DELETE_HI = 100, 199


def _ensure_roundtrip_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per version+sf, under spark-warehouse) the shared
    append → pruned-DELETE → compact documents lake used by the
    roundtrip and changes-feed entries."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("minilake", _ROUNDTRIP_LAKE_VERSION, sf_dir),
        "docs_lake",
    )
    if not versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        commit_append(
            docs.repartitionByRange(8, "doc_id"), path, stat_cols=["doc_id"]
        )
        delete_where(
            spark, path, "doc_id", _ROUNDTRIP_DELETE_LO, _ROUNDTRIP_DELETE_HI
        )
        compact(spark, path, target_mb=128)
    return path


def documents_roundtrip_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate entry that value-checks the TABLE FORMAT itself:
    ingest `documents` into a minilake table (append with zone maps),
    run a file-pruned DELETE of a doc_id range and an OPTIMIZE
    compaction, then aggregate the surviving snapshot per source.  The
    DuckDB oracle states the same aggregate over the raw parquet with
    the deleted range excluded — so a value match proves the commit
    log, zone-map pruning, delete rewrite, and compaction preserved
    content EXACTLY (not just row counts).  The lake is built once per
    (version, sf) under spark-warehouse and reused — the same
    build-once pattern as the ANN/topic serving indexes."""
    snap = read_snapshot(spark, _ensure_roundtrip_lake(spark, sf_dir))
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


#: Bump when the DV entry's pipeline changes shape.
_DV_LAKE_VERSION = 1
_DV_DELETE_A = (100, 199)
_DV_DELETE_B = (300, 349)


def dv_roundtrip_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate entry for DELETION VECTORS: ingest `documents`, run
    TWO stacked DV deletes (no data file is rewritten — the commits
    attach position sidecars; asserted in tests/test_lake_dv.py), then
    aggregate the visible snapshot per source.  The DuckDB oracle
    states the same aggregate over the raw parquet with both ranges
    excluded, so a value match proves position capture, DV stacking,
    and the scan-time broadcast anti-join hide EXACTLY the deleted
    rows.  Lake built once per (version, sf), like its siblings."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("minilake_dv", _DV_LAKE_VERSION, sf_dir),
        "docs_lake_dv",
    )
    if not versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        commit_append(
            docs.repartitionByRange(8, "doc_id"), path, stat_cols=["doc_id"]
        )
        delete_where(spark, path, "doc_id", *_DV_DELETE_A, strategy="dv")
        delete_where(spark, path, "doc_id", *_DV_DELETE_B, strategy="dv")
    snap = read_snapshot(spark, path)
    return (
        snap.groupBy("source")
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
    """Driver-gate entry for the CHANGE DATA FEED: over the shared
    append → pruned-DELETE → compact lake, `read_changes(change_feed=
    True)` from the beginning must emit every ingested row as an
    'insert', the deleted doc_id range as 'delete' rows, and NOTHING
    for the compaction (a pure rewrite adds no changes).  The DuckDB
    oracle states both legs straight off the raw parquet, so a value
    match proves the feed is exact — the log-recorded delete predicate
    reproduces precisely the removed rows, and maintenance commits are
    invisible to incremental consumers."""
    feed = read_changes(
        spark,
        _ensure_roundtrip_lake(spark, sf_dir),
        since_version=-1,
        change_feed=True,
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


#: Bump when the partitioned-scan entry's pipeline changes shape.
_PART_LAKE_VERSION = 1
_PART_SCAN_LANG = "en"
_PART_SCAN_LO, _PART_SCAN_HI = 0, 249


def partitioned_scan_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate entry for PARTITIONED minilake tables: ingest
    `documents` PARTITIONED BY (lang) with doc_id zone maps
    (range-clustered so the zones are tight), then answer a
    lang + doc_id box query through `scan_pruned_multi` — the partition
    tier drops every non-'en' file from the exact tuples in the log (no
    footer reads), the zone tier drops 'en' files outside the id range,
    and the surviving files are aggregated per source.  The DuckDB
    oracle states the same aggregate over the raw parquet, so a value
    match proves partition landing, tuple recording, and two-tier
    pruning lost no rows and leaked none from pruned partitions.  The
    pruning COUNTS themselves (most files skipped, none by accident)
    are pinned in tests/test_lake_partitioned.py.  Lake built once per
    (version, sf) under spark-warehouse, like the roundtrip entry."""
    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("minilake_part", _PART_LAKE_VERSION, sf_dir),
        "docs_lake_part",
    )
    if not versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        commit_append(
            docs.repartitionByRange(4, "doc_id"),
            path,
            stat_cols=["doc_id"],
            partition_by=["lang"],
        )
    df, _read, _skipped = scan_pruned_multi(
        spark,
        path,
        {
            "lang": (_PART_SCAN_LANG, _PART_SCAN_LANG),
            "doc_id": (_PART_SCAN_LO, _PART_SCAN_HI),
        },
    )
    return (
        df.groupBy("source")
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


#: Bump when the bloom entry's pipeline changes shape.
_BLOOM_LAKE_VERSION = 1
#: Probe ids present at every SF (documents spans 0..499 even at
#: sf0.001) plus two keys absent from every file — the absent probes
#: exercise the all-files-skipped path (bloom answers "definitely
#: not here" for every file and the scan touches nothing).
_BLOOM_PROBE_IDS = (7, 57, 123, 250, 411)
_BLOOM_ABSENT_KEYS = ("not-a-key-a", "not-a-key-b")


def bloom_lookup_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate entry for BLOOM-FILTER file skipping: ingest
    `documents` keyed by `md5(doc_id)` — a high-cardinality UNSORTED
    string column — landed as hash-distributed files with
    `bloom_cols=["key"]`, so every file's [min, max] key range spans
    ~the whole hex space and range zones can skip NOTHING; only the
    per-file Bloom tier can prune a point lookup.  The entry probes
    five present keys and two absent ones through `scan_pruned_eq`
    and returns the matching docs; the DuckDB oracle states the same
    lookup over the raw parquet (`md5` is hex-identical in Spark and
    DuckDB), so a value match proves the Bloom tier never false-skips
    (every probed row surfaces) and leaks nothing.  The skip COUNTS
    (most files pruned per probe, zero files for absent keys) are
    pinned in tests/test_minilake.py.  Lake built once per
    (version, sf) under spark-warehouse, like its siblings."""
    import hashlib

    from ..functions.scale import default_index_dir
    from . import load_table

    path = os.path.join(
        default_index_dir("minilake_bloom", _BLOOM_LAKE_VERSION, sf_dir),
        "docs_lake_bloom",
    )
    if not versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            F.md5(F.col("doc_id").cast("string")).alias("key"),
        )
        # Four commits, each hash-distributed across two files: eight
        # live files whose key ranges all overlap, the layout where
        # only the bloom tier has skipping power.
        for b in range(4):
            commit_append(
                docs.filter(F.col("doc_id") % 4 == b).repartition(2, "key"),
                path,
                stat_cols=["key"],
                bloom_cols=["key"],
            )
    probes = [
        hashlib.md5(str(i).encode()).hexdigest() for i in _BLOOM_PROBE_IDS
    ] + list(_BLOOM_ABSENT_KEYS)
    out = None
    for key in probes:
        df, _read, _skipped = scan_pruned_eq(spark, path, "key", key)
        part = df.select("doc_id", "source", "lang", "n_chars")
        out = part if out is None else out.unionByName(part)
    return out.orderBy("doc_id")


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
}

ORACLES = {
    "lake_documents_roundtrip": ROUNDTRIP_ORACLE_SQL,
    "lake_partitioned_scan": PARTITIONED_ORACLE_SQL,
    "lake_changes_feed": CHANGES_FEED_ORACLE_SQL,
    "lake_dv_roundtrip": DV_ORACLE_SQL,
    "lake_bloom_lookup": BLOOM_LOOKUP_ORACLE_SQL,
}


def describe_detail(path: str) -> dict:
    """`DESCRIBE DETAIL`: the table's operational vitals from the log
    alone (no data scan) — live file count and bytes, current/
    checkpoint versions, commit and stream-batch counts, schema.  The
    numbers an operator needs to decide whether to compact, vacuum, or
    re-cluster."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no minilake log under {path}")
    state = _fold_state(path)
    ddir = _data_dir(path)
    size = sum(
        os.path.getsize(os.path.join(ddir, f))
        for f in state["live"]
        if os.path.exists(os.path.join(ddir, f))
    )
    ck = _latest_checkpoint(path)
    spec = partition_spec(path)
    n_parts = None
    if spec:
        n_parts = len(
            {
                tuple(sorted((z.get("partition") or {}).items()))
                for z in state["live"].values()
                if z is not None
            }
        )
    return {
        "format": "minilake",
        "location": path,
        "version": vs[-1],
        "num_commits": len(vs),
        "checkpoint_version": None if ck is None else ck["version"],
        "num_live_files": len(state["live"]),
        "size_bytes": size,
        "num_stream_batches": len(state["stream_batch_ids"]),
        "partition_by": spec,
        "num_partitions": n_parts,
        "num_dv_files": len(
            {n for ns in state["dvs"].values() for n in ns}
        ),
        "constraints": dict(state["constraints"]),
        "schema": _read_commit(path, vs[-1])["schema"],
    }


def committed_stream_batches(path: str) -> set[int]:
    """Stream batch ids already committed to this table (for the
    exactly-once foreachBatch rule below).  Checkpoints carry the
    cumulative id set, so this too is O(tail), not O(history)."""
    return _fold_state(path)["stream_batch_ids"]


def commit_stream_batch(df: DataFrame, path: str, batch_id: int) -> int | None:
    """Idempotent streaming append: the commit records its micro-batch
    id, and a RETRY of an already-committed batch is a no-op — the
    transactional-writer rule that makes foreachBatch exactly-once on
    top of Structured Streaming's at-least-once replay (the same
    `txnAppId`/`txnVersion` contract Delta's streaming sink uses).
    Returns the claimed version, or None for a skipped duplicate.
    The write-time schema contract is enforced exactly like the batch
    append path (and the native DataSource stream sink) — a foreachBatch
    stream must never silently commit a divergent schema into the
    log."""
    if batch_id in committed_stream_batches(path):
        return None
    _check_schema(df, path, allow_evolution=False)
    _check_constraints(df, path)
    spec = partition_spec(path)
    commit = {
        "mode": "append",
        "remove": [],
        "schema": df.schema.json(),
        "stream_batch_id": int(batch_id),
        "partition_by": spec,
    }
    if spec:
        files, zones = _land_data_files(df, path, None, spec)
        commit["zones"] = zones
    else:
        files = _land_data_files(df, path)
    commit["add"] = files
    return _claim_version(path, commit)


def maybe_compact(
    spark: SparkSession,
    path: str,
    max_live_files: int = 64,
    target_mb: int = 128,
    max_dv_ratio: float | None = None,
) -> int | None:
    """Auto-OPTIMIZE rule for streaming sinks: compact when the
    live-file count exceeds `max_live_files`, or (with `max_dv_ratio`)
    when deletion vectors hide more than that fraction of the table's
    rows — the merge-on-read rent comes due and the rewrite pays it
    off (the same trigger Delta's auto-compaction / Iceberg's
    rewrite_data_files policies use).  A micro-batch sink commits a
    few small files per trigger — the classic small-file accumulation
    that multiplies scan tasks at 100 TB — so the maintenance pass
    must be threshold-driven, not per-batch (a per-batch rewrite would
    be O(table) work per trigger).  Returns the compaction commit
    version, or None when under both thresholds.  The file-count
    decision reads only the log; the DV ratio additionally reads the
    KB-sized sidecar FOOTERS (never data files), and only fires when
    every live file has a log-recorded row count (else the ratio is
    unknowable without a scan — stay conservative and decline)."""
    state = _fold_state(path)
    if len(state["live"]) > max_live_files:
        return compact(spark, path, target_mb=target_mb)
    if max_dv_ratio is not None and state["dvs"]:
        totals = [
            None if z is None else z.get("rows")
            for z in state["live"].values()
        ]
        if None not in totals and sum(totals) > 0:
            import pyarrow.parquet as pq

            names = {n for ns in state["dvs"].values() for n in ns}
            hidden = sum(
                pq.ParquetFile(
                    os.path.join(_dv_dir(path), n)
                ).metadata.num_rows
                for n in names
            )
            if hidden / sum(totals) > max_dv_ratio:
                return compact(spark, path, target_mb=target_mb)
    return None


def lake_stream_sink(
    stream: DataFrame,
    path: str,
    timeout_s: int = 300,
    auto_compact_files: int | None = None,
    checkpoint_dir: str | None = None,
) -> None:
    """Drain a stream into a minilake table with Trigger.AvailableNow,
    one exactly-once commit per micro-batch.  With
    `auto_compact_files=N`, runs the `maybe_compact` maintenance rule
    once after the drain (post-drain, not per-batch: compaction
    commits are rewrites, and interleaving them with appends would
    force incremental `read_changes` consumers to re-sync
    mid-stream).

    The streaming checkpoint PERSISTS next to the table (default
    `<path>/_stream_checkpoint`) — load-bearing for exactly-once
    across drains (post-review hardening).  The idempotence key in the
    log is the bare micro-batch id, i.e. Delta's (txnAppId, txnVersion)
    with the app fixed to this table's query — which is only sound if
    batch ids are MONOTONIC across drains.  A throwaway checkpoint per
    drain restarts ids at 0, so a replayed id whose batch now contains
    NEW rows (the source grew, or trigger chunking changed) would be
    silently skipped: data loss.  With the persisted checkpoint the
    engine itself replays only genuinely-unfinished batches and assigns
    fresh ids to new data, and the log-side id check stays what it is
    meant to be — crash-replay dedup, not cross-drain change detection.
    Consequence (as with any Delta streaming sink): one checkpoint ↔
    one source query; pass `checkpoint_dir` to drain a DIFFERENT source
    into the same table."""
    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(path, "_stream_checkpoint")

    # one log scan per DRAIN, not per batch: the seen-set is consulted
    # and extended in memory (commit_stream_batch would re-read every
    # commit json per micro-batch — O(V²) over a long-lived table)
    seen = committed_stream_batches(path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in seen:
            return
        if commit_stream_batch(batch_df, path, batch_id) is not None:
            seen.add(batch_id)

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"lake stream sink drain exceeded {timeout_s}s")
    if auto_compact_files is not None:
        maybe_compact(stream.sparkSession, path, max_live_files=auto_compact_files)


def read_changes(
    spark: SparkSession,
    path: str,
    since_version: int,
    to_version: int | None = None,
    change_feed: bool = False,
) -> DataFrame:
    """Incremental (CDC-style) read over commits in
    (since_version, to_version].  The reader scans ONLY the files each
    commit names, never the table — what makes incremental consumers
    cheap at 100 TB.

    Default mode returns the rows ADDED by append commits.  A COMPACT
    or OPTIMIZE commit in the range is silently SKIPPED (post-review
    r8): a pure rewrite adds no rows the consumer hasn't already been
    delivered, so routine maintenance must not break incremental
    consumers.  Any row-changing commit (delete/overwrite/restore/
    merge) still raises — the plain row feed cannot express removals.

    With `change_feed=True` the result is a Delta-CDF-style feed with
    `_change_type` ('insert' | 'delete') and `_commit_version` columns:
    appends emit inserts; DELETE commits emit delete rows (the removed
    files' rows matching the commit's recorded predicate — exact,
    because a delete removes precisely the matching rows of the files
    it rewrote); RESTORE and OVERWRITE emit deletes for their removed
    files' rows and inserts for their added files' rows; compact/
    optimize emit nothing.  MERGE still raises: splitting its rewritten
    files into carried vs updated rows needs change files written at
    commit time (Delta's update_pre/postimage) — re-sync from a
    snapshot instead.  The feed reads removed files from disk, so it is
    bounded by VACUUM retention exactly as Delta's CDF is."""
    vs = versions(path)
    if to_version is None:
        to_version = vs[-1] if vs else since_version
    # each group reads `files`, optionally filters by `pred`, keeps
    # only positions in `semi` DVs, drops positions in `anti` DVs —
    # DVs make "the rows this commit changed" a position-set question,
    # and prior-state DVs must be EXCLUDED from delete legs (those rows
    # were already delivered as deletes by the commit that hid them)
    groups: list[dict] = []
    schema_json = None

    def _dvs_for(dv_map: dict, files: list[str]) -> list[str]:
        return sorted({n for f in files for n in dv_map.get(f, [])})

    for v in vs:
        if not since_version < v <= to_version:
            continue
        c = _read_commit(path, v)
        mode = c["mode"]
        schema_json = c["schema"]
        if mode in ("compact", "optimize"):
            continue  # pure rewrite: rows already delivered
        if mode == "append":
            groups.append(dict(v=v, ctype="insert", files=c["add"]))
        elif not change_feed:
            raise ValueError(
                f"version {v} is a {mode!r} commit — the plain row feed "
                "only spans appends (maintenance rewrites are skipped); "
                "use change_feed=True or re-sync from a snapshot"
            )
        elif mode == "delete" and c.get("dv"):
            # DV delete: exactly this commit's position set (the writer
            # already excluded previously-hidden rows)
            groups.append(
                dict(
                    v=v,
                    ctype="delete",
                    files=sorted(c["dv"]),
                    semi=sorted({n for ns in c["dv"].values() for n in ns}),
                )
            )
        elif mode == "delete":
            pred = c.get("predicate")
            if pred is None:
                raise ValueError(
                    f"delete commit {v} carries no replayable predicate; "
                    "re-sync from a snapshot"
                )
            prior_dvs = _fold_state(path, as_of=v - 1)["dvs"]
            groups.append(
                dict(
                    v=v,
                    ctype="delete",
                    files=c["remove"],
                    pred=pred,
                    anti=_dvs_for(prior_dvs, c["remove"]),
                )
            )
        elif mode in ("restore", "overwrite"):
            prior = _fold_state(path, as_of=v - 1)
            target_dvs = c.get("dv_restore", {}) if mode == "restore" else {}
            groups.append(
                dict(
                    v=v,
                    ctype="delete",
                    files=c["remove"],
                    anti=_dvs_for(prior["dvs"], c["remove"]),
                )
            )
            groups.append(
                dict(
                    v=v,
                    ctype="insert",
                    files=c["add"],
                    anti=_dvs_for(target_dvs, c["add"]),
                )
            )
            if mode == "restore":
                # files live across the restore whose DV state changed:
                # positions un-hidden become inserts, newly hidden
                # become deletes
                common = sorted(
                    (set(prior["live"]) - set(c["remove"])) - set(c["add"])
                )
                p_names = _dvs_for(prior["dvs"], common)
                t_names = _dvs_for(target_dvs, common)
                if p_names != t_names:
                    groups.append(
                        dict(
                            v=v,
                            ctype="insert",
                            files=common,
                            semi=p_names,
                            anti=t_names,
                        )
                    )
                    groups.append(
                        dict(
                            v=v,
                            ctype="delete",
                            files=common,
                            semi=t_names,
                            anti=p_names,
                        )
                    )
        else:  # merge (or future modes): not row-splittable from the log
            raise ValueError(
                f"version {v} is a {mode!r} commit — its rewritten files "
                "mix carried and changed rows; re-sync from a snapshot"
            )
    frames = []
    for g in groups:
        files = g["files"]
        if not files or (g.get("semi") == []):
            continue
        df = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(_data_dir(path), f) for f in sorted(files)]
        )
        pred = g.get("pred")
        if pred is not None:
            df = df.filter(F.col(pred["col"]).between(pred["lo"], pred["hi"]))
        if g.get("semi") or g.get("anti"):
            df = _with_position(df)
            if g.get("semi"):
                df = df.join(
                    F.broadcast(_read_dv(spark, path, g["semi"])),
                    [_DV_FILE, _DV_RI],
                    "left_semi",
                )
            if g.get("anti"):
                df = df.join(
                    F.broadcast(_read_dv(spark, path, g["anti"])),
                    [_DV_FILE, _DV_RI],
                    "left_anti",
                )
            df = df.drop(_DV_FILE, _DV_RI)
        if change_feed:
            df = df.withColumn("_change_type", F.lit(g["ctype"])).withColumn(
                "_commit_version", F.lit(g["v"]).cast("bigint")
            )
        frames.append(df)
    if frames:
        out = frames[0]
        for df in frames[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out
    ref = vs[-1] if vs else None
    if schema_json is None and ref is not None:
        schema_json = _read_commit(path, ref)["schema"]
    from pyspark.sql.types import StringType, StructType

    if schema_json is None:
        raise FileNotFoundError(f"no commits under {path}")
    schema = StructType.fromJson(json.loads(schema_json))
    if change_feed:
        schema = schema.add("_change_type", StringType()).add(
            "_commit_version", "bigint"
        )
    return spark.createDataFrame([], schema)


def _live_zones(path: str, as_of: int | None = None) -> dict:
    """file → zone map (or None) for every live file."""
    return _fold_state(path, as_of)["live"]


def _file_outside_range(z: dict | None, col: str, lo, hi) -> bool:
    """True iff the file PROVABLY holds no row with `col` in [lo, hi] —
    by its exact partition value first (when `col` is a partition
    column), else by its zone-map [min, max].  Files without either
    are conservatively inside (must be read/rewritten)."""
    if z is None:
        return False
    part = z.get("partition") or {}
    if col in part:
        pv = part[col]
        # a NULL partition value never matches a BETWEEN predicate,
        # so the file provably holds no matching row
        return pv is None or pv < lo or pv > hi
    zr = z.get("stats", {}).get(col)
    return zr is not None and (zr[1] < lo or zr[0] > hi)


def scan_pruned(
    spark: SparkSession, path: str, col: str, lo, hi
) -> tuple[DataFrame, int, int]:
    """Data-skipping scan: read only the live files whose [min, max]
    zone for `col` overlaps [lo, hi] (files without a zone map are
    conservatively read).  Returns (frame pre-filtered to the range,
    files_read, files_skipped) — the skip count is the point: at
    100 TB a selective predicate over a clustered column touches a
    handful of files, and the decision uses ONLY the log, no footer
    reads at query time.  Single-predicate convenience over
    `scan_pruned_multi`."""
    return scan_pruned_multi(spark, path, {col: (lo, hi)})


def scan_pruned_eq(
    spark: SparkSession, path: str, col: str, value
) -> tuple[DataFrame, int, int]:
    """Equality-lookup scan with THREE skipping tiers per file, all
    from the log alone: exact partition value, [min, max] zone
    containment, then the per-file BLOOM filter (`bloom_cols=` at
    append time) — the tier that prunes point lookups on
    high-cardinality UNSORTED columns, where every file's min/max
    range contains the probe and range zones cannot skip anything.
    ~1% false-positive reads by construction, zero false skips.
    Returns (frame pre-filtered to the value, files_read,
    files_skipped)."""
    if value is None:
        raise ValueError("use an IS NULL predicate for null lookups")
    state = _fold_state(path)
    zones = state["live"]
    chosen, skipped = [], 0
    for f, z in zones.items():
        if z:
            part = z.get("partition") or {}
            if col in part and part[col] != value:
                skipped += 1
                continue
            zr = z.get("stats", {}).get(col)
            if zr is not None and (value < zr[0] or value > zr[1]):
                skipped += 1
                continue
            bloom = (z.get("bloom") or {}).get(col)
            if bloom is not None and not _bloom_might_contain(bloom, value):
                skipped += 1
                continue
        chosen.append(f)
    cond = F.col(col) == F.lit(value)
    if not chosen:
        empty = read_snapshot(spark, path).limit(0)
        return empty.filter(cond), 0, skipped
    df = _read_files_with_dvs(spark, path, sorted(chosen), state["dvs"])
    return df.filter(cond), len(chosen), skipped


def scan_pruned_multi(
    spark: SparkSession, path: str, preds: dict
) -> tuple[DataFrame, int, int]:
    """Data-skipping scan over SEVERAL range predicates at once
    ({col: (lo, hi)}): a file is read only if EVERY predicate's range
    overlaps its zone — the multi-column pruning that makes Z-ORDERED
    layouts pay off (a linear sort gives tight zones on one column;
    the Morton layout gives usably-tight zones on both, so a 2-D box
    predicate skips most files — demonstrated in tests against
    `functions.scale.zorder_key_2d`).

    Skipping runs in TWO tiers per file, both from the log alone:
    first the file's partition tuple (exact values — Delta/Iceberg's
    partition pruning, the cheapest and tightest check), then its zone
    map [min, max] for non-partition columns.  NULL partition values
    and files without metadata are conservatively read."""
    state = _fold_state(path)
    zones = state["live"]
    chosen, skipped = [], 0
    for f, z in zones.items():
        if any(
            _file_outside_range(z, col, lo, hi)
            for col, (lo, hi) in preds.items()
        ):
            skipped += 1
            continue
        chosen.append(f)
    cond = None
    for col, (lo, hi) in preds.items():
        c = F.col(col).between(lo, hi)
        cond = c if cond is None else (cond & c)
    if not chosen:
        empty = read_snapshot(spark, path).limit(0)
        return empty.filter(cond), 0, skipped
    df = _read_files_with_dvs(spark, path, sorted(chosen), state["dvs"])
    return df.filter(cond), len(chosen), skipped


def scan_pruned_isnull(
    spark: SparkSession, path: str, col: str
) -> tuple[DataFrame, int, int]:
    """Data-skipping scan for `col IS NULL`: read only the live files
    whose recorded null COUNT is nonzero (or unknown).  The third
    skipping statistic after partition tuples and min/max zones —
    Delta records the same nullCount — and the one that makes
    "find the rows missing a value" (a constant data-quality query)
    touch almost nothing on a mostly-complete 100-TB column.  Returns
    (frame pre-filtered to IS NULL, files_read, files_skipped)."""
    state = _fold_state(path)
    chosen, skipped = [], 0
    for f, z in state["live"].items():
        nulls = None if z is None else z.get("nulls", {}).get(col)
        if nulls == 0:
            skipped += 1  # provably no NULL rows in this file
            continue
        chosen.append(f)
    if not chosen:
        empty = read_snapshot(spark, path).limit(0)
        return empty.filter(F.col(col).isNull()), 0, skipped
    df = _read_files_with_dvs(spark, path, sorted(chosen), state["dvs"])
    return df.filter(F.col(col).isNull()), len(chosen), skipped


def merge_upsert_lake(
    spark: SparkSession, updates: DataFrame, path: str, key: str
) -> int:
    """File-pruned MERGE (WHEN MATCHED UPDATE / NOT MATCHED INSERT):
    zone maps pick the live files whose key range can contain an
    updated key; ONLY those files are rewritten (existing rows not in
    `updates` are carried over), untouched files stay byte-identical
    and keep their names in the log.  This is Delta's MERGE pruning —
    rewrite cost tracks where the keys actually land, not table size."""
    _check_schema(updates, path, allow_evolution=False)
    _check_constraints(updates, path)
    bounds = updates.agg(
        F.min(key).alias("lo"), F.max(key).alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        # empty update set: an incremental period with zero changes is
        # a no-op, not a crash — return the current version unchanged
        vs = versions(path)
        return vs[-1] if vs else -1
    state = _fold_state(path)
    zones = state["live"]
    touched, untouched = [], []
    for f, z in zones.items():
        if _file_outside_range(z, key, lo, hi):
            untouched.append(f)
        else:
            touched.append(f)
    if touched:
        # DV-applied read: carried rows must not resurrect deleted ones
        old_rows = _read_files_with_dvs(
            spark, path, sorted(touched), state["dvs"]
        )
        carried = old_rows.join(
            updates.select(key).distinct(), key, "left_anti"
        )
        merged = carried.unionByName(updates, allowMissingColumns=True)
    else:
        merged = updates
    files, new_zones = _land_data_files(
        merged, path, [key], partition_spec(path), _bloom_cols_of(zones)
    )

    def check_touched_live(_c: dict) -> None:
        # same claim-time revalidation as delete_where: if a concurrent
        # rewrite (compact/overwrite/optimize/delete) removed any file
        # this merge read and is about to remove, committing the stale
        # list would resurrect or duplicate rows — abort and clean up
        if not set(touched) <= _live_files(path):
            for f in files:
                os.unlink(os.path.join(_data_dir(path), f))
            raise RuntimeError(
                "merge_upsert_lake lost a race with a concurrent rewrite "
                "(compact/overwrite/optimize); re-run against the new "
                "snapshot"
            )

    return _claim_version(
        path,
        {
            "mode": "merge",
            "add": files,
            "remove": sorted(touched),
            "schema": merged.schema.json(),
            "zones": new_zones,
            "partition_by": partition_spec(path),
        },
        refresh=check_touched_live,
    )


def delete_where(
    spark: SparkSession, path: str, col: str, lo, hi, strategy: str = "rewrite"
) -> int:
    """File-pruned DELETE (`DELETE FROM t WHERE col BETWEEN lo AND hi`):
    zone maps split the live files into provably-unaffected (kept
    byte-identical, names unchanged in the log) and possibly-affected
    (rewritten without the matching rows).  Rewrite cost tracks where
    the deleted rows actually live, not table size — Delta's DELETE
    pruning.  Files whose rewrite comes back empty are dropped rather
    than committed as zero-row parquet.  The deletion is itself a
    versioned commit: the pre-delete snapshot stays time-travelable
    until vacuum (the GDPR caveat Delta documents — a compliance scrub
    must be followed by VACUUM to destroy the bytes).

    Semantics and safety (post-review hardening): rows whose `col` is
    NULL are KEPT — `WHERE col BETWEEN lo AND hi` is three-valued-NULL
    for them, so SQL DELETE does not touch them; a rewrite whose row
    count equals the touched files' (zone-known) row count is a
    zero-match NO-OP that commits nothing (coarse zones overlap more
    than the data does); and the commit aborts if a concurrent
    rewrite removed any touched file between zone read and claim —
    committing stale removes would resurrect or duplicate rows.

    `strategy="dv"` commits a DELETION VECTOR instead of rewriting: the
    matching rows' (file, row_index) positions land as a small parquet
    sidecar under dv/ and the commit ATTACHES it to the touched files —
    O(matched rows) write cost regardless of file sizes, applied at
    scan time by a broadcast anti-join (what Delta/Iceberg v2 ship as
    merge-on-read deletes).  The rewrite strategy stays the
    copy-on-write path that physically drops the rows (and materializes
    any previously-attached DVs for the files it rewrites)."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no minilake log under {path}")
    if strategy not in ("rewrite", "dv"):
        raise ValueError(f"unknown delete strategy {strategy!r}")
    state = _fold_state(path)
    zones = state["live"]
    touched, untouched = [], []
    for f, z in zones.items():
        if _file_outside_range(z, col, lo, hi):
            untouched.append(f)
        else:
            touched.append(f)
    if not touched:
        return vs[-1]  # no file can contain a matching row: no-op
    if strategy == "dv":
        return _delete_where_dv(spark, path, col, lo, hi, touched, state)
    old_rows = _read_files_with_dvs(
        spark, path, sorted(touched), state["dvs"]
    )
    kept = old_rows.filter(F.col(col).isNull() | ~F.col(col).between(lo, hi))
    files, new_zones = _land_data_files(
        kept, path, [col], partition_spec(path), _bloom_cols_of(zones)
    )
    nonempty = [f for f in files if new_zones.get(f, {}).get("rows", 0) > 0]

    def _discard(names: list[str]) -> None:
        for f in names:
            os.unlink(os.path.join(_data_dir(path), f))

    _discard([f for f in files if f not in nonempty])
    # zero-match no-op: if every touched file's row count is known from
    # its zone map and the rewrite kept them all, commit nothing
    old_counts = [
        zones[f].get("rows") if zones[f] else None for f in touched
    ]
    if None not in old_counts and sum(
        new_zones[f]["rows"] for f in nonempty
    ) == sum(old_counts):
        _discard(nonempty)
        return vs[-1]
    # the table schema is the TABLE's contract (latest commit), not the
    # merged schema of only the touched files — evolved columns that
    # live solely in untouched files must survive the delete
    table_schema = _read_commit(path, vs[-1])["schema"]
    try:  # predicate bounds must survive the JSON log (dates etc. don't)
        json.dumps([lo, hi])
        predicate = {"col": col, "lo": lo, "hi": hi}
    except TypeError:
        predicate = None

    def check_touched_live(commit: dict) -> None:
        if not set(touched) <= _live_files(path):
            _discard(nonempty)
            raise RuntimeError(
                "delete_where lost a race with a concurrent rewrite "
                "(compact/overwrite/optimize); re-run against the new "
                "snapshot"
            )

    return _claim_version(
        path,
        {
            "mode": "delete",
            "add": nonempty,
            "remove": sorted(touched),
            "schema": table_schema,
            "zones": {f: new_zones[f] for f in nonempty},
            "partition_by": partition_spec(path),
            # the predicate makes the commit CDF-replayable: the
            # deleted rows are exactly the removed files' rows matching
            # it (see read_changes(change_feed=True))
            "predicate": predicate,
        },
        refresh=check_touched_live,
    )


def _delete_where_dv(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    touched: list[str],
    state: dict,
) -> int:
    """DV-strategy DELETE (see `delete_where`): compute the matching
    rows' physical positions over the DV-APPLIED view of the touched
    files (already-deleted rows are excluded, so each DV holds exactly
    the rows THIS commit deletes — load-bearing for the change feed),
    land them as a parquet sidecar, and commit with `"dv"` attaching it
    to every touched file.  Zero matches → no-op, nothing committed.
    Same claim-time conflict rule as the rewrite path: if a concurrent
    rewrite removed any touched file, the DV would silently stop
    applying to the survivor's rewritten rows — abort instead."""
    vs = versions(path)
    pos = (
        _with_position(
            spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(_data_dir(path), f) for f in sorted(touched)]
            )
        )
        .filter(F.col(col).between(lo, hi))
        .select(
            F.col(_DV_FILE).alias("file"), F.col(_DV_RI).alias("row_index")
        )
    )
    prior = sorted({n for f in touched for n in state["dvs"].get(f, [])})
    if prior:
        already = _read_dv(spark, path, prior).select(
            F.col(_DV_FILE).alias("file"), F.col(_DV_RI).alias("row_index")
        )
        pos = pos.join(F.broadcast(already), ["file", "row_index"], "left_anti")
    staging = os.path.join(path, f"_dvstaging-{uuid.uuid4().hex}")
    pos.coalesce(1).write.mode("overwrite").parquet(staging)
    os.makedirs(_dv_dir(path), exist_ok=True)
    import pyarrow.parquet as pq

    names, n_rows = [], 0
    for f in sorted(os.listdir(staging)):
        if f.endswith(".parquet"):
            name = f"{uuid.uuid4().hex}.parquet"
            dest = os.path.join(_dv_dir(path), name)
            os.rename(os.path.join(staging, f), dest)
            n_rows += pq.ParquetFile(dest).metadata.num_rows
            names.append(name)
    shutil.rmtree(staging)

    def _discard() -> None:
        for n in names:
            os.unlink(os.path.join(_dv_dir(path), n))

    if n_rows == 0:
        _discard()
        return vs[-1]  # zero matches: no-op

    def check_touched_live(_c: dict) -> None:
        if not set(touched) <= _live_files(path):
            _discard()
            raise RuntimeError(
                "delete_where(dv) lost a race with a concurrent rewrite "
                "(compact/overwrite/optimize); re-run against the new "
                "snapshot"
            )

    try:
        json.dumps([lo, hi])
        predicate = {"col": col, "lo": lo, "hi": hi}
    except TypeError:
        predicate = None
    return _claim_version(
        path,
        {
            "mode": "delete",
            "add": [],
            "remove": [],
            "schema": _read_commit(path, vs[-1])["schema"],
            "partition_by": partition_spec(path),
            "predicate": predicate,
            "dv": {f: names for f in sorted(touched)},
            # hidden-row count, known at write time — lets maintenance
            # policy (maybe_compact's dv-ratio trigger) read the log
            # alone, no sidecar scans
            "dv_rows": n_rows,
        },
        refresh=check_touched_live,
    )
