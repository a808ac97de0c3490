"""SQL-text lifecycle over the lake tiers: named catalog + DML/DDL
dispatcher (r14).

The reference's entire interface is SQL text over a NAMED catalog table
(`pharmaceutical_dashboard_queries.sql`; ingestion notebook ING:211
``saveAsTable("medications")`` → ING:218 / ML:9 ``spark.table``) — a
user migrating a Databricks notebook types ``spark.sql("MERGE INTO
…")``, ``DELETE FROM t WHERE …``, ``SELECT … FROM t VERSION AS OF 3``.
`operators/sqlfront.py` (r9) proved the SELECT half of that lifecycle;
this module closes the WRITE half plus named resolution:

- a **named catalog**: `register_lake_table(name, fmt, path)` maps a
  table NAME to its (format, path); `lake_table(spark, name)` resolves
  a read through the right protocol reader (deltaproto / iceberg /
  parquet), and the SELECT path auto-registers temp views so
  ``FROM name`` works with no filesystem path in sight.  The registry
  round-trips through JSON (`save_lake_catalog` / `load_lake_catalog`)
  so a warehouse layout survives process restarts like a metastore.
- a **statement dispatcher**: `lake_sql(spark, sql)` parses the
  write-side statements Spark's parser cannot route to these tables
  (MERGE / DELETE / UPDATE / INSERT / ALTER TABLE) plus time-travel
  SELECT (``VERSION AS OF`` / ``TIMESTAMP AS OF``), lowers them onto
  the protocol helpers, and hands plain SELECT text to Catalyst over
  the auto-registered views — so reads get full pushdown/pruning and
  writes get the protocol tiers' conflict detection, CDF, constraint
  enforcement, and stats-pruned rewrites for free.

Deliberately a DISPATCHER, not a second SQL engine: every statement
lowers to the helper that already owns its correctness
(`deltaproto.merge_upsert_delta` / `delete_where_delta` /
`update_where_delta` / column DDL; `iceberg.upsert_iceberg` /
`delete_where_iceberg` / `delete_eq_iceberg` / `update_where_iceberg` /
`evolve_iceberg_schema`), and parity with the Python API is pinned
row-identical in tests/test_lakesql.py.  Unsupported shapes refuse
LOUDLY with the helper-level workaround named — never a silent
misparse.

Scale note (100-TB thinking): the dispatcher itself is O(statement
text) on the driver; all data movement happens inside the helpers,
which prune from manifest/add-action metadata before touching a file.
A SELECT through a registered view gets the identical optimized plan
as the DataFrame chain (Catalyst inlines temp views at analysis time).
"""

from __future__ import annotations

import json
import os
import re
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import local_rows_df

__all__ = [
    "register_lake_table",
    "unregister_lake_table",
    "lake_table_location",
    "lake_table",
    "register_lake_views",
    "save_lake_catalog",
    "load_lake_catalog",
    "lake_sql",
]

_FORMATS = ("delta", "iceberg", "parquet")

#: name -> (format, path).  Process-wide, like a session catalog.
_REGISTRY: dict[str, tuple[str, str]] = {}

_NAME_RE = re.compile(r"^[A-Za-z_]\w*$")


# --------------------------------------------------------------------------
# named catalog
# --------------------------------------------------------------------------


def register_lake_table(name: str, fmt: str, path: str) -> None:
    """Bind a table NAME to its (format, path).  Re-registering a name
    overwrites the binding (the registry is the authority, like a
    metastore's ALTER TABLE SET LOCATION)."""
    if not _NAME_RE.match(name or ""):
        raise ValueError(f"invalid table name {name!r}")
    if fmt not in _FORMATS:
        raise ValueError(f"unknown format {fmt!r} (one of {_FORMATS})")
    _REGISTRY[name] = (fmt, path)


def unregister_lake_table(name: str) -> None:
    _REGISTRY.pop(name, None)


def lake_table_location(name: str) -> tuple[str, str]:
    """(format, path) of a registered name; loud on a miss."""
    try:
        return _REGISTRY[name]
    except KeyError:
        raise KeyError(
            f"no lake table named {name!r} — registered: "
            f"{sorted(_REGISTRY)}"
        ) from None


def lake_table(
    spark: SparkSession,
    name: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Resolve a registered name through the right protocol reader,
    optionally time-travelled.  `version` means a Delta
    version number or an Iceberg snapshot-id; `ref` an Iceberg
    tag/branch name."""
    fmt, path = lake_table_location(name)
    if fmt == "delta":
        from . import deltaproto as dp

        if ref is not None:
            raise ValueError(
                "named refs are an Iceberg feature — Delta VERSION AS "
                "OF takes a version number"
            )
        return dp.read_delta(
            spark, path, version=version, timestamp_ms=timestamp_ms
        )
    if fmt == "iceberg":
        from . import iceberg as ib

        return ib.read_iceberg(
            spark, path, snapshot_id=version, ref=ref,
            timestamp_ms=timestamp_ms,
        )
    # parquet: plain directory scan — no log, no travel
    if version is not None or timestamp_ms is not None or ref is not None:
        raise ValueError(
            f"{name!r} is a plain parquet location — no commit log to "
            "time-travel; register it as delta/iceberg first"
        )
    return spark.read.parquet(path)


def register_lake_views(
    spark: SparkSession, names: list[str] | None = None
) -> None:
    """Create temp views for registered names so ``spark.table(name)``
    and SQL ``FROM name`` resolve — metadata only, Catalyst inlines
    the snapshot-read plan at analysis time."""
    for name in names if names is not None else sorted(_REGISTRY):
        lake_table(spark, name).createOrReplaceTempView(name)


def save_lake_catalog(catalog_path: str) -> None:
    """Persist the registry as JSON (atomic rename) — the minimal
    durable metastore: {"tables": {name: {"format": f, "path": p}}}."""
    payload = {
        "tables": {
            n: {"format": f, "path": p}
            for n, (f, p) in sorted(_REGISTRY.items())
        }
    }
    tmp = catalog_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, indent=2, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, catalog_path)


def load_lake_catalog(catalog_path: str) -> list[str]:
    """Merge a saved catalog into the registry; returns loaded names."""
    with open(catalog_path) as fh:
        payload = json.load(fh)
    names = []
    for n, spec in (payload.get("tables") or {}).items():
        register_lake_table(n, spec["format"], spec["path"])
        names.append(n)
    return sorted(names)


# --------------------------------------------------------------------------
# lexing helpers (tiny, deterministic — no SQL engine here)
# --------------------------------------------------------------------------


def _split_top(text: str, sep: str = ",") -> list[str]:
    """Split on `sep` at paren depth 0 outside single-quoted strings."""
    parts, depth, in_str, cur = [], 0, False, []
    i = 0
    while i < len(text):
        ch = text[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(text) and text[i + 1] == "'":
                    cur.append("''")
                    i += 2
                    continue
                in_str = False
            cur.append(ch)
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


def _parse_timestamp(text: str) -> datetime:
    dt = datetime.fromisoformat(text)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt


def _parse_literal(tok: str):
    """One SQL literal → python value.  Loud on anything else — a
    misparsed predicate bound must never silently become a string."""
    t = tok.strip()
    m = re.fullmatch(r"(?is)TIMESTAMP\s*'([^']*)'", t)
    if m:
        return _parse_timestamp(m.group(1))
    m = re.fullmatch(r"(?is)DATE\s*'([^']*)'", t)
    if m:
        return date.fromisoformat(m.group(1))
    if len(t) >= 2 and t[0] == "'" and t[-1] == "'":
        return t[1:-1].replace("''", "'")
    low = t.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    if low == "null":
        return None
    if re.fullmatch(r"[+-]?\d+", t):
        return int(t)
    if re.fullmatch(r"[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?", t):
        return float(t)
    raise ValueError(f"cannot parse SQL literal {tok!r}")


#: SQL column type → Iceberg type (primitive tier the DDL path serves).
_SQL_TO_ICE = {
    "int": "int",
    "integer": "int",
    "bigint": "long",
    "long": "long",
    "smallint": "int",
    "tinyint": "int",
    "string": "string",
    "varchar": "string",
    "double": "double",
    "float": "float",
    "real": "float",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def _ice_type_of_sql(sql_type: str) -> str:
    t = sql_type.strip().lower()
    m = re.fullmatch(r"(?:decimal|numeric)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        return f"decimal({int(m.group(1))}, {int(m.group(2))})"
    m = re.fullmatch(r"varchar\s*\(\s*\d+\s*\)", t)
    if m:
        return "string"
    if t in _SQL_TO_ICE:
        return _SQL_TO_ICE[t]
    raise ValueError(f"unsupported column type {sql_type!r} in ALTER")


# --------------------------------------------------------------------------
# statement grammar
# --------------------------------------------------------------------------

_IDENT = r"[A-Za-z_]\w*"

_MERGE_RE = re.compile(
    rf"(?is)^\s*MERGE\s+INTO\s+(?P<target>{_IDENT})"
    rf"(?:\s+AS)?(?:\s+(?P<talias>{_IDENT}))?"
    rf"\s+USING\s+(?P<source>{_IDENT})"
    rf"(?:\s+AS)?(?:\s+(?P<salias>{_IDENT}))?"
    r"\s+ON\s+(?P<cond>.+?)"
    r"\s+WHEN\s+MATCHED\s+THEN\s+(?P<matched>UPDATE\s+SET\s+\*|DELETE)"
    r"(?:\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+(?P<notmatched>INSERT\s+\*))?"
    r"\s*$"
)

_DELETE_RE = re.compile(
    rf"(?is)^\s*DELETE\s+FROM\s+(?P<t>{_IDENT})\s+WHERE\s+(?P<pred>.+)$"
)

_UPDATE_RE = re.compile(
    rf"(?is)^\s*UPDATE\s+(?P<t>{_IDENT})\s+SET\s+(?P<sets>.+?)"
    r"\s+WHERE\s+(?P<pred>.+)$"
)

_INSERT_RE = re.compile(
    rf"(?is)^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?"
    rf"(?P<t>{_IDENT})\s+(?P<body>.+)$"
)

_ALTER_RE = re.compile(
    rf"(?is)^\s*ALTER\s+TABLE\s+(?P<t>{_IDENT})\s+(?P<rest>.+)$"
)

_TRAVEL_RE = re.compile(
    rf"(?is)\b(?P<name>{_IDENT})\s+(?:FOR\s+)?"
    r"(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"(?P<tok>'(?:[^']|'')*'|\d+)"
)


def _dml_result(
    spark: SparkSession, op: str, table: str, version: int
) -> DataFrame:
    return local_rows_df(spark, 
        [(op, table, int(version))],
        "operation string, table string, version bigint",
    )


def _frame_of(spark: SparkSession, name: str) -> DataFrame:
    """MERGE/INSERT source resolution: registered lake table first
    (the catalog is authoritative), else a session temp view."""
    if name in _REGISTRY:
        return lake_table(spark, name)
    return spark.table(name)


def _parse_range_pred(pred: str):
    """WHERE predicate → ("range", col, lo, hi) | ("in", col, values).
    The helpers take inclusive range (stats-prunable) or key-list
    shapes; anything else refuses with the supported forms named."""
    p = pred.strip()
    m = re.fullmatch(r"(?is)([\w.]+)\s+BETWEEN\s+(.+?)\s+AND\s+(.+)", p)
    if m:
        return (
            "range",
            m.group(1),
            _parse_literal(m.group(2)),
            _parse_literal(m.group(3)),
        )
    m = re.fullmatch(r"(?is)([\w.]+)\s+IN\s*\((.+)\)", p)
    if m:
        vals = [_parse_literal(v) for v in _split_top(m.group(2))]
        return ("in", m.group(1), vals)
    m = re.fullmatch(
        r"(?is)([\w.]+)\s*(>=|<=)\s*(.+?)\s+AND\s+([\w.]+)\s*(>=|<=)\s*(.+)",
        p,
    )
    if m and m.group(1) == m.group(4) and {m.group(2), m.group(5)} == {
        ">=",
        "<=",
    }:
        a = (m.group(2), _parse_literal(m.group(3)))
        b = (m.group(5), _parse_literal(m.group(6)))
        lo = a[1] if a[0] == ">=" else b[1]
        hi = a[1] if a[0] == "<=" else b[1]
        return ("range", m.group(1), lo, hi)
    m = re.fullmatch(r"(?is)([\w.]+)\s*=\s*(.+)", p)
    # AND/OR are only conjunction markers OUTSIDE string literals
    # ("x = 'black and white'" is a point predicate)
    if m and not re.search(
        r"(?i)\s(AND|OR)\s", re.sub(r"'(?:[^']|'')*'", "''", p)
    ):
        v = _parse_literal(m.group(2))
        return ("range", m.group(1), v, v)
    raise ValueError(
        f"unsupported WHERE shape {pred!r} — the row-level DML "
        "dispatcher takes `col BETWEEN lo AND hi`, `col = v`, "
        "`col >= lo AND col <= hi`, or `col IN (v, …)` (strict </> "
        "bounds are not inclusive-range-expressible; rewrite with "
        "BETWEEN)"
    )


def _parse_merge_keys(cond: str, t_names: set, s_names: set) -> list[str]:
    keys = []
    for leg in re.split(r"(?i)\s+AND\s+", cond.strip()):
        m = re.fullmatch(
            rf"(?is)\s*({_IDENT})\.({_IDENT})\s*=\s*({_IDENT})\.({_IDENT})\s*",
            leg,
        )
        if not m:
            raise ValueError(
                f"MERGE ON must be a conjunction of qualified "
                f"equalities (t.col = s.col); got {leg!r}"
            )
        q1, c1, q2, c2 = m.groups()
        if q1 in t_names and q2 in s_names:
            tcol, scol = c1, c2
        elif q2 in t_names and q1 in s_names:
            tcol, scol = c2, c1
        else:
            raise ValueError(
                f"MERGE ON qualifier(s) {q1!r}/{q2!r} match neither "
                f"side's name/alias"
            )
        if tcol != scol:
            raise ValueError(
                f"MERGE key columns must share a name on both sides "
                f"(upsert helpers key on the table schema); got "
                f"{tcol!r} = {scol!r}"
            )
        keys.append(tcol)
    return keys


# --------------------------------------------------------------------------
# statement execution
# --------------------------------------------------------------------------


def _exec_merge(spark: SparkSession, m: re.Match) -> DataFrame:
    target = m.group("target")
    fmt, path = lake_table_location(target)
    t_names = {target, m.group("talias")} - {None}
    s_names = {m.group("source"), m.group("salias")} - {None}
    keys = _parse_merge_keys(m.group("cond"), t_names, s_names)
    src = _frame_of(spark, m.group("source"))
    is_delete = m.group("matched").upper() == "DELETE"
    has_insert = m.group("notmatched") is not None
    if is_delete and has_insert:
        raise ValueError(
            "MERGE … WHEN MATCHED THEN DELETE takes no NOT MATCHED "
            "clause here (delete-by-key and upsert are different "
            "commits — run two statements)"
        )
    if not is_delete and not has_insert:
        raise ValueError(
            "MERGE … UPDATE SET * needs WHEN NOT MATCHED THEN INSERT * "
            "(the upsert helpers insert unmatched source rows by "
            "definition); for pure deletion use WHEN MATCHED THEN "
            "DELETE"
        )
    if fmt == "delta":
        from . import deltaproto as dp

        if len(keys) != 1:
            raise ValueError(
                "Delta MERGE dispatches to the single-key helpers "
                "(merge_upsert_delta / delete_keys_delta) — composite "
                "keys are served by the Iceberg tier"
            )
        if is_delete:
            v = dp.delete_keys_delta(spark, src, path, keys[0])
            return _dml_result(spark, "MERGE DELETE", target, v)
        v = dp.merge_upsert_delta(spark, src, path, keys[0])
        return _dml_result(spark, "MERGE", target, v)
    if fmt == "iceberg":
        from . import iceberg as ib

        if is_delete:
            # SQL `ON t.k = s.k` never matches NULL, but the eq-delete
            # read side matches null-safely — drop NULL key tuples
            # with a DISTRIBUTED filter (never a collect: the key set
            # stays a DataFrame into the executor-side landing, r15);
            # an all-NULL/empty key frame no-ops inside the helper
            nn = F.lit(True)
            for k in keys:
                nn = nn & F.col(k).isNotNull()
            snap = ib.delete_eq_iceberg_df(
                spark, src.select(*keys).where(nn), path, keys
            )
            return _dml_result(spark, "MERGE DELETE", target, snap)
        snap = ib.upsert_iceberg(spark, src, path, keys)
        return _dml_result(spark, "MERGE", target, snap)
    raise ValueError(
        f"MERGE needs a delta/iceberg table; {target!r} is {fmt}"
    )


def _iceberg_write_mode(path: str, op: str) -> str:
    """The Iceberg table property real engines honor for row-level
    operations: `write.<op>.mode` ∈ {copy-on-write (default),
    merge-on-read} → the helper's strategy name."""
    from . import iceberg as ib

    mode = (ib.current_metadata(path).get("properties") or {}).get(
        f"write.{op}.mode", "copy-on-write"
    )
    if mode not in ("copy-on-write", "merge-on-read"):
        raise ValueError(
            f"table property write.{op}.mode={mode!r} — one of "
            "copy-on-write / merge-on-read"
        )
    return "cow" if mode == "copy-on-write" else "merge-on-read"


def _exec_delete(spark: SparkSession, m: re.Match) -> DataFrame:
    target = m.group("t")
    fmt, path = lake_table_location(target)
    pred_text = m.group("pred").strip()
    try:
        shape = _parse_range_pred(pred_text)
    except ValueError:
        shape = None  # general predicate (r15): Catalyst-lowered twins
    if fmt == "delta":
        from . import deltaproto as dp

        if shape is not None and shape[0] == "range":
            _k, col, lo, hi = shape
            # delta-spark's rule: delta.enableDeletionVectors=true lands
            # deletion vectors — resolved inside the helper's own log fold
            v = dp.delete_where_delta(
                spark, path, col, lo, hi, strategy="auto"
            )
        else:
            # IN-lists and arbitrary predicates (strict </> bounds,
            # conjunctions, OR, IS NULL): stats-pruned + scan-narrowed
            # general rewrite; row truth is Catalyst's
            v = dp.delete_predicate_delta(
                spark, path, pred_text, strategy="auto"
            )
        return _dml_result(spark, "DELETE", target, v)
    if fmt == "iceberg":
        from . import iceberg as ib

        if shape is not None and shape[0] == "in":
            _k, col, vals = shape
            # SQL IN never matches NULL; the eq-delete read side is
            # null-safe — drop NULL list items to keep SQL semantics
            live_vals = [v for v in vals if v is not None]
            if not live_vals:  # IN (NULL): SQL no-op
                meta = ib.current_metadata(path)
                snap0 = ib._snapshot(meta, None)
                return _dml_result(
                    spark, "DELETE", target,
                    int(snap0["snapshot-id"]) if snap0 else 0,
                )
            snap = ib.delete_eq_iceberg(path, [col], live_vals)
        elif shape is not None:
            _k, col, lo, hi = shape
            snap = ib.delete_where_iceberg(
                spark, path, col, lo, hi,
                strategy=_iceberg_write_mode(path, "delete"),
            )
        else:
            snap = ib.delete_predicate_iceberg(
                spark, path, pred_text,
                strategy=_iceberg_write_mode(path, "delete"),
            )
        return _dml_result(spark, "DELETE", target, snap)
    raise ValueError(
        f"DELETE needs a delta/iceberg table; {target!r} is {fmt}"
    )


def _exec_update(spark: SparkSession, m: re.Match) -> DataFrame:
    target = m.group("t")
    fmt, path = lake_table_location(target)
    set_exprs: dict[str, str] = {}
    for item in _split_top(m.group("sets")):
        sm = re.fullmatch(rf"(?is)\s*({_IDENT})\s*=\s*(.+)", item)
        if not sm:
            raise ValueError(f"cannot parse SET item {item!r}")
        set_exprs[sm.group(1)] = sm.group(2).strip()
    pred_text = m.group("pred").strip()
    try:
        shape = _parse_range_pred(pred_text)
    except ValueError:
        shape = None  # general predicate (r15)
    if shape is not None and shape[0] != "range":
        shape = None  # IN-lists ride the general predicate twins too
    if fmt == "delta":
        from . import deltaproto as dp

        # DV property → dv shape; row-tracked tables keep the rewrite
        # (ids cannot carry into fresh files) — both resolved inside
        # the helper's single log fold
        if shape is not None:
            _k, col, lo, hi = shape
            v = dp.update_where_delta(
                spark, path, set_exprs, col, lo, hi, strategy="auto"
            )
        else:
            v = dp.update_predicate_delta(
                spark, path, set_exprs, pred_text, strategy="auto"
            )
        return _dml_result(spark, "UPDATE", target, v)
    if fmt == "iceberg":
        from . import iceberg as ib

        if shape is not None:
            _k, col, lo, hi = shape
            snap = ib.update_where_iceberg(
                spark, path, set_exprs, col, lo, hi,
                strategy=_iceberg_write_mode(path, "update"),
            )
        else:
            snap = ib.update_predicate_iceberg(
                spark, path, set_exprs, pred_text,
                strategy=_iceberg_write_mode(path, "update"),
            )
        return _dml_result(spark, "UPDATE", target, snap)
    raise ValueError(
        f"UPDATE needs a delta or iceberg table; {target!r} is {fmt}"
    )


def _exec_insert(spark: SparkSession, m: re.Match) -> DataFrame:
    target = m.group("t")
    fmt, path = lake_table_location(target)
    mode = "overwrite" if m.group("mode").upper() == "OVERWRITE" else "append"
    body = m.group("body").strip()
    if re.match(r"(?is)^\(?\s*(SELECT|WITH|VALUES)\b", body):
        src = _run_select(spark, body)
    else:
        raise ValueError(
            f"INSERT body must be SELECT/WITH/VALUES; got {body[:40]!r}"
        )
    tgt_schema = lake_table(spark, target).schema
    if len(src.columns) != len(tgt_schema):
        raise ValueError(
            f"INSERT arity mismatch: {len(src.columns)} values for "
            f"{len(tgt_schema)} columns"
        )
    if set(src.columns) == {f.name for f in tgt_schema}:
        aligned = src.select(
            *[F.col(f.name).cast(f.dataType) for f in tgt_schema]
        )
    else:  # positional (VALUES / unaliased SELECT)
        aligned = src.select(
            *[
                F.col(c).cast(f.dataType).alias(f.name)
                for c, f in zip(src.columns, tgt_schema)
            ]
        )
    if fmt == "delta":
        from . import deltaproto as dp

        v = dp.write_delta(aligned, path, mode=mode)
        return _dml_result(spark, f"INSERT {mode.upper()}", target, v)
    if fmt == "iceberg":
        from . import iceberg as ib

        snap = ib.write_iceberg(aligned, path, mode=mode)
        return _dml_result(spark, f"INSERT {mode.upper()}", target, snap)
    raise ValueError(f"cannot INSERT into plain parquet table {target!r}")


_COLDEF_RE = re.compile(
    rf"(?is)^\s*(?P<name>{_IDENT})\s+(?P<type>[A-Za-z_]\w*(?:\s*\(\s*\d+"
    r"(?:\s*,\s*\d+)?\s*\))?)"
    r"(?:\s+DEFAULT\s+(?P<default>.+?))?\s*$"
)


def _exec_alter(spark: SparkSession, m: re.Match) -> DataFrame:
    target = m.group("t")
    rest = m.group("rest").strip()
    fmt, path = lake_table_location(target)
    if fmt not in ("delta", "iceberg"):
        raise ValueError(
            f"ALTER TABLE needs a delta or iceberg table; {target!r} "
            f"is {fmt}"
        )

    am = re.fullmatch(r"(?is)ADD\s+COLUMNS?\s*\((?P<defs>.+)\)", rest)
    if am is None:
        am = re.fullmatch(r"(?is)ADD\s+COLUMNS?\s+(?P<defs>.+)", rest)
    if am is not None:
        defs = []
        for item in _split_top(am.group("defs")):
            cm = _COLDEF_RE.fullmatch(item)
            if not cm:
                raise ValueError(f"cannot parse column def {item!r}")
            default = cm.group("default")
            defs.append(
                (
                    cm.group("name"),
                    cm.group("type"),
                    _parse_literal(default) if default is not None else None,
                    default is not None,
                )
            )
        if fmt == "delta":
            from . import deltaproto as dp

            v = -1
            for name, sql_type, _dv, has_default in defs:
                if has_default:
                    # delta-spark's own rule: ADD COLUMN … DEFAULT is
                    # refused on existing tables (existing rows would
                    # silently read NULL, not the default)
                    raise ValueError(
                        "Delta ADD COLUMN … DEFAULT is refused (spec "
                        "writer-only defaults) — ADD the column, then "
                        "ALTER COLUMN … SET DEFAULT for future INSERTs"
                    )
                v = dp.add_delta_column(spark, path, name, sql_type)
            return _dml_result(spark, "ALTER ADD", target, v)
        from . import iceberg as ib

        add = []
        for name, sql_type, dv, has_default in defs:
            ice_t = _ice_type_of_sql(sql_type)
            add.append((name, ice_t, dv) if has_default else (name, ice_t))
        ib.evolve_iceberg_schema(path, add=add)
        return _dml_result(
            spark, "ALTER ADD", target, ib._metadata_versions(path)[-1]
        )

    rm = re.fullmatch(
        rf"(?is)RENAME\s+COLUMN\s+({_IDENT})\s+TO\s+({_IDENT})", rest
    )
    if rm is not None:
        if fmt == "delta":
            from . import deltaproto as dp

            v = dp.rename_delta_column(spark, path, rm.group(1), rm.group(2))
            return _dml_result(spark, "ALTER RENAME", target, v)
        from . import iceberg as ib

        ib.evolve_iceberg_schema(path, rename={rm.group(1): rm.group(2)})
        return _dml_result(
            spark, "ALTER RENAME", target, ib._metadata_versions(path)[-1]
        )

    dm = re.fullmatch(rf"(?is)DROP\s+COLUMN\s+({_IDENT})", rest)
    if dm is not None:
        if fmt == "delta":
            from . import deltaproto as dp

            v = dp.drop_delta_column(spark, path, dm.group(1))
            return _dml_result(spark, "ALTER DROP", target, v)
        from . import iceberg as ib

        ib.evolve_iceberg_schema(path, drop=[dm.group(1)])
        return _dml_result(
            spark, "ALTER DROP", target, ib._metadata_versions(path)[-1]
        )

    sm = re.fullmatch(
        rf"(?is)ALTER\s+COLUMN\s+({_IDENT})\s+SET\s+DEFAULT\s+(.+)", rest
    )
    if sm is not None and fmt == "delta":
        from . import deltaproto as dp

        v = dp.set_delta_column_default(spark, path, sm.group(1), sm.group(2))
        return _dml_result(spark, "ALTER SET DEFAULT", target, v)

    pm = re.fullmatch(
        r"(?is)SET\s+TBLPROPERTIES\s*\((?P<kvs>.+)\)", rest
    )
    if pm is None:
        pm = re.fullmatch(
            r"(?is)UNSET\s+TBLPROPERTIES\s*\((?P<unset>.+)\)", rest
        )
    if pm is not None:
        props: dict[str, str | None] = {}
        if "kvs" in pm.groupdict() and pm.groupdict().get("kvs"):
            for item in _split_top(pm.group("kvs")):
                kv = re.fullmatch(
                    r"(?is)\s*'([^']+)'\s*=\s*'((?:[^']|'')*)'\s*", item
                )
                if not kv:
                    raise ValueError(
                        f"cannot parse TBLPROPERTIES item {item!r} — "
                        "expected 'key' = 'value'"
                    )
                props[kv.group(1)] = kv.group(2).replace("''", "'")
        else:
            for item in _split_top(pm.group("unset")):
                kv = re.fullmatch(r"(?is)\s*'([^']+)'\s*", item)
                if not kv:
                    raise ValueError(
                        f"cannot parse UNSET TBLPROPERTIES item {item!r}"
                    )
                props[kv.group(1)] = None
        if fmt == "delta":
            from . import deltaproto as dp

            v = dp.set_delta_properties(spark, path, props)
            return _dml_result(spark, "ALTER TBLPROPERTIES", target, v)
        from . import iceberg as ib

        ib.set_iceberg_properties(path, props)
        return _dml_result(
            spark, "ALTER TBLPROPERTIES", target,
            ib._metadata_versions(path)[-1],
        )

    raise ValueError(
        f"unsupported ALTER TABLE clause {rest!r} — supported: ADD "
        "COLUMN(S), RENAME COLUMN a TO b, DROP COLUMN c, ALTER COLUMN "
        "c SET DEFAULT <lit> (delta), SET/UNSET TBLPROPERTIES "
        "('k' = 'v', …)"
    )


_CREATE_RE = re.compile(
    rf"(?is)^\s*CREATE\s+(?:(?P<orrep>OR\s+REPLACE)\s+)?TABLE\s+"
    rf"(?P<t>{_IDENT})\s+USING\s+(?P<fmt>{_IDENT})"
    r"(?:\s+PARTITIONED\s+BY\s*\((?P<parts>[^)]*)\))?"
    r"(?:\s+LOCATION\s+'(?P<loc>[^']+)')?"
    r"\s+AS\s+(?P<body>.+)$"
)

_DROP_TABLE_RE = re.compile(
    rf"(?is)^\s*DROP\s+TABLE\s+(?:(?P<ife>IF\s+EXISTS)\s+)?"
    rf"(?P<t>{_IDENT})\s*$"
)

_OPTIMIZE_RE = re.compile(
    rf"(?is)^\s*OPTIMIZE\s+(?P<t>{_IDENT})"
    r"(?:\s+ZORDER\s+BY\s*\((?P<cols>[^)]*)\))?\s*$"
)

_VACUUM_RE = re.compile(
    rf"(?is)^\s*VACUUM\s+(?P<t>{_IDENT})"
    r"(?:\s+RETAIN\s+(?P<h>\d+(?:\.\d+)?)\s+HOURS)?\s*$"
)

_DESC_HISTORY_RE = re.compile(
    rf"(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+(?P<t>{_IDENT})\s*$"
)

_SHOW_TABLES_RE = re.compile(r"(?is)^\s*SHOW\s+TABLES\s*$")

_CONVERT_RE = re.compile(
    rf"(?is)^\s*CONVERT\s+TO\s+(?P<fmt>DELTA|ICEBERG)\s+(?P<t>{_IDENT})"
    r"(?:\s+PARTITIONED\s+BY\s*\((?P<parts>[^)]*)\))?\s*$"
)


def _exec_convert(spark: SparkSession, m: re.Match) -> DataFrame:
    """CONVERT TO DELTA|ICEBERG t [PARTITIONED BY (c type, …)] — the
    in-place migration every lake adoption starts with: a registered
    parquet directory gains a commit log / metadata tree pointing at
    its EXISTING files (footer-stats add actions / manifest bounds),
    and the catalog entry flips to the new format.  No data moves."""
    target = m.group("t")
    fmt, path = lake_table_location(target)
    if fmt != "parquet":
        raise ValueError(
            f"CONVERT takes a plain parquet table; {target!r} is "
            f"already {fmt}"
        )
    pschema: dict[str, str] | None = None
    if m.group("parts"):
        pschema = {}
        for item in _split_top(m.group("parts")):
            cm = re.fullmatch(
                rf"(?is)\s*({_IDENT})\s+([A-Za-z_]\w*"
                r"(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*",
                item,
            )
            if not cm:
                raise ValueError(
                    f"cannot parse PARTITIONED BY item {item!r} — "
                    "expected `name type`"
                )
            pschema[cm.group(1)] = cm.group(2)
    to_fmt = m.group("fmt").lower()
    if to_fmt == "delta":
        from . import deltaproto as dp

        v = dp.convert_to_delta(spark, path, partition_schema=pschema)
    else:
        from . import iceberg as ib

        v = ib.convert_to_iceberg(spark, path, partition_schema=pschema)
    register_lake_table(target, to_fmt, path)
    return _dml_result(spark, f"CONVERT TO {to_fmt.upper()}", target, v)


_RESTORE_RE = re.compile(
    rf"(?is)^\s*RESTORE\s+(?:TABLE\s+)?(?P<t>{_IDENT})\s+TO\s+"
    r"(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"(?P<tok>'(?:[^']|'')*'|\d+)\s*$"
)


def _exec_restore(spark: SparkSession, m: re.Match) -> DataFrame:
    """RESTORE TABLE t TO VERSION|TIMESTAMP AS OF … — Delta
    restore commits (re-adds for files live then, removes for files
    live now; history preserved), Iceberg rollback_to_snapshot
    (metadata-only current-snapshot jump, ref names resolve)."""
    target = m.group("t")
    fmt, path = lake_table_location(target)
    kind, tok = m.group("kind").upper(), m.group("tok")
    ts_ms = None
    if kind == "TIMESTAMP":
        ts = _parse_literal(tok)
        if not isinstance(ts, str):
            raise ValueError("TIMESTAMP AS OF takes a quoted timestamp")
        ts_ms = int(_parse_timestamp(ts).timestamp() * 1000)
    if fmt == "delta":
        from . import deltaproto as dp

        version = (
            dp.delta_version_at_timestamp(path, ts_ms)
            if ts_ms is not None
            else int(tok)
        )
        v = dp.restore_delta(spark, path, version)
        return _dml_result(spark, "RESTORE", target, v)
    if fmt == "iceberg":
        from . import iceberg as ib

        if ts_ms is not None:
            sid = ib.iceberg_snapshot_at_timestamp(path, ts_ms)
        elif tok.isdigit():
            sid = int(tok)
        else:
            sid = ib._resolve_ref(
                ib.current_metadata(path), _parse_literal(tok)
            )
        return _dml_result(
            spark, "RESTORE", target, ib.rollback_iceberg(path, sid)
        )
    raise ValueError(
        f"RESTORE needs a delta/iceberg table; {target!r} is {fmt}"
    )


def _exec_show_tables(spark: SparkSession) -> DataFrame:
    """SHOW TABLES — the registry as a DataFrame (name, format,
    location), the discoverability statement a fresh session runs
    after load_lake_catalog."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [
            StructField("name", StringType(), False),
            StructField("format", StringType(), False),
            StructField("location", StringType(), False),
        ]
    )
    rows = [(n, f, p) for n, (f, p) in sorted(_REGISTRY.items())]
    return local_rows_df(spark, rows, schema)


def default_warehouse_dir() -> str:
    """Where CTAS lands tables when no LOCATION is given:
    <repo>/spark-warehouse/lakesql_tables/<name>."""
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(repo_root, "spark-warehouse", "lakesql_tables")


def _exec_create(spark: SparkSession, m: re.Match) -> DataFrame:
    """CREATE [OR REPLACE] TABLE … USING <fmt> [PARTITIONED BY (…)]
    [LOCATION '…'] AS SELECT … — the first statement a migrating
    notebook runs.  Creation lands the SELECT through the protocol
    writer and registers the name; OR REPLACE overwrites the live set
    at the same location (prior versions stay time-travelable on the
    log-bearing formats)."""
    name = m.group("t")
    fmt = m.group("fmt").lower()
    if fmt not in ("delta", "iceberg"):
        raise ValueError(
            f"CREATE TABLE USING {fmt!r} unsupported — one of delta/iceberg"
        )
    replace = m.group("orrep") is not None
    parts = (
        [c.strip() for c in m.group("parts").split(",") if c.strip()]
        if m.group("parts")
        else None
    )
    loc = m.group("loc") or os.path.join(default_warehouse_dir(), name)
    if name in _REGISTRY and not replace:
        raise ValueError(
            f"table {name!r} already registered — CREATE OR REPLACE, or "
            "DROP TABLE first"
        )
    df = _run_select(spark, m.group("body"))
    if fmt == "delta":
        from . import deltaproto as dp

        exists = bool(dp.delta_versions(loc))
        if exists and not replace:
            raise ValueError(f"a Delta table already lives at {loc!r}")
        v = dp.write_delta(
            df, loc, mode="overwrite" if exists else "append",
            partition_by=parts,
        )
    else:
        from . import iceberg as ib

        exists = bool(ib._metadata_versions(loc))
        if exists and not replace:
            raise ValueError(f"an Iceberg table already lives at {loc!r}")
        v = ib.write_iceberg(
            df, loc, mode="overwrite" if exists else "append",
            partition_by=parts,
        )
    register_lake_table(name, fmt, loc)
    return _dml_result(spark, "CREATE TABLE", name, v)


def _exec_drop_table(spark: SparkSession, m: re.Match) -> DataFrame:
    """DROP TABLE [IF EXISTS] — unregisters the NAME and its temp view;
    the files stay on disk (external-table semantics: the catalog entry
    is metadata, the data has its own lifecycle/VACUUM)."""
    name = m.group("t")
    if name not in _REGISTRY:
        if m.group("ife") is not None:
            return _dml_result(spark, "DROP TABLE (absent)", name, -1)
        raise KeyError(
            f"no lake table named {name!r} — registered: "
            f"{sorted(_REGISTRY)} (DROP TABLE IF EXISTS to ignore)"
        )
    unregister_lake_table(name)
    spark.catalog.dropTempView(name)
    return _dml_result(spark, "DROP TABLE", name, -1)


def _exec_optimize(spark: SparkSession, m: re.Match) -> DataFrame:
    """OPTIMIZE t [ZORDER BY (x, y)] → the protocol compaction helpers
    (Delta: dataChange=false remove+add commit; Iceberg: a replace
    snapshot that drops the delete-manifest rent)."""
    target = m.group("t")
    fmt, path = lake_table_location(target)
    cols = (
        [c.strip() for c in m.group("cols").split(",") if c.strip()]
        if m.group("cols")
        else None
    )
    if fmt == "delta":
        from . import deltaproto as dp

        if cols is None:
            v = dp.compact_delta(spark, path)
        elif len(cols) == 2:
            v = dp.optimize_zorder_delta(spark, path, cols[0], cols[1])
        else:
            raise ValueError(
                "Delta ZORDER BY takes exactly two columns (the Morton "
                "interleave in optimize_zorder_delta); Iceberg's "
                "compaction accepts any arity"
            )
        return _dml_result(spark, "OPTIMIZE", target, v)
    if fmt == "iceberg":
        from . import iceberg as ib

        snap = (
            ib.compact_iceberg(spark, path)
            if cols is None
            else ib.compact_iceberg(
                spark, path, strategy="zorder", zorder_by=cols
            )
        )
        return _dml_result(spark, "OPTIMIZE", target, snap)
    raise ValueError(
        f"OPTIMIZE needs a delta/iceberg table; {target!r} "
        f"is {fmt}"
    )


def _exec_vacuum(spark: SparkSession, m: re.Match) -> DataFrame:
    """VACUUM t [RETAIN n HOURS] — Delta: delete files unreferenced by
    the retained history (the RETAIN window maps to the
    modification-time spare rule); Iceberg: expire non-current
    snapshots, then remove orphans under the same age window.  The
    receipt's version column carries the number of files deleted."""
    target = m.group("t")
    fmt, path = lake_table_location(target)
    min_age_s = (
        float(m.group("h")) * 3600.0 if m.group("h") is not None else 600.0
    )
    if fmt == "delta":
        from . import deltaproto as dp

        n = dp.vacuum_delta(spark, path, min_age_s=min_age_s)
        return _dml_result(spark, "VACUUM", target, n)
    if fmt == "iceberg":
        import time as _time

        from . import iceberg as ib

        # RETAIN governs snapshot EXPIRY too (r14): snapshots younger
        # than the window stay time-travelable/restorable — a routine
        # VACUUM must never destroy the recovery lever inside its own
        # declared retention
        ib.expire_iceberg_snapshots(
            path,
            keep_last=1,
            older_than_ms=int((_time.time() - min_age_s) * 1000),
        )
        n = ib.remove_orphan_iceberg_files(path, min_age_s=min_age_s)
        return _dml_result(spark, "VACUUM", target, n)
    raise ValueError(
        f"VACUUM needs a delta/iceberg table; {target!r} is {fmt}"
    )


def _exec_describe_history(spark: SparkSession, m: re.Match) -> DataFrame:
    """DESCRIBE HISTORY t — the commit/snapshot log as a DataFrame,
    newest first (Delta: version/operation/file counts from the log;
    Iceberg: snapshot id/operation/timestamp from the metadata)."""
    target = m.group("t")
    fmt, path = lake_table_location(target)
    if fmt == "delta":
        from . import deltaproto as dp

        rows = [
            (
                int(h["version"]),
                h["operation"],
                int(h["n_added"]),
                int(h["n_removed"]),
            )
            for h in dp.delta_history(path)
        ]
        return local_rows_df(spark, 
            sorted(rows, reverse=True),
            "version bigint, operation string, n_added bigint, "
            "n_removed bigint",
        )
    if fmt == "iceberg":
        from . import iceberg as ib

        rows = [
            (int(s["snapshot_id"]), s["operation"], int(s["timestamp_ms"]))
            for s in ib.iceberg_snapshots(path)
        ]
        return local_rows_df(spark, 
            list(reversed(rows)),
            "snapshot_id bigint, operation string, timestamp_ms bigint",
        )
    raise ValueError(
        f"DESCRIBE HISTORY needs a delta/iceberg table; "
        f"{target!r} is {fmt}"
    )


def _travel_view(
    spark: SparkSession, name: str, kind: str, tok: str
) -> str:
    """Materialize `name VERSION|TIMESTAMP AS OF tok` as a temp view of
    the right snapshot read; returns the view name the SELECT text is
    rewritten to."""
    fmt, _path = lake_table_location(name)
    view = f"{name}__asof_{re.sub(_NON_WORD, '_', tok)}"
    if kind == "TIMESTAMP":
        ts = _parse_literal(tok)
        if not isinstance(ts, str):
            raise ValueError("TIMESTAMP AS OF takes a quoted timestamp")
        ms = int(_parse_timestamp(ts).timestamp() * 1000)
        df = lake_table(spark, name, timestamp_ms=ms)
    elif tok.isdigit():
        df = lake_table(spark, name, version=int(tok))
    else:
        ref = _parse_literal(tok)
        if fmt != "iceberg":
            raise ValueError(
                f"VERSION AS OF {tok} on a {fmt} table takes a version "
                "number (named refs are Iceberg tags/branches)"
            )
        df = lake_table(spark, name, ref=ref)
    df.createOrReplaceTempView(view)
    return view


_NON_WORD = re.compile(r"\W+")

#: Audit trail of the most recent SELECT's metadata-broadcast advice:
#: {view name: {"broadcast": bool, "bytes": int, "rows": int|None,
#: "sources": [...]}} — the advisor decision each registered view got,
#: recorded so a plan review can check WHY a join flipped to
#: BroadcastHashJoin (None for parquet views, which Spark
#: sizes natively).
LAST_SELECT_ADVICE: dict[str, dict | None] = {}


def _advised_view_frame(spark: SparkSession, name: str) -> DataFrame:
    """The SELECT path consumes the statistics tier (r14): lake-table
    views whose MANIFEST byte size fits the advisor's broadcast
    threshold register with an explicit broadcast hint.  Spark's own
    broadcast decision keys on the scan's sizeInBytes estimate, which
    the protocol read plans (manifest-grouped unions, DV anti-joins)
    obscure — so a genuinely-broadcastable dimension would otherwise
    sort-merge.  The decision comes from metadata the statement
    already reads for planning; an oversized or invalid hint is
    ignored by Spark (outer-preserved sides), never wrong."""
    from . import advisor

    fmt, path = _REGISTRY[name]
    df = lake_table(spark, name)
    if fmt not in ("delta", "iceberg"):
        LAST_SELECT_ADVICE[name] = None
        return df
    try:
        st = advisor.lake_table_stats(spark, path)
    except (ValueError, FileNotFoundError):
        LAST_SELECT_ADVICE[name] = None
        return df
    fits = int(st["bytes"]) <= advisor.DEFAULT_BROADCAST_BYTES
    LAST_SELECT_ADVICE[name] = {
        "broadcast": fits,
        "bytes": int(st["bytes"]),
        "rows": st.get("rows"),
        "sources": st.get("sources"),
    }
    return df.hint("broadcast") if fits else df


_CHANGES_RE = re.compile(
    r"(?is)\bTABLE_CHANGES\s*\(\s*'(?P<name>[A-Za-z_]\w*)'\s*,\s*"
    r"(?P<start>\d+)\s*(?:,\s*(?P<end>\d+)\s*)?\)"
)


def _changes_view(
    spark: SparkSession, name: str, start: int, end: int | None
) -> str:
    """Materialize `TABLE_CHANGES('name', start[, end])` (the
    Databricks CDF table function) as a temp view over the tier's
    change-feed reader."""
    fmt, path = lake_table_location(name)
    view = f"{name}__changes_{start}_{end if end is not None else 'now'}"
    if fmt == "delta":
        from . import deltaproto as dp

        df = dp.read_changes_delta(spark, path, start, end)
    elif fmt == "iceberg":
        from . import iceberg as ib

        if end is not None:
            raise ValueError(
                "Iceberg TABLE_CHANGES takes a start snapshot-id only "
                "(the changelog runs to the current snapshot)"
            )
        df = ib.read_changes_iceberg(spark, path, since_snapshot_id=start)
    else:
        raise ValueError(
            f"TABLE_CHANGES needs a log-bearing table; {name!r} is {fmt}"
        )
    df.createOrReplaceTempView(view)
    return view


def _run_select(spark: SparkSession, sql: str) -> DataFrame:
    """SELECT path: rewrite time-travel and TABLE_CHANGES clauses on
    registered names to views, auto-register current views (with the
    advisor's metadata broadcast decision attached) for every other
    registered name the text references, and hand the text to
    Catalyst."""
    LAST_SELECT_ADVICE.clear()

    def repl(m: re.Match) -> str:
        name = m.group("name")
        if name not in _REGISTRY:
            return m.group(0)
        return _travel_view(
            spark, name, m.group("kind").upper(), m.group("tok")
        )

    def repl_changes(m: re.Match) -> str:
        name = m.group("name")
        if name not in _REGISTRY:
            return m.group(0)
        end = m.group("end")
        return _changes_view(
            spark, name, int(m.group("start")),
            int(end) if end is not None else None,
        )

    rewritten = _CHANGES_RE.sub(repl_changes, _TRAVEL_RE.sub(repl, sql))
    for name in _REGISTRY:
        if re.search(rf"(?i)\b{name}\b", rewritten):
            _advised_view_frame(spark, name).createOrReplaceTempView(name)
    return spark.sql(rewritten)


def lake_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Execute one SQL statement against the named lake catalog.

    SELECT/WITH/VALUES (incl. ``VERSION AS OF`` / ``TIMESTAMP AS OF``)
    return the query result; MERGE / DELETE / UPDATE / INSERT / ALTER
    dispatch to the protocol helpers and return a one-row frame
    (operation, table, version) — the commit receipt."""
    stmt = sql.strip().rstrip(";").strip()
    head = re.match(r"(?is)^\s*(\w+)", stmt)
    kind = (head.group(1) if head else "").upper()
    if kind == "MERGE":
        m = _MERGE_RE.match(stmt)
        if not m:
            raise ValueError(
                "cannot parse MERGE — supported shape: MERGE INTO t "
                "[AS a] USING s [AS b] ON a.k = b.k [AND …] WHEN "
                "MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN "
                "INSERT *"
            )
        return _exec_merge(spark, m)
    if kind == "DELETE":
        m = _DELETE_RE.match(stmt)
        if not m:
            raise ValueError("cannot parse DELETE FROM … WHERE …")
        return _exec_delete(spark, m)
    if kind == "UPDATE":
        m = _UPDATE_RE.match(stmt)
        if not m:
            raise ValueError("cannot parse UPDATE … SET … WHERE …")
        return _exec_update(spark, m)
    if kind == "INSERT":
        m = _INSERT_RE.match(stmt)
        if not m:
            raise ValueError("cannot parse INSERT INTO|OVERWRITE …")
        return _exec_insert(spark, m)
    if kind == "ALTER":
        m = _ALTER_RE.match(stmt)
        if not m:
            raise ValueError("cannot parse ALTER TABLE …")
        return _exec_alter(spark, m)
    if kind == "CREATE":
        m = _CREATE_RE.match(stmt)
        if not m:
            raise ValueError(
                "cannot parse CREATE — supported shape: CREATE [OR "
                "REPLACE] TABLE t USING delta|iceberg "
                "[PARTITIONED BY (…)] [LOCATION '…'] AS SELECT …"
            )
        return _exec_create(spark, m)
    if kind == "DROP":
        m = _DROP_TABLE_RE.match(stmt)
        if not m:
            raise ValueError("cannot parse DROP TABLE [IF EXISTS] t")
        return _exec_drop_table(spark, m)
    if kind == "OPTIMIZE":
        m = _OPTIMIZE_RE.match(stmt)
        if not m:
            raise ValueError("cannot parse OPTIMIZE t [ZORDER BY (…)]")
        return _exec_optimize(spark, m)
    if kind == "VACUUM":
        m = _VACUUM_RE.match(stmt)
        if not m:
            raise ValueError("cannot parse VACUUM t [RETAIN n HOURS]")
        return _exec_vacuum(spark, m)
    if kind in ("DESCRIBE", "DESC"):
        m = _DESC_HISTORY_RE.match(stmt)
        if not m:
            raise ValueError("cannot parse DESCRIBE HISTORY t")
        return _exec_describe_history(spark, m)
    if kind == "SHOW":
        if not _SHOW_TABLES_RE.match(stmt):
            raise ValueError("cannot parse SHOW TABLES")
        return _exec_show_tables(spark)
    if kind == "RESTORE":
        m = _RESTORE_RE.match(stmt)
        if not m:
            raise ValueError(
                "cannot parse RESTORE [TABLE] t TO VERSION|TIMESTAMP "
                "AS OF …"
            )
        return _exec_restore(spark, m)
    if kind == "CONVERT":
        m = _CONVERT_RE.match(stmt)
        if not m:
            raise ValueError(
                "cannot parse CONVERT TO DELTA|ICEBERG t "
                "[PARTITIONED BY (c type, …)]"
            )
        return _exec_convert(spark, m)
    if kind in ("SELECT", "WITH", "VALUES"):
        return _run_select(spark, stmt)
    raise ValueError(
        f"unsupported statement kind {kind!r} — lake_sql serves "
        "SELECT/WITH/VALUES, MERGE, DELETE, UPDATE, INSERT, ALTER "
        "TABLE (incl. SET/UNSET TBLPROPERTIES), CREATE TABLE … AS, "
        "DROP TABLE, OPTIMIZE, VACUUM, DESCRIBE HISTORY, SHOW TABLES, "
        "RESTORE"
    )


# --------------------------------------------------------------------------
# Driver entries: the SQL write lifecycle, oracle-verified
# --------------------------------------------------------------------------

_LAKESQL_VERSION = 1


def _fixture_path(sf_dir: str, leaf: str) -> str:
    from ..functions.scale import default_index_dir

    return os.path.join(
        default_index_dir("lakesql", _LAKESQL_VERSION, sf_dir), leaf
    )


def delta_merge_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry: the MERGE statement as SQL TEXT through
    `lake_sql` — same update/insert set as `lake_delta_merge`
    (deltaproto.delta_merge_entry), so the oracle restating the merged
    content off the raw parquet proves the SQL path lowers onto
    merge_upsert_delta content-exactly.  The read-back is ALSO SQL
    text over the registered name — the full write-then-read lifecycle
    a migrating notebook runs, with zero filesystem paths in the
    statements."""
    from . import deltaproto as dp, load_table

    path = _fixture_path(sf_dir, "docs_delta_msql")
    register_lake_table("docs_delta_msql", "delta", path)
    if not dp.delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        dp.write_delta(docs.repartitionByRange(8, "doc_id"), path)
        updates = (
            docs.filter(F.col("doc_id").between(100, 149))
            .withColumn("text", F.upper(F.col("text")))
            .unionByName(
                docs.filter(F.col("doc_id").between(150, 159)).withColumn(
                    "doc_id", F.col("doc_id") + F.lit(10_000_000)
                )
            )
        )
        updates.createOrReplaceTempView("docs_updates_msql")
        lake_sql(
            spark,
            """
            MERGE INTO docs_delta_msql AS t
            USING docs_updates_msql AS s
            ON t.doc_id = s.doc_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """,
        )
    return lake_sql(
        spark,
        """
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
               CAST(SUM(LENGTH(LOWER(text))) AS BIGINT) AS lower_chars,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        FROM docs_delta_msql
        GROUP BY lang
        ORDER BY lang
        """,
    )


DELTA_MERGE_SQL_ORACLE_SQL = """
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


def iceberg_delete_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry: DELETE as SQL text on the Iceberg tier —
    one range DELETE (lowered onto the stats-pruned COW rewrite) and
    one IN-list DELETE (lowered onto the O(keys) equality-delete
    commit) — then a single SELECT whose second leg time-travels to a
    tag taken BEFORE the deletes (`VERSION AS OF 'pre_delete'` parsed
    from the SQL).  The oracle restates both states off the raw
    parquet, so a value match proves the SQL deletes removed exactly
    the predicate rows and the travel clause resolved the tag."""
    from . import iceberg as ib, load_table

    path = _fixture_path(sf_dir, "docs_ice_dsql")
    register_lake_table("docs_ice_dsql", "iceberg", path)
    if not ib._metadata_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )
        ib.write_iceberg(docs.repartitionByRange(8, "doc_id"), path)
        snap0 = int(ib.iceberg_snapshots(path)[0]["snapshot_id"])
        ib.set_iceberg_ref(path, "pre_delete", snap0)
        lake_sql(
            spark,
            "DELETE FROM docs_ice_dsql WHERE doc_id BETWEEN 200 AND 399",
        )
        lake_sql(spark, "DELETE FROM docs_ice_dsql WHERE doc_id IN (10, 20, 30)")
    return lake_sql(
        spark,
        """
        SELECT 'current' AS state, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        FROM docs_ice_dsql
        GROUP BY lang
        UNION ALL
        SELECT 'pre_delete' AS state, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        FROM docs_ice_dsql VERSION AS OF 'pre_delete'
        GROUP BY lang
        ORDER BY state, lang
        """,
    )


ICEBERG_DELETE_SQL_ORACLE_SQL = """
SELECT 'current' AS state, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
WHERE NOT (doc_id BETWEEN 200 AND 399) AND doc_id NOT IN (10, 20, 30)
GROUP BY lang
UNION ALL
SELECT 'pre_delete' AS state, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
GROUP BY lang
ORDER BY state, lang
"""


def delta_sql_lifecycle_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry: the Delta write lifecycle entirely as SQL
    text — INSERT INTO … SELECT from a parquet catalog name, a
    stats-pruned UPDATE, ALTER TABLE ADD COLUMN, and a final SELECT
    whose second leg is `VERSION AS OF 0`.  `null_channels` grades the
    ALTER: the added column must read NULL for every pre-existing row
    (and the statement would not even parse against the v0 schema)."""
    from . import deltaproto as dp, load_table

    path = _fixture_path(sf_dir, "orders_delta_lsql")
    register_lake_table("orders_delta_lsql", "delta", path)
    register_lake_table(
        "orders_src_lsql", "parquet", os.path.join(sf_dir, "orders.parquet")
    )
    if not dp.delta_versions(path):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        dp.write_delta(
            orders.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(
                4, "o_orderkey"
            ),
            path,
        )
        lake_sql(
            spark,
            """
            INSERT INTO orders_delta_lsql
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders_src_lsql WHERE o_orderkey % 2 = 1
            """,
        )
        lake_sql(
            spark,
            "UPDATE orders_delta_lsql SET o_totalprice = o_totalprice "
            "+ 100.0 WHERE o_orderkey BETWEEN 100 AND 499",
        )
        lake_sql(
            spark, "ALTER TABLE orders_delta_lsql ADD COLUMN channel STRING"
        )
    return lake_sql(
        spark,
        """
        SELECT 'current' AS state, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price,
               CAST(SUM(CASE WHEN channel IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS null_channels
        FROM orders_delta_lsql
        GROUP BY o_orderstatus
        UNION ALL
        SELECT 'v0' AS state, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price,
               CAST(0 AS BIGINT) AS null_channels
        FROM orders_delta_lsql VERSION AS OF 0
        GROUP BY o_orderstatus
        ORDER BY state, o_orderstatus
        """,
    )


DELTA_SQL_LIFECYCLE_ORACLE_SQL = """
SELECT 'current' AS state, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(CASE WHEN o_orderkey BETWEEN 100 AND 499
                          THEN o_totalprice + 100.0
                          ELSE o_totalprice END
                AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       CAST(COUNT(*) AS BIGINT) AS null_channels
FROM orders
GROUP BY o_orderstatus
UNION ALL
SELECT 'v0' AS state, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price,
       CAST(0 AS BIGINT) AS null_channels
FROM orders
WHERE o_orderkey % 2 = 0
GROUP BY o_orderstatus
ORDER BY state, o_orderstatus
"""


def iceberg_sql_lifecycle_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry: the Iceberg write lifecycle as SQL text —
    stats-pruned UPDATE (the r14 `update_where_iceberg` COW commit),
    ALTER RENAME (field-id rename + name mapping), ALTER ADD … DEFAULT
    (v3 initial-default: pre-existing rows read 'std'), INSERT of
    'gold'-tier clones, and a final SELECT time-travelling to a tag
    taken before any of it.  The travel leg reads through the CURRENT
    schema (rename is metadata-only), so it groups by the new name —
    exactly what a real engine shows."""
    from . import iceberg as ib, load_table

    path = _fixture_path(sf_dir, "cust_ice_lsql")
    register_lake_table("cust_ice_lsql", "iceberg", path)
    register_lake_table(
        "cust_src_lsql", "parquet", os.path.join(sf_dir, "customer.parquet")
    )
    if not ib._metadata_versions(path):
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
        )
        ib.write_iceberg(
            cust.repartitionByRange(4, "c_custkey"), path, format_version=3
        )
        snap0 = int(ib.iceberg_snapshots(path)[0]["snapshot_id"])
        ib.set_iceberg_ref(path, "v0", snap0)
        lake_sql(
            spark,
            "UPDATE cust_ice_lsql SET c_acctbal = c_acctbal + 50.0 "
            "WHERE c_custkey BETWEEN 10 AND 99",
        )
        lake_sql(
            spark,
            "ALTER TABLE cust_ice_lsql RENAME COLUMN c_mktsegment TO segment",
        )
        lake_sql(
            spark,
            "ALTER TABLE cust_ice_lsql ADD COLUMN tier STRING DEFAULT 'std'",
        )
        lake_sql(
            spark,
            """
            INSERT INTO cust_ice_lsql
            SELECT c_custkey + 1000000 AS c_custkey, c_nationkey,
                   c_acctbal, c_mktsegment AS segment, 'gold' AS tier
            FROM cust_src_lsql WHERE c_custkey <= 50
            """,
        )
    return lake_sql(
        spark,
        """
        SELECT 'current' AS state, segment,
               CAST(COUNT(*) AS BIGINT) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_bal,
               CAST(SUM(CASE WHEN tier = 'gold' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_gold
        FROM cust_ice_lsql
        GROUP BY segment
        UNION ALL
        SELECT 'v0' AS state, segment,
               CAST(COUNT(*) AS BIGINT) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_bal,
               CAST(0 AS BIGINT) AS n_gold
        FROM cust_ice_lsql VERSION AS OF 'v0'
        GROUP BY segment
        ORDER BY state, segment
        """,
    )


ICEBERG_SQL_LIFECYCLE_ORACLE_SQL = """
SELECT 'current' AS state, c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
       CAST(SUM(is_gold) AS BIGINT) AS n_gold
FROM (
    SELECT c_mktsegment,
           CASE WHEN c_custkey BETWEEN 10 AND 99
                THEN c_acctbal + 50.0 ELSE c_acctbal END AS bal,
           0 AS is_gold
    FROM customer
    UNION ALL
    SELECT c_mktsegment, c_acctbal AS bal, 1 AS is_gold
    FROM customer WHERE c_custkey <= 50
)
GROUP BY c_mktsegment
UNION ALL
SELECT 'v0' AS state, c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
       CAST(0 AS BIGINT) AS n_gold
FROM customer
GROUP BY c_mktsegment
ORDER BY state, segment
"""


def named_catalog_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry: CROSS-FORMAT resolution by NAME — a Delta
    fact, an Iceberg dimension, and a raw parquet dimension all
    registered in the catalog and joined in ONE SELECT with no path in
    sight (`spark.table`-style resolution through auto-registered
    views).  The oracle restates the join off the raw parquet, so a
    value match proves each name resolved through its own protocol
    reader content-exactly."""
    from . import deltaproto as dp, iceberg as ib, load_table

    dpath = _fixture_path(sf_dir, "orders_cat")
    ipath = _fixture_path(sf_dir, "customer_cat")
    register_lake_table("orders_cat", "delta", dpath)
    register_lake_table("customer_cat", "iceberg", ipath)
    register_lake_table(
        "nation_cat", "parquet", os.path.join(sf_dir, "nation.parquet")
    )
    if not dp.delta_versions(dpath):
        dp.write_delta(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_totalprice"
            ),
            dpath,
        )
    if not ib._metadata_versions(ipath):
        ib.write_iceberg(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_nationkey", "c_mktsegment"
            ),
            ipath,
        )
    return lake_sql(
        spark,
        """
        SELECT n.n_name AS nation, c.c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders_cat o
        JOIN customer_cat c ON o.o_custkey = c.c_custkey
        JOIN nation_cat n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, c.c_mktsegment
        ORDER BY nation, segment
        """,
    )


NAMED_CATALOG_ORACLE_SQL = """
SELECT n.n_name AS nation, c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, c.c_mktsegment
ORDER BY nation, segment
"""


def sql_maintenance_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry: the maintenance lifecycle as SQL text — CTAS
    from a registered parquet name into a Delta location, OPTIMIZE
    ZORDER (Morton rewrite, dataChange=false), VACUUM RETAIN 0 HOURS
    (pre-rewrite files reclaimed), then an aggregate SELECT.  The
    oracle restates the aggregate off the raw parquet, so a value
    match proves the whole CTAS → optimize → vacuum chain preserved
    content exactly (a vacuum that reclaimed a live file, or a zorder
    rewrite that dropped rows, both fail the hash)."""
    from . import deltaproto as dp

    loc = _fixture_path(sf_dir, "part_ctas_msql")
    register_lake_table(
        "part_src_msql", "parquet", os.path.join(sf_dir, "part.parquet")
    )
    if not dp.delta_versions(loc):
        lake_sql(
            spark,
            f"""
            CREATE TABLE part_ctas_msql USING delta LOCATION '{loc}' AS
            SELECT p_partkey, p_brand, p_type, p_retailprice
            FROM part_src_msql
            """,
        )
        lake_sql(
            spark,
            "OPTIMIZE part_ctas_msql ZORDER BY (p_partkey, p_retailprice)",
        )
        lake_sql(spark, "VACUUM part_ctas_msql RETAIN 0 HOURS")
    else:
        register_lake_table("part_ctas_msql", "delta", loc)
    return lake_sql(
        spark,
        """
        SELECT p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_retail,
               CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types
        FROM part_ctas_msql
        GROUP BY p_brand
        ORDER BY p_brand
        """,
    )


SQL_MAINTENANCE_ORACLE_SQL = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_retail,
       CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types
FROM part
GROUP BY p_brand
ORDER BY p_brand
"""


def sql_cdf_restore_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry: the round-trip a production incident runs,
    entirely as SQL text — enable deletion vectors via SET
    TBLPROPERTIES, a (bad) DELETE lands as a DV commit, the damage is
    audited through the TABLE_CHANGES() change feed, and RESTORE TO
    VERSION AS OF rolls the table back.  The result unions the
    restored snapshot's aggregate with the audited deletion counts;
    the oracle restates both off the raw parquet, so a value match
    proves the DV delete removed exactly the predicate rows, the CDF
    reported exactly those rows, and the restore brought every one of
    them back."""
    from . import deltaproto as dp

    loc = _fixture_path(sf_dir, "docs_cdf_restore")
    register_lake_table(
        "docs_cdfr_src", "parquet", os.path.join(sf_dir, "documents.parquet")
    )
    register_lake_table("docs_cdfr", "delta", loc)
    if not dp.delta_versions(loc):
        lake_sql(
            spark,
            f"""
            CREATE OR REPLACE TABLE docs_cdfr USING delta LOCATION
            '{loc}' AS SELECT doc_id, source, lang, text FROM
            docs_cdfr_src
            """,
        )
        lake_sql(
            spark,
            "ALTER TABLE docs_cdfr SET TBLPROPERTIES "
            "('delta.enableDeletionVectors' = 'true')",
        )
        lake_sql(
            spark, "DELETE FROM docs_cdfr WHERE doc_id BETWEEN 100 AND 199"
        )
        lake_sql(spark, "RESTORE TABLE docs_cdfr TO VERSION AS OF 0")
    return lake_sql(
        spark,
        """
        SELECT 'restored' AS state, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        FROM docs_cdfr
        GROUP BY lang
        UNION ALL
        SELECT 'deleted_audit' AS state, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        FROM TABLE_CHANGES('docs_cdfr', 2, 2)
        WHERE _change_type = 'delete'
        GROUP BY lang
        ORDER BY state, lang
        """,
    )


SQL_CDF_RESTORE_ORACLE_SQL = """
SELECT 'restored' AS state, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
GROUP BY lang
UNION ALL
SELECT 'deleted_audit' AS state, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
WHERE doc_id BETWEEN 100 AND 199
GROUP BY lang
ORDER BY state, lang
"""


def convert_in_place_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry: IN-PLACE conversion — two plain-parquet
    copies of `part` gain a Delta log and Iceberg metadata over their
    EXISTING files (`CONVERT TO …` as SQL text, footer-stats add
    actions / manifest bounds, zero data movement), then one SELECT
    unions a per-brand aggregate read through EACH protocol reader.
    The oracle restates the aggregate twice off the raw parquet, so a
    value match proves both conversions expose the bytes
    content-exactly."""
    import shutil

    root = _fixture_path(sf_dir, "convert_in_place")
    d_dir = os.path.join(root, "part_as_delta")
    i_dir = os.path.join(root, "part_as_iceberg")
    src = os.path.join(sf_dir, "part.parquet")
    for tgt in (d_dir, i_dir):
        if not os.path.isdir(tgt):
            os.makedirs(tgt)
            if os.path.isdir(src):
                for f in os.listdir(src):
                    if f.endswith(".parquet"):
                        shutil.copy(os.path.join(src, f), tgt)
            else:
                shutil.copy(src, os.path.join(tgt, "part-000.parquet"))
    from . import deltaproto as dp, iceberg as ib

    register_lake_table(
        "part_conv_d",
        "delta" if dp.delta_versions(d_dir) else "parquet",
        d_dir,
    )
    register_lake_table(
        "part_conv_i",
        "iceberg" if ib._metadata_versions(i_dir) else "parquet",
        i_dir,
    )
    if not dp.delta_versions(d_dir):
        lake_sql(spark, "CONVERT TO DELTA part_conv_d")
    if not ib._metadata_versions(i_dir):
        lake_sql(spark, "CONVERT TO ICEBERG part_conv_i")
    return lake_sql(
        spark,
        """
        SELECT 'delta' AS engine, p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_retail
        FROM part_conv_d
        GROUP BY p_brand
        UNION ALL
        SELECT 'iceberg' AS engine, p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_retail
        FROM part_conv_i
        GROUP BY p_brand
        ORDER BY engine, p_brand
        """,
    )


CONVERT_IN_PLACE_ORACLE_SQL = """
SELECT 'delta' AS engine, p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_retail
FROM part
GROUP BY p_brand
UNION ALL
SELECT 'iceberg' AS engine, p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_retail
FROM part
GROUP BY p_brand
ORDER BY engine, p_brand
"""


def delta_delete_pred_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry (r15): GENERAL WHERE predicates as SQL text on
    the Delta tier — a strict `<` + two-column conjunction and an
    `IS NULL OR` disjunction, the first DML shapes a migrating user
    types that the r14 range grammar refused.  Both lower onto
    `delete_predicate_delta` (Catalyst row truth; `predicates`
    interval pruning + probe-scan narrowing), and the oracle restates
    the surviving set off the raw parquet — a value match proves the
    general rewrite removed exactly the predicate rows."""
    from . import deltaproto as dp, load_table

    path = _fixture_path(sf_dir, "docs_delta_gpred")
    register_lake_table("docs_delta_gpred", "delta", path)
    if not dp.delta_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            # an honest nullable column so IS NULL has rows to hit
            F.when(F.col("doc_id") % 7 == 0, None)
            .otherwise(F.col("lang"))
            .alias("review_lang"),
        )
        dp.write_delta(docs.repartitionByRange(8, "doc_id"), path)
        lake_sql(
            spark,
            "DELETE FROM docs_delta_gpred "
            "WHERE doc_id < 100 AND lang = 'en'",
        )
        lake_sql(
            spark,
            "DELETE FROM docs_delta_gpred "
            "WHERE review_lang IS NULL OR n_chars > 2900",
        )
    return lake_sql(
        spark,
        """
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM docs_delta_gpred
        GROUP BY lang
        ORDER BY lang
        """,
    )


DELTA_DELETE_PRED_SQL_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE NOT (doc_id < 100 AND lang = 'en')
  AND NOT (doc_id % 7 = 0 OR n_chars > 2900)
GROUP BY lang
ORDER BY lang
"""


def iceberg_update_pred_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry (r15): general-WHERE UPDATE as SQL text on
    the Iceberg tier — `SET` under an `OR` of a strict `>` and an
    `IN` list, lowered onto `update_predicate_iceberg` (manifest-bound
    interval pruning + probe-scan narrowing, copy-on-write).  The
    oracle recomputes the post-image off the raw parquet, so a value
    match proves the SET applied to exactly the predicate rows and
    NULL-predicate rows were left untouched."""
    from . import iceberg as ib, load_table

    path = _fixture_path(sf_dir, "docs_ice_gpred")
    register_lake_table("docs_ice_gpred", "iceberg", path)
    if not ib._metadata_versions(path):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "source", "n_chars"
        )
        ib.write_iceberg(docs.repartitionByRange(8, "doc_id"), path)
        lake_sql(
            spark,
            "UPDATE docs_ice_gpred SET n_chars = n_chars + 1000000 "
            "WHERE doc_id > 400 OR lang IN ('zh', 'ru')",
        )
    return lake_sql(
        spark,
        """
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM docs_ice_gpred
        GROUP BY lang
        ORDER BY lang
        """,
    )


ICEBERG_UPDATE_PRED_SQL_ORACLE_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id > 400 OR lang IN ('zh', 'ru')
                     THEN n_chars + 1000000 ELSE n_chars END) AS BIGINT)
           AS sum_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


QUERIES = {
    "lake_delta_merge_sql": delta_merge_sql_entry,
    "lake_iceberg_delete_sql": iceberg_delete_sql_entry,
    "lake_delta_sql_lifecycle": delta_sql_lifecycle_entry,
    "lake_iceberg_sql_lifecycle": iceberg_sql_lifecycle_entry,
    "lake_named_catalog": named_catalog_entry,
    "lake_sql_maintenance": sql_maintenance_entry,
    "lake_sql_cdf_restore": sql_cdf_restore_entry,
    "lake_convert_in_place": convert_in_place_entry,
    "lake_delta_delete_pred_sql": delta_delete_pred_sql_entry,
    "lake_iceberg_update_pred_sql": iceberg_update_pred_sql_entry,
}

ORACLES = {
    "lake_delta_merge_sql": DELTA_MERGE_SQL_ORACLE_SQL,
    "lake_iceberg_delete_sql": ICEBERG_DELETE_SQL_ORACLE_SQL,
    "lake_delta_sql_lifecycle": DELTA_SQL_LIFECYCLE_ORACLE_SQL,
    "lake_iceberg_sql_lifecycle": ICEBERG_SQL_LIFECYCLE_ORACLE_SQL,
    "lake_named_catalog": NAMED_CATALOG_ORACLE_SQL,
    "lake_sql_maintenance": SQL_MAINTENANCE_ORACLE_SQL,
    "lake_sql_cdf_restore": SQL_CDF_RESTORE_ORACLE_SQL,
    "lake_convert_in_place": CONVERT_IN_PLACE_ORACLE_SQL,
    "lake_delta_delete_pred_sql": DELTA_DELETE_PRED_SQL_ORACLE_SQL,
    "lake_iceberg_update_pred_sql": ICEBERG_UPDATE_PRED_SQL_ORACLE_SQL,
}
