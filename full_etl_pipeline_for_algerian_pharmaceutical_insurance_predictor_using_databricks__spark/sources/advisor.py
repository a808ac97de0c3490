"""Statistics-driven join planning over lake tables (r13).

The lake tiers REGISTER planner-grade statistics — Iceberg manifests
carry per-file record counts and byte sizes, `write_iceberg_table_stats`
lands per-column NDV theta sketches, Delta add-actions carry `stats`
JSON — but until this module nothing READ them back into planning.
That matters at 100 TB for one specific failure: Spark's broadcast
decision keys on the SCAN's sizeInBytes estimate, and the lake read
paths here (manifest-grouped unions, DV anti-joins, name-mapping
coalesces) obscure it, so a genuinely-broadcastable dimension falls
back to a sort-merge join — two full shuffles of a fact table because
the optimizer could not see through the plan to the 40 MB of data
underneath.

`lake_table_stats` answers from METADATA ONLY (no data IO — the same
files a planning pass already reads), `advise_join` is the pure
decision function (returns the decision WITH its evidence so a plan
review can audit why), and `lake_join` applies it.

Reference: full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks-'s warehouse queries join the medications fact to
dimension lookups (pharmaceutical_dashboard_queries.sql); this is the
scale-tier machinery those joins need at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = [
    "lake_table_stats",
    "advise_join",
    "lake_join",
    "DEFAULT_BROADCAST_BYTES",
]

#: Conservative broadcast ceiling: well above Spark's 10 MB default
#: (executors hold hundreds of MB of broadcast comfortably) but far
#: below memory trouble.  Callers size it to their cluster.
DEFAULT_BROADCAST_BYTES = 256 * 1024 * 1024


def _is_iceberg(path: str) -> bool:
    from . import iceberg as ib

    return bool(ib._metadata_versions(path))


def _is_delta(path: str) -> bool:
    return os.path.isdir(os.path.join(path, "_delta_log"))


def lake_table_stats(spark: SparkSession, path: str) -> dict:
    """Planner-grade statistics for a lake table from METADATA only.

    Returns {"format", "rows", "bytes", "ndv": {col: int}, "sources":
    [...]} — `rows`/`bytes` sum the live file metadata (Iceberg
    manifest entries / Delta add actions + stats JSON), `ndv` comes
    from the REGISTERED artifacts only when they describe the current
    snapshot (stale statistics are never served — the same rule
    read_iceberg_ndv applies).  Never touches data files."""
    sources: list[str] = []
    ndv: dict[str, int] = {}
    if _is_iceberg(path):
        from . import iceberg as ib

        meta = ib.current_metadata(path)
        snap = ib._snapshot(meta, None)
        rows = 0
        nbytes = 0
        if snap is not None:
            for e in ib._live_entries(path, meta, snap):
                rec = e["data_file"]
                rows += int(rec.get("record_count") or 0)
                nbytes += int(rec.get("file_size_in_bytes") or 0)
            sources.append("iceberg:manifest-entries")
            try:
                ndv = ib.read_iceberg_ndv(path)
                sources.append("iceberg:statistics(theta-ndv)")
            except ValueError:
                pass  # none registered / stale: size tier still works
        return {
            "format": "iceberg",
            "rows": rows,
            "bytes": nbytes,
            "ndv": ndv,
            "sources": sources,
        }
    if _is_delta(path):
        import json as _json

        from . import deltaproto as dp

        _meta, live, _v = dp._fold_delta_state(spark, path, None)
        rows = 0
        nbytes = 0
        rows_known = True
        for add in live.values():
            nbytes += int(add.get("size") or 0)
            n = None
            if add.get("stats"):
                try:
                    n = _json.loads(add["stats"]).get("numRecords")
                except ValueError:
                    n = None
            if n is None:
                rows_known = False
            else:
                rows += int(n)
        sources.append("delta:add-stats")
        return {
            "format": "delta",
            "rows": rows if rows_known else None,
            "bytes": nbytes,
            "ndv": {},
            "sources": sources,
        }
    raise ValueError(f"{path!r} is neither an Iceberg nor a Delta table")


def _key_list(on) -> list[str]:
    return [on] if isinstance(on, str) else list(on)


def _side_key_ndv(stats: dict, keys: list[str]) -> int | None:
    """Key-tuple NDV from the registered per-column sketches.  For a
    composite key the registered artifacts carry per-COLUMN NDV only,
    so the best metadata-derivable figure is the max over the key's
    columns — a LOWER bound of the tuple NDV (a tuple is at least as
    distinct as its most distinct member).  Using the bound errs
    toward flagging skew, which is correctness-neutral: salting a
    non-skewed join costs one extra narrow column through the shuffle,
    missing a skewed one costs a 100×-median straggler."""
    have = [
        n
        for n in ((stats.get("ndv") or {}).get(k) for k in keys)
        if n is not None
    ]
    return max(have) if have else None


def advise_join(
    left_stats: dict,
    right_stats: dict,
    key,
    broadcast_threshold_bytes: int = DEFAULT_BROADCAST_BYTES,
) -> dict:
    """Pure decision: which side (if either) to broadcast for an
    equi-join on `key` (one column name or a composite-key list, r14),
    with the evidence attached.

    Rules, in order:
    - a side whose metadata byte size fits the threshold broadcasts
      (the smaller one when both fit);
    - neither fits → shuffle, but when the registered key NDV on one
      side is tiny relative to its rows the decision flags SKEW (a
      handful of hot keys dominate the shuffle — salt it).  Composite
      keys judge on the max per-column NDV, a lower bound of the
      tuple NDV (see _side_key_ndv).
    Every decision records the stats it used under "evidence"."""
    keys = _key_list(key)
    lb, rb = int(left_stats["bytes"]), int(right_stats["bytes"])
    fits = {
        "left": lb <= broadcast_threshold_bytes,
        "right": rb <= broadcast_threshold_bytes,
    }
    evidence = {
        "left": {
            k: left_stats.get(k) for k in ("rows", "bytes", "sources")
        },
        "right": {
            k: right_stats.get(k) for k in ("rows", "bytes", "sources")
        },
        "key": key,
        "left_key_ndv": _side_key_ndv(left_stats, keys),
        "right_key_ndv": _side_key_ndv(right_stats, keys),
        "threshold_bytes": broadcast_threshold_bytes,
    }
    if len(keys) > 1:
        evidence["key_ndv_is_lower_bound"] = True
    if fits["left"] or fits["right"]:
        side = (
            ("left" if lb <= rb else "right")
            if (fits["left"] and fits["right"])
            else ("left" if fits["left"] else "right")
        )
        return {
            "broadcast": side,
            "reason": (
                f"{side} side is {evidence[side]['bytes']} bytes by lake "
                f"metadata (≤ {broadcast_threshold_bytes}) — hash-broadcast "
                "instead of shuffling both sides"
            ),
            "skew_risk": False,
            "evidence": evidence,
        }
    skew = False
    for side, st in (("left", left_stats), ("right", right_stats)):
        n = _side_key_ndv(st, keys)
        rows = st.get("rows")
        if n is not None and rows and n * 1000 < rows:
            skew = True
    return {
        "broadcast": None,
        "reason": (
            "neither side fits the broadcast threshold by lake metadata "
            "— shuffle join"
            + (
                "; registered key NDV is tiny relative to rows — SALT the"
                " join key (hot-key skew)"
                if skew
                else ""
            )
        ),
        "skew_risk": skew,
        "evidence": evidence,
    }


def _read_lake(spark: SparkSession, path: str) -> DataFrame:
    if _is_iceberg(path):
        from . import iceberg as ib

        return ib.read_iceberg(spark, path)
    from . import deltaproto as dp

    return dp.read_delta(spark, path)


def lake_join(
    spark: SparkSession,
    left_path: str,
    right_path: str,
    on,
    how: str = "inner",
    broadcast_threshold_bytes: int = DEFAULT_BROADCAST_BYTES,
    salt_buckets: int = 16,
) -> tuple[DataFrame, dict]:
    """Join two lake tables with the statistics-advised strategy:
    reads both metadata stats, picks the broadcast side (if any), and
    returns (joined frame, decision).  `on` is one column name or a
    composite-key list (r14).  The decision dict is the audit trail —
    evidence carries the exact stats read.

    When neither side fits the broadcast threshold AND the registered
    key NDV flags hot-key skew, the advice is EXECUTED, not just
    reported: the skewed side salts its rows into `salt_buckets`
    deterministic sub-keys (xxhash64 of the whole row — no rand(), so
    the plan stays replay-stable) and the other side replicates across
    every bucket, so one hot key spreads over `salt_buckets` shuffle
    partitions instead of pinning one reducer at 100× the median.

    Outer joins execute too when the PRESERVED side is the salted
    probe (r14): a left join with a skewed left side salts left and
    replicates right — each probe row lives in exactly one salt
    bucket, and that bucket holds EVERY matching build row, so an
    unmatched probe row null-extends exactly once and a matched one
    meets each matching build row exactly once.  Replicating the
    preserved side instead would emit `salt_buckets` null-rows per
    unmatched key, so a left join with right-side skew (or full outer)
    falls back to the plain shuffle with the reason recorded."""
    keys = _key_list(on)
    ls = lake_table_stats(spark, left_path)
    rs = lake_table_stats(spark, right_path)
    dec = advise_join(ls, rs, on, broadcast_threshold_bytes)
    left = _read_lake(spark, left_path)
    right = _read_lake(spark, right_path)
    if dec["broadcast"] == "left":
        left = F.broadcast(left)
    elif dec["broadcast"] == "right":
        right = F.broadcast(right)
    elif dec["skew_risk"] and salt_buckets > 1:
        # skewed side = the one whose key NDV is tiny vs rows; the
        # OTHER side replicates ×salt_buckets (prefer replicating the
        # smaller by bytes when both flag)
        flagged = []
        for side, st in (("left", ls), ("right", rs)):
            n = _side_key_ndv(st, keys)
            if n is not None and st.get("rows") and n * 1000 < st["rows"]:
                flagged.append(side)
        skewed = (
            flagged[0]
            if len(flagged) == 1
            else ("left" if int(ls["bytes"]) >= int(rs["bytes"]) else "right")
        )
        executable = how == "inner" or (
            how in ("left", "right") and skewed == how
        )
        if not executable:
            dec = dict(dec)
            dec["salted"] = 0
            dec["reason"] += (
                f" — not executed: a {how} join can only salt its "
                f"preserved side (skew is on the {skewed} side; "
                "replicating the preserved side would duplicate "
                "null-rows across buckets)"
            )
            return left.join(right, on=on, how=how), dec
        probe, build = (
            (left, right) if skewed == "left" else (right, left)
        )
        probe = probe.withColumn(
            "_ib_salt",
            F.pmod(F.xxhash64(*probe.columns), F.lit(salt_buckets)).cast(
                "int"
            ),
        )
        build = build.withColumn(
            "_ib_salt",
            F.explode(
                F.sequence(
                    F.lit(0).cast("int"),
                    F.lit(salt_buckets - 1).cast("int"),
                )
            ),
        )
        out = probe.join(
            build,
            on=keys + ["_ib_salt"],
            how="inner" if how == "inner" else "left",
        ).drop("_ib_salt")
        # canonical column order regardless of which side probed —
        # only when names are unambiguous: a non-key column shared by
        # both sides survives the join twice and a by-name select
        # would raise AMBIGUOUS_REFERENCE (the plain-join fallback
        # keeps Spark's own duplicate handling in that case)
        dup = (set(left.columns) & set(right.columns)) - set(keys)
        if not dup:
            out = out.select(
                *keys,
                *[c for c in left.columns if c not in keys],
                *[c for c in right.columns if c not in keys],
            )
        dec = dict(dec)
        dec["salted"] = salt_buckets
        dec["salted_side"] = skewed
        dec["reason"] += (
            f" — EXECUTED ({how}): {skewed} side salted into "
            f"{salt_buckets} deterministic sub-keys, other side "
            "replicated"
        )
        return out, dec
    return left.join(right, on=on, how=how), dec


_ADVISOR_LAKE_VERSION = 1


def _ensure_advisor_lake(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once fact/dim Iceberg pair for the advised-join entry:
    lineitem as the fact, part as the dimension, NDV statistics
    registered on both so the decision runs on real artifacts."""
    import os

    from ..functions.scale import default_index_dir
    from . import iceberg as ib, load_table

    root = default_index_dir("advisor", _ADVISOR_LAKE_VERSION, sf_dir)
    fact = os.path.join(root, "fact_lineitem")
    dim = os.path.join(root, "dim_part")
    if not ib._metadata_versions(fact):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            F.col("l_partkey").alias("p_partkey"),
            "l_extendedprice",
            "l_quantity",
        )
        ib.write_iceberg(li.repartition(4), fact)
        ib.write_iceberg_table_stats(spark, fact, columns=["p_partkey"])
    if not ib._metadata_versions(dim):
        part = load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_brand", "p_type"
        )
        ib.write_iceberg(part.coalesce(1), dim)
        ib.write_iceberg_table_stats(spark, dim, columns=["p_partkey"])
    return fact, dim


def advised_join_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-tail entry for the statistics-advised join: the lineitem
    fact joins the part dimension through lake_join — the broadcast
    decision reads the Iceberg manifest byte counts and registered NDV
    sketches, never a data file — then per-brand revenue aggregates.
    The oracle restates the join/agg off the raw parquet, so a value
    match proves the advised plan computes exactly what the shuffle
    plan would; the broadcast/evidence contract is pinned in
    tests/test_advisor.py."""
    fact, dim = _ensure_advisor_lake(spark, sf_dir)
    joined, dec = lake_join(spark, fact, dim, on="p_partkey")
    assert dec["broadcast"] is not None  # metadata says the dim fits
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
        )
        .orderBy("p_brand")
    )


ADVISED_JOIN_ORACLE_SQL = """
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(l.l_extendedprice), 2) AS revenue,
       CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


QUERIES = {"lake_advised_join": advised_join_entry}

ORACLES = {"lake_advised_join": ADVISED_JOIN_ORACLE_SQL}
