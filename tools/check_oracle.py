"""Local replica of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` on DuckDB
over the same parquet dir, then compares row count + order-insensitive
values (normalized). Usage:

    python tools/check_oracle.py [sf_dir] [name ...]

A name that is not a `queries()` entry fails the run before any check.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # tolerate float repr jitter at the 1e-9 level
        return round(v, 9)
    if isinstance(v, int):
        return int(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except Exception:
        pass
    return v


def _rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


#: Entries whose DUCKDB side is infeasible at a given scale (the Spark
#: side is the one built for big inputs).  dedup_clusters' oracle is a
#: recursive-CTE transitive closure — it exceeds the 10-minute box at
#: sf0.1 (the Spark side runs in ~5 s there); value parity is checked
#: at sf0.001/sf0.01 and pytest pins pair-consistency at every scale.
DUCKDB_INFEASIBLE = {
    ("dedup_clusters", "sf0.1"),
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]

    import __spark_entry__ as entry
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark import (
        get_spark,
    )
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources.catalog import (
        TABLE_NAMES,
    )

    queries = entry.queries()
    unknown = sorted(only - set(queries))
    if unknown:
        print(f"FAIL  not queries() entries: {unknown}")
        sys.exit(1)

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = entry.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles or (name, sf_tag) in DUCKDB_INFEASIBLE:
            note = (
                " (duckdb-infeasible at this scale)"
                if (name, sf_tag) in DUCKDB_INFEASIBLE
                else ""
            )
            print(
                f"ok*   {name}: rows-only check{note}, {len(srows)} rows "
                f"({time.time()-t0:.1f}s)"
            )
            if len(srows) == 0:
                print(f"WARN  {name}: zero rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns differ spark={sorted(scols)} duck={sorted(dcols)}")
            failures.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(drows)}")
            failures.append(name)
            continue
        sm = _rows_to_multiset(scols, srows)
        dm = _rows_to_multiset(dcols, drows)
        if sm != dm:
            diffs = [(a, b) for a, b in zip(sm, dm) if a != b]
            print(f"FAIL  {name}: {len(diffs)} differing rows of {len(sm)}")
            for a, b in diffs[:3]:
                print(f"      spark={a}")
                print(f"      duck ={b}")
            failures.append(name)
            continue
        print(f"ok    {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all checks passed")


if __name__ == "__main__":
    main()
