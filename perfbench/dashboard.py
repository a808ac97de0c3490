"""`dashboard` workload: the reference's dashboard pack plus the SQL-text
front end, run one query after another like a dashboard refresh.

One client, closed loop: each query is built through its
`__spark_entry__.queries()` builder and forced with a noop-sink write,
then the next one starts.  Each round runs every entry once in an order
the seed permutes.  The timed region is whole rounds.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import numpy as np

import gen
from common import Run, check_steady, pkg, settle
from procs import tree_cpu

#: Scale of the generated star schema: part = 4,000 rows (about the
#: reference's 2,908 medications after cleaning), lineitem = 120,000.
SF = 0.02
SETUP_REPS = 3
#: Fewest timed rounds per region: a median over two rounds halves
#: what a burst of host load during one of them does to `round_s`.
MIN_ROUNDS = 2

ENTRIES = [
    "med_q01_q07_overview",
    "med_q02_price_by_disease_area",
    "med_q03_top_manufacturers",
    "med_q04_q12_breakdowns",
    "med_q05_form_distribution",
    "med_q06_most_expensive",
    "med_q08_disease_coverage",
    "med_q09_manufacturer_size",
    "med_q10_top_generics",
    "med_q11_price_histogram",
    "med_q13_ml_dataset",
    "med_q14_class_balance",
    "med_q02_sql_frontend",
    "tpch_q1_sql_frontend",
    "tpch_q6_sql_frontend",
    "tpch_q18_sql_frontend",
]
#: Fixture tables each entry reads (every med_* entry derives the
#: medications table from `part`).
INPUTS = {
    "tpch_q1_sql_frontend": ("lineitem",),
    "tpch_q6_sql_frontend": ("lineitem",),
    "tpch_q18_sql_frontend": ("customer", "orders", "lineitem"),
}
TABLES = ("part", "customer", "orders", "lineitem")


class Dashboard:
    def __init__(self, run: Run):
        self.run = run
        self.queries = None
        self.sf_dir = ""
        self.table_bytes: dict[str, int] = {}
        self.rng = np.random.default_rng([run.seed, 1])
        self.checked = self.check_failed = self.op_id = 0
        #: entry -> Spark seconds of its warm-pass (check) run
        self.warm: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------

    def setup(self) -> tuple[float, dict]:
        """Session; SETUP_REPS times input generation into a fresh dir
        plus buffer-pool fill (the last dir is kept); then the warm
        pass, which is the output check against the DuckDB oracles
        (its DuckDB time is not counted)."""
        run = self.run
        session_s = run.start_session()
        every = __import__("__spark_entry__").queries()
        self.queries = {n: every[n] for n in ENTRIES}
        catalog = pkg("sources.catalog")
        reps, fills = [], []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            old, self.sf_dir = self.sf_dir, os.path.join(run.work_dir, f"in{i}")
            os.makedirs(self.sf_dir)
            gen.write_star(np.random.default_rng([run.seed, 0]), self.sf_dir, SF)
            run.spark.catalog.clearCache()
            if old:
                shutil.rmtree(old)
            t1 = time.perf_counter()
            for t in TABLES:
                catalog.load_table(run.spark, self.sf_dir, t).count()
            fills.append(time.perf_counter() - t1)
            reps.append(time.perf_counter() - t0)
        self.table_bytes = {
            t: os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet")) for t in TABLES
        }
        warm_s, self.checked, self.check_failed = self._check()
        setup_s = session_s + statistics.median(reps) + warm_s
        return setup_s, {
            "session.get_spark_s": session_s,
            "sources.catalog.load_table_s": statistics.median(fills),
        }

    def _order(self) -> list[str]:
        return [ENTRIES[i] for i in self.rng.permutation(len(ENTRIES))]

    def _query(self, name: str, op_id: int | None = None) -> tuple[float, float]:
        """Build and force one entry; returns (build_s, action_s)."""
        tracer = self.run.tracer
        t0 = time.perf_counter()
        with tracer.span(f"operators.{name}.build", op_id):
            df = self.queries[name](self.run.spark, self.sf_dir)
        t1 = time.perf_counter()
        with tracer.span(f"operators.{name}.action", op_id):
            df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    # -- timed region ---------------------------------------------------

    def region(self) -> dict:
        run, tracer = self.run, self.run.tracer
        lat, act, rounds, inputs = [], [], [], 0
        rel = []  # latency / warm-pass latency of the same entry, in run order
        failed = 0
        elapsed = 0.0
        cpu0 = tree_cpu()
        while elapsed < run.seconds or len(rounds) < MIN_ROUNDS:
            round_s = 0.0
            for name in self._order():
                self.op_id += 1
                try:
                    with tracer.op(self.op_id, name):
                        b, a = self._query(name, self.op_id)
                except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
                    failed += 1
                    run.warn(f"{name} failed: {type(exc).__name__}: {exc}"[:300])
                    continue
                finally:
                    settle()
                lat.append(b + a)
                act.append(a)
                inputs += sum(self.table_bytes[t] for t in INPUTS.get(name, ("part",)))
                if name in self.warm:
                    rel.append((b + a) / self.warm[name])
                round_s += b + a
            rounds.append(round_s)
            elapsed += round_s
        cpu = tree_cpu() - cpu0
        n = len(lat)
        drift = check_steady(run, "dashboard latency relative to the warm pass", rel)
        return {
            "attempted": n + failed,
            "failed": failed,
            "metrics": {
                "query_p50_ms": statistics.median(lat) * 1e3,
                "queries_per_s": n / elapsed,
                "round_s": statistics.median(rounds),
                "batch_p50_s": statistics.median(rounds),
                "read_p50_s": statistics.median(act),
                "input_mb_per_s": inputs / 1e6 / elapsed,
                "bytes_stored_per_input_byte": self._pool_bytes() / sum(self.table_bytes.values()),
                "cpu_s_per_op": cpu.total / n,
            },
            "cpu": cpu,
            "ops": n,
            "drift": drift,
        }

    def _pool_bytes(self) -> int:
        """Bytes the buffer pool holds (memory plus disk) for the cached
        input tables."""
        infos = self.run.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    # -- output check -----------------------------------------------------

    def _check(self) -> tuple[float, int, int]:
        """Each entry, in a seed-permuted order, against its DuckDB
        oracle over the same parquet; returns (seconds spent in Spark,
        entries checked, entries that failed)."""
        import duckdb

        oracles = __import__("__spark_entry__").oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        spark_s, failed = 0.0, 0
        for name in self._order():
            try:
                t0 = time.perf_counter()
                sdf = self.queries[name](self.run.spark, self.sf_dir)
                cols, rows = sdf.columns, [tuple(r) for r in sdf.collect()]
                self.warm[name] = time.perf_counter() - t0
                spark_s += self.warm[name]
                res = con.execute(oracles[name])
                want_cols = [d[0] for d in res.description]
                ok = sorted(cols) == sorted(want_cols) and _multiset(
                    cols, rows
                ) == _multiset(want_cols, res.fetchall())
            except Exception as exc:  # noqa: BLE001 - a crashing entry is a failed check
                self.run.warn(f"{name} check crashed: {type(exc).__name__}: {exc}"[:300])
                ok = False
            if not ok:
                failed += 1
                self.run.warn(f"{name}: output differs from its DuckDB oracle")
            settle()
        con.close()
        return spark_s, len(ENTRIES), failed

    def check(self) -> tuple[int, int]:
        return self.checked, self.check_failed

    def storage(self) -> dict[str, float]:
        """The dashboard writes no tables."""
        return {}


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if type(v).__name__ == "Decimal":
        return round(float(v), 9)
    return v


def _multiset(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows as an order-insensitive, column-order-insensitive multiset."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )
