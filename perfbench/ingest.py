"""`ingest` workload: letter-keyed JSON batches through the ingestion
pipeline into a Delta and an Iceberg table.

One client, closed loop.  Each batch, once its landing file exists:

1. `pipeline.run_ingestion` (JSON flatten, price clean, managed-table
   save, read-back check);
2. upsert of the cleaned rows into Delta (`merge_upsert_delta`) and
   Iceberg (`upsert_iceberg`), keyed on the medication name;
3. a range delete on price in Delta (`delete_where_delta`);
4. a read and aggregate of each table, checked against the generator's
   model of the key set (together, the batch's fresh-data query);
5. every `CYCLE` batches, compaction of both tables.

The batch wall is steps 1-3 and 5; step 4 is the read.  The timed region
is whole compaction cycles, so every run sees the same mix of fresh and
delete-laden table states.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import gen
from common import Run, check_steady, dir_bytes, pkg, settle
from procs import tree_cpu

ROWS = 5000
KEY_SPACE = 10_000
CYCLE = 3
SETUP_REPS = 3
TABLE = "meds_landing"


class Ingest:
    def __init__(self, run: Run):
        self.run = run
        self.n = 0
        self.lake = ""
        self.model = gen.LandingModel()
        self.land_dir = os.path.join(run.work_dir, "landing")

    def _span(self, name: str):
        return self.run.tracer.span(name, self.n)

    def _batch(self) -> gen.Batch:
        os.makedirs(self.land_dir, exist_ok=True)
        rng = np.random.default_rng([self.run.seed, 2, self.n])
        return gen.landing_batch(
            rng, os.path.join(self.land_dir, f"b{self.n}.json"), ROWS, KEY_SPACE
        )

    @property
    def delta(self) -> str:
        return os.path.join(self.lake, "delta")

    @property
    def iceberg(self) -> str:
        return os.path.join(self.lake, "iceberg")

    # -- set-up ---------------------------------------------------------

    def setup(self) -> tuple[float, dict]:
        """Session, then SETUP_REPS initial loads of batch 0 into fresh
        tables (the last one is kept), then one warm batch with
        compaction."""
        run = self.run
        session_s = run.start_session()
        dp, ib = pkg("sources.deltaproto"), pkg("sources.iceberg")
        reps = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.n = 0
            old, self.lake = self.lake, os.path.join(run.work_dir, f"lake{i}")
            if old:
                shutil.rmtree(old)
            batch = self._batch()
            saved = self._ingest(batch)
            dp.write_delta(saved, self.delta, mode="overwrite")
            ib.write_iceberg(saved, self.iceberg)
            self.model = gen.LandingModel()
            self.model.upsert(batch.valid)
            del saved
            settle()
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.n = 1
        self._step(self._batch(), compact=True)
        warm_s = time.perf_counter() - t0
        return session_s + statistics.median(reps) + warm_s, {
            "session.get_spark_s": session_s,
        }

    def _ingest(self, batch: gen.Batch):
        pipeline = pkg("pipeline")
        with self._span("pipeline.run_ingestion"):
            saved, stats = pipeline.run_ingestion(self.run.spark, batch.path, TABLE)
        expect = (batch.total, batch.null_price, batch.zero_price, len(batch.valid))
        got = (stats.total, stats.null_price, stats.zero_price, stats.valid_price)
        if got != expect:
            raise AssertionError(f"IngestStats {got} != generated {expect}")
        return saved

    def _step(self, batch: gen.Batch, compact: bool) -> tuple[float, list[float]]:
        """One batch; returns (batch wall without reads, [delta read,
        iceberg read])."""
        from pyspark.sql import functions as F

        spark = self.run.spark
        dp, ib = pkg("sources.deltaproto"), pkg("sources.iceberg")
        t0 = time.perf_counter()
        saved = self._ingest(batch)
        with self._span("sources.deltaproto.merge_upsert"):
            dp.merge_upsert_delta(spark, saved, self.delta, "name")
        with self._span("sources.iceberg.upsert"):
            ib.upsert_iceberg(spark, saved, self.iceberg, ["name"])
        self.model.upsert(batch.valid)
        with self._span("sources.deltaproto.delete_where"):
            dp.delete_where_delta(spark, self.delta, "price", batch.delete_lo, batch.delete_hi)
        self.model.delete_range(batch.delete_lo, batch.delete_hi)
        wall = time.perf_counter() - t0
        reads = []
        for name, read, want in (
            ("sources.deltaproto.read", lambda: dp.read_delta(spark, self.delta), self.model.delta),
            ("sources.iceberg.read", lambda: ib.read_iceberg(spark, self.iceberg), self.model.iceberg),
        ):
            t1 = time.perf_counter()
            with self._span(name):
                row = read().agg(F.count("*").alias("n"), F.sum("price").alias("s")).first()
            reads.append(time.perf_counter() - t1)
            if (row["n"], row["s"] or 0) != (len(want), sum(want.values())):
                raise AssertionError(
                    f"{name}: table holds {row['n']} rows / price sum {row['s']}, "
                    f"model {len(want)} / {sum(want.values())}"
                )
        t2 = time.perf_counter()
        if compact:
            with self._span("sources.deltaproto.compact"):
                dp.compact_delta(spark, self.delta)
            with self._span("sources.iceberg.compact"):
                ib.compact_iceberg(spark, self.iceberg)
        wall += time.perf_counter() - t2
        del saved
        return wall, reads

    # -- timed region ---------------------------------------------------

    def region(self) -> dict:
        run, tracer = self.run, self.run.tracer
        walls, plain, reads, cycles, ratios = [], [], [], [], []
        failed = landed = 0
        elapsed = 0.0
        cpu0 = tree_cpu()
        while elapsed < run.seconds:
            cycle_s = 0.0
            before = self._stored()
            cycle_in = 0
            for k in range(CYCLE):
                self.n += 1
                batch = self._batch()
                try:
                    with tracer.op(self.n, f"batch-{self.n}"):
                        wall, rd = self._step(batch, compact=k == CYCLE - 1)
                except Exception as exc:  # noqa: BLE001 - a failed batch is counted, the loop goes on
                    failed += 1
                    run.warn(f"batch {self.n} failed: {type(exc).__name__}: {exc}"[:400])
                    continue
                finally:
                    settle()
                walls.append(wall)
                if k < CYCLE - 1:
                    plain.append(wall)
                reads.append(rd)
                landed += batch.n_bytes
                cycle_in += batch.n_bytes
                cycle_s += wall + sum(rd)
            cycles.append(cycle_s)
            elapsed += cycle_s
            if cycle_in:
                ratios.append((self._stored() - before) / cycle_in)
        cpu = tree_cpu() - cpu0
        n = len(walls)
        queries = [sum(pair) for pair in reads]
        drift = check_steady(run, "ingest batch wall (no compaction)", plain)
        return {
            "attempted": n + failed,
            "failed": failed,
            "metrics": {
                "query_p50_ms": statistics.median(queries) * 1e3,
                "queries_per_s": len(queries) / elapsed,
                "round_s": statistics.median(cycles),
                "batch_p50_s": statistics.median(walls),
                "read_p50_s": statistics.median(queries),
                "input_mb_per_s": landed / 1e6 / elapsed,
                "bytes_stored_per_input_byte": statistics.median(ratios),
                "cpu_s_per_op": cpu.total / n,
            },
            "cpu": cpu,
            "ops": n,
            "drift": drift,
        }

    def check(self) -> tuple[int, int]:
        """Ingest checks every batch inline; nothing is left to check."""
        return 0, 0

    def _stored(self) -> int:
        return dir_bytes(self.lake)

    def storage(self) -> dict[str, float]:
        """On-disk bytes of both tables (time-travel history included)
        and the number of files their current snapshots reference."""
        spark = self.run.spark
        dp, ib = pkg("sources.deltaproto"), pkg("sources.iceberg")
        log = os.path.join(self.delta, "_delta_log")
        return {
            "storage.delta_data_bytes": dir_bytes(self.delta, skip="_delta_log"),
            "storage.delta_log_bytes": dir_bytes(log),
            "storage.iceberg_data_bytes": dir_bytes(os.path.join(self.iceberg, "data")),
            "storage.iceberg_metadata_bytes": dir_bytes(os.path.join(self.iceberg, "metadata")),
            "storage.live_files": (
                dp.read_delta_meta(spark, self.delta, "files").count()
                + ib.read_iceberg_meta(spark, self.iceberg, "files").count()
            ),
        }
