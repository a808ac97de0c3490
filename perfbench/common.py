"""Shared pieces of the two workloads: the run context, the package
handles and the steady-state self-check."""

from __future__ import annotations

import gc
import importlib
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

from spans import Tracer

PKG = "full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark"

#: A timed region whose first-half and second-half medians differ by
#: more than this share of the overall median is reported as not
#: steady (on stderr, and as `steady.half_drift` in the traced run).
#: Same as the `round_s` bound in BENCHMARK.json.
DRIFT_LIMIT = 0.25


def pkg(module: str = ""):
    return importlib.import_module(f"{PKG}.{module}" if module else PKG)


@dataclass
class Run:
    """One benchmark process: its arguments, scratch dir and session."""

    seed: int
    seconds: float
    tracer: Tracer
    work_dir: str
    spark: object = None
    notes: list[str] = field(default_factory=list)

    def start_session(self) -> float:
        """Launch the JVM and build the engine's session; returns seconds."""
        t0 = time.perf_counter()
        self.spark = pkg().get_spark(
            "perfbench",
            extra_confs={
                # JVM temp files into the scratch dir; no hsperfdata in /tmp
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.work_dir}/tmp -XX:-UsePerfData"
                ),
            },
        )
        seconds = time.perf_counter() - t0
        # What is alive now (modules, the session, the py4j gateway)
        # lives for the whole run: keep it out of the full collections
        # between ops, which then scan only what the ops allocated.
        gc.freeze()
        return seconds

    def warn(self, msg: str) -> None:
        self.notes.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr)


def settle() -> None:
    """Between ops, outside every timed interval: free dead DataFrames
    now so their cached and checkpointed blocks are released (CPython
    frees them lazily otherwise, and storage piles up across ops)."""
    gc.collect()


def half_drift(values: list[float]) -> float:
    """|median(second half) - median(first half)| / median(all), over
    values that are comparable op to op."""
    if len(values) < 2:
        return 0.0
    mid = len(values) // 2
    return abs(
        statistics.median(values[mid:]) - statistics.median(values[:mid])
    ) / statistics.median(values)


def check_steady(run: Run, label: str, values: list[float]) -> float:
    drift = half_drift(values)
    if drift > DRIFT_LIMIT:
        run.warn(
            f"{label}: timed region not steady, halves differ by {drift:.1%} "
            f"(limit {DRIFT_LIMIT:.0%})"
        )
    return drift


def dir_bytes(path: str, skip: str | None = None) -> int:
    """Bytes of the files under `path`, leaving out subdirs named `skip`."""
    total = 0
    for root, dirs, names in os.walk(path):
        if skip in dirs:
            dirs.remove(skip)
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total
