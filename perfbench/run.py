"""Benchmark of the engine's dashboard and ingest paths.

    python3 perfbench/run.py --workload {dashboard,ingest} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout.  The inputs are generated from the
seed inside a scratch dir under `.perfbench/` that is removed at exit;
the engine runs on `local[<usable cores>]`.  The last line of stdout is
one JSON object: `correct`, `attempted`, `failed` and `metrics`.  With
`--trace 0` the metrics are the end-to-end set, measured with tracing
off.  With `--trace 1` the timed region runs three times: untraced,
traced, untraced.  The metrics are the per-layer set from the traced
pass plus `trace_overhead.<metric>` (traced minus the mean of the two
untraced passes) for each end-to-end metric of the timed region, and
every span goes to `.perfbench/traces/<workload>-seed<N>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import PKG, Run  # noqa: E402
from dashboard import ENTRIES as DASHBOARD_ENTRIES  # noqa: E402
from procs import reap_descendants, steal_s  # noqa: E402
from spans import SPARK_METRICS, Tracer  # noqa: E402

#: End-to-end metrics of the timed region (set-up time comes on top).
#: No tail percentile: a run times 16 dashboard queries or 3 ingest
#: batches, too few for any percentile above the median to have ten
#: samples beyond it.
REGION_METRICS = {
    "query_p50_ms": "ms",
    "queries_per_s": "1/s",
    "round_s": "s",
    "batch_p50_s": "s",
    "read_p50_s": "s",
    "input_mb_per_s": "MB/s",
    "bytes_stored_per_input_byte": "ratio",
    "cpu_s_per_op": "s",
}
END_TO_END = {"setup_s": "s", **REGION_METRICS}

#: Ingest calls timed per batch; each span `<name>` gives `<name>_s`.
LAKE_CALLS = [
    "pipeline.run_ingestion",
    "sources.deltaproto.merge_upsert",
    "sources.deltaproto.delete_where",
    "sources.deltaproto.read",
    "sources.deltaproto.compact",
    "sources.iceberg.upsert",
    "sources.iceberg.read",
    "sources.iceberg.compact",
]
STORAGE = [
    "storage.delta_data_bytes", "storage.delta_log_bytes",
    "storage.iceberg_data_bytes", "storage.iceberg_metadata_bytes",
    "storage.live_files",
]
#: Per-layer metrics (per op unless the name says otherwise) with units.
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.catalog.load_table_s": "s",
    "operators.build_s": "s",
    "operators.build_py4j_calls": "count",
    "operators.action_s": "s",
    "operators.action_py4j_calls": "count",
    **{f"operators.{e}.{k}_s": "s" for e in DASHBOARD_ENTRIES for k in ("build", "action")},
    **{m: "s" if m.endswith("_s") else "MB" if m.endswith("_mb") else "count" for m in SPARK_METRICS},
    "python_workers.cpu_s": "s",
    "jvm.cpu_s": "s",
    "driver.cpu_s": "s",
    **{f"{span}_s": "s" for span in LAKE_CALLS},
    **{m: "count" if m.endswith("files") else "bytes" for m in STORAGE},
    "host.steal_s": "s",
    "steady.half_drift": "ratio",
    **{f"trace_overhead.{m}": u for m, u in REGION_METRICS.items()},
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["dashboard", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file the engine writes inside the scratch dir: the
    managed-table warehouse (cwd), Spark's block and shuffle files,
    and Python's and the JVM's temp files."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_CACHE": "1",
        "SPARK_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = tmp
    os.chdir(work)


def _stop_engine() -> None:
    """Stop the session, then the gateway JVM, and wait for both."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _per_layer(run: Run, wl, layers: dict, traced: dict, untraced: list[dict], steal: float) -> dict:
    t, ops = run.tracer, traced["ops"]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(layers)
    totals = t.totals()
    for kind in ("build", "action"):
        spans = {k: v for k, v in totals.items() if k.startswith("operators.") and k.endswith(kind)}
        out[f"operators.{kind}_s"] = sum(v[0] for v in spans.values()) / ops
        out[f"operators.{kind}_py4j_calls"] = sum(v[1] for v in spans.values()) / ops
        for name, (sec, _calls, count) in spans.items():
            out[f"{name}_s"] = sec / count
    out.update(t.spark_per_op())
    cpu = traced["cpu"]
    out["python_workers.cpu_s"] = cpu.python_workers / ops
    out["jvm.cpu_s"] = cpu.jvm / ops
    out["driver.cpu_s"] = cpu.driver / ops
    for span in LAKE_CALLS:
        if span in totals:
            out[f"{span}_s"] = totals[span][0] / ops
    out.update(wl.storage())
    out["host.steal_s"] = steal
    out["steady.half_drift"] = untraced[0]["drift"]
    for m in REGION_METRICS:
        base = sum(u["metrics"][m] for u in untraced) / len(untraced)
        out[f"trace_overhead.{m}"] = traced["metrics"][m] - base
    return out


def bench(args) -> dict:
    from dashboard import Dashboard
    from ingest import Ingest

    steal0 = steal_s()
    run = Run(args.seed, args.seconds, Tracer(), os.getcwd())
    wl = (Dashboard if args.workload == "dashboard" else Ingest)(run)
    setup_s, layers = wl.setup()
    regions = [wl.region()]
    if args.trace:
        # untraced, traced, untraced: the traced pass is compared with
        # the mean of its neighbours, which cancels steady warm-up drift
        run.tracer.enable(run.spark)
        regions.append(wl.region())
        run.tracer.disable()
        regions.append(wl.region())
    attempted, failed = wl.check()
    attempted += sum(r["attempted"] for r in regions)
    failed += sum(r["failed"] for r in regions)
    untraced = regions[0]
    if args.trace:
        metrics = _per_layer(
            run, wl, layers, regions[1], [regions[0], regions[2]], steal_s() - steal0
        )
        units = PER_LAYER
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.dump(
            os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "metrics": metrics, "notes": run.notes},
        )
    else:
        metrics = {"setup_s": setup_s, **untraced["metrics"]}
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": float(metrics[m]), "unit": units[m]} for m in units},
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    try:
        _isolate(work)
        result = bench(args)
    finally:
        try:
            _stop_engine()
        finally:
            left = reap_descendants()
            if left:
                print(f"perfbench: processes {left} did not exit", file=sys.stderr)
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
