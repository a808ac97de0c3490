from __future__ import annotations

import contextlib
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark import (  # noqa: E402
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", shuffle_partitions=8)
    _compact_local_relations(s)
    yield s
    s.stop()


def _compact_local_relations(s):
    """createDataFrame(list, ...) fans the rows over
    `defaultParallelism` pickled Python slices; any single-task
    consumer (the suite's ubiquitous `.coalesce(1)` one-file commits)
    then pays one Python-worker round trip PER SLICE, sequentially —
    measured 4.5 s per 2-row write at local[32] vs 0.3 s with one
    slice, which made the two log-lifecycle property tests alone cost
    ~22 of the suite's 58 minutes.  Route list/tuple inputs through
    parallelize() with slices sized to the data (1 per ~1000 rows,
    capped at defaultParallelism).  Rows, schema, and inference
    semantics are untouched — only the number of local slices changes,
    and code that needs spread (e.g. _contract_docs) repartitions
    explicitly anyway.  Test-session-only shim; the product's own
    metadata frames use sources.catalog.local_rows_df."""
    from pyspark.sql import Row
    from pyspark.sql.types import StructType

    orig = s.createDataFrame

    def create(data=None, schema=None, **kw):
        if (
            not kw
            and isinstance(schema, (str, StructType))
            and isinstance(data, list)
            and data
            and all(isinstance(r, (tuple, Row)) for r in data)
        ):
            rdd = s.sparkContext.parallelize(
                data,
                max(1, min(
                    s.sparkContext.defaultParallelism,
                    len(data) // 1000 + 1,
                )),
            )
            return orig(rdd, schema)
        if schema is not None:
            return orig(data, schema, **kw)
        return orig(data, **kw)

    s.createDataFrame = create


@pytest.fixture
def buffer_pool(monkeypatch):
    """The engine's buffer pool (SPARK_GRAFT_CACHE=1) for one test, on
    an empty pool; the pooled tables are unpersisted on both ends."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        catalog,
    )

    def drain():
        for df in catalog._TABLE_CACHE.values():
            df.unpersist()
        catalog._TABLE_CACHE.clear()

    drain()
    monkeypatch.setenv("SPARK_GRAFT_CACHE", "1")
    yield catalog
    drain()


@pytest.fixture
def py4j_calls(spark):
    """`with py4j_calls() as calls:` counts in `calls[0]` the py4j round
    trips the calling thread makes inside the block: every JavaObject
    call goes through the one gateway client's `send_command`.  Sends
    from other threads are not counted: py4j's finalizer thread sends
    the release message of each garbage-collected JavaObject whenever
    it drains its queue, so those land in a block at random."""
    client = spark.sparkContext._gateway._gateway_client
    orig = type(client).send_command

    @contextlib.contextmanager
    def count():
        calls = [0]
        owner = threading.get_ident()

        def counted(*args, **kwargs):
            calls[0] += threading.get_ident() == owner
            return orig(client, *args, **kwargs)

        client.send_command = counted
        try:
            yield calls
        finally:
            del client.send_command

    return count


@pytest.fixture
def race_before_claim(monkeypatch):
    """`race_before_claim(operation, racer)` runs `racer(path)` once,
    right before the first Delta commit claim whose
    commitInfo.operation is `operation` — a racing commit injected
    inside that operation's read→claim window.  Returns a dict whose
    "done" flag tells whether the race ran; `monkeypatch.undo()`
    removes the racer."""
    import json

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    orig = dp._claim_delta_version

    def install(operation, racer):
        raced = {"done": False}

        def racing_claim(p, lines, read_version=None, read_scope=None):
            info = next(
                (a["commitInfo"] for a in map(json.loads, lines) if "commitInfo" in a),
                {},
            )
            if info.get("operation") == operation and not raced["done"]:
                raced["done"] = True
                racer(p)
            return orig(
                p, lines, read_version=read_version, read_scope=read_scope
            )

        monkeypatch.setattr(dp, "_claim_delta_version", racing_claim)
        return raced

    return install


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT
