"""Invariants from the reference's inline inspect-and-eyeball checks
(SURVEY.md §5.1), promoted to assertions."""

from __future__ import annotations

import gc
import weakref

from pyspark import StorageLevel
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators.medications import (
    MEDICATIONS_CTE,
    MEDICATIONS_RAW_CTE,
    medications,
    medications_raw,
)
from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.schemas import (
    MEDICATIONS,
)


def test_schema_matches_declared(spark, sf_dir):
    med = medications(spark, sf_dir)
    assert [f.name for f in med.schema.fields] == [f.name for f in MEDICATIONS.fields]
    assert med.schema["price"].dataType.simpleString() == "int"
    assert med.schema["refundable"].dataType.simpleString() == "boolean"


def test_price_cleaning_invariants(spark, sf_dir):
    """ING:100-112 — null + zero + valid price partitions must reconcile;
    after cleaning only valid prices remain."""
    med = medications(spark, sf_dir)
    bad = med.filter(F.col("price").isNull() | (F.col("price") <= 0)).count()
    assert bad == 0
    assert med.count() > 0


def test_refundable_tristate(spark, sf_dir):
    """ING:140-148 — tri-state percentages must cover the whole table."""
    med = medications(spark, sf_dir)
    total = med.count()
    t = med.filter(F.col("refundable") == True).count()  # noqa: E712
    f = med.filter(F.col("refundable") == False).count()  # noqa: E712
    n = med.filter(F.col("refundable").isNull()).count()
    assert t + f + n == total
    assert t > f and n > 0  # majority covered; NULLs present (FIXTURES §11)


def test_price_category_consistent_with_buckets(spark, sf_dir):
    """price_category must agree with its defining CASE at every row."""
    med = medications(spark, sf_dir)
    mismatch = med.filter(
        (
            F.when(F.col("price") <= 100, "Low")
            .when(F.col("price") <= 500, "Medium")
            .otherwise("High")
        )
        != F.col("price_category")
    ).count()
    assert mismatch == 0


def test_derivation_deterministic(spark, sf_dir):
    """Same inputs → identical rows on rebuild (oracle depends on it)."""
    a = medications(spark, sf_dir)
    b = medications(spark, sf_dir)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


# --------------------------------------------------------------------------
# derived-plan memo under the buffer pool
# --------------------------------------------------------------------------


def _medications_entries() -> list[str]:
    import __spark_entry__ as entry

    return [
        name
        for name, sql in entry.oracle_sql().items()
        if MEDICATIONS_CTE in sql or MEDICATIONS_RAW_CTE in sql
    ]


def test_pool_builds_derived_plan_once(
    spark, sf_dir, buffer_pool, py4j_calls
):
    for build in (medications, medications_raw):
        first = build(spark, sf_dir)
        with py4j_calls() as calls:
            again = build(spark, sf_dir)
        assert again is first
        assert calls[0] < 20, calls[0]


def test_pool_memo_persists_nothing_beyond_part(spark, sf_dir, buffer_pool):
    """The memo holds plans, not bytes: every medications-derived
    entry run on a warm pool leaves only the pooled `part` cached."""
    import __spark_entry__ as entry

    queries = entry.queries()
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    before = {i.id() for i in storage()}
    for name in _medications_entries():
        df = queries[name](spark, sf_dir)
        df.collect()
        assert df.storageLevel == StorageLevel.NONE, name
    for build in (medications, medications_raw):
        assert build(spark, sf_dir).storageLevel == StorageLevel.NONE
    infos = [i for i in storage() if i.id() not in before]
    assert len(infos) == 1 and "part.parquet" in infos[0].name()


def test_pool_memo_dies_with_pooled_part(spark, sf_dir, buffer_pool):
    med = medications(spark, sf_dir)
    part = weakref.ref(buffer_pool.load_table(spark, sf_dir, "part"))
    part().unpersist()
    buffer_pool._TABLE_CACHE.clear()
    gc.collect()
    assert part() is None  # the memo does not keep `part` alive
    assert medications(spark, sf_dir) is not med


def test_no_pool_no_memo(spark, sf_dir, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CACHE", raising=False)
    assert medications(spark, sf_dir) is not medications(spark, sf_dir)
    assert medications_raw(spark, sf_dir) is not medications_raw(spark, sf_dir)
