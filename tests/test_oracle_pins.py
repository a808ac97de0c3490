"""Driver-gate oracle pins run inside pytest.

The driver's frozen 50-entry correctness window covers few of the
entries that optimization work rewrites, so every oracle-bearing entry
whose plan or kernel a change touches is pinned here against its
declared DuckDB oracle at sf0.001 — inside the pytest gate, not just the
out-of-band `tools/check_oracle.py` sweep.  Comparison semantics
replicate the driver's gate: same column set, same rowcount,
order-insensitive normalized multiset equality.  A change that rewrites
another oracle-bearing entry appends its name to `PINNED`.  Every
oracle-bearing `mm_*` entry is pinned too, by name prefix (`MULTIMODAL`):
all of their kernels run through one shared per-row harness.

Every medications-derived entry is also pinned under the buffer pool,
where its second build reuses the memoized `medications` plan; the
composites then join or union two frames that share that one plan.

Every `mm_*` entry also runs on two degenerate copies of the fixture,
`documents` cut to zero rows and to its single lowest `doc_id`: its
schema must not change, and its rows must still equal the oracle's.
The `LAKE` entries (Delta-table lifecycles built once per fixture
directory) are pinned on the full fixture and on both degenerate
copies.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import __spark_entry__ as entry  # noqa: E402
from check_oracle import _rows_to_multiset  # noqa: E402
from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.functions import (  # noqa: E402
    scale,
)
from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators.medications import (  # noqa: E402
    MEDICATIONS_CTE,
    MEDICATIONS_RAW_CTE,
)
from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources.catalog import (  # noqa: E402
    TABLE_NAMES,
)

#: Oracle-bearing entries whose plan or kernel was rewritten: the
#: BM25/hybrid stats-literal fold, the per-row boilerplate scrub, the
#: Iceberg `_read_entries` group merge (stream/exotic are its heavy
#: users).  train_prep composites over the scrub.  Four read Iceberg
#: tables through the merge-on-read delete path (equality deletes,
#: position deletes).  The last two build their Delta table with
#: `merge_upsert_delta` (`FRESH_LAKE`).
PINNED = [
    "text_bm25_search",
    "retrieval_hybrid_rrf",
    "text_boilerplate_scrub",
    "text_train_prep",
    "lake_iceberg_stream_hours",
    "lake_iceberg_exotic",
    "lake_iceberg_row_lineage",
    "lake_iceberg_eq_upsert",
    "lake_iceberg_upsert_atomic",
    "lake_iceberg_changes_eq",
    "lake_iceberg_v2_deletes",
    "lake_delta_merge",
    "lake_delta_merge_sql",
]

#: Entries whose lake is built in a fresh directory for the test: a lake
#: an older MERGE left under `spark-warehouse/` would be read instead of
#: running the MERGE again.
FRESH_LAKE = {"lake_delta_merge", "lake_delta_merge_sql"}

#: Entries that run a Delta-table lifecycle (write, DELETE, DV delete,
#: OPTIMIZE, partitions, change feed, incremental view) before their
#: aggregate.
LAKE = [
    "lake_documents_roundtrip",
    "lake_partitioned_scan",
    "lake_changes_feed",
    "lake_dv_roundtrip",
    "lake_bloom_lookup",
    "lake_incremental_view",
    "med_q02_lake_table",
]

#: Oracle-bearing multimodal entries, composites included.
MULTIMODAL = [n for n in entry.oracle_sql() if n.startswith("mm_")]

#: Entries whose oracle derives the medications table from `part`.
MEDICATIONS_DERIVED = [
    name
    for name, sql in entry.oracle_sql().items()
    if MEDICATIONS_CTE in sql or MEDICATIONS_RAW_CTE in sql
]


def _duck_over(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = _duck_over(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="module", params=["empty", "single"])
def degenerate_dir(request, sf_dir, tmp_path_factory):
    """sf_dir with `documents` cut to zero rows ("empty") or to the row
    with the lowest doc_id ("single"); the other tables are symlinks."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp(f"documents_{request.param}")
    for t in TABLE_NAMES:
        if t != "documents":
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), out / f"{t}.parquet")
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    if request.param == "empty":
        docs = docs.slice(0, 0)
    else:
        docs = docs.filter(pc.equal(docs["doc_id"], pc.min(docs["doc_id"])))
        assert docs.num_rows == 1
    pq.write_table(docs, out / "documents.parquet")
    return str(out)


def _assert_matches_oracle(sdf, duck, name):
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(entry.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert _rows_to_multiset(scols, srows) == _rows_to_multiset(
        dcols, drows
    )


@pytest.mark.parametrize("name", PINNED + MULTIMODAL + LAKE)
def test_pinned_entry_matches_oracle(
    spark, sf_dir, duck, name, monkeypatch, tmp_path
):
    if name in FRESH_LAKE:
        monkeypatch.setattr(
            scale,
            "default_index_dir",
            lambda kind, version, _sf: str(tmp_path / f"{kind}_v{version}"),
        )
    queries = entry.queries()
    assert name in queries, f"{name} dropped from queries()"
    assert name in entry.oracle_sql(), f"{name} lost its oracle"
    _assert_matches_oracle(queries[name](spark, sf_dir), duck, name)


def test_multimodal_entries_selected():
    assert len(MULTIMODAL) >= 15
    assert {"mm_image_meta_resize", "mm_frame_audio"} <= set(MULTIMODAL)
    assert not set(PINNED) & set(MULTIMODAL)
    assert not set(PINNED + MULTIMODAL) & set(LAKE)


def test_medications_derived_entries_selected():
    assert {"med_q01_q07_overview", "med_q04_q12_breakdowns"} <= set(
        MEDICATIONS_DERIVED
    )


def _assert_degenerate_matches_oracle(spark, sf_dir, degenerate_dir, name):
    build = entry.queries()[name]
    sdf = build(spark, degenerate_dir)
    assert sdf.schema == build(spark, sf_dir).schema
    if name not in entry.oracle_sql():
        assert sdf.collect() == []  # mm_image_ahash_pairs: a pair needs two docs
        return
    con = _duck_over(degenerate_dir)
    try:
        _assert_matches_oracle(sdf, con, name)
    finally:
        con.close()


@pytest.mark.parametrize(
    "name", [n for n in entry.queries() if n.startswith("mm_")]
)
def test_multimodal_entry_on_degenerate_documents(
    spark, sf_dir, degenerate_dir, name
):
    _assert_degenerate_matches_oracle(spark, sf_dir, degenerate_dir, name)


@pytest.mark.parametrize("name", LAKE)
def test_lake_entry_on_degenerate_documents(spark, sf_dir, degenerate_dir, name):
    _assert_degenerate_matches_oracle(spark, sf_dir, degenerate_dir, name)


@pytest.mark.parametrize("name", MEDICATIONS_DERIVED)
def test_memoized_medications_entry_matches_oracle(
    spark, sf_dir, duck, buffer_pool, name
):
    build = entry.queries()[name]
    build(spark, sf_dir)
    _assert_matches_oracle(build(spark, sf_dir), duck, name)
