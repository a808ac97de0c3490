"""Driver-gate oracle pins run inside pytest.

The driver's frozen 50-entry correctness window covers few of the
entries that optimization work rewrites, so every oracle-bearing entry
whose plan or kernel a change touches is pinned here against its
declared DuckDB oracle at sf0.001 — inside the pytest gate, not just the
out-of-band `tools/check_oracle.py` sweep.  Comparison semantics
replicate the driver's gate: same column set, same rowcount,
order-insensitive normalized multiset equality.  A change that rewrites
another oracle-bearing entry appends its name to `PINNED`.

Every medications-derived entry is also pinned under the buffer pool,
where its second build reuses the memoized `medications` plan; the
composites then join or union two frames that share that one plan.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import __spark_entry__ as entry  # noqa: E402
from check_oracle import _rows_to_multiset  # noqa: E402
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
#: users), the JPEG codec rewrite and the fused PNG kernel.  train_prep
#: composites over the scrub.  The last four read Iceberg tables through
#: the merge-on-read delete path (equality deletes, position deletes).
PINNED = [
    "text_bm25_search",
    "retrieval_hybrid_rrf",
    "text_boilerplate_scrub",
    "text_train_prep",
    "lake_iceberg_stream_hours",
    "lake_iceberg_exotic",
    "lake_iceberg_row_lineage",
    "mm_video_mjpeg_pipeline",
    "mm_video_mp4_pipeline",
    "mm_image_jpeg_pipeline",
    "mm_image_png_pipeline",
    "lake_iceberg_eq_upsert",
    "lake_iceberg_upsert_atomic",
    "lake_iceberg_changes_eq",
    "lake_iceberg_v2_deletes",
]

#: Entries whose oracle derives the medications table from `part`.
MEDICATIONS_DERIVED = [
    name
    for name, sql in entry.oracle_sql().items()
    if MEDICATIONS_CTE in sql or MEDICATIONS_RAW_CTE in sql
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


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


@pytest.mark.parametrize("name", PINNED)
def test_pinned_entry_matches_oracle(spark, sf_dir, duck, name):
    queries = entry.queries()
    assert name in queries, f"{name} dropped from queries()"
    assert name in entry.oracle_sql(), f"{name} lost its oracle"
    _assert_matches_oracle(queries[name](spark, sf_dir), duck, name)


def test_medications_derived_entries_selected():
    assert {"med_q01_q07_overview", "med_q04_q12_breakdowns"} <= set(
        MEDICATIONS_DERIVED
    )


@pytest.mark.parametrize("name", MEDICATIONS_DERIVED)
def test_memoized_medications_entry_matches_oracle(
    spark, sf_dir, duck, buffer_pool, name
):
    build = entry.queries()[name]
    build(spark, sf_dir)
    _assert_matches_oracle(build(spark, sf_dir), duck, name)
