"""Deterministic `medications` table derived from the `part` fixture.

The reference's single logical entity is a cleaned `medications` table
(SURVEY.md §1). The correctness harness only ships TPC-H-ish fixtures,
so we derive a medications table *deterministically* from `part` —
every column keyed on `p_partkey` arithmetic so the Spark DataFrame
derivation here and the DuckDB CTE in `MEDICATIONS_CTE` (used by every
oracle) produce bit-identical rows. The derivation deliberately
exercises the reference's ingestion operators on the way: price-string
regex extraction + try_cast (Pharma_Ingestion_Cleaning.py:88-91),
NULL/zero-price drop (ING:123), tri-state refundable, and the
price_category bucketing the dashboard consumes (SQL:51-62).

Column realism targets follow FIXTURES.md §11: ~25 labs, 30 therapeutic
classes (some ≥30 drugs for the HAVING query), 8 forms, tri-state
refundable ≈ 71% true / 14% false / 14% NULL, prices spanning the
50/100/200/500/1000 histogram buckets.

Under the buffer pool (`SPARK_GRAFT_CACHE=1`) `load_table` hands back
one persisted `part` DataFrame per session and fixture dir, and the
derived frames are a pure function of it, so both are built once per
pooled `part` object and reused by every dashboard query. The memo
holds a plan, not bytes (nothing extra is persisted), and its entry
lives exactly as long as the pooled `part`. With the pool off every
call gets a fresh scan, so every lookup misses.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import extract_price, price_category
from ..sources import load_table

_FORMS = ["tablet", "capsule", "syrup", "injection", "cream", "drops", "powder", "spray"]

#: `part` DataFrame -> (medications_raw, medications) built over it.
_DERIVED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _derived(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    part = load_table(spark, sf_dir, "part")
    if part not in _DERIVED:
        raw = _derive_raw(part)
        _DERIVED[part] = (raw, raw.filter(F.col("price").isNotNull() & (F.col("price") > 0)))
    return _DERIVED[part]


def medications_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-clean medications (prices still NULL/0 — the state the
    reference inspects at ING:94-112 before dropping invalid rows).

    Mirrors `MEDICATIONS_RAW_CTE` exactly — keep the two in sync.
    """
    return _derived(spark, sf_dir)[0]


def medications(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned medications table (post NULL/zero-price drop, ING:123 —
    the state the Delta sink freezes and every dashboard query reads)."""
    return _derived(spark, sf_dir)[1]


def _derive_raw(part: DataFrame) -> DataFrame:
    pk = F.col("p_partkey")

    price_raw = (pk * F.lit(7919)) % F.lit(1450)  # 0..1449, spans all buckets
    reference_rate = F.when(pk % 29 == 0, F.lit("N/A")).otherwise(
        F.concat(price_raw.cast("string"), F.lit(" DA"))
    )

    form_expr = F.when(pk % 17 == 2, F.lit(None).cast("string"))
    sized = F.col("p_size") % 8
    form_case = F.when(sized == 0, F.lit(_FORMS[0]))
    for i, name in enumerate(_FORMS[1:-1], start=1):
        form_case = form_case.when(sized == i, F.lit(name))
    form_case = form_case.otherwise(F.lit(_FORMS[-1]))

    df = (
        part.withColumn("reference_rate", reference_rate)
        # operator P3/P4: regex price extraction with safe cast
        .withColumn("price", extract_price(F.col("reference_rate")))
        .select(
            F.col("p_name").alias("name"),
            F.upper(F.substring("p_name", 1, 1)).alias("first_letter"),
            F.when(pk % 19 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("p_brand"))
            .alias("lab_name"),
            F.concat(F.lit("addr-"), (pk % 100).cast("string")).alias("lab_address"),
            F.concat(F.lit("021-"), (pk % 1000).cast("string")).alias("lab_tel"),
            F.when(pk % 5 == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("www."), F.lower(F.col("p_brand")), F.lit(".dz")))
            .alias("lab_web"),
            F.when(pk % 20 == 3, F.lit(None).cast("string"))
            .otherwise(F.concat(F.col("p_type"), F.lit(" "), (F.col("p_size") % 5).cast("string")))
            .alias("therapeutic_class"),
            F.when(pk % 23 == 5, F.lit(None).cast("string"))
            .otherwise(F.concat(F.col("p_type"), F.lit("-"), (F.col("p_size") % 10).cast("string")))
            .alias("pharmacological_class"),
            form_expr.otherwise(form_case).alias("form"),
            F.when(pk % 13 == 0, F.lit(""))
            .when(pk % 13 == 1, F.lit(None).cast("string"))
            .otherwise(F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)))
            .alias("generic"),
            F.col("reference_rate"),
            F.col("price"),
            price_category(F.col("price")).alias("price_category"),
            F.when(pk % 7 == 0, F.lit(None).cast("boolean"))
            .when(pk % 7 == 6, F.lit(False))
            .otherwise(F.lit(True))
            .alias("refundable"),
        )
    )
    return df


#: Shared derivation body (DuckDB dialect) — identical rows to
#: `medications_raw`.
_RAW_BODY = """
    SELECT
        p_name AS name,
        upper(substr(p_name, 1, 1)) AS first_letter,
        CASE WHEN p_partkey % 19 = 0 THEN NULL ELSE p_brand END AS lab_name,
        'addr-' || CAST(p_partkey % 100 AS VARCHAR) AS lab_address,
        '021-' || CAST(p_partkey % 1000 AS VARCHAR) AS lab_tel,
        CASE WHEN p_partkey % 5 = 0 THEN NULL
             ELSE 'www.' || lower(p_brand) || '.dz' END AS lab_web,
        CASE WHEN p_partkey % 20 = 3 THEN NULL
             ELSE p_type || ' ' || CAST(p_size % 5 AS VARCHAR) END AS therapeutic_class,
        CASE WHEN p_partkey % 23 = 5 THEN NULL
             ELSE p_type || '-' || CAST(p_size % 10 AS VARCHAR) END AS pharmacological_class,
        CASE WHEN p_partkey % 17 = 2 THEN NULL
             ELSE CASE p_size % 8
                  WHEN 0 THEN 'tablet' WHEN 1 THEN 'capsule' WHEN 2 THEN 'syrup'
                  WHEN 3 THEN 'injection' WHEN 4 THEN 'cream' WHEN 5 THEN 'drops'
                  WHEN 6 THEN 'powder' ELSE 'spray' END
        END AS form,
        CASE WHEN p_partkey % 13 = 0 THEN ''
             WHEN p_partkey % 13 = 1 THEN NULL
             ELSE split_part(p_name, ' ', 2) END AS generic,
        reference_rate,
        price,
        CASE WHEN price <= 100 THEN 'Low'
             WHEN price <= 500 THEN 'Medium'
             ELSE 'High' END AS price_category,
        CASE WHEN p_partkey % 7 = 0 THEN NULL
             WHEN p_partkey % 7 = 6 THEN FALSE
             ELSE TRUE END AS refundable
    FROM (
        SELECT
            *,
            TRY_CAST(regexp_extract(reference_rate, '(\\d+)', 1) AS INTEGER) AS price
        FROM (
            SELECT
                *,
                CASE WHEN p_partkey % 29 = 0 THEN 'N/A'
                     ELSE CAST((p_partkey * 7919) % 1450 AS VARCHAR) || ' DA'
                END AS reference_rate
            FROM part
        )
    )
"""

#: Pre-clean relation (parity with `medications_raw`).
MEDICATIONS_RAW_CTE = f"""
WITH medications_raw AS (
{_RAW_BODY}
)
"""

#: Cleaned relation — prepended to every dashboard oracle as
#: `WITH medications AS (...)`.
MEDICATIONS_CTE = f"""
WITH medications AS (
{_RAW_BODY}
    WHERE price IS NOT NULL AND price > 0
)
"""
