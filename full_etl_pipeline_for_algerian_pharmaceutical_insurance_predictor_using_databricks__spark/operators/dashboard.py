"""The reference's 14 dashboard / feature-engineering queries
(pharmaceutical_dashboard_queries.sql) as Spark DataFrame builders.

Each builder has a paired DuckDB oracle in `ORACLES` (same column
aliases — the harness hash-compares by sorted column name). Queries
with LIMIT get deterministic tiebreakers appended to the ORDER BY in
BOTH implementations: the fixture data has heavy ties and a tie at the
LIMIT boundary would otherwise make the result set nondeterministic.

Scale notes (100 TB thinking):
- Every query is a scan → (optional filter) → hash-aggregate → small
  sort. Filters/projections sit directly on the scan so Catalyst pushes
  them into parquet (`PushedFilters`, `ReadSchema`).
- Pct-of-total scalar subqueries (Q4/Q5/Q12/Q14) are built as a
  cross-join against a 1-row aggregate — Spark broadcasts the single
  row; no driver round-trip, no second pass over the big table after
  AQE reuses the exchange.
- Top-k (Q2/Q3/Q6/Q10) becomes TakeOrderedAndProject — no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import (
    coverage_status,
    pct_of_total,
    price_bucket,
    price_category,
    refundable_label,
)
from .medications import (
    MEDICATIONS_CTE,
    MEDICATIONS_RAW_CTE,
    medications,
    medications_raw,
)

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def _grand_total(count_col: str) -> F.Column:
    """Denominator for pct-of-total, computed as a window sum over the
    ALREADY-AGGREGATED relation. The reference's scalar subquery
    (SQL:54 etc.) re-scans the table; since every one of these
    denominators equals the sum of its own group counts, the window
    form needs ONE scan and the window runs over a handful of grouped
    rows — trivially single-partition-safe at any input scale."""
    return F.sum(count_col).over(Window.partitionBy())


# --------------------------------------------------------------------------
# Query 1 — Market overview KPIs (SQL:8-15)
# --------------------------------------------------------------------------


def q01_overview(
    spark: SparkSession, sf_dir: str, approx_median: bool = False
) -> DataFrame:
    """``approx_median`` is the 100-TB knob (SURVEY §7 "what's hard" v):
    exact `percentile` buffers every value per group, while
    `percentile_approx` aggregates a fixed-size sketch (KLL-style,
    accuracy 1/10000 here) with map-side partials — constant memory at
    any scale. The oracle-checked tier stays exact."""
    med = medications(spark, sf_dir)
    median = (
        F.percentile_approx("price", 0.5, 10000)
        if approx_median
        else F.percentile("price", 0.5)
    )
    return med.agg(
        F.count("*").alias("total_medications"),
        F.countDistinct("lab_name").alias("manufacturers"),
        F.countDistinct("therapeutic_class").alias("disease_categories"),
        F.round(F.avg("price"), 0).cast("double").alias("avg_price_DA"),
        F.round(median, 0).cast("double").alias("median_price_DA"),
        F.max("price").alias("most_expensive_DA"),
    )


_Q01_SQL = """
SELECT
    COUNT(*) AS total_medications,
    COUNT(DISTINCT lab_name) AS manufacturers,
    COUNT(DISTINCT therapeutic_class) AS disease_categories,
    CAST(ROUND(AVG(price), 0) AS DOUBLE) AS avg_price_DA,
    CAST(ROUND(quantile_cont(price, 0.5), 0) AS DOUBLE) AS median_price_DA,
    MAX(price) AS most_expensive_DA
FROM medications
"""

# --------------------------------------------------------------------------
# Query 2 — Price distribution by disease area (SQL:20-31)  [flagship]
# --------------------------------------------------------------------------


def q02_price_by_disease_area(
    spark: SparkSession, sf_dir: str, min_drug_count: int = 30
) -> DataFrame:
    """`min_drug_count` parameterizes the HAVING threshold: the reference's
    30 assumes ~2,900 rows; the sf0.001 smoke fixture has ~190 cleaned
    rows, where 30 filters every group (entry() passes 3)."""
    return _q02_agg(medications(spark, sf_dir), min_drug_count)


def _q02_agg(med: DataFrame, min_drug_count: int) -> DataFrame:
    """Query 2 aggregate body over any medications-shaped frame — the
    parquet-CTE entry and the lake-table entry share it, so the two
    can only diverge in their SOURCE."""
    return (
        med.filter(F.col("therapeutic_class").isNotNull())
        .groupBy(F.col("therapeutic_class").alias("disease_area"))
        .agg(
            F.count("*").alias("drug_count"),
            F.round(F.avg("price"), 0).cast("double").alias("avg_price_DA"),
            F.round(F.min("price"), 0).cast("double").alias("min_price_DA"),
            F.round(F.max("price"), 0).cast("double").alias("max_price_DA"),
        )
        .filter(F.col("drug_count") >= min_drug_count)
        .orderBy(F.desc("avg_price_DA"), F.asc("disease_area"))
        .limit(12)
    )


_MEDALLION_LAKE_VERSION = 1


def q02_over_lake_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDALLION-fidelity entry (reference chain ING:211
    `format("delta")...saveAsTable` → ING:218 / ML:9 `spark.table`):
    the cleaned medications frame is SUNK into a Delta table (built
    once per sf like the serving indexes) and Query 2 runs UNCHANGED
    over the snapshot read — the dashboard pack over the lake tier,
    not the parquet CTE.  The oracle is Query 2's own SQL over the
    shared derivation, so a value match proves the sink → snapshot-read
    roundtrip content-exact."""
    import os

    from ..functions.scale import default_index_dir
    from ..sources import deltaproto

    path = os.path.join(
        default_index_dir("medallion_delta", _MEDALLION_LAKE_VERSION, sf_dir),
        "medications_lake",
    )
    if not deltaproto.delta_versions(path):
        deltaproto.write_delta(medications(spark, sf_dir), path)
    return _q02_agg(deltaproto.read_delta(spark, path), min_drug_count=30)


_Q02_SQL = """
SELECT
    therapeutic_class AS disease_area,
    COUNT(*) AS drug_count,
    CAST(ROUND(AVG(price), 0) AS DOUBLE) AS avg_price_DA,
    CAST(ROUND(MIN(price), 0) AS DOUBLE) AS min_price_DA,
    CAST(ROUND(MAX(price), 0) AS DOUBLE) AS max_price_DA
FROM medications
WHERE therapeutic_class IS NOT NULL
GROUP BY therapeutic_class
HAVING COUNT(*) >= 30
ORDER BY avg_price_DA DESC, disease_area ASC
LIMIT 12
"""

# --------------------------------------------------------------------------
# Query 3 — Top manufacturers (SQL:36-45)
# --------------------------------------------------------------------------


def q03_top_manufacturers(spark: SparkSession, sf_dir: str) -> DataFrame:
    med = medications(spark, sf_dir)
    return (
        med.filter(F.col("lab_name").isNotNull())
        .groupBy(F.col("lab_name").alias("manufacturer"))
        .agg(
            F.count("*").alias("products"),
            F.round(F.avg("price"), 0).cast("double").alias("avg_price_DA"),
            F.countDistinct("therapeutic_class").alias("disease_areas"),
        )
        .orderBy(F.desc("products"), F.asc("manufacturer"))
        .limit(10)
    )


_Q03_SQL = """
SELECT
    lab_name AS manufacturer,
    COUNT(*) AS products,
    CAST(ROUND(AVG(price), 0) AS DOUBLE) AS avg_price_DA,
    COUNT(DISTINCT therapeutic_class) AS disease_areas
FROM medications
WHERE lab_name IS NOT NULL
GROUP BY lab_name
ORDER BY products DESC, manufacturer ASC
LIMIT 10
"""

# --------------------------------------------------------------------------
# Query 4 — Market segmentation by price category (SQL:50-62)
# --------------------------------------------------------------------------


def q04_price_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    med = medications(spark, sf_dir)
    seg = med.groupBy("price_category").agg(
        F.count("*").alias("medications_count"),
        F.round(F.avg("price"), 0).cast("double").alias("avg_price_DA"),
    )
    order_rank = (
        F.when(F.col("price_category") == "Low", 1)
        .when(F.col("price_category") == "Medium", 2)
        .when(F.col("price_category") == "High", 3)
    )
    return seg.select(
        "price_category",
        "medications_count",
        "avg_price_DA",
        pct_of_total(
            F.col("medications_count"), _grand_total("medications_count")
        ).alias("market_pct"),
    ).orderBy(order_rank)


_Q04_SQL = """
SELECT
    price_category,
    COUNT(*) AS medications_count,
    CAST(ROUND(AVG(price), 0) AS DOUBLE) AS avg_price_DA,
    ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM medications), 1) AS market_pct
FROM medications
GROUP BY price_category
ORDER BY CASE price_category WHEN 'Low' THEN 1 WHEN 'Medium' THEN 2 WHEN 'High' THEN 3 END
"""

# --------------------------------------------------------------------------
# Query 5 — Medication forms distribution (SQL:67-76)
# --------------------------------------------------------------------------


def q05_form_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    med = medications(spark, sf_dir).filter(F.col("form").isNotNull())
    agg = med.groupBy("form").agg(
        F.count("*").alias("count"),
        F.round(F.avg("price"), 0).cast("double").alias("avg_price_DA"),
    )
    return (
        agg.select(
            "form",
            "count",
            "avg_price_DA",
            pct_of_total(F.col("count"), _grand_total("count")).alias("market_pct"),
        )
        .orderBy(F.desc("count"), F.asc("form"))
        .limit(8)
    )


_Q05_SQL = """
SELECT
    form,
    COUNT(*) AS count,
    CAST(ROUND(AVG(price), 0) AS DOUBLE) AS avg_price_DA,
    ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM medications WHERE form IS NOT NULL), 1)
        AS market_pct
FROM medications
WHERE form IS NOT NULL
GROUP BY form
ORDER BY count DESC, form ASC
LIMIT 8
"""

# --------------------------------------------------------------------------
# Query 6 — Top 15 most expensive medications (SQL:81-90)
# --------------------------------------------------------------------------


def q06_most_expensive(spark: SparkSession, sf_dir: str) -> DataFrame:
    med = medications(spark, sf_dir)
    return (
        med.filter(F.col("price").isNotNull())
        .select(
            "name",
            F.col("therapeutic_class").alias("disease_area"),
            F.col("lab_name").alias("manufacturer"),
            F.col("price").alias("price_DA"),
            "form",
        )
        .orderBy(
            F.desc("price_DA"),
            F.asc_nulls_first("name"),
            F.asc_nulls_first("disease_area"),
            F.asc_nulls_first("manufacturer"),
            F.asc_nulls_first("form"),
        )
        .limit(15)
    )


_Q06_SQL = """
SELECT
    name,
    therapeutic_class AS disease_area,
    lab_name AS manufacturer,
    price AS price_DA,
    form
FROM medications
WHERE price IS NOT NULL
ORDER BY price_DA DESC, name ASC NULLS FIRST, disease_area ASC NULLS FIRST,
         manufacturer ASC NULLS FIRST, form ASC NULLS FIRST
LIMIT 15
"""

# --------------------------------------------------------------------------
# Query 7 — Affordability metrics (SQL:95-100)
# --------------------------------------------------------------------------


def q07_affordability(spark: SparkSession, sf_dir: str) -> DataFrame:
    med = medications(spark, sf_dir).filter(F.col("price").isNotNull())
    affordable = F.count(F.when(F.col("price") <= 100, 1))
    premium = F.count(F.when(F.col("price") > 500, 1))
    return med.agg(
        F.round(affordable * 100.0 / F.count("*"), 1).alias("affordable_drugs_pct"),
        F.round(premium * 100.0 / F.count("*"), 1).alias("premium_drugs_pct"),
        F.round(F.avg(F.when(F.col("price") <= 100, F.col("price"))), 0)
        .cast("double")
        .alias("avg_affordable_price_DA"),
    )


_Q07_SQL = """
SELECT
    ROUND(COUNT(CASE WHEN price <= 100 THEN 1 END) * 100.0 / COUNT(*), 1)
        AS affordable_drugs_pct,
    ROUND(COUNT(CASE WHEN price > 500 THEN 1 END) * 100.0 / COUNT(*), 1)
        AS premium_drugs_pct,
    CAST(ROUND(AVG(CASE WHEN price <= 100 THEN price END), 0) AS DOUBLE)
        AS avg_affordable_price_DA
FROM medications
WHERE price IS NOT NULL
"""

# --------------------------------------------------------------------------
# Query 8 — Disease coverage statistics (two-level agg, SQL:105-113)
# --------------------------------------------------------------------------


def q08_disease_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    med = medications(spark, sf_dir)
    inner = (
        med.filter(F.col("therapeutic_class").isNotNull())
        .groupBy("therapeutic_class")
        .agg(F.count("*").alias("drugs_per_area"))
    )
    return inner.agg(
        F.countDistinct("therapeutic_class").alias("disease_areas_covered"),
        F.round(F.avg("drugs_per_area"), 0).cast("double").alias("avg_drugs_per_disease_area"),
    )


_Q08_SQL = """
SELECT
    COUNT(DISTINCT therapeutic_class) AS disease_areas_covered,
    CAST(ROUND(AVG(drugs_per_area), 0) AS DOUBLE) AS avg_drugs_per_disease_area
FROM (
    SELECT therapeutic_class, COUNT(*) AS drugs_per_area
    FROM medications
    WHERE therapeutic_class IS NOT NULL
    GROUP BY therapeutic_class
)
"""

# --------------------------------------------------------------------------
# Query 9 — Manufacturer size analysis (two-level agg + CASE group, SQL:118-142)
# --------------------------------------------------------------------------


def q09_manufacturer_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    med = medications(spark, sf_dir)
    inner = (
        med.filter(F.col("lab_name").isNotNull() & F.col("price").isNotNull())
        .groupBy("lab_name")
        .agg(F.count("*").alias("product_count"), F.avg("price").alias("avg_price"))
    )
    size_bucket = (
        F.when(F.col("product_count") >= 100, "Large (100+ products)")
        .when(F.col("product_count") >= 50, "Medium (50-99 products)")
        .otherwise("Small (<50 products)")
    )
    return (
        inner.groupBy(size_bucket.alias("manufacturer_size"))
        .agg(
            F.countDistinct("lab_name").alias("manufacturers"),
            F.round(F.avg("avg_price"), 0).cast("double").alias("avg_price_DA"),
            F.sum("product_count").alias("total_products"),
        )
        .orderBy(F.desc("avg_price_DA"))
    )


_Q09_SQL = """
SELECT
    CASE
        WHEN product_count >= 100 THEN 'Large (100+ products)'
        WHEN product_count >= 50 THEN 'Medium (50-99 products)'
        ELSE 'Small (<50 products)'
    END AS manufacturer_size,
    COUNT(DISTINCT lab_name) AS manufacturers,
    CAST(ROUND(AVG(avg_price), 0) AS DOUBLE) AS avg_price_DA,
    CAST(SUM(product_count) AS BIGINT) AS total_products
FROM (
    SELECT lab_name, COUNT(*) AS product_count, AVG(price) AS avg_price
    FROM medications
    WHERE lab_name IS NOT NULL AND price IS NOT NULL
    GROUP BY lab_name
)
GROUP BY 1
ORDER BY avg_price_DA DESC
"""

# --------------------------------------------------------------------------
# Query 10 — Top active ingredients (SQL:147-156)
# --------------------------------------------------------------------------


def q10_top_generics(spark: SparkSession, sf_dir: str) -> DataFrame:
    med = medications(spark, sf_dir)
    return (
        med.filter(F.col("generic").isNotNull() & (F.col("generic") != ""))
        .groupBy(F.col("generic").alias("active_ingredient"))
        .agg(
            F.count("*").alias("formulations"),
            F.round(F.avg("price"), 0).cast("double").alias("avg_price_DA"),
            F.countDistinct("lab_name").alias("manufacturers"),
        )
        .orderBy(F.desc("formulations"), F.asc("active_ingredient"))
        .limit(10)
    )


_Q10_SQL = """
SELECT
    generic AS active_ingredient,
    COUNT(*) AS formulations,
    CAST(ROUND(AVG(price), 0) AS DOUBLE) AS avg_price_DA,
    COUNT(DISTINCT lab_name) AS manufacturers
FROM medications
WHERE generic IS NOT NULL AND generic != ''
GROUP BY generic
ORDER BY formulations DESC, active_ingredient ASC
LIMIT 10
"""

# --------------------------------------------------------------------------
# Query 11 — Price range histogram (group-by-CASE + ORDER BY MIN, SQL:161-182)
# --------------------------------------------------------------------------


def q11_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    med = medications(spark, sf_dir)
    return (
        med.filter(F.col("price").isNotNull())
        .groupBy(price_bucket(F.col("price")).alias("price_range"))
        .agg(F.count("*").alias("medications"), F.min("price").alias("_ord"))
        .orderBy("_ord")
        .drop("_ord")
    )


_Q11_SQL = """
SELECT
    CASE
        WHEN price <= 50 THEN '0-50 DA'
        WHEN price <= 100 THEN '51-100 DA'
        WHEN price <= 200 THEN '101-200 DA'
        WHEN price <= 500 THEN '201-500 DA'
        WHEN price <= 1000 THEN '501-1000 DA'
        ELSE '1000+ DA'
    END AS price_range,
    COUNT(*) AS medications
FROM medications
WHERE price IS NOT NULL
GROUP BY 1
ORDER BY MIN(price)
"""

# --------------------------------------------------------------------------
# Query 12 — Insurance reimbursement statistics (tri-state, SQL:187-203)
# --------------------------------------------------------------------------


def q12_coverage_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    med = medications(spark, sf_dir)
    agg = med.groupBy(coverage_status("refundable").alias("coverage_status")).agg(
        F.count("*").alias("medications_count"),
        F.round(F.avg("price"), 0).cast("double").alias("avg_price_DA"),
    )
    return agg.select(
        "coverage_status",
        "medications_count",
        "avg_price_DA",
        pct_of_total(
            F.col("medications_count"), _grand_total("medications_count")
        ).alias("percentage"),
    ).orderBy(F.desc("medications_count"))


_Q12_SQL = """
SELECT
    CASE
        WHEN refundable = true THEN 'Covered by Insurance'
        WHEN refundable = false THEN 'Not Covered'
        ELSE 'Unknown'
    END AS coverage_status,
    COUNT(*) AS medications_count,
    CAST(ROUND(AVG(price), 0) AS DOUBLE) AS avg_price_DA,
    ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM medications), 1) AS percentage
FROM medications
GROUP BY 1
ORDER BY medications_count DESC
"""

# --------------------------------------------------------------------------
# Query 13 — ML dataset preparation (SQL:212-228)
# --------------------------------------------------------------------------


def q13_ml_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    med = medications(spark, sf_dir)
    return med.filter(
        F.col("price").isNotNull()
        & F.col("form").isNotNull()
        & F.col("therapeutic_class").isNotNull()
        & F.col("pharmacological_class").isNotNull()
        & F.col("lab_name").isNotNull()
    ).select(
        "price",
        "form",
        "therapeutic_class",
        "pharmacological_class",
        "lab_name",
        refundable_label("refundable").alias("refundable_label"),
    )


_Q13_SQL = """
SELECT
    price,
    form,
    therapeutic_class,
    pharmacological_class,
    lab_name,
    CASE WHEN refundable IS NULL THEN false ELSE refundable END AS refundable_label
FROM medications
WHERE price IS NOT NULL
  AND form IS NOT NULL
  AND therapeutic_class IS NOT NULL
  AND pharmacological_class IS NOT NULL
  AND lab_name IS NOT NULL
"""

# --------------------------------------------------------------------------
# Query 14 — Class imbalance check (SQL:233-245; NULL folds into 'Not Covered')
# --------------------------------------------------------------------------


def q14_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    med = medications(spark, sf_dir)
    label = F.when(F.col("refundable") == True, "Covered").otherwise("Not Covered")  # noqa: E712
    agg = med.groupBy(label.alias("label")).agg(F.count("*").alias("count"))
    return agg.select(
        "label",
        "count",
        pct_of_total(F.col("count"), _grand_total("count")).alias("percentage"),
    )


_Q14_SQL = """
SELECT
    CASE WHEN refundable = true THEN 'Covered' ELSE 'Not Covered' END AS label,
    COUNT(*) AS count,
    ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM medications), 1) AS percentage
FROM medications
GROUP BY 1
"""

# --------------------------------------------------------------------------
# Ingestion-notebook analytics (Pharma_Ingestion_Cleaning.py:152, 185-188)
# --------------------------------------------------------------------------


def refundable_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`groupBy(therapeutic_class, refundable).count()` — multi-key hash
    aggregate with NULLs as first-class group keys (ING:152)."""
    med = medications(spark, sf_dir)
    return med.groupBy("therapeutic_class", "refundable").agg(F.count("*").alias("count"))


_REFUNDABLE_BY_CLASS_SQL = """
SELECT therapeutic_class, refundable, COUNT(*) AS count
FROM medications
GROUP BY therapeutic_class, refundable
"""


def raw_price_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ING:95 — pre-clean price inspection ordered with
    `desc_nulls_last` (operator O1): NULL-price rows sink to the end
    regardless of sort direction."""
    med = medications_raw(spark, sf_dir)
    return (
        med.select("name", "reference_rate", "price")
        .orderBy(
            F.col("price").desc_nulls_last(),
            F.asc("name"),
            F.asc("reference_rate"),
        )
        .limit(10)
    )


_RAW_PRICE_ORDER_SQL = """
SELECT name, reference_rate, price
FROM medications_raw
ORDER BY price DESC NULLS LAST, name ASC, reference_rate ASC
LIMIT 10
"""


def medications_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaned medications relation itself — end-to-end check of the
    ingestion derivation (regex price extraction, try_cast, null/zero
    drop, bucketing, tri-state refundable)."""
    return medications(spark, sf_dir)


_MEDICATIONS_SQL = "SELECT * FROM medications"


QUERIES = {
    "med_q01_overview": q01_overview,
    "med_q02_price_by_disease_area": q02_price_by_disease_area,
    "med_q03_top_manufacturers": q03_top_manufacturers,
    "med_q04_price_segmentation": q04_price_segmentation,
    "med_q05_form_distribution": q05_form_distribution,
    "med_q06_most_expensive": q06_most_expensive,
    "med_q07_affordability": q07_affordability,
    "med_q08_disease_coverage": q08_disease_coverage,
    "med_q09_manufacturer_size": q09_manufacturer_size,
    "med_q10_top_generics": q10_top_generics,
    "med_q11_price_histogram": q11_price_histogram,
    "med_q12_coverage_status": q12_coverage_status,
    "med_q13_ml_dataset": q13_ml_dataset,
    "med_q14_class_balance": q14_class_balance,
    "med_ingest_clean": medications_table,
    "med_refundable_by_class": refundable_by_class,
    "med_raw_price_order": raw_price_order,
    "med_q02_lake_table": q02_over_lake_table,
}

ORACLES = {
    "med_q01_overview": MEDICATIONS_CTE + _Q01_SQL,
    "med_q02_price_by_disease_area": MEDICATIONS_CTE + _Q02_SQL,
    "med_q03_top_manufacturers": MEDICATIONS_CTE + _Q03_SQL,
    "med_q04_price_segmentation": MEDICATIONS_CTE + _Q04_SQL,
    "med_q05_form_distribution": MEDICATIONS_CTE + _Q05_SQL,
    "med_q06_most_expensive": MEDICATIONS_CTE + _Q06_SQL,
    "med_q07_affordability": MEDICATIONS_CTE + _Q07_SQL,
    "med_q08_disease_coverage": MEDICATIONS_CTE + _Q08_SQL,
    "med_q09_manufacturer_size": MEDICATIONS_CTE + _Q09_SQL,
    "med_q10_top_generics": MEDICATIONS_CTE + _Q10_SQL,
    "med_q11_price_histogram": MEDICATIONS_CTE + _Q11_SQL,
    "med_q12_coverage_status": MEDICATIONS_CTE + _Q12_SQL,
    "med_q13_ml_dataset": MEDICATIONS_CTE + _Q13_SQL,
    "med_q14_class_balance": MEDICATIONS_CTE + _Q14_SQL,
    "med_ingest_clean": MEDICATIONS_CTE + _MEDICATIONS_SQL,
    "med_refundable_by_class": MEDICATIONS_CTE + _REFUNDABLE_BY_CLASS_SQL,
    "med_raw_price_order": MEDICATIONS_RAW_CTE + _RAW_PRICE_ORDER_SQL,
    # the lake-table entry answers Query 2 exactly — same oracle SQL
    "med_q02_lake_table": MEDICATIONS_CTE + _Q02_SQL,
}
