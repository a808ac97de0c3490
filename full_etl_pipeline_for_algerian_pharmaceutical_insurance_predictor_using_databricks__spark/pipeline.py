"""End-to-end ingestion pipeline — parity with the reference's
`Pharma_Ingestion_Cleaning.py` flow, re-expressed Spark-first
(SURVEY.md §3.1, §4.3):

    landing JSON → distributed flatten → struct extraction →
    price extraction/cleaning → price_category → medications sink

Reference anti-patterns fixed (SURVEY §4.3): flatten is distributed
(not a driver loop) and parses against the declared schema (no
inference job); stats come back in ONE aggregation job instead of four
counts, run alongside the table write instead of before it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import extract_price, price_category
from .parallel import run_concurrently
from .sources.json_ingest import read_letter_keyed_json
from .sources.sinks import read_back_verified, save_as_table, swap_in_table


@dataclass
class IngestStats:
    """The reference's inline price-analysis printout (ING:100-112) as a
    structured result — null + zero + valid must sum to total."""

    total: int
    null_price: int
    zero_price: int
    valid_price: int

    def __post_init__(self) -> None:
        assert self.null_price + self.zero_price + self.valid_price == self.total


def flatten_and_extract(raw: DataFrame) -> DataFrame:
    """Struct-field extraction (P1, ING:66-72) + price parse (P3/P4,
    ING:88-91) — narrow transforms only, no shuffle."""
    return raw.select(
        "name",
        "first_letter",
        F.col("lab.name").alias("lab_name"),
        F.col("lab.address").alias("lab_address"),
        F.col("lab.tel").alias("lab_tel"),
        F.col("lab.web").alias("lab_web"),
        F.col("class.therapeutic").alias("therapeutic_class"),
        F.col("class.pharmacological").alias("pharmacological_class"),
        "form",
        "generic",
        "reference_rate",
        extract_price(F.col("reference_rate")).alias("price"),
        "refundable",
    )


def price_stats(extracted: DataFrame) -> IngestStats:
    """One aggregation job for all four counts (the reference runs four
    separate jobs over the same lineage, ING:101-104)."""
    row = extracted.agg(
        F.count("*").alias("total"),
        F.count(F.when(F.col("price").isNull(), 1)).alias("null_price"),
        F.count(F.when(F.col("price") == 0, 1)).alias("zero_price"),
        F.count(F.when(F.col("price") > 0, 1)).alias("valid_price"),
    ).collect()[0]
    return IngestStats(
        total=row["total"],
        null_price=row["null_price"],
        zero_price=row["zero_price"],
        valid_price=row["valid_price"],
    )


def clean(extracted: DataFrame) -> DataFrame:
    """Drop invalid prices (ING:123) and derive price_category — the
    column the dashboard consumes but the reference never creates
    (SURVEY §1.2 gap)."""
    return extracted.filter(
        F.col("price").isNotNull() & (F.col("price") > 0)
    ).withColumn("price_category", price_category(F.col("price")))


def run_ingestion(
    spark: SparkSession,
    landing_path: str,
    table_name: str = "medications",
) -> tuple[DataFrame, IngestStats]:
    """Full pipeline: landing file → cleaned catalog table.

    Returns (saved DataFrame, ingest stats). The stats job and the
    sink write run concurrently, each parsing the landing document
    itself: a parse of one document costs less than filling and
    dropping a cache for it.  The write goes to a staged table that
    replaces `table_name` only once both jobs have succeeded, so a
    landing file that fails to parse leaves the previous table in
    place."""
    extracted = flatten_and_extract(read_letter_keyed_json(spark, landing_path))
    staged = f"{table_name}__staged"
    try:
        stats, _fmt = run_concurrently(
            lambda: price_stats(extracted),
            lambda: save_as_table(clean(extracted), staged),
        )
    except Exception:
        spark.sql(f"DROP TABLE IF EXISTS {staged}")
        raise
    swap_in_table(spark, staged, table_name)
    saved = read_back_verified(spark, table_name, expected_rows=stats.valid_price)
    return saved, stats
