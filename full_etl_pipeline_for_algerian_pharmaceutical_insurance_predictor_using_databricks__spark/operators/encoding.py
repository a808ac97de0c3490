"""Categorical → ordinal feature encoding (reference W1, ML
notebook:94-120) — done the scale-safe way.

The reference encodes with `dense_rank().over(Window.orderBy(col))`:
an UNPARTITIONED window, which Spark executes by moving the entire
table to one partition (SURVEY §4.3.1 — the notebook even logs the
warning). Identical results, different physics, here:

    distinct values (small)  →  global rank over the distinct set
    →  broadcast-join back to the fact table

The window runs over |distinct| rows instead of |table| rows, and the
fact table is touched only by a map-side broadcast join. Encoding
output is bit-identical to the reference's dense_rank (dense_rank of a
value == rank of that value within the sorted distinct set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .dashboard import q13_ml_dataset
from .medications import MEDICATIONS_CTE

ENCODE_COLS = {
    "form": "form_idx",
    "therapeutic_class": "therapeutic_idx",
    "pharmacological_class": "pharmacological_idx",
    "lab_name": "lab_idx",
}


def encode_column(df: DataFrame, col: str, out: str) -> DataFrame:
    """Attach `out` = dense-rank ordinal (0-based) of `col`, via
    distinct + small-side window + broadcast join."""
    mapping = (
        df.select(col)
        .distinct()
        .withColumn(out, F.row_number().over(Window.orderBy(F.col(col))) - 1)
    )
    return df.join(F.broadcast(mapping), on=col, how="inner")


def ml_feature_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's encoded ML frame (ML:94-143): four ordinal
    features + binary label, price passthrough."""
    base = q13_ml_dataset(spark, sf_dir)
    df = base
    for col, out in ENCODE_COLS.items():
        df = encode_column(df, col, out)
    return df.select(
        F.col("price").cast("double").alias("price"),
        F.col("form_idx").cast("double").alias("form_idx"),
        F.col("therapeutic_idx").cast("double").alias("therapeutic_idx"),
        F.col("pharmacological_idx").cast("double").alias("pharmacological_idx"),
        F.col("lab_idx").cast("double").alias("lab_idx"),
        F.when(F.col("refundable_label") == True, 0.0)  # noqa: E712
        .otherwise(1.0)
        .alias("label"),
    )


#: Oracle uses the straight dense_rank form — semantically identical to
#: the broadcast-join encoding (that's the point of the test).
ML_FEATURE_ENCODING_SQL = """
SELECT
    CAST(price AS DOUBLE) AS price,
    CAST(DENSE_RANK() OVER (ORDER BY form) - 1 AS DOUBLE) AS form_idx,
    CAST(DENSE_RANK() OVER (ORDER BY therapeutic_class) - 1 AS DOUBLE) AS therapeutic_idx,
    CAST(DENSE_RANK() OVER (ORDER BY pharmacological_class) - 1 AS DOUBLE)
        AS pharmacological_idx,
    CAST(DENSE_RANK() OVER (ORDER BY lab_name) - 1 AS DOUBLE) AS lab_idx,
    CASE WHEN refundable_label THEN 0.0 ELSE 1.0 END AS label
FROM (
    SELECT
        price, form, therapeutic_class, pharmacological_class, lab_name,
        CASE WHEN refundable IS NULL THEN false ELSE refundable END AS refundable_label
    FROM medications
    WHERE price IS NOT NULL AND form IS NOT NULL AND therapeutic_class IS NOT NULL
      AND pharmacological_class IS NOT NULL AND lab_name IS NOT NULL
)
"""


QUERIES = {"ml_feature_encoding": ml_feature_encoding}

ORACLES = {"ml_feature_encoding": MEDICATIONS_CTE + ML_FEATURE_ENCODING_SQL}
