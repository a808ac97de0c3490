"""Distributed ingestion of the reference's letter-keyed nested JSON
(operator S2, SURVEY.md §2.1).

The reference flattens `{"A": [{...}], "B": [...]}` with a Python
for-loop on the driver (Pharma_Ingestion_Cleaning.py:30-39) — O(dataset)
through driver memory. Here the flatten is a logical-plan transform:

    whole-file text row → from_json(map<letter, array<record>>) →
    sorted (letter, records) entries → explode → records

parsed once against the declared schema, with no inference job. At
real scale the landing format should be JSONL (one record per line,
splittable); `read_jsonl` covers that path with an explicit schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..schemas import RAW_MEDICATION

#: Element type of each letter's array — RAW_MEDICATION minus the
#: injected first_letter.
_RECORD_FIELDS = [f for f in RAW_MEDICATION.fields if f.name != "first_letter"]


def _as_strings(dt: T.DataType) -> T.DataType:
    """The parse type of a declared type: every leaf a string, structs
    kept, so a leaf of any JSON kind (number, boolean, string) parses
    and the cast to the declared type decides its value."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_strings(f.dataType)) for f in dt.fields]
        )
    return T.StringType()


#: The landing document as one value: letter → that letter's records.
_DOC_TYPE = T.MapType(
    T.StringType(),
    T.ArrayType(_as_strings(T.StructType(_RECORD_FIELDS))),
)


def _leaf(col: F.Column, dt: T.DataType) -> F.Column:
    """Cast a string-parsed field to its declared type; a struct is
    rebuilt field by field, so an absent or null parent gives a struct
    of NULLs, never a NULL struct."""
    if isinstance(dt, T.StructType):
        return F.struct(
            *[_leaf(col.getField(f.name), f.dataType).alias(f.name) for f in dt.fields]
        )
    return col.cast(dt)


def read_letter_keyed_json(spark: SparkSession, path: str) -> DataFrame:
    """Load the letter-keyed document and flatten to one row per
    medication, injecting `first_letter` (parity with ING:30-39).

    The file is read whole (`text(wholetext=True)`) and parsed once by
    `from_json` into `map<string, array<record>>`, each leaf parsed as a
    string and cast to its RAW_MEDICATION type: a numeric
    `reference_rate` keeps its JSON text, a `"true"` string `refundable`
    casts to true, and a missing field is NULL.  Letters come out in
    sorted order, records in document order.  A row no longer depends
    on the rest of the document: schema inference typed a field that
    was numeric in every record as double (120 read "120.0"), and
    failed outright when two letters inferred different types.

    The whole document is one row, so one task parses it — acceptable
    for the reference's ~3 MB feed; see `read_jsonl` for the scale
    path.

    A landing file that is not such a document raises instead of
    reading as zero rows, so a failed fetch never replaces the catalog
    table with an empty one: the parse is FAILFAST (a non-JSON body, a
    truncated download, a top level that is not an object of arrays),
    and an empty file raises here, since it gives the text reader no
    row at all."""
    doc = spark.read.text(path, wholetext=True)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.getContentSummary(jpath).getLength() == 0:
        raise ValueError(f"landing file {path} is empty")
    letters = doc.select(
        F.inline(
            F.array_sort(
                F.map_entries(F.from_json("value", _DOC_TYPE, {"mode": "FAILFAST"}))
            )
        )
    )
    med = letters.select(
        F.col("key").alias("first_letter"), F.explode("value").alias("med")
    )
    return med.select(
        *[_leaf(F.col("med").getField(f.name), f.dataType).alias(f.name) for f in _RECORD_FIELDS],
        "first_letter",
    )


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Scale path: JSONL landing zone, explicit schema, splittable —
    1000 executors each parse their own byte ranges."""
    return spark.read.schema(RAW_MEDICATION).json(path)
