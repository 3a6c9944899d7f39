"""CSV source matching the reference's conventions.

The reference reads/writes semicolon-delimited UTF-8 CSV with a header
row and double-quoted fields that may contain EMBEDDED NEWLINES
(daily/02-19-2018/roh.csv is 134 physical lines for 32 records —
pandas to_csv quoting, reference 00_training_pipeline.py:34-35). Spark
needs multiLine + quote-escape options or those records shred; this
module centralizes the exact option set (SURVEY.md §1.3, S3/S4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

REFERENCE_CSV_OPTIONS = {
    "sep": ";",
    "header": "true",
    "quote": '"',
    "escape": '"',
    "multiLine": "true",
    "encoding": "UTF-8",
}


def read_reference_csv(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """Read a reference-convention CSV. Pass an explicit DDL schema
    where known (the reference omits inferSchema and gets all-string
    columns — S4, 00_training_pipeline.py:129-132; we make typing
    explicit instead)."""
    reader = spark.read.options(**REFERENCE_CSV_OPTIONS)
    if schema:
        reader = reader.schema(schema)
    return reader.csv(path)
