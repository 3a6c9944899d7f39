"""SQL entry point: run ANSI SQL strings against the registry tables.

The reference has no SQL surface at all — its "query language" is the
DataFrame DSL inside spark-submit jobs (reference
`00_training_pipeline.py:129-141`), and although it enables Hive support
it never registers a table (reference `00_training_pipeline.py:121-126`).
An analytics engine needs the string entry point too; both paths compile
to the same Catalyst plans, so SQL here is a second door into the exact
same optimizer (predicate pushdown, broadcast selection, AQE) the
DataFrame catalog queries get.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .session import ensure_runtime_confs
from .tables import DEFAULT_SF_DIR, register_views


def run_sql(spark: SparkSession, statement: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Execute one SQL statement with the ten registry tables visible as
    temp views (``region nation customer supplier part orders lineitem
    events documents embeddings``).

    Views are (re)registered on every call, so they always point at the
    requested ``sf_dir``. Registration scans no data, but the first read
    of a table infers its parquet schema: one Spark job per table. Later
    calls over unchanged files reuse the schemas cached by
    :func:`.filecache.read_parquet` and launch no job before the
    statement runs.
    """
    ensure_runtime_confs(spark)
    register_views(spark, sf_dir)
    return spark.sql(statement)
