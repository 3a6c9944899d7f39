"""production_ready_ds_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference repo
``crazzle/production-ready-ds`` (a Luigi-orchestrated, PySpark-executed
text-classification workflow; see SURVEY.md), re-expressed Spark-first:

- ``tables``    — table registry for the TPC-H-ish testdata (explicit
                  schemas, the events ns-timestamp read shim).
- ``session``   — tuned SparkSession factory (AQE, Arrow, UTC).
- ``queries``   — the full declared query catalog (SURVEY.md §2b): every
                  operator as a (PySpark builder, DuckDB oracle SQL) pair.
- ``operators`` — reusable operator library (dedup, similarity, text
                  analysis, sessionization, multimodal plumbing).
- ``functions`` — scalar/vector column expression helpers.
- ``streaming`` — Structured Streaming twins of the event queries.
- ``workflow``  — a minimal Luigi-compatible DAG scheduler (Targets,
                  Tasks, completeness pruning, date ranges, sensors);
                  Luigi itself is not installable in this environment.
- ``pipelines`` — reference-parity training + daily classification DAGs.

Importing the package registers it, with every submodule, for cloudpickle
pickle-by-value: UDF, UDTF, data-source and mapInPandas bodies ship their
code inside the serialized task, so Python workers never need to import
``production_ready_ds_spark`` (a driver started outside the repo, or a
cluster without the package deployed). A worker body must still capture
what it uses from module scope: a ``from ..x import y`` inside the body
runs on the worker and needs the package there.
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

cloudpickle.register_pickle_by_value(sys.modules[__name__])
