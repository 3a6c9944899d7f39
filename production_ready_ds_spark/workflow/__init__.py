"""Minimal Luigi-compatible workflow layer.

The reference is orchestrated by Luigi (tasks, targets, completeness
pruning, daily ranges, sensors — SURVEY.md §2a O1-O5). Luigi is not
installable in this environment, so this package reimplements the small
subset the reference uses, with the same semantics and near-identical
API, from the published Luigi programming model:

- :class:`Target` / :class:`LocalTarget` — output existence defines task
  completeness (reference 00_training_pipeline.py:26-27); LocalTarget
  writes are atomic temp-file-then-rename (reference S6).
- :class:`Task` — ``requires()`` / ``output()`` / ``run()`` with typed
  parameters declared as class attributes.
- :class:`ExternalTask` — a sensor on artifacts produced elsewhere
  (reference ModelExists, 01_classification_pipeline.py:129-133).
- :class:`SparkTask` — task whose ``main(spark)`` runs on the shared
  tuned SparkSession (the in-process analogue of the reference's
  spark-submit bridge O5).
- :func:`build` — the scheduler: DAG walk, completeness pruning,
  deterministic topological execution, cycle/failure handling.
- :func:`range_daily` — date-range backfill expansion with a
  ``days_back`` look-back window, newest-first (reference O4,
  run_pipeline.sh:6-11).
"""

from .core import (
    DateParameter,
    ExternalTask,
    IntParameter,
    LocalTarget,
    Parameter,
    ParquetTarget,
    SparkTask,
    Target,
    Task,
    WorkflowError,
    build,
    range_daily,
)
from .luigi_adapter import build_any, build_with_luigi

__all__ = [
    "DateParameter",
    "ExternalTask",
    "IntParameter",
    "LocalTarget",
    "Parameter",
    "ParquetTarget",
    "SparkTask",
    "Target",
    "Task",
    "WorkflowError",
    "build",
    "build_any",
    "build_with_luigi",
    "range_daily",
]
