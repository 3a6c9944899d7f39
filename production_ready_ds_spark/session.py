"""SparkSession factory with scale-appropriate defaults.

The reference spawns one spark-submit per Luigi task with fixed resources
(reference 00_training_pipeline.py:97-101). Here a single tuned session is
shared; per-job knobs become runtime confs.

Defaults chosen for the 100 TB design brief:
- AQE on (runtime shuffle coalescing, skew-join splitting).
- Arrow on (fast toPandas / pandas_udf batches).
- ``spark.sql.legacy.parquet.nanosAsLong`` — the testdata ``events``
  table stores INT64 TIMESTAMP(NANOS) which Spark 4 otherwise rejects
  (PARQUET_TYPE_ILLEGAL); see tables.load_events.
- UTC session timezone so timestamp semantics line up with the DuckDB
  oracle and with any cluster regardless of host TZ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def configure(builder: SparkSession.Builder, shuffle_partitions: int | None = None) -> SparkSession.Builder:
    """Apply engine defaults to any SparkSession builder."""
    return (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate re-inlines the generator expression into
        # a pushed-down Filter; for the explode(expensive-array-expr)
        # shapes in the dedup family that recomputes tokenize+shingle per
        # row at the scan (measured 4× slowdown at sf0.1). explode of an
        # empty/null array already yields zero rows, so the inferred
        # filter only ever costs.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # pin ORC pushdown explicitly (it is the Spark default, but a
        # deployment flipping defaults must not silently lose the
        # scan-shape contract sources/orc.py asserts)
        .config("spark.sql.orc.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
    )


def get_spark(app_name: str = "production-ready-ds-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the shared tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    active session exists; on a real cluster leave it to spark-submit.
    """
    builder = configure(SparkSession.builder.appName(app_name))
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    # Local-mode heap knob: Spark's default driver heap is 1g, which is
    # the EXECUTOR memory too in local mode — 32 task threads share
    # ~360 MB of execution memory, and text-heavy aggregations at the
    # replicated stress scales die in spill-buffer allocation
    # (java.lang.OutOfMemoryError inside UnsafeSorterSpillReader, seen
    # at the 64× composed-curation stress; 16× fits). Opt-in via env so
    # the committed bench floor (measured on the default heap) stays
    # comparable; on a real cluster spark-submit owns this knob and the
    # builder conf is ignored for an already-running JVM.
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        builder = builder.config(
            "spark.driver.memory", os.environ["SPARK_GRAFT_DRIVER_MEM"]
        )
    return builder.getOrCreate()


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set the confs this engine relies on even when handed a foreign
    session (e.g. the verification driver's). All of these are
    runtime-settable in Spark 4."""
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        (
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        ),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - immutable conf on some builds
            pass
    return spark
