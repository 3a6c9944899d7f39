"""Table registry for the synthetic testdata lake.

Maps the TPC-H-ish star schema + LLM-pipeline tables (TESTDATA.md) to
DataFrames with explicit, verified schemas (schema-on-write discipline —
the reference reads everything as untyped CSV strings, reference
00_training_pipeline.py:129-132; we keep columnar parquet + real types).

Scale notes (100 TB design):
- All reads go through :func:`.filecache.read_parquet` → vectorized
  reader, predicate pushdown and column pruning from Catalyst; the
  schema is inferred (one Spark job per table) only on the first read
  of unchanged files, later reads reuse it and start no job.
- ``events.ts`` is INT64 TIMESTAMP(NANOS); Spark 4 refuses it unless
  ``spark.sql.legacy.parquet.nanosAsLong=true``, after which the column
  arrives as a long of nanoseconds. We convert with integer division
  (``ts div 1000`` → timestamp_micros) — float division would lose
  precision at 1e18 magnitudes. This matches DuckDB's microsecond
  truncation of the same column exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .filecache import read_parquet

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at ANY realistic scale factor
# (region=5 rows, nation=25 rows always; supplier/part grow slowly).
BROADCASTABLE = {"region", "nation", "supplier"}


def _ensure_nanos_conf(spark: SparkSession) -> None:
    # UTC session tz makes the long→timestamp→ntz conversion below a pure
    # wall-clock identity, matching DuckDB's naive microsecond read.
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover
            pass


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one registry table as a typed DataFrame.

    ``events`` gets the nanos→micros timestamp shim; everything else is a
    straight vectorized parquet scan.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = table_path(sf_dir, name)
    if name == "events":
        _ensure_nanos_conf(spark)
        df = read_parquet(spark, path)
        # The shim only applies when ts physically arrives as INT64
        # nanos (the driver's testdata); an events table written with a
        # real timestamp column (test fixtures, foreign lakes) passes
        # through untouched apart from the NTZ normalization.
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            # integer division keeps full microsecond precision (see
            # module doc); TIMESTAMP_NTZ so downstream outputs compare
            # tz-free like the other timestamp columns.
            return df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return read_parquet(spark, path)


def spread(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin repartition a too-narrow scan — ONLY when the source
    has fewer partitions than the target.

    Why: parquet can only split on row-group boundaries, so a small
    single-row-group file scans as ONE partition and serializes every
    downstream map stage onto one core (the sf0.1 documents.parquet is
    one 580 KB row group). At warehouse scale a table has thousands of
    row groups and this is a no-op (partitions >= target → returned
    untouched), so the exchange exists exactly when the data is small
    enough for it to be cheap.

    Measured guidance (sf0.1, local[32], interleaved A/B): worth it
    ONLY for pipelines doing heavy per-row CPU before their first
    shuffle — q_winnow_pairs (an md5 per token position) went 1.74 →
    1.38 s. For cheap map sides (tokenize/concat shingling, tf
    explode) the extra exchange + task overhead LOSES: jaccard 2.12 →
    2.29 s, tfidf 1.09 → 1.27 s — those paths stay unspread. The
    default target is defaultParallelism/4, which beat both
    parallelism/2 and full parallelism (32 tasks × many downstream
    stages swamp the gain at this scale).

    Round-robin does not alter aggregate/join results downstream —
    apply only where output order is re-established by keys. Place it
    BEFORE a localCheckpoint so the final plan shape is unchanged."""
    sc = df.sparkSession.sparkContext
    if parts is None:
        parts = max(2, sc.defaultParallelism // 4)
    if df.rdd.getNumPartitions() < parts:
        return df.repartition(parts)
    return df


#: compact_checkpoint partition-size target. 32 MB of cached bytes per
#: partition keeps a warehouse-scale frame at full width (a no-op past
#: ~1 GB cached) while collapsing bench-scale frames to the handful of
#: map tasks their size deserves.
CKPT_TARGET_BYTES = 32 * 1024 * 1024


def compact_checkpoint(df: DataFrame, *, storage_level=None, min_parts: int = 1) -> DataFrame:
    """Eager localCheckpoint + SIZE-ADAPTIVE narrowing of the cached
    frame's partition count — the checkpoint analogue of AQE partition
    coalescing (guide §2.2 "fewer, larger map tasks", §6 split sizing).

    Why: an eagerly checkpointed frame keeps its producer's partition
    count, and every downstream stage launches that many map tasks over
    it. The producer's width is chosen for the PRODUCER's CPU work
    (e.g. the 32-way spread feeding a fused decode kernel); the
    consumers — tier aggs, band explodes, self-join sides — pay
    per-map-task fixed costs (task launch + a shuffle-file set per
    task) that dominate when the cached frame is small. Round-11
    measurement (sf0.1, local[32], interleaved): one grouped agg over
    a 700 KB 32-partition checkpoint reads ~0.95 s; the identical agg
    over a coalesce(4) view of the SAME cached blocks reads ~0.33 s,
    and a synthetic floor probe scales 0.58 s → 0.21 s → 0.12 s at
    32 → 4 → 1 map partitions for identical work.

    How: materialize the checkpoint (producer parallelism unchanged —
    the blocks are already computed when coalesce attaches), read the
    cached byte size from the driver's block-manager registry (NO job:
    ``sc.getRDDStorageInfo()``), then ``coalesce`` — a zero-shuffle,
    zero-job re-view of the cached blocks — to
    ``ceil(bytes / CKPT_TARGET_BYTES)`` partitions, never widening. At
    warehouse scale the frame exceeds the target and keeps full width,
    so this is exactly the scale-adaptive shape the optimization brief
    demands (derive partitioning from measured size, not from a
    constant tuned for either local mode or the cluster). Falls back
    to the plain checkpoint when the registry row cannot be identified
    (e.g. concurrent checkpointing threads)."""
    sc = df.sparkSession.sparkContext
    registry = sc._jsc.sc().getRDDStorageInfo
    before = {info.id() for info in registry()}
    if storage_level is None:
        ck = df.localCheckpoint(eager=True)
    else:
        ck = df.localCheckpoint(eager=True, storageLevel=storage_level)
    fresh = [info for info in registry() if info.id() not in before]
    if not fresh:  # pragma: no cover - registry race under concurrency
        return ck
    info = max(fresh, key=lambda i: i.id())
    size = info.memSize() + info.diskSize()
    parts = info.numCachedPartitions()
    want = max(min_parts, int((size + CKPT_TARGET_BYTES - 1) // CKPT_TARGET_BYTES))
    if want < parts:
        return ck.coalesce(want)
    return ck


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (SQL entry point parity —
    the reference enables Hive support but never registers a table;
    reference 00_training_pipeline.py:121-126)."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
