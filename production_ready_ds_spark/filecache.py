"""Serve metadata read earlier again while its files have not changed.

Two driver-side reads repeat on every request although their inputs
rarely change, and some derived state is costly to rebuild:

- A ``spark.read.parquet`` without a schema starts one Spark job that
  opens file footers to infer the schema. :func:`read_parquet` infers
  once and passes the cached schema to later reads of the same files
  (``spark.read.schema(s).parquet(...)`` starts no job).
- Loading a saved Spark ML model starts several jobs (metadata and
  stage reads). :func:`load_model` keeps the loaded model while its
  directory and the SparkContext stay the same.
- Indexes, models and staged copies built from the corpus persist under
  the temp dir. :func:`derived_dir` names their directory after the
  fingerprints of the files they derive from and serializes builders.

In the reference each task is its own ``spark-submit``, so nothing
could outlive a task (reference ``01_classification_pipeline.py``
reloads the model on every daily Classify). One shared session makes
this the driver-side overhead of every small job.

A cache entry is keyed on :func:`fingerprint`: path, size and mtime of
every data file, the identity Spark's own file-status cache and Hadoop
use. Any rewrite of the files (an overwrite, a new part file, a
retrain in place) changes the key and the next read infers or loads
again. A byte-identical copy that keeps mtimes (``cp -p``,
``shutil.copytree``, ``rsync -t``) keeps the key: the inode is left
out on purpose, so restoring a snapshot does not cost a model reload.
Paths that cannot be fingerprinted (missing files, URIs, glob
patterns) always take the plain read.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import stat
import tempfile
import threading
from collections import OrderedDict
from contextlib import contextmanager
from typing import Callable, Iterator, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: cached parquet schemas, least recently used evicted first
SCHEMA_CACHE_SIZE = 256

#: session confs that change how parquet types map to Spark types; their
#: values are part of the schema key
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

_GLOB_CHARS = frozenset("*?[{")

_lock = threading.Lock()
_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_models: dict[str, tuple[tuple, object]] = {}  # path → (key, model)

M = TypeVar("M")


def _local(path: str) -> str | None:
    """``path`` as an absolute local path, or None for a URI (any
    scheme, ``file:`` included) or a pattern Spark would glob."""
    if ":" in path or _GLOB_CHARS & set(path):
        return None
    return os.path.abspath(path)


def _skipped(name: str) -> bool:
    """Names Spark's file listing leaves out: hidden and ``_``-prefixed
    files (``_SUCCESS``, ``.crc``), but not ``k=v`` partition dirs."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _entry(path: str, st: os.stat_result) -> tuple:
    return (path, st.st_size, st.st_mtime_ns)


def fingerprint(path: str) -> tuple | None:
    """``(path, size, mtime_ns)`` of a local file, or the sorted
    tuple of that for every data file under a local directory. None for
    a missing or non-local path."""
    local = _local(str(path))
    if local is None:
        return None
    try:
        st = os.stat(local)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (_entry(local, st),)
    files = []
    try:
        for top, dirs, names in os.walk(local):
            dirs[:] = [d for d in dirs if not _skipped(d)]
            for name in names:
                if not _skipped(name):
                    full = os.path.join(top, name)
                    files.append(_entry(full, os.stat(full)))
    except OSError:  # a file vanished mid-walk: a rewrite is under way
        return None
    return tuple(sorted(files))


def _conf_values(spark: SparkSession) -> tuple:
    # effective values: an unset conf reads as its default, so setting
    # it to that default keeps the key
    return tuple(spark.conf.get(k) for k in SCHEMA_CONFS)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)``, inferring the schema only the
    first time these files are read under these confs."""
    prints = [fingerprint(p) for p in paths]
    if any(fp is None for fp in prints):
        return spark.read.parquet(*paths)
    key = (tuple(prints), _conf_values(spark))
    with _lock:
        schema = _schemas.get(key)
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    with _lock:
        _schemas[key] = df.schema
        while len(_schemas) > SCHEMA_CACHE_SIZE:
            _schemas.popitem(last=False)
    return df


def load_model(spark: SparkSession, loader: Callable[[str], M], path: str) -> M:
    """``loader(path)``, reusing the model loaded last from ``path`` while
    the SparkContext, the loader and the saved files are the same. Only
    the newest model per path is kept."""
    fp = fingerprint(path)
    if fp is None:
        return loader(path)
    key = (spark.sparkContext.applicationId, loader, fp)
    with _lock:
        hit = _models.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    model = loader(path)
    with _lock:
        _models[path] = (key, model)
    return model


@contextmanager
def derived_dir(name: str, recipe, *sources: str) -> Iterator[str]:
    """The temp directory for state built from ``sources`` by ``recipe``,
    held under an exclusive ``flock`` on ``<dir>.lock`` for the block.

    The directory name hashes ``recipe`` and the :func:`fingerprint` of
    every source, so a rewritten source or a changed recipe gets a fresh
    directory and stale state is never served. The lock serializes
    builders of the same directory across threads and processes (each
    entry opens the lock file anew); a caller checks for a finished
    build inside the block. The directory itself is not created."""
    key = repr((recipe, [fingerprint(s) for s in sources]))
    root = os.path.join(
        tempfile.gettempdir(), f"{name}_{hashlib.md5(key.encode()).hexdigest()[:16]}"
    )
    with open(root + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        yield root  # closing the file releases the lock
