"""filecache: a cached parquet schema or Spark ML model is served only
while the files it came from are unchanged, and a read served from the
cache equals the plain read. The job-count tests pin the point of the
cache: unchanged inputs launch no schema-inference or model-load job.
A derived directory is re-keyed by exactly the changes that re-key the
schema cache, and its builders run one at a time."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile
import threading
import time
import uuid
from contextlib import contextmanager
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from production_ready_ds_spark import filecache, tables
from production_ready_ds_spark.pipelines.classification import ClassifyDaily
from production_ready_ds_spark.pipelines.training import TrainModel
from production_ready_ds_spark.sql import run_sql
from production_ready_ds_spark.workflow import build


@contextmanager
def jobs_launched(spark):
    """Count the Spark jobs started inside the block (its own job group)."""
    sc = spark.sparkContext
    group = f"filecache-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job count")
    count: list[int] = []
    try:
        yield count
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        count.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _same_read(spark, path):
    """The plain read and two filecache reads (the second one served
    from the cache, launching no job) agree on schema and rows."""
    plain = spark.read.parquet(path)
    filecache.read_parquet(spark, path)
    with jobs_launched(spark) as n:
        cached = filecache.read_parquet(spark, path)
    assert n == [0], path
    assert cached.schema == plain.schema, path
    assert sorted(map(repr, cached.collect())) == sorted(map(repr, plain.collect())), path


@pytest.mark.parametrize("name", tables.TABLE_NAMES)
def test_cached_read_equals_plain_read_on_registry_tables(spark, sf_small, name):
    _same_read(spark, os.path.join(sf_small, f"{name}.parquet"))


def test_cached_read_equals_plain_read_on_nanos_timestamps(spark, tmp_path):
    path = str(tmp_path / "ns.parquet")
    pq.write_table(
        pa.table({
            "id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_001], pa.timestamp("ns")),
        }),
        path,
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _same_read(spark, path)


def test_cached_read_equals_plain_read_on_partitioned_dir(spark, tmp_path):
    root = tmp_path / "daily"
    for day, ids in (("2024-01-01", [1, 2]), ("2024-01-02", [3])):
        part = root / f"date={day}"
        part.mkdir(parents=True)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), str(part / "part-0.parquet"))
    (root / "_SUCCESS").touch()
    _same_read(spark, str(root))
    assert spark.read.parquet(str(root)).schema["date"].dataType.simpleString() == "date"


def test_fingerprint_lists_data_files_only(tmp_path):
    d = tmp_path / "t"
    (d / "k=1").mkdir(parents=True)
    for name in ("k=1/part-0.parquet", "_SUCCESS", ".part-0.parquet.crc", "k=1/_committed"):
        (d / name).write_bytes(b"x")
    fp = filecache.fingerprint(str(d))
    assert [os.path.relpath(e[0], d) for e in fp] == ["k=1/part-0.parquet"]
    part = d / "k=1" / "part-0.parquet"
    os.utime(part, ns=(0, part.stat().st_mtime_ns + 1))  # rewritten in place
    assert filecache.fingerprint(str(d)) != fp
    for path in (str(tmp_path / "missing"), "hdfs://nn/t", f"file://{d}", str(d / "*")):
        assert filecache.fingerprint(path) is None


def test_overwrite_with_a_new_schema_is_read_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), path)
    assert filecache.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": pa.array(["x"]), "c": pa.array([2.0])}), path)
    df = filecache.read_parquet(spark, path)
    assert df.columns == ["b", "c"] and df.collect()[0]["b"] == "x"


def test_schema_confs_are_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"raw": pa.array([b"ab"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert filecache.read_parquet(spark, path).dtypes == [("raw", "binary")]
        spark.conf.set(key, "true")
        assert filecache.read_parquet(spark, path).dtypes == [("raw", "string")]
    finally:
        spark.conf.set(key, before)


def test_flipping_nanos_as_long_infers_again(spark, tmp_path):
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("ns"))}), path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        spark.conf.set(key, "true")
        assert filecache.read_parquet(spark, path).dtypes == [("ts", "bigint")]
        spark.conf.set(key, "false")
        # inferred again: Spark refuses INT64 nanos without the conf
        # instead of being handed the bigint schema cached under "true"
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            filecache.read_parquet(spark, path)
    finally:
        spark.conf.set(key, "true")


@pytest.mark.parametrize("form", ["file://{}/region.parquet", "{}/regi*.parquet"])
def test_uri_or_glob_bypasses_the_cache(spark, sf_small, form):
    path = form.format(sf_small)
    filecache.read_parquet(spark, path)
    with jobs_launched(spark) as n:
        df = filecache.read_parquet(spark, path)
    assert n[0] >= 1 and df.count() == 5


# ----------------------------------------------------------- job counts --


def test_repeated_table_load_launches_no_job(spark, sf_small):
    tables.load(spark, sf_small, "orders")
    with jobs_launched(spark) as n:
        tables.load(spark, sf_small, "orders")
        tables.load(spark, sf_small, "events")  # the shimmed table too
    assert n == [0]


def test_run_sql_launches_no_job_once_schemas_are_cached(spark, sf_small):
    run_sql(spark, "SELECT 1", sf_small)
    with jobs_launched(spark) as n:
        df = run_sql(spark, "SELECT c_name FROM customer WHERE c_custkey = 1", sf_small)
    assert n == [0]
    assert df.count() == 1


def _flipped_corpus(sf_small: str, root) -> str:
    """An sf dir whose documents carry the opposite training label, so a
    model trained on it predicts differently."""
    docs = pq.read_table(os.path.join(sf_small, "documents.parquet"))
    lang = docs.column("lang").to_pylist()
    flipped = ["xx" if v == "en" else "en" for v in lang]
    root.mkdir()
    pq.write_table(
        docs.set_column(docs.schema.get_field_index("lang"), "lang", pa.array(flipped)),
        str(root / "documents.parquet"),
    )
    return str(root)


def test_classify_reuses_the_model_and_reloads_a_retrain(spark, sf_small, tmp_path):
    from pyspark.ml import PipelineModel

    roots = {"data_root": str(tmp_path / "lake"), "sf_dir": sf_small}
    build([TrainModel(version=1, **roots)])
    day1, day2, day3 = (dt.date(2024, 1, d) for d in (2, 3, 4))
    assert not build([ClassifyDaily(date=day1, version=1, **roots)])["blocked"]

    # a tick for a new day: only the fresh cleaned/ read and the write
    task = ClassifyDaily(date=day2, version=1, **roots)
    build(task.requires())
    with jobs_launched(spark) as n:
        task.run()
    assert n[0] <= 2

    # retrain into the same version path on a corpus with flipped labels
    model_dir = TrainModel(version=1, **roots).model_path
    old = PipelineModel.load(model_dir).stages[-1].toDebugString
    shutil.rmtree(os.path.join(roots["data_root"], "model", "1"))
    flipped = _flipped_corpus(sf_small, tmp_path / "flipped")
    build([TrainModel(version=1, data_root=roots["data_root"], sf_dir=flipped)])
    fresh = PipelineModel.load(model_dir)
    assert fresh.stages[-1].toDebugString != old

    assert not build([ClassifyDaily(date=day3, version=1, **roots)])["blocked"]
    out = os.path.join(roots["data_root"], "daily")
    got = spark.read.parquet(os.path.join(out, "ergebnis", f"date={day3}"))
    cleaned = spark.read.parquet(os.path.join(out, "cleaned", f"date={day3}"))
    want = fresh.transform(cleaned).select("event_id", "prediction")
    assert sorted(map(tuple, got.select("event_id", "prediction").collect())) == sorted(
        (r[0], float(r[1])) for r in want.collect()
    )


def test_load_model_keys_on_the_spark_context(spark, sf_small, tmp_path):
    roots = {"data_root": str(tmp_path), "sf_dir": sf_small}
    build([TrainModel(version=1, **roots)])
    path = TrainModel(version=1, **roots).model_path
    calls = []

    def loader(p):
        calls.append(p)
        return object()

    first = filecache.load_model(spark, loader, path)
    assert filecache.load_model(spark, loader, path) is first and len(calls) == 1

    restarted = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="local-restarted"))
    assert filecache.load_model(restarted, loader, path) is not first
    assert len(calls) == 2


@pytest.fixture
def derived(tmp_path, monkeypatch):
    """``derived(recipe, *sources)`` → the directory derived_dir yields,
    under a private temp dir."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    def root(recipe, *sources):
        with filecache.derived_dir("t", recipe, *sources) as d:
            return d

    return root


def _table(path, payload=b"x"):
    path.mkdir(parents=True, exist_ok=True)
    (path / "part-0.parquet").write_bytes(payload)
    return str(path)


def test_derived_dir_is_stable_while_data_files_are_unchanged(derived, tmp_path):
    src = _table(tmp_path / "documents.parquet")
    first = derived(1, src)
    assert derived(1, src) == first
    assert os.path.dirname(first) == tempfile.gettempdir()
    for name in ("_SUCCESS", ".part-0.parquet.crc"):  # Spark's side files
        (tmp_path / "documents.parquet" / name).write_bytes(b"")
    assert derived(1, src) == first


def test_derived_dir_rekeys_on_a_rewritten_source(derived, tmp_path):
    src = _table(tmp_path / "documents.parquet")
    first = derived(1, src)
    part = tmp_path / "documents.parquet" / "part-0.parquet"
    os.utime(part, ns=(0, part.stat().st_mtime_ns + 1))  # same size, new mtime
    touched = derived(1, src)
    assert touched != first
    _table(tmp_path / "documents.parquet", b"xy")  # new size
    assert derived(1, src) not in (first, touched)


def test_derived_dir_rekeys_on_a_new_recipe(derived, tmp_path):
    src = _table(tmp_path / "documents.parquet")
    assert derived((1, "a"), src) != derived((1, "b"), src)


def test_derived_dir_rekeys_when_only_the_second_source_changes(derived, tmp_path):
    emb = _table(tmp_path / "embeddings.parquet")
    docs = _table(tmp_path / "documents.parquet")
    first = derived(1, emb, docs)
    _table(tmp_path / "documents.parquet", b"xy")
    assert derived(1, emb, docs) != first


def test_derived_dir_serializes_builders(derived, tmp_path):
    src = _table(tmp_path / "documents.parquet")
    builds: list[str] = []
    start = threading.Barrier(4)

    def build():
        start.wait(timeout=30)
        with filecache.derived_dir("t", 1, src) as root:
            if not os.path.exists(root):  # the "already built?" test
                time.sleep(0.05)  # a build long enough for a race to show
                builds.append(root)
                os.makedirs(root)

    threads = [threading.Thread(target=build) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert builds == [derived(1, src)]
