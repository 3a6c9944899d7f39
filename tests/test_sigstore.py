"""SignatureStore (operators/sigstore.py): the manifest + range-
clustered-segment layout that makes per-batch ingest dedup O(batch)
instead of O(corpus).

What "per-batch input ~constant" means at test scale: physical bytes
can't show row-group pruning on kilobyte stores, so these tests pin the
MECHANISMS — (a) segment selection comes from the manifest (the read's
inputFiles never include later/non-intersecting segments, and the
known-ids probe for a new id range touches ZERO files), (b) the bucket-
key restriction appears in the scan's PushedFilters as In(key, ...)
(what row-group min/max stats evaluate at scale), and (c) the rows the
store contributes to the candidate join stay bounded by the colliding
docs as the store grows, not by store size.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from production_ready_ds_spark.operators.dedup import minhash_bands
from production_ready_ds_spark.operators.sigstore import SignatureStore
from production_ready_ds_spark.plans.audit import pushed_filters

BODY = "a long shared body of text describing distributed analytics engines"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bands_for(spark, lo, n, dup_of_zero=0):
    rows = [
        (lo + i, BODY + " common tail" if i < dup_of_zero else f"unique document {lo + i} about topic {lo + i} with words {lo + i}")
        for i in range(n)
    ]
    return minhash_bands(_docs(spark, rows))


def _store_with_batches(spark, root, n_batches=3, per_batch=4):
    store = SignatureStore(str(root))
    for b in range(n_batches):
        lo = b * 100
        bands = _bands_for(spark, lo, per_batch, dup_of_zero=1)
        store.append(bands, id_min=lo, id_max=lo + 99)
    return store


def test_append_creates_manifest_segments(spark, tmp_path):
    store = _store_with_batches(spark, tmp_path / "s", n_batches=3)
    segs = store.segments()
    assert [s["id_min"] for s in segs] == [0, 100, 200]
    assert len({s["seg"] for s in segs}) == 3
    # store root stays readable as plain parquet (ops / tests contract)
    assert spark.read.parquet(str(tmp_path / "s")).select("doc_id").distinct().count() == 12


def test_segments_are_range_clustered_on_band_key(spark, tmp_path):
    store = SignatureStore(str(tmp_path / "s"))
    bands = _bands_for(spark, 0, 40)
    store.append(bands, id_min=0, id_max=99, n_files=4)
    seg_dir = os.path.join(store.root, "seg=0")
    files = [f for f in os.listdir(seg_dir) if f.endswith(".parquet")]
    ranges = []
    for f in files:
        md = pq.read_metadata(os.path.join(seg_dir, f))
        names = md.schema.names
        bi, ki = names.index("band"), names.index("key")
        stats = [md.row_group(i) for i in range(md.num_row_groups)]
        lo = min((rg.column(bi).statistics.min, rg.column(ki).statistics.min) for rg in stats)
        hi = max((rg.column(bi).statistics.max, rg.column(ki).statistics.max) for rg in stats)
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) >= 2
    for (_, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, f"overlapping (band,key) file ranges: {hi_a} vs {lo_b}"


def _input_dirs(df):
    return {"/" + os.path.dirname(f).removeprefix("file:").lstrip("/") for f in df.inputFiles()}


def test_manifest_prunes_segment_selection(spark, tmp_path):
    store = _store_with_batches(spark, tmp_path / "s", n_batches=3)
    seg_paths = {s["seg"]: store.seg_path(s) for s in store.segments()}

    earlier = store.read_signatures(spark, id_below=200)
    assert _input_dirs(earlier) == {seg_paths[0], seg_paths[1]}, "id_below must exclude later segments"

    first = store.read_signatures(spark, id_below=100)
    assert _input_dirs(first) == {seg_paths[0]}

    assert store.read_signatures(spark, id_below=0) is None, "no earlier corpus for batch 0"


def test_known_ids_is_metadata_only_for_new_ranges(spark, tmp_path):
    store = _store_with_batches(spark, tmp_path / "s", n_batches=2)
    # a genuinely new id range intersects no manifest segment: no IO at all
    assert store.known_ids(spark, id_min=1000, id_max=1099) is None
    # declared segment ranges are [0,99] and [100,199]; actual ids are
    # 0-7 and 100-107 (sparse within the range, like any real batch)
    hit = store.known_ids(spark, id_min=100, id_max=250)
    assert hit is not None
    ids = {r.doc_id for r in hit.collect()}
    assert ids == {100, 101, 102, 103}


def test_key_restriction_is_pushed_to_parquet(spark, tmp_path):
    store = _store_with_batches(spark, tmp_path / "s", n_batches=2)
    probe = _bands_for(spark, 500, 2, dup_of_zero=1)
    keys = [r.key for r in probe.select("key").distinct().collect()]
    read = store.read_signatures(spark, keys=keys)
    pushed = " ".join(pushed_filters(read))
    assert "In(key" in pushed, f"key IN list must reach the parquet scan, got: {pushed}"


def test_join_input_stays_bounded_as_store_grows(spark, tmp_path):
    """The candidate join's store side after key pruning is sized by the
    COLLIDING docs (the dup family), not the store: growing the store
    4x with unrelated docs must not grow the probe's filtered read."""
    store = SignatureStore(str(tmp_path / "s"))
    sizes = []
    for b in range(4):
        lo = b * 100
        store.append(
            _bands_for(spark, lo, 8, dup_of_zero=1), id_min=lo, id_max=lo + 99
        )
        probe = _bands_for(spark, 9000, 1, dup_of_zero=1)  # dup of each batch's doc 0
        keys = [r.key for r in probe.select("key").distinct().collect()]
        sizes.append(store.read_signatures(spark, keys=keys).count())
    family_rows = sizes[0]
    assert family_rows > 0
    # one family member per batch: filtered rows grow by ~family_rows
    # per batch (the true colliders), NOT by the 8x bands per batch
    for b, n in enumerate(sizes):
        assert n <= family_rows * (b + 1) + 4, (sizes, "key pruning leaked unrelated rows")


def test_append_skip_if_range_indexed(spark, tmp_path):
    store = SignatureStore(str(tmp_path / "s"))
    bands = _bands_for(spark, 0, 3)
    assert store.append(bands, id_min=0, id_max=99, skip_if_range_indexed=True)
    rows = spark.read.parquet(store.root).count()
    assert not store.append(bands, id_min=0, id_max=99, skip_if_range_indexed=True)
    assert spark.read.parquet(store.root).count() == rows
    assert len(store.segments()) == 1


def test_compact_folds_segments_and_preserves_reads(spark, tmp_path):
    store = _store_with_batches(spark, tmp_path / "s", n_batches=3)
    before = sorted(map(tuple, spark.read.parquet(store.root).drop("seg").collect()))
    assert store.compact(spark) == 1
    segs = store.segments()
    assert len(segs) == 1 and segs[0]["id_min"] == 0 and segs[0]["id_max"] == 299
    after = sorted(map(tuple, spark.read.parquet(store.root).drop("seg").collect()))
    assert after == before
    # a compacted segment straddling the id bound falls back to a
    # pushed doc_id predicate — same earlier-corpus answer as pre-compact
    earlier = store.read_signatures(spark, id_below=200)
    ids = {r.doc_id for r in earlier.select("doc_id").distinct().collect()}
    assert ids == {0, 1, 2, 3, 100, 101, 102, 103}


def test_compact_tiered_cascades_and_preserves_reads(spark, tmp_path):
    """Leveled fold: 9 level-0 appends at fanout 3 cascade 3x(3->1) at
    level 1, then 3 level-1 -> one level-2 segment; data and the
    earlier-corpus answer survive every fold."""
    store = SignatureStore(str(tmp_path / "s"))
    for b in range(9):
        lo = b * 100
        store.append(_bands_for(spark, lo, 3), id_min=lo, id_max=lo + 99)
        store.compact_tiered(spark, fanout=3)
    segs = store.segments()
    assert len(segs) == 1 and segs[0]["level"] == 2, segs
    assert segs[0]["id_min"] == 0 and segs[0]["id_max"] == 899
    got = {r.doc_id for r in spark.read.parquet(store.root).select("doc_id").distinct().collect()}
    assert got == {b * 100 + i for b in range(9) for i in range(3)}
    earlier = store.read_signatures(spark, id_below=300)
    assert {r.doc_id for r in earlier.select("doc_id").distinct().collect()} == {
        0, 1, 2, 100, 101, 102, 200, 201, 202
    }


def test_compact_tiered_noop_below_fanout(spark, tmp_path):
    store = _store_with_batches(spark, tmp_path / "s", n_batches=3)
    assert store.compact_tiered(spark, fanout=8) == 3
    assert [s.get("level", 0) for s in store.segments()] == [0, 0, 0]


def test_collect_prune_keys_bounds_driver_collect(spark, monkeypatch):
    """The key probe must never ship more than MAX_PRUNE_KEYS+1 rows to
    the driver: under the cap it returns the keys, over the cap it
    returns None (skip pruning), empty frame returns []."""
    from production_ready_ds_spark.operators import sigstore as sg

    small = spark.range(5).selectExpr("id AS key")
    got = sg.collect_prune_keys(small)
    assert sorted(got) == [0, 1, 2, 3, 4]

    empty = spark.range(0).selectExpr("id AS key")
    assert sg.collect_prune_keys(empty) == []

    monkeypatch.setattr(sg, "MAX_PRUNE_KEYS", 3)
    wide = spark.range(10).selectExpr("id AS key")
    assert sg.collect_prune_keys(wide) is None


def test_delete_ids_rewrites_only_intersecting_segments(spark, tmp_path):
    """Right-to-be-forgotten: deleted doc ids vanish from every read
    path, segments whose id range cannot contain them keep their
    ORIGINAL directories (untouched bytes), and the store still
    answers joins for everyone else."""
    store = SignatureStore(str(tmp_path / "d"))
    store.append(_bands_for(spark, 0, 40), id_min=0, id_max=39)
    store.append(_bands_for(spark, 100, 140), id_min=100, id_max=139)
    before = {s["seg"]: s for s in store.segments()}

    n = store.delete_ids(spark, [5, 7])
    assert n == 1
    after = {s["seg"]: s for s in store.segments()}
    # the non-intersecting segment is the SAME registered directory
    assert after[1] == before[1] and os.path.isdir(os.path.join(store.root, "seg=1"))
    assert 0 not in after, "intersecting segment must be replaced, not edited"
    ids = {r.doc_id for r in store.read_signatures(spark).select("doc_id").collect()}
    assert {5, 7}.isdisjoint(ids)
    assert {0, 1, 100, 139} <= ids  # everyone else survives
    assert store.known_ids(spark, id_min=0, id_max=39).count() == 38
    # deleting ids no segment can contain is a metadata no-op
    assert store.delete_ids(spark, [10**12]) == 0


def test_foreign_hash_family_manifest_is_refused(spark, tmp_path):
    """A store built under a different MinHash family must refuse reads
    instead of silently joining incomparable signature integers (the
    ingest-recipe staleness rule). An EMPTY legacy manifest is harmless
    and keeps working."""
    import json

    import pytest

    store = SignatureStore(str(tmp_path / "fam"))
    store.append(_bands_for(spark, 0, 10), id_min=0, id_max=9)
    man = json.load(open(os.path.join(store.root, "_MANIFEST.json")))
    assert man["family"]  # stamped on every write
    man["family"] = "xxhash64-legacy"
    json.dump(man, open(os.path.join(store.root, "_MANIFEST.json"), "w"))
    with pytest.raises(ValueError, match="family"):
        store.segments()
    # empty store from an older layout: nothing to mis-join, allowed
    json.dump({"segments": []}, open(os.path.join(store.root, "_MANIFEST.json"), "w"))
    assert store.segments() == []


def test_oversized_key_list_reads_safely_unpushed(spark, tmp_path):
    """Round-11 regression: a pruned read with MORE keys than the
    parquet In-pushdown cap must still return correct rows — Spark
    converts a PUSHED In to a per-element OR-chain FilterPredicate
    whose evaluation stack-overflows between ~1000 and ~1500 long
    literals (first hit by a 5000-doc curation-ingest batch), so
    layout.ratchet_in_pushdown refuses to raise the threshold past
    MAX_IN_PUSHDOWN and the filter stays a post-scan InSet."""
    from production_ready_ds_spark.operators.layout import (
        MAX_IN_PUSHDOWN,
        ratchet_in_pushdown,
    )

    # the ratchet cap itself
    assert ratchet_in_pushdown(spark, 50)
    assert not ratchet_in_pushdown(spark, MAX_IN_PUSHDOWN + 1)
    thr = int(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold"))
    assert thr <= MAX_IN_PUSHDOWN + 1

    # a real store read with an oversized key list: 1 band x 2000 keys
    store = SignatureStore(str(tmp_path / "wide"), family="md5exact-v1")
    rows = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.xxhash64("id").alias("key"),
    )
    store.append(rows, id_min=0, id_max=1999)
    keys = [r.key for r in rows.select("key").collect()]
    assert len(keys) > MAX_IN_PUSHDOWN
    got = store.read_signatures(spark, keys=keys[:1500])
    # density rule (layout.pruned_isin): the store is SMALL (2000 rows,
    # recorded in the manifest at append), so the over-cap list stays a
    # single post-scan InSet scan — correct, no pushed OR-chain to
    # overflow, and measured faster than a chunk union when row groups
    # cannot prune anyway
    assert got.count() == 1500
    from production_ready_ds_spark.plans import explain_str

    assert "Union" not in explain_str(got)


def test_pruned_isin_chunks_on_large_stores(spark, tmp_path):
    """Over-cap value lists against a KNOWN-LARGE store must read as a
    union of ≤ MAX_IN_PUSHDOWN pushed Ins — bounded recursion per
    branch (a single pushed 1500-element OR-chain stack-overflows; the
    cliff moved between 750 and 1000 on the 64×-grown store read, so
    the cap rides low), row-group pruning preserved, exact result."""
    from production_ready_ds_spark.operators.layout import (
        CHUNKED_PRUNE_ROWS_PER_VALUE,
        MAX_IN_PUSHDOWN,
        pruned_isin,
    )
    from production_ready_ds_spark.plans import explain_str, pushed_filters

    path = str(tmp_path / "wide")
    spark.range(2000).select(
        F.col("id").alias("doc_id"), F.xxhash64("id").alias("key")
    ).write.parquet(path)
    df = spark.read.parquet(path)
    keys = [r.key for r in df.select("key").collect()]

    got = pruned_isin(
        spark, df, "key", keys[:1500] + [1, 2, 3],
        store_rows=1503 * CHUNKED_PRUNE_ROWS_PER_VALUE,
    )
    # misses fall out, disjoint chunks never duplicate a row
    assert got.count() == 1500

    # a DUPLICATE value straddling a chunk boundary must not surface
    # its rows twice (values are set()-deduped before chunking):
    # without the dedup, sorted() keeps both copies and the value lands
    # in two chunks whose unioned branches each match its rows
    dup_vals = sorted(keys[:1500])
    dup_vals = dup_vals[:MAX_IN_PUSHDOWN] + [dup_vals[MAX_IN_PUSHDOWN - 1]] + dup_vals[MAX_IN_PUSHDOWN:]
    dup = pruned_isin(
        spark, df, "key", dup_vals, store_rows=1503 * CHUNKED_PRUNE_ROWS_PER_VALUE
    )
    assert dup.count() == 1500
    n_chunks = -(-1503 // MAX_IN_PUSHDOWN)
    assert sum("In(key" in p for p in pushed_filters(got)) == n_chunks
    assert "Union" in explain_str(got)

    # small/unknown store: same rows, single InSet scan
    small = pruned_isin(spark, df, "key", keys[:1500], store_rows=2000)
    assert small.count() == 1500
    assert "Union" not in explain_str(small)


def test_store_write_does_not_poison_later_ml_jobs(spark, tmp_path):
    """Round-11 regression: capturing the written row count via a
    pyspark Observation on the write job left the session's
    ObservationManager reachable from later jobs' closures, and
    classifier-path jobs in the same JVM died with 'Task not
    serializable: NotSerializableException: ObservationManager' —
    four classifier tests failed in full-suite order while every
    isolated run passed. The count now comes from a plain post-write
    count job (row-group metadata, no column IO). The minimal
    append+fit shape below did NOT reproduce the poison (it needed
    the full classifier pipeline's closure shape), so this test is a
    smoke pin of the count path + an ML fit after an append; the full
    suite remains the real guard against reintroducing session-state
    capture in store writes."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    store = SignatureStore(str(tmp_path / "s"), family="md5exact-v1")
    rows = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.xxhash64("id").alias("key"),
    )
    assert store.append(rows, id_min=0, id_max=99)
    assert store.segments()[0]["rows"] == 100

    train = spark.createDataFrame(
        [(Vectors.dense([float(i), float(i % 3)]), float(i % 2)) for i in range(40)],
        ["features", "label"],
    )
    model = LogisticRegression(maxIter=5).fit(train)
    assert model.transform(train).count() == 40
