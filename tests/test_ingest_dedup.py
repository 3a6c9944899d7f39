"""Batch-ingest dedup DAG (pipelines/ingest_dedup.py): cross-batch
rejection, canonical-lowest-id survival, completeness pruning, and
deterministic recompute after output deletion (despite the already-
appended signature store).
"""

from __future__ import annotations

import shutil

from production_ready_ds_spark.pipelines.ingest_dedup import BATCH_SIZE, DedupBatch
from production_ready_ds_spark.workflow import build

BODY = "a long shared body of text describing distributed analytics engines"


def _write_source(spark, path):
    rows = []
    # batch 0: ids 0..: one in-batch dup family (0, 1), singles after
    rows.append((0, BODY + " zero"))
    rows.append((1, BODY + " one"))  # near-dup of 0 (same batch)
    rows.append((2, "unique batch zero document about entirely other things"))
    # batch 1: ids BATCH_SIZE..: one cross-batch dup of doc 0, one new
    rows.append((BATCH_SIZE + 0, BODY + " later"))  # near-dup of 0/1 (earlier batch)
    rows.append((BATCH_SIZE + 1, "fresh second batch document with novel wording"))
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _accepted(spark, root, batch):
    return {
        r.doc_id
        for r in spark.read.parquet(f"{root}/ingest/batch={batch}").select("doc_id").collect()
    }


def test_cross_batch_rejection_and_pruning(spark, tmp_path):
    src = _write_source(spark, str(tmp_path / "docs"))
    root = str(tmp_path / "out")
    t1 = DedupBatch(data_root=root, source_path=src, batch=1)
    report = build([t1])
    # both batches ran (batch 0 is a dependency)
    assert len(report["ran"]) == 2
    assert _accepted(spark, root, 0) == {0, 2}, "in-batch dup keeps lowest id"
    assert _accepted(spark, root, 1) == {BATCH_SIZE + 1}, "cross-batch dup rejected"
    # second build: everything complete → nothing recomputes
    report2 = build([DedupBatch(data_root=root, source_path=src, batch=1)])
    assert report2["ran"] == []


def test_recompute_after_output_delete_is_identical(spark, tmp_path):
    src = _write_source(spark, str(tmp_path / "docs"))
    root = str(tmp_path / "out")
    build([DedupBatch(data_root=root, source_path=src, batch=1)])
    before = _accepted(spark, root, 1)
    store_rows = spark.read.parquet(f"{root}/ingest/sig_store").count()
    # delete batch 1's target; the store KEEPS batch 1's signatures
    shutil.rmtree(f"{root}/ingest/batch=1")
    report = build([DedupBatch(data_root=root, source_path=src, batch=1)])
    assert len(report["ran"]) == 1, "only the deleted batch recomputes"
    assert _accepted(spark, root, 1) == before, "recompute must be deterministic"
    assert (
        spark.read.parquet(f"{root}/ingest/sig_store").count() == store_rows
    ), "guarded append must not duplicate signatures"


def test_crash_between_index_and_publish_leaves_task_incomplete(spark, tmp_path, monkeypatch):
    """Crash-ordering contract: signatures are indexed BEFORE the output
    target is published, so a crash between the two writes must leave
    the task INCOMPLETE (target absent -> reruns recompute), never a
    complete-looking target whose signatures silently missed the store.
    The rerun then succeeds, reproduces the uncrashed accepted set, and
    the guarded append does not duplicate the crashed batch's
    signatures."""
    import os

    import pytest

    from production_ready_ds_spark.pipelines import ingest_dedup as mod

    src = _write_source(spark, str(tmp_path / "docs"))
    root = str(tmp_path / "out")

    orig_main = mod.DedupBatch.main

    class Boom(RuntimeError):
        pass

    def crashing_main(self, spark_):
        # run the real body, then delete the just-published target and
        # raise -- observationally identical to dying between the store
        # append and the target write becoming visible
        orig_main(self, spark_)
        shutil.rmtree(self.output().path)
        raise Boom("simulated crash between index and publish")

    monkeypatch.setattr(mod.DedupBatch, "main", crashing_main)
    with pytest.raises(Boom):
        build([DedupBatch(data_root=root, source_path=src, batch=0)])
    assert not os.path.exists(f"{root}/ingest/batch=0"), "no published target"
    # signatures DID reach the store before the crash (index-first order)
    store_rows = spark.read.parquet(f"{root}/ingest/sig_store").count()
    assert store_rows > 0

    # rerun without the crash: completes, deterministic, no dup signatures
    monkeypatch.setattr(mod.DedupBatch, "main", orig_main)
    report = build([DedupBatch(data_root=root, source_path=src, batch=0)])
    assert report["ran"] and not report["blocked"]
    assert _accepted(spark, root, 0) == {0, 2}
    assert spark.read.parquet(f"{root}/ingest/sig_store").count() == store_rows, (
        "guarded append must not re-add the crashed batch's signatures"
    )


def test_batch_that_triggers_a_fold_publishes_its_target(spark, tmp_path, monkeypatch):
    """The tiered fold runs AFTER the target is written: the accepted
    frame reads the earlier segments lazily, so folding them first
    removed the files it still had to read (FileNotFoundException on
    the batch whose append made a level ripe)."""
    from production_ready_ds_spark.operators.sigstore import SignatureStore
    from production_ready_ds_spark.pipelines import ingest_dedup as mod

    monkeypatch.setattr(mod, "COMPACT_EVERY", 2)
    src = _write_source(spark, str(tmp_path / "docs"))
    root = str(tmp_path / "out")
    report = build([DedupBatch(data_root=root, source_path=src, batch=1)])
    assert len(report["ran"]) == 2 and not report["blocked"]
    assert _accepted(spark, root, 0) == {0, 2}
    assert _accepted(spark, root, 1) == {BATCH_SIZE + 1}
    segs = SignatureStore(f"{root}/ingest/sig_store").segments()
    assert [s["level"] for s in segs] == [1], "batch 1 folded both segments"
