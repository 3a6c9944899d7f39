"""Batch-ingest PERCEPTUAL dedup DAG: per-batch near-dup decisions for
ANY perceptual modality (image dHash, temporal-majority video dHash,
audio loudness-envelope hash) against an accumulating fingerprint
store — completing the incremental-ingest triad (lexical =
:mod:`ingest_dedup` via MinHash signatures, semantic =
:mod:`ingest_semdedup` via the IVF vector index, perceptual = this,
via banded bit-fingerprints in the SAME manifest-backed
SignatureStore layout, one store per modality under its own family
tag — the recipes share a layout but are NOT comparable, and the
family guard turns a mixed store into an error).

Same contract as both twins:

- **fingerprint once, ever**: a batch runs its modality's fused
  synth → decode → hash kernel (queries/multimodal
  *_fingerprints_for — byte-identical to the one-shot q_dedup_image/
  video/audio paths) exactly once; the store grows by the batch's 8
  banded rows per doc.
- **per-batch work is O(batch)**: the store side of the band-bucket
  candidate join is manifest-selected and pruned to the batch's
  bucket keys by a pushed ``In(key, ...)`` parquet filter over
  range-clustered segments (operators/dedup.incremental_hamming_dedup
  with ``earlier_below`` — the range-deterministic form).
- **recompute determinism**: "earlier corpus" is derived from the
  batch id RANGE (``doc_id < lo``), never from store content, so
  deleting a batch target and re-running reproduces identical
  decisions even though the fingerprints were already appended (the
  append is idempotent under skip_if_range_indexed).
- **crash ordering**: fingerprints are indexed BEFORE the accepted
  target is published — a crash between the writes leaves an
  incomplete task that recomputes deterministically, never a
  complete-looking target whose fingerprints missed the store.
- **min-id canonical across batches**: a batch doc is rejected iff it
  is the MAX id of any Hamming ≤ radius pair — earlier-batch ids are
  always smaller by the range batching, so the lowest id of every
  perceptual family survives, matching the cluster twins'
  keep-decision.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..filecache import read_parquet
from ..operators.dedup import (
    DHASH_FAMILY,
    ENVELOPE_FAMILY,
    VIDEO_DHASH_FAMILY,
    incremental_hamming_dedup,
)
from ..workflow import Parameter, ParquetTarget, SparkTask

PHASH_BATCH_SIZE = 250  # doc_ids per batch: batch b = [b*SIZE, (b+1)*SIZE)


def _modality_fingerprints(modality: str):
    """(fingerprint_fn, family_tag) for a perceptual modality — the
    fingerprint functions are the catalog queries' own (one kernel per
    modality, everywhere)."""
    from ..queries.multimodal import (
        audio_fingerprints_for,
        image_fingerprints_for,
        video_fingerprints_for,
    )

    table = {
        "image": (image_fingerprints_for, DHASH_FAMILY),
        "video": (video_fingerprints_for, VIDEO_DHASH_FAMILY),
        "audio": (audio_fingerprints_for, ENVELOPE_FAMILY),
    }
    if modality not in table:
        raise ValueError(
            f"unknown perceptual modality {modality!r} — one of {sorted(table)}"
        )
    return table[modality]


class PerceptualDedupBatch(SparkTask):
    """Accept the perceptually-novel documents of one ingest batch."""

    data_root = Parameter()
    source_path = Parameter()  # parquet of (doc_id, ...)
    batch = Parameter(default=0)
    modality = Parameter(default="image")  # image | video | audio

    def requires(self):
        b = int(self.batch)
        if b == 0:
            return []
        return [
            PerceptualDedupBatch(
                data_root=self.data_root,
                source_path=self.source_path,
                batch=b - 1,
                modality=self.modality,
            )
        ]

    def output(self):
        # modality is part of the TARGET IDENTITY (and of the store
        # path below): image decisions must never serve a video run
        return ParquetTarget(
            os.path.join(
                str(self.data_root),
                "ingest",
                f"{self.modality}-pbatch={int(self.batch)}",
            )
        )

    def _store(self) -> str:
        return os.path.join(
            str(self.data_root), "ingest", f"phash_store-{self.modality}"
        )

    def main(self, spark) -> None:
        fingerprint, family = _modality_fingerprints(str(self.modality))
        b = int(self.batch)
        lo, hi = b * PHASH_BATCH_SIZE, (b + 1) * PHASH_BATCH_SIZE
        docs = read_parquet(spark, str(self.source_path))
        batch_docs = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

        fp = fingerprint(batch_docs)
        # range-deterministic pairs + guarded append, one call — the
        # operator indexes the batch BEFORE we publish the target below
        pairs = incremental_hamming_dedup(
            fp, self._store(), family=family, earlier_below=lo
        )
        rejects = (
            pairs.select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        )
        accepted = batch_docs.join(rejects, "doc_id", "left_anti")
        accepted.write.mode("overwrite").parquet(self.output().path)

        # store maintenance AFTER publish (pairs above lazily read the
        # pre-fold segment paths until the write consumes them): LSM
        # fold bounds footer-open cost at O(fanout·levels); idempotent,
        # so a crash before it self-heals on the next batch's fold
        from ..operators.sigstore import SignatureStore
        from .ingest_dedup import COMPACT_EVERY

        SignatureStore(self._store(), family=family).compact_tiered(
            spark, fanout=COMPACT_EVERY
        )
