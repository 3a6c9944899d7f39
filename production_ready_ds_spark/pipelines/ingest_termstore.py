"""Batch-ingest full-text-index DAG: per-batch tokenize → append into
an accumulating TermStore, under the workflow incremental-target
pattern — the SEARCH-INDEX sibling of ingest_dedup (lexical dedup
state) and ingest_semdedup (vector index): the round-5 store family's
last member to get an ingest DAG.

The reference's daily pipeline materializes one day per target and
re-runs only missing targets (reference `01_classification_pipeline.py:
28-48,203-207`, backfill `run_pipeline.sh:6-11`). Applied to a search
index: each batch of documents is tokenized ONCE, its postings land as
one term-clustered TermStore segment, and the published per-batch
target is a one-row RECEIPT recording what the manifest gained — so
completeness checks are target-existence, exactly the Luigi
`output()` idea.

Crash ordering (the ingest_dedup rule): the store append runs FIRST,
the receipt publishes SECOND. A crash between the two leaves an
incomplete task that re-runs deterministically — and the re-run's
append is a no-op because ``skip_if_range_indexed`` recognizes the
batch's id range in the manifest (idempotence is TermStore.append's
contract, equivalence-tested in tests/test_termstore.py).

100 TB shape: per batch, work is O(batch) — tokenize + one
(term, doc) count shuffle + one clustered segment write; nothing
re-reads or re-tokenizes earlier batches, and post-ingest queries read
O(query terms) postings via the pushed In(term) inverted-list read
(plan-asserted in tests/test_ingest_termstore.py). Footer-open cost
grows with segment count: run ``TermStore.compact_tiered`` (or a full
``compact``) from the same single-writer slot."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..operators.termstore import TermStore
from ..workflow import Parameter, ParquetTarget, SparkTask

BATCH_SIZE = 250  # doc_ids per ingest batch: batch b = [b*SIZE, (b+1)*SIZE)


class IndexBatch(SparkTask):
    """Index one id-range batch of documents into the shared TermStore
    and publish a one-row receipt target (batch, n_docs, sum_dl) — the
    completeness marker the next run's target-existence check reads."""

    data_root = Parameter()
    source_path = Parameter()  # parquet of (doc_id, text, ...)
    batch = Parameter(default=0)

    def requires(self):
        b = int(self.batch)
        if b == 0:
            return []
        return [
            IndexBatch(
                data_root=self.data_root, source_path=self.source_path, batch=b - 1
            )
        ]

    def output(self):
        return ParquetTarget(
            os.path.join(str(self.data_root), "text_index", f"receipt={int(self.batch)}")
        )

    def _store(self) -> str:
        return os.path.join(str(self.data_root), "text_index", "term_store")

    def main(self, spark) -> None:
        from ..functions.text import tokens_expr

        b = int(self.batch)
        lo, hi = b * BATCH_SIZE, (b + 1) * BATCH_SIZE
        docs = spark.read.parquet(str(self.source_path))
        batch_docs = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

        store = TermStore(self._store())
        # Index FIRST (idempotent under skip_if_range_indexed — a
        # recompute after a crash or receipt deletion never duplicates
        # postings or double-counts manifest stats), publish SECOND.
        store.append(batch_docs, id_min=lo, id_max=hi - 1, skip_if_range_indexed=True)

        # the receipt re-derives the batch's document-level stats from
        # the source (deterministic on recompute, independent of
        # whether the append wrote or skipped)
        receipt = batch_docs.select(tokens_expr(F.col("text")).alias("ts")).agg(
            F.lit(b).alias("batch"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.size("ts")), F.lit(0)).cast("long").alias("sum_dl"),
        )
        receipt.coalesce(1).write.mode("overwrite").parquet(self.output().path)
