"""Batch-ingest SEMANTIC dedup DAG: per-batch SemDeDup decisions
against an accumulating IVF vector index.

The embedding twin of :mod:`ingest_dedup` (round-4 verdict item 4):
where that DAG checks each document batch's MinHash signatures against
a SignatureStore, this one checks each embedding batch's vectors
against the :class:`~..operators.ivfstore.IVFStore` — same incremental
-target pattern, same crash ordering, same recompute determinism, and
the SAME decision kernel as the oracle-verified one-shot
(queries/llm.py ``_semantic_decisions`` / ``bucketed_cosine_pairs``):
a batch vector is dropped iff a smaller-id vector of the SAME inverted
list sits at cosine ≥ the threshold — min id canonical across batches,
exactly the one-shot SemDeDup rule, so incremental ≡ one-shot
(equivalence-tested in tests/test_ingest_semdedup.py).

Per-batch work is O(batch + probed lists):

- **assign** is a broadcast map pass over the batch (IVFStore.assign —
  one O(batch) argmin shuffle, never batch × k).
- the **earlier corpus** is read with ``read_lists`` pruned to the
  batch's OWN list ids (≤ k, in practice ≪ k per batch): a pushed
  ``In(list_id, …)`` over list-clustered segments reads only the
  probed lists' row groups, never the stored corpus
  (plan-asserted in tests/test_plans.py). "Earlier" is derived from
  the batch id RANGE (``vec_id < lo``), not from store content, so
  deleting a batch target and re-running reproduces identical
  decisions even though the store was already appended.
- the **pair stage** is the per-list BLAS matmul kernel — panels are
  (batch rows + stored rows of the touched lists) only.
- **append indexes the WHOLE batch**, dropped vectors included —
  deliberately: the ``_semantic_decisions`` rule drops v when ANY
  smaller-id neighbor crosses the threshold, dropped or not, so
  dropped vectors must remain as dedup evidence or incremental and
  one-shot would diverge on u→v→w chains where cos(u,w) < τ. This
  matches the lexical twin, which indexes every doc's signatures.
  (Readers wanting the deduped corpus consume the per-batch accepted
  targets, not the index.) The append is idempotent
  (``skip_if_range_indexed``) and runs BEFORE the target publish —
  a crash between the writes leaves an incomplete task that
  recomputes deterministically, never a complete-looking target
  whose vectors silently missed the index.

Batch 0 bootstraps the quantizer (IVFStore.train on its own vectors —
corpus-scaled k via scaled_ivf_k). At 100 TB, train once on a sample
sized for the FULL corpus (pass k=scaled_ivf_k(total_rows)) before the
first batch; every later batch only assigns.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..filecache import read_parquet
from ..operators.ann import bucketed_cosine_pairs
from ..operators.ivfstore import IVFStore
from ..queries.llm import EMBED_COS_THRESHOLD
from ..workflow import Parameter, ParquetTarget, SparkTask

VEC_BATCH_SIZE = 250  # vec_ids per ingest batch: batch b = [b*SIZE, (b+1)*SIZE)


class SemDedupBatch(SparkTask):
    """Accept the semantically-novel vectors of one ingest batch."""

    data_root = Parameter()
    source_path = Parameter()  # parquet of (vec_id, embedding)
    batch = Parameter(default=0)
    # 100 TB lever (round-9 verdict item 2): cap the batch-0 bootstrap
    # trainer at ~N deterministic content-hash-sampled rows while k
    # stays sized by the full bootstrap count. 0 = train on every row
    # (the small-corpus default).
    max_train_rows = Parameter(default=0)

    def requires(self):
        b = int(self.batch)
        if b == 0:
            return []
        return [
            SemDedupBatch(
                data_root=self.data_root,
                source_path=self.source_path,
                batch=b - 1,
                max_train_rows=self.max_train_rows,
            )
        ]

    def _namespace(self) -> str:
        """Directory namespace for targets AND the store — the training
        knob is part of the TARGET IDENTITY (the DedupNear keep_best
        convention): decisions trained under a different quantizer
        recipe must never be served as a silent no-op from the other
        variant's completed targets (review r10 #3)."""
        m = int(self.max_train_rows)
        return "ingest" if not m else f"ingest-mtr{m}"

    def output(self):
        return ParquetTarget(
            os.path.join(
                str(self.data_root), self._namespace(), f"vecbatch={int(self.batch)}"
            )
        )

    def _store(self) -> str:
        return os.path.join(str(self.data_root), self._namespace(), "ivf_store")

    def main(self, spark) -> None:
        b = int(self.batch)
        lo, hi = b * VEC_BATCH_SIZE, (b + 1) * VEC_BATCH_SIZE
        vecs = (
            read_parquet(spark, str(self.source_path))
            .select("vec_id", "embedding")
            .filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        )
        store = IVFStore(self._store())
        if store.centroids() is None:
            # batch-0 bootstrap; production trains on a corpus-sized
            # sample up front (module docstring)
            store.train(vecs, max_train_rows=int(self.max_train_rows) or None)
        assigned = store.assign(vecs).localCheckpoint(eager=True)

        # lists this batch touches — bounded by k (a sketch-sized set)
        lists = sorted(
            r["list_id"] for r in assigned.select("list_id").distinct().collect()
        )
        earlier = store.read_lists(spark, lists)
        panel = assigned.select(
            "vec_id", F.col("list_id").alias("pb"), "embedding"
        )
        index = panel
        if earlier is not None:
            index = panel.unionByName(
                earlier.filter(F.col("vec_id") < lo).select(
                    "vec_id", F.col("list_id").alias("pb"), "embedding"
                )
            )
        pairs = bucketed_cosine_pairs(
            panel, index, threshold=EMBED_COS_THRESHOLD
        ).distinct()
        # vec_b is the pair max → always the newer/larger id; a batch
        # vector is dropped iff it is the max of ANY threshold pair
        # (the one-shot min-id-wins rule, across batches)
        rejects = (
            pairs.select(F.col("vec_b").alias("vec_id"))
            .distinct()
            .filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        )
        accepted = vecs.join(rejects, "vec_id", "left_anti")

        # Index FIRST (idempotent), publish the target SECOND. The
        # decision pass already materialized the assignment — hand it
        # to append so the argmin map pass isn't paid twice.
        store.append(
            vecs,
            id_min=lo,
            id_max=hi - 1,
            skip_if_range_indexed=True,
            assigned=assigned,
        )
        accepted.write.mode("overwrite").parquet(self.output().path)

        # store maintenance AFTER publish (`accepted` above lazily
        # reads the pre-fold segment paths via read_lists until the
        # write consumes it): LSM fold bounds footer-open cost at
        # O(fanout·levels); idempotent, so a crash before it
        # self-heals on the next batch's fold
        from .ingest_dedup import COMPACT_EVERY

        store.compact_tiered(spark, fanout=COMPACT_EVERY)
