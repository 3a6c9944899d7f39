"""The COMPOSED incremental curation-ingest DAG: one batch task that
chains exact → lexical → perceptual → semantic accept-decisions, each
stage consuming the previous stage's survivors, plus a quality
keep-best canonical view over the unified cross-stage families —
the triad DAGs (:mod:`ingest_dedup`, :mod:`ingest_phash`,
:mod:`ingest_semdedup`) composed into the corpus-refresh shape a
production training-data pipeline actually runs (round-10 verdict
item 3; the reference's multi-stage daily DAG, reference
`run_pipeline.sh:6-11` and `01_classification_pipeline.py:155-156`,
generalized to 100 TB).

Stage order is cheap-to-expensive and the chaining is the efficiency
contract: a byte-identical copy is rejected by one md5 groupBy and
never pays shingling; a textual mirror never pays perceptual decode;
only perceptually-novel survivors reach the embedding panel. Each
stage keeps the triad's shared contract —

- **fingerprint once, ever**: each store grows by exactly the batch's
  rows for the stage's survivors; nothing re-reads or re-hashes the
  corpus.
- **O(batch) store IO**: every store read is manifest-selected and
  pruned (In(key)/In(list_id) over range-clustered segments).
- **recompute determinism**: "earlier corpus" is the batch id RANGE
  (< lo), never store content; appends are idempotent
  (skip_if_range_indexed), so deleting a batch target and re-running
  reproduces identical decisions.
- **crash ordering**: all stage stores AND the edge ledger are written
  BEFORE the accepted target publishes — a crash leaves an incomplete
  task that recomputes deterministically, never a complete-looking
  target whose state silently missed a store.
- **min-id canonical across batches** for the chain's survivor set;
  the KEEP-BEST canonical (which may be a doc the min-id chain
  rejected) is served by :class:`CurationCanonicals`, a view over the
  append-only edge ledger.

Incremental ≡ one-shot: the accepted-target union equals
``q_curation_ingest``'s ``stage = 'kept'`` set, and the canonical view
equals its family labels + ``keep_best`` winners
(tests/test_ingest_curation.py) — every stage's keep-rule is
"rejected iff a smaller-id pair partner exists" and id-range batching
makes earlier ids exactly the earlier corpus.

The edge LEDGER is append-only (edges/batch=<b>, one parquet dir per
batch — O(batch) writes, no rewrites, crash-safe by the same
incomplete-task argument). The canonical view recomputes components
over the accumulated ledger: O(dup-graph), not O(corpus) — edges only
exist for duplicate families — and in production it runs as the
periodic corpus-refresh view (per-batch here so the tests pin it),
while per-batch ingest work stays O(batch).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..filecache import read_parquet
from ..operators.dedup import (
    incremental_exact_dedup,
    incremental_hamming_dedup,
    minhash_bands,
    minhash_candidates,
)
from ..operators.ivfstore import IVFStore
from ..operators.sigstore import SignatureStore, collect_prune_keys
from ..workflow import Parameter, ParquetTarget, SparkTask

CURATION_BATCH_SIZE = 250  # doc_ids per batch: batch b = [b*SIZE, (b+1)*SIZE)


def _modality_kernel(modality: str):
    """(fingerprint_fn, family_tag) — resolved from the kernel table in
    :mod:`queries.multimodal` (homed next to the kernels it maps) so
    the composed DAG's perceptual stage is the SAME kernel per modality
    as the one-shot catalog twin."""
    from ..queries.multimodal import perceptual_kernel

    return perceptual_kernel(modality)


class CurationIngestBatch(SparkTask):
    """Accept one batch's survivors of the composed curation chain and
    append the batch's pair evidence to the edge ledger."""

    data_root = Parameter()
    source_path = Parameter()  # parquet of (doc_id, text, n_chars, ...)
    embeddings_path = Parameter()  # parquet of (vec_id, embedding)
    batch = Parameter(default=0)
    modality = Parameter(default="image")  # perceptual stage kernel
    batch_size = Parameter(default=CURATION_BATCH_SIZE)

    def requires(self):
        b = int(self.batch)
        if b == 0:
            return []
        return [
            CurationIngestBatch(
                data_root=self.data_root,
                source_path=self.source_path,
                embeddings_path=self.embeddings_path,
                batch=b - 1,
                modality=self.modality,
                batch_size=self.batch_size,
            )
        ]

    def _root(self) -> str:
        # modality is part of the DAG identity (the ingest_phash rule):
        # image-chain decisions must never serve a video-chain run
        return os.path.join(
            str(self.data_root), "curation_ingest", str(self.modality)
        )

    def output(self):
        return ParquetTarget(
            os.path.join(self._root(), f"accepted-batch={int(self.batch)}")
        )

    def edges_dir(self) -> str:
        return os.path.join(self._root(), "edges", f"batch={int(self.batch)}")

    def main(self, spark) -> None:
        from ..functions.vectors import scaled_sign_planes, sign_bucket

        fingerprint, family = _modality_kernel(str(self.modality))
        b = int(self.batch)
        size = int(self.batch_size)
        lo, hi = b * size, (b + 1) * size
        root = self._root()
        docs = read_parquet(spark, str(self.source_path))
        batch_docs = docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )

        # -- stage 1: exact (md5 keep-min) ------------------------------
        ex_pairs = incremental_exact_dedup(
            batch_docs.select("doc_id", "text"),
            os.path.join(root, "exact_store"),
            earlier_below=lo,
        ).localCheckpoint(eager=True)
        s1 = batch_docs.join(
            ex_pairs.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti"
        )

        # -- stage 2: lexical MinHash over exact survivors --------------
        # (the ingest_dedup body, inlined: signatures for s1 only)
        fresh = minhash_bands(s1)
        store_lex = SignatureStore(os.path.join(root, "sig_store"))
        keys = collect_prune_keys(fresh)
        if keys == []:
            # nothing to check or index (an all-duplicates batch emptied
            # s1): skip the store read entirely — read_signatures with
            # keys=[] would scan the selected segments UNPRUNED, an
            # O(corpus) read this DAG's contract forbids (round-11
            # review #2; the incremental_* operators short-circuit the
            # same way)
            mh_pairs = (
                fresh.limit(0)
                .select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("doc_id").alias("doc_b"),
                )
                .localCheckpoint(eager=True)
            )
        else:
            earlier = store_lex.read_signatures(spark, id_below=lo, keys=keys)
            right = fresh if earlier is None else fresh.unionByName(earlier)
            mh_pairs = (
                minhash_candidates(fresh, right)
                .select("doc_a", "doc_b")
                .localCheckpoint(eager=True)
            )
        # empty batches are refused inside SignatureStore.append (the
        # zero-part-file poisoning guard lives in the store now)
        store_lex.append(
            fresh, id_min=lo, id_max=hi - 1, skip_if_range_indexed=True
        )
        s2 = s1.join(
            mh_pairs.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti"
        )

        # -- stage 3: perceptual over lexical survivors ------------------
        fp = fingerprint(s2)
        ph_pairs = (
            incremental_hamming_dedup(
                fp,
                os.path.join(root, "phash_store"),
                family=family,
                earlier_below=lo,
            )
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
        s3 = s2.join(
            ph_pairs.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti"
        )

        # -- stage 4: semantic sign-bucket SemDeDup over perceptual
        # survivors that have an embedding (docs without one pass) -----
        from ..queries.llm import EMBED_COS_THRESHOLD

        from ..operators.ann import bucketed_cosine_pairs

        emb = read_parquet(spark, str(self.embeddings_path)).select(
            "vec_id", "embedding"
        )
        # planes scaled by the FULL embeddings corpus — the quantizer is
        # corpus-global and FIXED across batches (the ingest_semdedup
        # bootstrap rule; the one cheap count() per batch is the price
        # of never persisting trainer state for a stateless quantizer)
        planes = scaled_sign_planes(emb.count())
        vecs = emb.join(
            s3.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        )
        store_sem = IVFStore(os.path.join(root, "sem_store"))
        assigned = vecs.withColumn(
            "list_id", sign_bucket(F.col("embedding"), planes)
        ).localCheckpoint(eager=True)
        lists = sorted(
            r["list_id"]
            for r in assigned.select("list_id").distinct().collect()
        )
        panel = assigned.select(
            "vec_id", F.col("list_id").alias("pb"), "embedding"
        )
        index = panel
        earlier_vecs = store_sem.read_lists(spark, lists)
        if earlier_vecs is not None:
            index = panel.unionByName(
                earlier_vecs.filter(F.col("vec_id") < lo).select(
                    "vec_id", F.col("list_id").alias("pb"), "embedding"
                )
            )
        sem_pairs = (
            bucketed_cosine_pairs(panel, index, threshold=EMBED_COS_THRESHOLD)
            .distinct()
            .select(
                F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
            )
            .filter((F.col("doc_b") >= lo) & (F.col("doc_b") < hi))
            .localCheckpoint(eager=True)
        )
        if lists:
            store_sem.append(
                vecs,
                id_min=lo,
                id_max=hi - 1,
                skip_if_range_indexed=True,
                assigned=assigned,
            )
        rejects_sem = sem_pairs.select(F.col("doc_b").alias("doc_id"))
        accepted = s3.join(rejects_sem, "doc_id", "left_anti")

        # -- ledger + publish (stores above are already appended; the
        # ledger lands BEFORE the target, the crash-ordering contract) --
        edges = (
            ex_pairs.unionByName(mh_pairs)
            .unionByName(ph_pairs)
            .unionByName(sem_pairs)
            .distinct()
        )
        edges.write.mode("overwrite").parquet(self.edges_dir())
        accepted.write.mode("overwrite").parquet(self.output().path)

        # -- store maintenance AFTER publish: the LSM leveled fold
        # keeps per-read footer-open cost O(fanout·levels) instead of
        # O(batches) (64 segment dirs per store at the 64× stress).
        # Safe here: every pair frame above is eager-checkpointed, so
        # nothing still reads the pre-fold segment paths; the fold is
        # an idempotent rewrite, so a crash before it leaves valid
        # stores and the next batch folds when ripe. Readers are
        # compaction-aware by contract (merged segments keep covering
        # id ranges; straddle filters apply id_below exactly).
        from ..operators.dedup import EXACT_FAMILY
        from .ingest_dedup import COMPACT_EVERY

        SignatureStore(
            os.path.join(root, "exact_store"), family=EXACT_FAMILY
        ).compact_tiered(spark, fanout=COMPACT_EVERY)
        store_lex.compact_tiered(spark, fanout=COMPACT_EVERY)
        SignatureStore(
            os.path.join(root, "phash_store"), family=family
        ).compact_tiered(spark, fanout=COMPACT_EVERY)
        store_sem.compact_tiered(spark, fanout=COMPACT_EVERY)


class CurationCanonicals(SparkTask):
    """The quality keep-best canonical view over the accumulated edge
    ledger: unified cross-stage families (connected components over
    every batch's edges) + one window selecting the highest-quality
    member per family (max n_chars, ties to lowest doc_id — the
    q_dedup_keep_best rule). Emits (doc_id, family_id, keep_best) over
    the full ingested spine; ``keep_best`` is the canonical corpus —
    which may keep a doc the min-id chain rejected (that is the
    point). O(dup-graph) per refresh, O(1) per doc served."""

    data_root = Parameter()
    source_path = Parameter()
    embeddings_path = Parameter()
    n_batches = Parameter()
    modality = Parameter(default="image")
    batch_size = Parameter(default=CURATION_BATCH_SIZE)

    def requires(self):
        return [
            CurationIngestBatch(
                data_root=self.data_root,
                source_path=self.source_path,
                embeddings_path=self.embeddings_path,
                batch=int(self.n_batches) - 1,
                modality=self.modality,
                batch_size=self.batch_size,
            )
        ]

    def output(self):
        return ParquetTarget(
            os.path.join(
                str(self.data_root),
                "curation_ingest",
                str(self.modality),
                f"canonicals-n={int(self.n_batches)}",
            )
        )

    def main(self, spark) -> None:
        from pyspark.sql import Window

        from ..operators.dedup import connected_components

        root = os.path.join(
            str(self.data_root), "curation_ingest", str(self.modality)
        )
        edge_dirs = [
            os.path.join(root, "edges", f"batch={i}")
            for i in range(int(self.n_batches))
        ]
        # explicit schema: a batch with zero pair evidence writes an
        # empty ledger dir, which schema inference would die on
        edges = (
            spark.read.schema("doc_a long, doc_b long")
            .parquet(*edge_dirs)
            .distinct()
        )
        fam = connected_components(edges).withColumnRenamed("node", "doc_id")
        # spine = the INGESTED id range only (docstring contract): the
        # source file may cover future batches, and a doc no dedup
        # stage has seen must not be published as a vetted canonical
        # with a family label its eventual ingestion would contradict
        # (round-11 review #1)
        hi = int(self.n_batches) * int(self.batch_size)
        spine = (
            read_parquet(spark, str(self.source_path))
            .filter(F.col("doc_id") < hi)
            .select("doc_id", "n_chars")
            .join(fam, "doc_id", "left")
            .withColumn(
                "family_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            )
            .drop("cluster_id")
        )
        w = Window.partitionBy("family_id").orderBy(
            F.desc("n_chars"), F.asc("doc_id")
        )
        spine.select(
            "doc_id",
            "family_id",
            (F.row_number().over(w) == 1).alias("keep_best"),
        ).write.mode("overwrite").parquet(self.output().path)
