"""The composed curation-ingest chain: exact → lexical → perceptual →
semantic dedup with a quality keep-best canonical view, as ONE one-shot
query (`q_curation_ingest`) — the batch twin of the incremental
:mod:`..pipelines.ingest_curation` DAG (round-10 verdict item 3).

The reference's whole identity is a multi-stage incremental DAG
(reference `run_pipeline.sh:6-11`, `01_classification_pipeline.py:
155-156`: fetch → clean → classify, chained per day). This module is
that shape generalized to the 100 TB corpus-refresh: each stage
consumes the PREVIOUS stage's survivors, ordered cheap-to-expensive —

1. **exact** (md5 keep-min, the q_dedup_exact rule): a doc is rejected
   iff a smaller-id doc carries the same content hash.
2. **lexical** (MinHash LSH, the q_dedup_minhash md5+affine family):
   over exact survivors only — never pay shingling for byte-identical
   copies.
3. **perceptual** (image dHash at the RAW band tier — the incremental
   store's blocking, `incremental_hamming_dedup`): over lexical
   survivors only — never pay decode for textual mirrors. The DAG
   parametrizes the modality (image/video/audio); the catalog twin
   pins image.
4. **semantic** (SemDeDup sign-bucket cosine, the q_dedup_semantic
   blocking with planes scaled by the FULL embeddings corpus): over
   perceptual survivors that have an embedding; docs without
   embeddings pass through.
5. **quality keep-best**: the four stages' pair evidence unions into
   ONE component graph (the q_dedup_multimodal_clusters discipline);
   within each unified family the canonical is the HIGHEST-QUALITY
   member (max n_chars, ties to lowest doc_id — the q_dedup_keep_best
   rule), which may be a doc the min-id chain rejected.

Chaining is the efficiency contract AND a recall statement: a doc
rejected at stage k is never fingerprinted by stage k+1, so families
connect only through survivors' evidence (two docs whose only link is
a perceptual match between two LEXICALLY-rejected copies stay separate
families — the funnel trades that recall for never running expensive
detectors on known duplicates; the un-chained full-evidence graph is
q_dedup_multimodal_clusters).

Every decision is deterministic and SQL-replayable (the md5 hash, the
md5+affine MinHash family, the closed-form dHash synth at raw tier,
the sign-bucket blocking), so the WHOLE composed chain — gates,
survivor sets, family labels, and the keep-best winners — sits under
the driver hash gate. The oracle embeds the stage texts verbatim and
declares the three stage pair sets as MATERIALIZED CTEs, so DuckDB
evaluates each once however often the chain reads it.

Incremental ≡ one-shot: the id-range-batched DAG reproduces exactly
this query's survivor sets and canonical view
(tests/test_ingest_curation.py) because every stage's keep-rule is
"rejected iff a smaller-id pair partner exists" and every store
derives its "earlier corpus" from the batch id RANGE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import query
from .llm import (
    _DUCK_BUCKET_SCALED,
    _DUCK_PLANES_CTE,
    _MINHASH_SQL,
    EMBED_COS_THRESHOLD,
    _scaled_planes_for,
)
from .multimodal import _DHASH_RADIUS, _DHASH_SQL_RAW

# Stage fragments restricted to the previous stage's survivors: the
# standalone oracle texts are embedded VERBATIM as nested-WITH
# subqueries (the q_dedup_multimodal_clusters composition convention —
# neither detector's replay can drift from its standalone query,
# because it IS that query's text), with only the source-table
# reference rebound to the survivor CTE. Each fragment reads
# `FROM documents` exactly once (asserted below), so the rebind is a
# plain textual substitution.
_MH_SQL_S1 = _MINHASH_SQL.replace("FROM documents", "FROM s1")
_PH_SQL_S2 = _DHASH_SQL_RAW.replace("FROM documents", "FROM s2")
for _frag, _src in ((_MINHASH_SQL, _MH_SQL_S1), (_DHASH_SQL_RAW, _PH_SQL_S2)):
    if _frag.count("FROM documents") != 1 or "FROM documents" in _src:
        raise AssertionError(
            "stage oracle fragment no longer reads `FROM documents` "
            "exactly once — the curation-ingest rebind would compose "
            "the wrong doc set"
        )

_CURATION_INGEST_SQL = f"""
    WITH RECURSIVE
    exk AS (
      SELECT md5(text) AS h, MIN(doc_id) AS keep_id
      FROM documents GROUP BY md5(text)
    ),
    s1 AS (
      SELECT d.* FROM documents d
      JOIN exk ON exk.h = md5(d.text) AND exk.keep_id = d.doc_id
    ),
    ex_edges AS (
      SELECT exk.keep_id AS doc_a, d.doc_id AS doc_b
      FROM documents d
      JOIN exk ON md5(d.text) = exk.h AND d.doc_id > exk.keep_id
    ),
    -- MATERIALIZED: DuckDB 1.0 inlines a plain CTE at every reference,
    -- and each pair set is read 3-4 times below (alledges twice more in
    -- cedges); inlined, the stage fragments re-run and exhaust memory.
    mh_pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({_MH_SQL_S1})),
    s2 AS (
      SELECT * FROM s1
      WHERE doc_id NOT IN (SELECT doc_b FROM mh_pairs)
    ),
    ph_pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({_PH_SQL_S2})),
    s3 AS (
      SELECT * FROM s2
      WHERE doc_id NOT IN (SELECT doc_b FROM ph_pairs)
    ),
    {_DUCK_PLANES_CTE},
    semb AS (
      SELECT e.vec_id, {_DUCK_BUCKET_SCALED} AS bucket,
             CAST(e.embedding AS DOUBLE[]) AS de
      FROM embeddings e JOIN s3 ON s3.doc_id = e.vec_id, planes
    ),
    sem_pairs AS MATERIALIZED (
      SELECT a.vec_id AS doc_a, c.vec_id AS doc_b
      FROM semb a JOIN semb c
        ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      WHERE list_cosine_similarity(a.de, c.de) >= {EMBED_COS_THRESHOLD}
    ),
    alledges AS (
      SELECT doc_a, doc_b FROM ex_edges
      UNION SELECT doc_a, doc_b FROM mh_pairs
      UNION SELECT doc_a, doc_b FROM ph_pairs
      UNION SELECT doc_a, doc_b FROM sem_pairs
    ),
    cedges AS (
      SELECT doc_a AS s, doc_b AS t FROM alledges
      UNION
      SELECT doc_b AS s, doc_a AS t FROM alledges
    ),
    cnodes AS (SELECT DISTINCT s AS node FROM cedges),
    creach(node, lbl) AS (
      SELECT node, node FROM cnodes
      UNION
      SELECT e.t, r.lbl FROM creach r JOIN cedges e ON e.s = r.node
    ),
    fam AS (SELECT node AS doc_id, MIN(lbl) AS family_id
            FROM creach GROUP BY node),
    spine AS (
      SELECT d.doc_id,
             CAST(COALESCE(f.family_id, d.doc_id) AS BIGINT) AS family_id,
             d.n_chars,
             CASE
               WHEN d.doc_id NOT IN (SELECT doc_id FROM s1) THEN 'exact'
               WHEN d.doc_id IN (SELECT doc_b FROM mh_pairs) THEN 'lexical'
               WHEN d.doc_id IN (SELECT doc_b FROM ph_pairs) THEN 'perceptual'
               WHEN d.doc_id IN (SELECT doc_b FROM sem_pairs) THEN 'semantic'
               ELSE 'kept'
             END AS stage
      FROM documents d LEFT JOIN fam f ON f.doc_id = d.doc_id
    )
    SELECT doc_id, family_id, stage,
           ROW_NUMBER() OVER (PARTITION BY family_id
                              ORDER BY n_chars DESC, doc_id) = 1 AS keep_best
    FROM spine
    """


def _chain_decisions(
    spark: SparkSession, sf_dir: str, *, modality: str = "image"
) -> DataFrame:
    """The one-shot composed chain — factored so the catalog query and
    the incremental DAG's equivalence test rank the SAME decisions.
    Returns (doc_id, family_id, stage, keep_best) over the full
    documents spine. ``modality`` picks the perceptual stage's kernel
    (the DAG's own parameter — image/video/audio); the catalog twin
    pins image because its composed oracle embeds the image closed
    form."""
    from pyspark.sql import Window

    from ..functions.vectors import sign_bucket
    from ..operators.ann import bucketed_cosine_pairs
    from ..operators.dedup import (
        connected_components,
        hamming_candidates,
        minhash_bands,
        minhash_candidates,
    )
    from .multimodal import perceptual_kernel

    fingerprint, _family = perceptual_kernel(modality)

    from ..tables import compact_checkpoint

    d = load(spark, sf_dir, "documents")
    # stage 1: exact (md5 keep-min), computed ONCE into the
    # checkpointed rejected-pair frame. Every later stage derives its
    # survivor set by anti-joining doc-id spines against checkpointed
    # PAIR frames (a doc is stage-k rejected iff it appears as doc_b
    # in stage k's pairs — for the exact stage, doc_id > keep_id of
    # its hash group ⇔ doc_id ∈ ex_edges.doc_b). Before round 11 the
    # survivor frames chained lazily off `exk`, so the corpus-wide
    # md5 + keep-min groupBy subtree re-executed inside EVERY
    # downstream consumer (fingerprint input, semantic panel, spine
    # flags — 4 full passes at 100 TB); now each stage's full-corpus
    # work runs exactly once, inside its own checkpoint job (guide
    # §1.2: fix the pass structure before anything else).
    # keep-min via a window over the hash groups, NOT groupBy+self-join:
    # the join form references `hashed` twice, so the corpus scan + md5
    # ran TWICE inside this one checkpoint (round-12 job profile), and
    # it paid two exchanges where the window pays one — same rows
    # (keep_id = MIN(doc_id) OVER (PARTITION BY h), kept iff
    # doc_id > keep_id), one corpus pass, one shuffle (guide §2.4).
    hashed = d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
    w_ex = Window.partitionBy("h")
    ex_edges = compact_checkpoint(
        hashed.withColumn("keep_id", F.min("doc_id").over(w_ex))
        .filter(F.col("doc_id") > F.col("keep_id"))
        .select(F.col("keep_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    # doc_b is unique in ex_edges (one hash group, one keep-min), so
    # the rejected-id frame needs no distinct.
    ex_rej = ex_edges.select(F.col("doc_b").alias("doc_id"))
    s1 = d.join(ex_rej, "doc_id", "left_anti")
    d_ids = d.select("doc_id")
    # stage 2: lexical MinHash over exact survivors. Sequential
    # checkpoints per pair set (the _multimodal_members OOM rule: peak
    # memory = max of the generators, never their sum).
    mh_pairs = compact_checkpoint(
        minhash_candidates(minhash_bands(s1)).select("doc_a", "doc_b")
    )
    # survivor id-frames by ONE anti-join against the UNION of the
    # earlier stages' cached rejected sets — d ▷ A ▷ B ≡ d ▷ (A ∪ B)
    # is a set identity (no disjointness needed), the union of cached
    # narrow frames is shuffle-free, and the chained form paid one
    # corpus-spine join (plus its AQE broadcast job) per earlier stage
    # inside every consumer's materialization (round-12 job profile;
    # guide §1.2/§2.4).
    mh_rej = mh_pairs.select(F.col("doc_b").alias("doc_id"))
    s2 = d_ids.join(ex_rej.unionByName(mh_rej), "doc_id", "left_anti")
    # stage 3: perceptual image dHash over lexical survivors, at the
    # RAW band tier — the tier the incremental store path blocks on
    # (incremental_hamming_dedup), pinned by mean_bucket_limit so the
    # one-shot twin and the DAG emit identical pairs.
    ph_pairs = compact_checkpoint(
        hamming_candidates(
            fingerprint(s2),
            radius=_DHASH_RADIUS,
            mean_bucket_limit=1 << 62,
        ).select("doc_a", "doc_b")
    )
    ph_rej = ph_pairs.select(F.col("doc_b").alias("doc_id"))
    s3 = d_ids.join(
        ex_rej.unionByName(mh_rej).unionByName(ph_rej), "doc_id", "left_anti"
    )
    # stage 4: semantic sign-bucket SemDeDup over perceptual survivors
    # that have an embedding (planes scaled by the FULL corpus — the
    # quantizer is corpus-global; restricting it to survivors would
    # make the blocking depend on upstream decisions)
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    p = _scaled_planes_for(e)
    # the panel is materialized ONCE: bucketed_cosine_pairs references
    # it twice (both cogroup sides), and the panel's lineage is the
    # WHOLE s1→s2→s3 anti-join chain plus the embeddings join — without
    # this checkpoint that chain executed twice inside the sem_pairs
    # materialization (round-12 job profile: 10 of the query's ~55
    # jobs sat under this one site; at 100 TB it is a duplicated
    # corpus-spine pass, guide §1.2).
    panel = compact_checkpoint(
        e.join(
            s3.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        )
        .select(
            "vec_id",
            sign_bucket(F.col("embedding"), p).alias("pb"),
            "embedding",
        )
    )
    sem_pairs = compact_checkpoint(
        bucketed_cosine_pairs(panel, panel, threshold=EMBED_COS_THRESHOLD)
        .distinct()
        .select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
    )
    # stage 5: unified families + quality keep-best over the spine.
    # No .distinct() on the edge union: the four stage pair sets are
    # doc_b-DISJOINT by the funnel construction (a stage-k reject never
    # reaches stage k+1's input, so it can never be a later stage's
    # doc_b) and each frame is internally distinct — and hash-min
    # components are invariant under duplicate edges anyway, so the
    # corpus-pair-wide distinct shuffle bought nothing at any scale
    # (guide §2.4: a distinct on data that is already unique). The
    # oracle's UNION dedup keeps its own semantics; fam is identical.
    edges = (
        ex_edges.unionByName(mh_pairs)
        .unionByName(ph_pairs)
        .unionByName(sem_pairs)
    )
    fam = connected_components(edges)
    spine = d.select("doc_id", "n_chars").join(
        fam.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    )
    spine = spine.withColumn(
        "family_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    ).drop("cluster_id")
    # ONE tagged rejected-doc frame replaces the former four flag
    # joins (round-12: each broadcast-joined frame cost its own AQE
    # materialization job, and at 100 TB four |rejects|-row joins
    # shuffled the spine's key four times). The doc_b sets are
    # disjoint (above), so each doc carries at most one stage tag
    # across frames; MIN only dedups doc_b repeats WITHIN a pair
    # frame — and the stage names' alphabetical order (exact <
    # lexical < perceptual < semantic) happens to equal the funnel's
    # CASE priority, so even a hypothetical overlap would resolve to
    # the oracle's answer.
    rej = (
        ex_rej.select("doc_id", F.lit("exact").alias("_stage"))
        .unionByName(
            mh_pairs.select(
                F.col("doc_b").alias("doc_id"), F.lit("lexical").alias("_stage")
            )
        )
        .unionByName(
            ph_pairs.select(
                F.col("doc_b").alias("doc_id"),
                F.lit("perceptual").alias("_stage"),
            )
        )
        .unionByName(
            sem_pairs.select(
                F.col("doc_b").alias("doc_id"), F.lit("semantic").alias("_stage")
            )
        )
        .groupBy("doc_id")
        .agg(F.min("_stage").alias("_stage"))
    )
    spine = spine.join(rej, "doc_id", "left").select(
        "doc_id",
        "family_id",
        "n_chars",
        # _stage NULL ⇔ doc never appears as any stage's doc_b ⇔ chain
        # survivor — same predicates the oracle's CASE states
        F.coalesce(F.col("_stage"), F.lit("kept")).alias("stage"),
    )
    w = Window.partitionBy("family_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return spine.select(
        "doc_id",
        "family_id",
        "stage",
        (F.row_number().over(w) == 1).alias("keep_best"),
    )


@query(
    "q_curation_ingest",
    category="llm-dedup",
    bench=True,
    sql=_CURATION_INGEST_SQL,
)
def q_curation_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation-ingest decision table (module docstring):
    per document — which stage of the exact → lexical → perceptual →
    semantic funnel rejected it ('kept' for chain survivors), its
    unified cross-stage duplicate family, and whether it is the
    family's quality keep-best canonical (max n_chars, ties to lowest
    doc_id; singletons are their own canonical). The min-id curated
    corpus is ``stage = 'kept'``; the quality-canonical corpus is
    ``keep_best`` — the two views a corpus refresh publishes.

    Under the FULL hash gate: every stage is deterministic and the
    oracle composes the four EXISTING stage oracles verbatim (md5
    keep-min; the md5+affine MinHash family restricted to exact
    survivors; the closed-form image dHash chain at the raw band tier
    restricted to lexical survivors; sign-bucket cosine over
    perceptual survivors) plus recursive reachability minima and the
    keep-best window — a value drift anywhere in the CHAIN (not just
    inside one detector) breaks the driver hash.

    Scale shape: each stage keeps its standalone bounds (hash-groupBy;
    rank-capped LSH buckets; banded Hamming with the bucket guard;
    per-bucket BLAS panels) and the chaining only SHRINKS stage
    inputs; the funnel never re-reads a rejected doc. The incremental
    id-range-batched form — same decisions, O(batch) per-batch store
    IO — is pipelines/ingest_curation.py, equivalence-tested against
    this query."""
    return _chain_decisions(spark, sf_dir)


_CURATION_REPORT_SQL = f"""
    WITH RECURSIVE decisions AS ({_CURATION_INGEST_SQL}),
    j AS (
      SELECT d.source, dec.stage, dec.keep_best
      FROM decisions dec JOIN documents d USING (doc_id)
    )
    SELECT source, stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep_best THEN 1 ELSE 0 END) AS BIGINT)
             AS n_canonical
    FROM j GROUP BY source, stage
    """


@query(
    "q_curation_report",
    category="llm-dedup",
    sql=_CURATION_REPORT_SQL,
)
def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, stage) attrition report over the composed
    curation-ingest chain — the release sheet a corpus refresh ships
    (the q_curation_funnel shape, upgraded from four cheap gates to
    the full four-detector chain): how many documents each source
    lost at each stage (exact / lexical / perceptual / semantic /
    kept), and how many of each cell survive as quality keep-best
    canonicals (a rejected doc CAN be canonical — that is the
    keep-best point, and the report makes it visible per source).

    Hash-gated by composing the q_curation_ingest oracle verbatim as
    a decisions CTE + one GROUP BY — the report can never drift from
    the decision table it summarizes. Scale: the chain's own bounds
    plus one map-side-combined aggregate over (source, stage) — a
    |sources| × 5-row result."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        _chain_decisions(spark, sf_dir)
        .join(d, "doc_id")
        .groupBy("source", "stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep_best").cast("long")).alias("n_canonical"),
        )
    )
