"""Streaming queries in the declared catalog: each runs its Structured
Streaming operator to completion (availableNow trigger → memory sink)
and returns the materialized result, so the driver's DuckDB oracle can
hash-check STREAMING results against batch SQL — the strongest form of
the streaming≡batch equivalence test.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from .llm import (
    _BM25_SQL,
    _FACETED_SQL,
    _MINHASH_SQL,
    _PPL_SQL,
    _markup_sql,
    _unicode_sql,
)

_MARKUP_SQL_ORACLE = _markup_sql()
from .traindata import _DECON_SQL, PROBE_MOD, contamination_scores


def _run_stream(spark: SparkSession, sdf, mode: str) -> DataFrame:
    name = f"q_stream_{uuid.uuid4().hex[:10]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        # fail LOUDLY: falling through would serve a partial result
        # that surfaces later as an inscrutable oracle hash mismatch
        q.stop()
        raise TimeoutError(f"streaming query {name} did not drain in 300s")
    return spark.table(name)


@query(
    "q_stream_tumbling",
    category="streaming",
    sql="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window counts (watermarked), run to
    completion — hash-checked against the same batch SQL oracle as
    q_event_tumbling."""
    from ..streaming import stream_events, tumbling_counts

    return _run_stream(spark, tumbling_counts(stream_events(spark, sf_dir)), "complete")


@query(
    "q_stream_session",
    category="streaming",
    sql="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id, COUNT(DISTINCT sess_id) AS n_sessions, COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) aggregated per user —
    oracle is the batch lag/cumulative-sum sessionization, proving
    F.session_window's merge semantics match the SQL definition."""
    from ..streaming import session_counts, stream_events

    sessions = _run_stream(spark, session_counts(stream_events(spark, sf_dir)), "complete")
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


@query(
    "q_stream_sliding",
    category="streaming",
    sql="""
    SELECT w_start, COUNT(*) AS n_events
    FROM (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS w_start FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events
    )
    GROUP BY w_start
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (1 h length, 30 min slide,
    watermarked), run to completion — hash-checked against the same
    shifted-bucket batch oracle as q_event_sliding, completing the
    tumbling/sliding/session/dedup streaming-twin set."""
    from ..streaming import sliding_counts, stream_events

    return _run_stream(spark, sliding_counts(stream_events(spark, sf_dir)), "complete")


@query(
    "q_stream_join",
    category="streaming",
    sql="""
    SELECT c.user_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           ROUND(p.value, 2) AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
      AND p.event_type = 'purchase'
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase attribution within
    1 hour) run to completion and hash-checked against the batch
    interval-join SQL — the strongest equivalence evidence for
    stateful two-stream joins. The watermark is set beyond the
    dataset's 30-day span so no state is evicted mid-replay; in
    production the 4-day default bounds state exactly like O4's
    backfill window (see streaming/events.py click_purchase_join for
    the state-retention analysis)."""
    from ..streaming import click_purchase_join, stream_events

    return _run_stream(
        spark,
        click_purchase_join(stream_events(spark, sf_dir), watermark="60 days"),
        "append",
    )


@query(
    "q_stream_dedup",
    category="streaming",
    sql="SELECT DISTINCT event_id, event_type FROM events",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates within the watermark horizon."""
    from ..streaming import dedup_stream, stream_events

    out = _run_stream(spark, dedup_stream(stream_events(spark, sf_dir)), "append")
    return out.select("event_id", "event_type").distinct()


@query("q_stream_dedup_pairs", category="streaming", sql=_MINHASH_SQL)
def q_stream_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup candidate pairs over the documents table —
    the ingest-dedup keep-rule as ONE stateful operator
    (streaming/dedup.py streaming_minhash_candidates: map-only
    expression signatures, per-(band, key) applyInPandasWithState
    holding the bucket's cap lowest-id member signatures). Run to
    completion and collapsed to distinct pairs (the documented
    cross-band dedup). Under the FULL hash gate since round 7's
    md5+affine family: the oracle is the SAME _MINHASH_SQL as the
    batch names — at corpus scale-factor bucket sizes (every bucket ≤
    the cap) the stateful cap rule is arrival-order-insensitive and
    the stream's distinct pair set equals batch minhash_candidates
    exactly, so DuckDB value-hashes the streaming operator's output
    end-to-end; the stream≡batch equivalence across micro-batches,
    re-delivery, and oversized families stays pinned in
    tests/test_streaming_dedup.py."""
    import os

    from ..streaming.dedup import streaming_minhash_candidates
    from ..streaming.events import _as_stream_dir

    stream = (
        spark.readStream.schema("doc_id long, text string, lang string, source string, n_chars long")
        .format("parquet")
        .load(_as_stream_dir(os.path.join(sf_dir, "documents.parquet")))
    )
    return _run_stream(
        spark, streaming_minhash_candidates(stream), "append"
    ).distinct()


@query(
    "q_stream_decontaminate",
    category="streaming",
    sql=_DECON_SQL,
)
def q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming benchmark decontamination: the q_decontaminate scoring
    run as a Structured Streaming job over the documents stream and
    hash-checked against the SAME exact DuckDB oracle — per-doc shingle
    totals, probe overlaps, and the rounded contamination fraction are
    bit-identical to the batch path.

    Shape: shingling is a per-row map (each document carries its whole
    text, so its distinct-shingle array needs no cross-row state); the
    probe set is a STATIC broadcast side of a stream-static left join;
    the only stateful operator is the per-doc count aggregate, run in
    complete mode for this run-to-completion replay. In production the
    same plan runs per micro-batch with foreachBatch writing per-doc
    scores incrementally (doc_id is a one-batch key — a document's
    shingles all arrive together — so no cross-batch agg state is
    actually needed); the bloom variant (q_decontaminate_bloom)
    composes here unchanged because its bitmap test is map-side."""
    import os

    from ..streaming.events import _as_stream_dir
    from ..tables import load

    is_probe = F.pmod(F.col("doc_id"), F.lit(PROBE_MOD)) == 0
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .format("parquet")
        .load(_as_stream_dir(os.path.join(sf_dir, "documents.parquet")))
        .filter(~is_probe)
    )
    # the SAME scoring definition the batch query and oracle use —
    # contamination_scores accepts the streaming corpus frame unchanged
    scores = contamination_scores(
        stream, load(spark, sf_dir, "documents").filter(is_probe)
    )
    agg = scores.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        F.round("contamination", 4).alias("contamination"),
    )
    return _run_stream(spark, agg, "complete")


@query(
    "q_stream_quality",
    category="streaming",
    sql=_PPL_SQL,  # the batch scorer's oracle, verbatim
)
def q_stream_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming perplexity quality scoring: the q_quality_perplexity
    scorer run as a Structured Streaming job over the documents stream
    and hash-checked against the SAME exact DuckDB oracle — the
    stream≡batch equivalence form q_stream_decontaminate established,
    now for the quality gate (online scoring at ingest is where a
    quality filter actually runs in production).

    Shape: the bigram explode is a per-row map (each document carries
    its whole text — no cross-row state), the MODEL is a static
    broadcast side of a stream-static join (vocabulary-sized by
    construction, the scale argument in bigram_model's caller), and
    the only stateful operator is the per-doc aggregate, complete-mode
    for this run-to-completion replay (doc_id is a one-batch key, so
    production runs the same plan per micro-batch with foreachBatch).
    Integer terms make the result independent of micro-batch
    boundaries AND reduction order — the same order-independence that
    makes the batch oracle exact makes the streaming replay exact."""
    import os

    from ..streaming.events import _as_stream_dir
    from ..tables import load
    from .llm import bigram_model, doc_bigrams, perplexity_report, perplexity_terms

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .format("parquet")
        .load(_as_stream_dir(os.path.join(sf_dir, "documents.parquet")))
    )
    model = bigram_model(load(spark, sf_dir, "documents"))
    scored = perplexity_terms(doc_bigrams(stream), F.broadcast(model))
    return _run_stream(spark, perplexity_report(scored), "complete")


@query("q_stream_classifier", category="streaming", sql=None)
def q_stream_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trained-model quality scoring: q_quality_classifier's
    model fit ONCE on the static reference corpus (the teacher-ladder
    trainer, llm.quality_classifier_fit), then applied to the documents
    STREAM — the online-scoring deployment shape of the DCLM/FineWeb
    gate family: the model is trained offline, and ingest scores every
    arriving document map-side with the broadcast coefficients.

    Shape: featurize (regex tokenize + HashingTF) and LR scoring are
    row-wise Transformer ops — NO stateful operator at all, so the
    stream runs in append mode and decisions are independent of
    micro-batch boundaries by construction (pinned by the stream ≡
    batch equality test in tests/test_streaming.py, the
    q_stream_quality evidence form). Rows-only for the driver (LBFGS
    trainer state, same as the batch twin). A degenerate teacher
    (one-class corpus) keeps everything, matching the batch
    keep-on-no-evidence stance."""
    import os

    from ..streaming.events import _as_stream_dir
    from ..tables import load
    from .llm import quality_classifier_apply, quality_classifier_fit

    static_docs = load(spark, sf_dir, "documents")
    model = quality_classifier_fit(static_docs)
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .format("parquet")
        .load(_as_stream_dir(os.path.join(sf_dir, "documents.parquet")))
    )
    if model is None:
        out = stream.select(
            "doc_id",
            F.lit(None).cast("double").alias("score"),
            F.lit(True).alias("keep"),
        )
    else:
        out = quality_classifier_apply(model, stream)
    return _run_stream(spark, out, "append")


@query("q_stream_index", category="streaming", sql=_BM25_SQL)
def q_stream_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE INDEXING run to completion: the documents stream is
    foreachBatch-ingested into a persistent TermStore — one
    term-clustered postings segment per micro-batch, manifest
    statistics accumulating batch by batch — and the fixed BM25 query
    is then served FROM THE STREAMED INDEX. Registered with the
    identical oracle SQL as q_search_bm25/_indexed (one _BM25_SQL
    constant), so a green row proves the entire online path end to
    end: micro-batch tokenize → per-batch segment append → summed
    manifest stats → pushed-In postings read → integer-snapped
    scoring — stream-built and batch-built indexes are
    INTEGER-INTERCHANGEABLE (also equivalence-tested in
    tests/test_termstore.py test_streaming_ingest_equals_batch_build).

    Shape: ingest work is O(micro-batch) (TermStore.append's
    contract — batch segment bounds derive from the stats pass append
    runs anyway, no extra per-batch aggregation); nothing
    re-tokenizes earlier batches, and the search reads O(query terms)
    postings off the accumulated segments. The store lands in ONE
    corpus-keyed staging directory that each replay WIPES and
    rebuilds (bounded /tmp footprint — a per-run mkdtemp would leak a
    full index copy per invocation), flock-serialized under the
    single-writer contract; a production deployment instead keys the
    root by stream checkpoint and appends forever
    (pipelines/ingest_termstore.py shape)."""
    from .llm import BM25_QUERY

    store = _stream_built_termstore(spark, sf_dir)
    return store.search(spark, BM25_QUERY, k=20)


def _stream_built_termstore(spark: SparkSession, sf_dir: str):
    """Build a TermStore from the documents STREAM (one segment per
    micro-batch, availableNow run to completion) in a corpus-keyed
    /tmp staging dir — the ONE shared store of q_stream_index and
    q_stream_faceted (a second stream ingest of the identical corpus
    would only double cost; the root is keyed by corpus signature +
    STORE_VERSION so staleness is impossible). A COMPLETE prior build
    (manifest doc count == corpus count) is re-served; anything else —
    absent, partial from a crash mid-stream — is wiped and rebuilt.
    Attributes match the batch _cached_corpus_index build
    (attrs=(FACET_ATTR,)), so stream-built and batch-built stores are
    structurally identical: same postings, same stats, same facet
    sidecar columns accumulating batch by batch."""
    import os
    import shutil

    from ..operators.termstore import DOCS, STORE_VERSION, TermStore
    from ..streaming.events import _as_stream_dir
    from ..tables import load
    from .llm import FACET_ATTR, _build_lock, _corpus_cache_dir

    # the cache key carries the ingest RECIPE (attrs), not just the
    # store layout version: a store built by an older recipe at the
    # same STORE_VERSION must never be re-served (a doc-count-complete
    # but attr-less store would fail search_filtered)
    root = _corpus_cache_dir(
        "prds_stream_index", sf_dir, "documents", (STORE_VERSION, FACET_ATTR)
    )
    expected = load(spark, sf_dir, "documents").count()
    with _build_lock(root):
        done = TermStore(root)
        try:
            segs = done.segments()
            if segs and done.stats()[0] == expected:
                sidecar_cols = spark.read.parquet(
                    done.seg_path(segs[0], DOCS)
                ).columns
                if FACET_ATTR in sidecar_cols:  # complete AND current recipe
                    return done
        except Exception:
            pass  # unreadable manifest/sidecar: rebuild below
        shutil.rmtree(root, ignore_errors=True)
        store = TermStore(root)

        def ingest(batch_df, batch_id):
            # bounds derived from the batch; the facet attr rides the
            # per-batch doc sidecar
            store.append(batch_df, attrs=(FACET_ATTR,))

        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, n_chars long"
            )
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(_as_stream_dir(os.path.join(sf_dir, "documents.parquet")))
        )
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", os.path.join(root, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("stream index ingest did not drain in 300s")
    return store


@query("q_stream_faceted", category="streaming", sql=_FACETED_SQL)
def q_stream_faceted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FACETED search served from a STREAM-BUILT index, held to the
    identical oracle as the batch q_search_faceted pair (one
    _FACETED_SQL constant): the documents stream foreachBatch-ingests
    into a TermStore whose per-micro-batch doc sidecars carry the
    facet attribute, and the metadata-filtered BM25 query is then
    answered from the accumulated segments — pushed facet IN predicate
    over every batch's sidecar, semi-join-pruned postings, manifest
    stats. A green row proves the facet column survives per-batch
    sidecar accumulation end to end, completing the online path for
    the filtered-query shape every search service actually serves.

    Shape: SHARES q_stream_index's stream-built store (one ingest per
    corpus, complete builds re-served — a second identical ingest
    would only double cost); the query reads O(query terms) postings
    plus N narrow sidecar rows."""
    from .llm import BM25_QUERY, FACET_ATTR, FACET_VALUES

    store = _stream_built_termstore(spark, sf_dir)
    return store.search_filtered(
        spark, BM25_QUERY, attr=FACET_ATTR, values=FACET_VALUES, k=20
    )


@query(
    "q_stream_clean",
    category="streaming",
    sql=_MARKUP_SQL_ORACLE,  # the batch cleaner's oracle, verbatim
)
def q_stream_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming markup cleaning: the q_clean_markup transformation
    run as a Structured Streaming job over the documents stream and
    hash-checked against the SAME exact DuckDB oracle — clean-at-
    ingest is where the CCNet/C4 strip actually runs in production
    (a corpus is cleaned as it arrives, not re-scanned later), and
    this is the stream≡batch evidence form q_stream_quality /
    q_stream_classifier established, now for the cleaning family.

    Shape: construction + strip are per-row column expressions with
    NO stateful operator at all — the query runs in append mode (the
    purest streaming plan: every micro-batch emits its rows final),
    so the result is trivially independent of micro-batch boundaries
    and the oracle equality is exact by construction."""
    import os

    from ..streaming.events import _as_stream_dir
    from .llm import clean_markup_frame, marked_col

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .format("parquet")
        .load(_as_stream_dir(os.path.join(sf_dir, "documents.parquet")))
    )
    cleaned = clean_markup_frame(
        stream.select("doc_id", marked_col().alias("marked"))
    )
    return _run_stream(spark, cleaned, "append")


@query(
    "q_stream_unicode",
    category="streaming",
    sql=_unicode_sql(),  # the batch normalizer's oracle, verbatim
)
def q_stream_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Unicode normalization: the q_clean_unicode
    transformation (deterministic dirt → NFC pandas_udf + shared
    regexp chain) run as a Structured Streaming job and hash-checked
    against the SAME DuckDB oracle — normalize-at-ingest is where the
    NFC pass runs in production, and the q_stream_clean evidence form
    extends to it directly: per-row expressions + one Arrow map, NO
    stateful operator, append mode, so the result is micro-batch-
    boundary independent by construction."""
    import os

    from ..functions.unicode_norm import clean_unicode_frame
    from ..streaming.events import _as_stream_dir

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .format("parquet")
        .load(_as_stream_dir(os.path.join(sf_dir, "documents.parquet")))
    )
    return _run_stream(
        spark, clean_unicode_frame(stream.select("doc_id", "text")), "append"
    )


from .analytics import (  # noqa: E402 - the shared-oracle convention
    _SCD2_SQL,
    _SCD2_T0,
    _SCD2_T1,
    _SCD2_T2,
)


@query("q_stream_scd2", category="streaming", sql=_SCD2_SQL)
def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dimension maintenance run to completion: the two SCD2
    update batches arrive as a file stream (one micro-batch each,
    mtime-ordered under availableNow + maxFilesPerTrigger=1) and
    foreachBatch folds each through operators/scd2.scd2_merge against
    the persisted history, swapping the history directory atomically
    per batch (layout._swap_into, the single-writer contract). The
    final history is hashed against q_scd2_history's closed-form
    oracle (the shared _SCD2_SQL constant), so a green row
    proves the whole online path: micro-batch delivery order, per-batch
    merge, equal-attrs no-op on the re-delivered keys, history swap,
    read-back. This is the warehouse twin of q_stream_index's
    store-building contract (stream-built ≡ batch-built, here for
    dimension history instead of postings).

    Shape: each micro-batch costs one equi-join of the batch against
    CURRENT rows plus a history rewrite — at 100 TB the rewrite is the
    partitioned current-slice churn the scd2 module documents, and the
    ordering guarantee comes from the stream's event-time ordering
    (modeled here by file mtime; a production feed orders by its log
    offset). Within a micro-batch carrying several batch_ts values the
    merges apply in ascending ts order, so a coalesced delivery still
    chains validity intervals gap-free."""
    import os
    import shutil

    from ..operators.layout import _swap_into
    from ..operators.scd2 import VALID_FROM, VALID_TO, scd2_merge
    from ..tables import load
    from .llm import _build_lock, _corpus_cache_dir

    cols = ["c_custkey", "c_mktsegment"]
    root = _corpus_cache_dir("prds_stream_scd2", sf_dir, "customer", 1)
    hist_dir = os.path.join(root, "hist")
    with _build_lock(root):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        cust = load(spark, sf_dir, "customer").select(*cols)
        (
            cust.withColumn(
                VALID_FROM, F.lit(_SCD2_T0).cast("timestamp_ntz")
            )
            .withColumn(VALID_TO, F.lit(None).cast("timestamp_ntz"))
            .write.parquet(hist_dir)
        )
        src = os.path.join(root, "updates")
        os.makedirs(src)
        b1 = cust.filter(F.col("c_custkey") % 7 == 0).withColumn(
            "c_mktsegment", F.lit("SEG_B1")
        )
        b2 = cust.filter(F.col("c_custkey") % 7 == 0).withColumn(
            "c_mktsegment",
            F.when(
                F.col("c_custkey") % 14 == 0, F.col("c_mktsegment")
            ).otherwise(F.lit("SEG_B1")),
        )
        t0 = 1_700_000_000
        for i, (batch, ts) in enumerate(
            [(b1, _SCD2_T1), (b2, _SCD2_T2)], start=1
        ):
            tmp = os.path.join(root, f"_b{i}")
            batch.withColumn("batch_ts", F.lit(ts)).coalesce(1).write.parquet(tmp)
            part = next(
                f for f in os.listdir(tmp)
                if f.endswith(".parquet") and not f.startswith(".")
            )
            dst = os.path.join(src, f"{i:02d}.parquet")
            os.rename(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            # mtime orders the file stream (path order agrees as tiebreak)
            os.utime(dst, (t0 + 60 * i, t0 + 60 * i))

        def ingest(batch_df, batch_id):
            ts_list = sorted(
                r.batch_ts for r in batch_df.select("batch_ts").distinct().collect()
            )
            for ts in ts_list:
                hist = spark.read.parquet(hist_dir)
                upd = batch_df.filter(F.col("batch_ts") == ts).drop("batch_ts")
                merged = scd2_merge(
                    hist, upd, ["c_custkey"], ["c_mktsegment"], F.lit(ts)
                )
                tmp = hist_dir + ".new"
                merged.write.mode("overwrite").parquet(tmp)
                _swap_into(tmp, hist_dir)

        stream = (
            spark.readStream.schema(
                "c_custkey long, c_mktsegment string, batch_ts string"
            )
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(src)
        )
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", os.path.join(root, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("scd2 update stream did not drain in 300s")
    return spark.read.parquet(hist_dir).select(
        "c_custkey", "c_mktsegment", VALID_FROM, VALID_TO
    )




from .multimodal import (  # noqa: E402 - the raw-tier perceptual oracles
    _AUDIO_DEDUP_SQL_RAW,
    _DHASH_SQL_RAW,
    _VIDEO_DEDUP_SQL_RAW,
)


def _stream_perceptual_pairs(spark, sf_dir, kernel) -> DataFrame:
    """The shared streaming perceptual-dedup shape: documents id stream
    → fused fingerprint kernel (map-only mapInPandas — fingerprinting
    needs no cross-row state) → streaming_hamming_candidates (one
    per-(band, key) applyInPandasWithState holding each bucket's cap
    lowest-id member fingerprints, emitting exact Hamming ≤ 7 pairs) →
    run to completion → distinct (the documented cross-band
    collapse)."""
    import os

    from ..operators.multimodal import DHASH_SCHEMA
    from ..streaming.dedup import streaming_hamming_candidates
    from ..streaming.events import _as_stream_dir

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .format("parquet")
        .load(_as_stream_dir(os.path.join(sf_dir, "documents.parquet")))
        .select("doc_id")
    )
    fp = stream.mapInPandas(kernel, DHASH_SCHEMA)
    return _run_stream(spark, streaming_hamming_candidates(fp), "append").distinct()


@query("q_stream_dedup_image", category="streaming", sql=_DHASH_SQL_RAW)
def q_stream_dedup_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PERCEPTUAL near-dup pairs over the documents stream —
    the incremental image-dedup keep-rule as ONE stateful operator
    (streaming/dedup.py streaming_hamming_candidates; see
    _stream_perceptual_pairs for the shared shape).

    Under the FULL hash gate via the RAW-TIER variant of the
    q_dedup_image closed-form oracle (_DHASH_SQL_RAW): the stream
    blocks on raw 16-bit bands ALWAYS (an incremental operator has no
    batch-global entropy agg to consult — and raw bands carry the full
    pigeonhole radius-7 guarantee), so its oracle pins sb = 1 instead
    of replaying the batch query's measured-entropy tier choice. On a
    corpus whose measured tier resolves to super-bands the two tiers
    emit DIFFERENT pair sets (raw is a strict superset within the
    radius), so declaring the batch oracle here would silently
    hash-mismatch — round-11 ADVICE item 1; the tier pin removes the
    corpus assumption rather than asserting it. Everything else —
    synth, resize, luma, bit pack, bucket cap, AND the stateful pair
    emission — still value-hashes end to end. The stream≡batch(raw
    tier) equivalence across micro-batches and re-delivery stays
    pinned in tests/test_streaming_dedup.py."""
    from .multimodal import image_dhash_kernel

    return _stream_perceptual_pairs(spark, sf_dir, image_dhash_kernel())


@query("q_stream_dedup_video", category="streaming", sql=_VIDEO_DEDUP_SQL_RAW)
def q_stream_dedup_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming perceptual VIDEO near-dup pairs — the q_dedup_video
    fingerprint (Y4M walk → strided frame dHash → per-bit temporal
    majority) under the SAME stateful Hamming operator and raw-tier
    oracle discipline as q_stream_dedup_image (the kernel is
    modality-blind over banded longs; streaming/dedup.py). Hash-gated
    by _VIDEO_DEDUP_SQL_RAW — the batch closed form with the blocking
    tier pinned to the stream's raw 16-bit bands."""
    from .multimodal import video_dhash_kernel

    return _stream_perceptual_pairs(spark, sf_dir, video_dhash_kernel())


@query("q_stream_dedup_audio", category="streaming", sql=_AUDIO_DEDUP_SQL_RAW)
def q_stream_dedup_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming perceptual AUDIO near-dup pairs — the q_dedup_audio
    fingerprint (RIFF walk → windowed loudness envelope → bit pack)
    under the SAME stateful Hamming operator and raw-tier oracle
    discipline as q_stream_dedup_image. Hash-gated by
    _AUDIO_DEDUP_SQL_RAW — the batch closed form with the blocking
    tier pinned to the stream's raw 16-bit bands."""
    from .multimodal import audio_dhash_kernel

    return _stream_perceptual_pairs(spark, sf_dir, audio_dhash_kernel())
