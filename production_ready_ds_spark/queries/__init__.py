"""Declared query catalog (SURVEY.md §2b).

Every operator the engine claims is registered here as a :class:`Query`:
a PySpark builder ``fn(spark, sf_dir) -> DataFrame`` plus (when the
semantics are deterministic and SQL-expressible) the equivalent DuckDB
oracle SQL. ``__spark_entry__.py`` at the repo root is a thin adapter
over this catalog.

Hash-match discipline (every pair obeys it):
- alias every computed column identically on both sides;
- ROUND(x, n) every double-valued output on both sides;
- group only by ints/strings/dates;
- ``events.ts`` converted via the tables.py nanos shim before use.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "Query"] = {}

_MODULES = (
    "relational",
    "joins",
    "aggregates",
    "windows",
    "scalars",
    "udfs",
    "llm",
    "events",
    "ml",
    "streaming_queries",
    "multimodal",
    "analytics",
    "traindata",
    "bpe",
    "unigram",
    "wordpiece",
    "formats",
    "curation_ingest",
)


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle; None → rows-only check
    category: str
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


def query(
    name: str,
    *,
    sql: str | None,
    category: str,
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a catalog entry."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(
            name=name, fn=fn, sql=sql, category=category, doc=fn.__doc__ or "", bench=bench, tags=tags
        )
        return fn

    return wrap


# SURVEY.md §2b declared contract queries, in the survey's own order.
# catalog() emits these FIRST: the driver's correctness harness verifies a
# bounded prefix of the catalog (round 1 stopped at 50 of 86 entries), so
# contract rows must never trail extension rows.
_CONTRACT_ORDER = (
    "q_scan_project",
    "q_filter_like",
    "q_filter_range",
    "q_cast_label",
    "q_case_when",
    "q_null_fill",
    "q_union_all",
    "q_union_distinct",
    "q_intersect",
    "q_except",
    "q_join_inner",
    "q_join_broadcast",
    "q_join_left",
    "q_join_semi",
    "q_join_anti",
    "q_join_star",
    "q_join_range",
    "q_agg_pricing",
    "q_agg_having",
    "q_agg_countdistinct",
    "q_agg_approx_distinct",
    "q_rollup",
    "q_cube",
    "q_grouping_sets",
    "q_window_rank",
    "q_window_rownum_dedup",
    "q_window_lag",
    "q_window_running",
    "q_sort_topk",
    "q_string_funcs",
    "q_tokenize_explode",
    "q_stopword_filter",
    "q_date_funcs",
    "q_math_funcs",
    "q_json_extract",
    "q_array_funcs",
    "q_dedup_exact",
    "q_text_stats",
    "q_sim_cosine_topk",
    "q_minhash_dedup",
    "q_event_tumbling",
    "q_event_sliding",
    "q_event_session",
    "q_event_late",
    "q_classify_shape",
    "q_train_pipeline",
    "q_udf_pandas",
    "q_udaf_grouped",
)

# Extension queries most in need of driver-side evidence (new or recently
# changed semantics) go right after the contract block; everything else
# follows in registration order.
#
# ROTATION DISCIPLINE (round-2 verdict item 1): the driver verifies a
# bounded prefix of the catalog (48 contract rows + ~2 extension slots),
# so each round the names that earned a green CORRECTNESS row move to the
# BACK and never-verified names move to the front. Round-2 verified
# q_dedup_clusters + q_dedup_ngram_jaccard → back; round-3 verified
# q_dedup_embedding + q_sim_topk_bucketed → back; round-4 verified
# q_decontaminate + q_pack_sequences → back. Round-5 front:
# q_mix_domains (last of the round-2 training-data trio) +
# q_dedup_semantic (the round-4 SemDeDup flagship).
# ROUND-11 ROTATION (done): CORRECTNESS_r10 shows q_video_report and
# q_sim_topk_filtered_ivf both hash-green → rotated to the back. Front
# slots are now q_dedup_video + q_dedup_image_clusters per the
# committed queue (round-10 verdict item 1), then the rest of round-8's
# perceptual dedup family (video/audio pairs + clusters), round-7's
# hash-gated additions (filtered ANN, sketch cube, stream-faceted), the
# format round-trips, the round-8 late additions (compaction, Hilbert,
# MMR, JL, SCD2 — all full-hash-gated), the rows-only trainer family,
# and the late-round-6 families (cleaning, search presentation) so each
# earns a driver-green row over rounds 11-14. Round-11's own additions
# (stream video/audio dedup, q_sim_topk_pq, q_curation_ingest/_report)
# slot in after the previously-committed round-8/9/10 blocks — about 22
# entries deep, i.e. they take their driver turn once the older
# promises are honored, not ahead of them.
# ROUND-12 ROTATION (done): CORRECTNESS_r11 shows q_dedup_video +
# q_dedup_image_clusters hash-green → back; front is now the remaining
# perceptual-dedup block (video_clusters, audio, audio_clusters) plus
# q_video_report re-queued out of turn (round-11 verdict item 3: its
# module was edited after its last driver hash, so it re-earns a row).
_EXTENSION_PRIORITY = (
    # ROUND-12 ROTATION: CORRECTNESS_r11 shows q_dedup_video and
    # q_dedup_image_clusters both hash-green → rotated to the back.
    # Front slots per the committed queue (round-11 verdict item 4):
    # the next perceptual-dedup block, then q_video_report pulled BACK
    # to the front out of turn — round-11's build-phase commits
    # (8ae5bb0 kernel homing / fa15ef3 modality parametrization)
    # touched queries/multimodal.py AFTER its last driver hash, so it
    # must re-earn a hash row before the rest of the queue advances.
    "q_dedup_video_clusters",
    "q_dedup_audio",
    "q_dedup_audio_clusters",
    "q_video_report",
    "q_search_faceted_indexed",
    "q_sketch_cube",
    "q_sim_topk_filtered",
    "q_stream_faceted",
    "q_xml_roundtrip",
    "q_jsonl_roundtrip",
    "q_orc_roundtrip",
    # round-8 late additions, all full-hash-gated (layout maintenance,
    # diversity rerank, JL projection, SCD2) — ahead of the rows-only
    # trainers per the hash-gate-first rule
    "q_compact_files",
    "q_hilbert_layout",
    "q_sim_topk_mmr",
    "q_embed_project",
    "q_scd2_history",
    "q_upsert_roundtrip",
    "q_stream_scd2",
    "q_scd2_asof",
    "q_dedup_multimodal_clusters",
    "q_dedup_containment",
    # round-9 additions: the composed IVFPQ index (recall report is
    # full-hash-gated via the bounds-contract + exact anchor; the
    # neighbor query is rows-only trained state)
    "q_ann_recall_ivfpq",
    "q_sim_topk_ivfpq",
    # round-9 rows-only→hash-gate upgrades (SQL Porter2 replay; IVF
    # full-probe anchor)
    "q_stem_tokens",
    "q_sim_topk_ivf",
    # round-10 new operators: quality-aware canonicals over the
    # cross-modal families (decoded per-modality quality keys);
    # streaming perceptual pairs (the stateful image-dedup keep-rule)
    "q_dedup_multimodal_keep_best",
    "q_stream_dedup_image",
    # round-11 new operators: streaming perceptual dedup extended to
    # video and audio (raw-tier oracles), the composed curation ingest
    "q_stream_dedup_video",
    "q_stream_dedup_audio",
    # round-11 rows-only→hash-gate upgrade (exhaustive-budget anchor)
    "q_sim_topk_pq",
    # round-11 flagship: the composed exact→lexical→perceptual→semantic
    # ingest chain with quality keep-best (verdict item 3)
    "q_curation_ingest",
    "q_curation_report",
    # round-9 new operators: quality-aware canonical selection;
    # stem-folded BM25 (the "english" analyzer chain)
    "q_dedup_keep_best",
    "q_search_stemmed",
    "q_search_stemmed_indexed",
    # rows-only trainer family (weaker rows>0 driver check)
    "q_unigram_train",
    "q_unigram_apply",
    "q_wordpiece_train",
    # round-7 rows-only→hash-gate upgrades (md5 simhash, deterministic
    # stratified sample, zlib bounds contract, IVF full-probe anchor)
    "q_dedup_simhash",
    "q_sample_stratified",
    "q_quality_compress",
    "q_ann_recall_ivf",
    # round-7 new cleaning operator (NFC + invisible-junk removal)
    "q_clean_unicode",
    "q_stream_unicode",
    # round-7 tokenizer-family completion (greedy WordPiece under a
    # recursive-CTE oracle)
    "q_wordpiece_apply",
    # late-round-6 families, freshest evidence need first
    "q_clean_markup",
    "q_search_mlt",
    "q_pii_redact",
    "q_search_highlight",
    "q_clean_boilerplate",
    "q_clean_repetition",
    "q_stream_clean",
    "q_search_mlt_indexed",
    "q_search_highlight_indexed",
    "q_search_phrase_highlight",
    "q_join_full",
    "q_intersect_all",
    "q_except_all",
    "q_sample_cluster_weighted",
    "q_mix_temperature",
    "q_stream_quality",
    "q_sketch_theta",
    "q_dedup_semantic_ivf",
    "q_pack_bestfit_assign",
    "q_audio_wav",
    "q_quality_gopher",
    "q_quality_dupgrams",
    "q_text_novelty",
    "q_corpus_report",
    "q_join_interval",
    # round-5 additions
    "q_quality_classifier",
    "q_image_png_report",
    "q_search_bm25",
    "q_stream_classifier",
    "q_search_bm25_indexed",
    "q_search_hybrid",
    "q_search_phrase",
    "q_search_phrase_indexed",
    "q_mix_epochs",
    # round-6 additions
    "q_search_rrf",
    "q_ann_recall",
    "q_quality_readability",
    "q_stream_index",
    "q_search_rrf_indexed",
    # round-3 additions, queued for future driver slots in this order
    "q_dedup_segments",
    "q_join_fuzzy",
    "q_dup_graph_stats",
    "q_event_transitions",
    "q_user_journey",
    "q_winnow_pairs",
    "q_audio_features",
    "q_image_resize",
    "q_dedup_clusters_star",
    "q_embed_quantize",
    "q_dedup_cdc",
    "q_remove_dup_spans",
    "q_dup_impact",
    "q_curation_funnel",
    "q_split_leakage_safe",
    "q_dedup_normalized",
    "q_sample_quota",
    "q_curriculum_order",
    "q_ngram_lang_profile",
    "q_char_collision",
    "q_length_clip",
    "q_shuffle_shards",
    "q_source_token_budget",
    "q_dup_source_matrix",
    "q_dedup_embedding_multiprobe",
    "q_dedup_minhash",
    "q_event_funnel",
    "q_event_retention",
    "q_profile_stats",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q10",
    "q_tpch_q13",
    "q_tpch_q15",
    "q_tpch_q17",
    "q_tpch_q19",
    "q_tpch_q21",
    "q_tpch_q4",
    "q_tpch_q12",
    "q_tpch_q14",
    "q_tpch_q18",
    "q_tpch_q22",
    "q_event_interpolate",
    "q_histogram",
    "q_stream_sliding",
    "q_stream_join",
    "q_stream_dedup_pairs",
    "q_chunk_documents",
    "q_tfidf_top_terms",
    "q_dq_checks",
    "q_vocab_build",
    "q_bigram_pmi",
    "q_skew_profile",
    "q_quality_repetition",
    "q_pii_scrub",
    "q_snapshot_diff",
    "q_map_funcs",
    "q_try_funcs",
    "q_heavy_hitters",
    "q_dup_pagerank",
    "q_decontaminate_bloom",
    "q_bpe_train",
    "q_bpe_apply",
    "q_stream_decontaminate",
    "q_cms_token_freq",
    # TPC-H completion set (partsupp derived from lineitem)
    "q_tpch_q2",
    "q_tpch_q9",
    "q_tpch_q11",
    "q_tpch_q16",
    "q_tpch_q20",
    # verified in rounds 2-6 — rotated to the back
    "q_dedup_substring_runs",
    "q_dedup_clusters",
    "q_dedup_ngram_jaccard",
    "q_dedup_embedding",
    "q_sim_topk_bucketed",
    "q_decontaminate",
    "q_pack_sequences",
    "q_mix_domains",
    "q_dedup_semantic",
    "q_pack_bestfit",
    "q_image_png",
    "q_quality_perplexity",
    "q_search_faceted",
    "q_dedup_image",
    "q_video_frames",
    "q_sim_topk_filtered_ivf",
    # verified in round 11 — rotated to the back
    "q_dedup_video",
    "q_dedup_image_clusters",
)


def catalog() -> dict[str, Query]:
    """Import all query modules and return the registry, contract-first.

    Ordering contract: the 48 SURVEY §2b names lead (survey order), then
    extensions needing fresh driver evidence, then the rest in module
    registration order. Raises if a declared contract query is missing so
    a rename/regression fails loudly instead of silently dropping a row.
    """
    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")
    missing = [n for n in _CONTRACT_ORDER if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"contract queries missing from registry: {missing}")
    ordered: dict[str, Query] = {}
    for name in (*_CONTRACT_ORDER, *_EXTENSION_PRIORITY):
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, q in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered
