"""Manifest-backed inverted text index: term-clustered postings
segments + corpus statistics, so an ad-hoc BM25 query reads O(query
terms) postings instead of scanning the corpus.

The FULL-TEXT twin of :mod:`sigstore` (lexical dedup state) and
:mod:`ivfstore` (vector lists): ``queries/llm.py bm25_topk`` scores a
query by scanning and tokenizing every document — the right plan for a
one-off batch job, the wrong one for a search service. This store
moves the tokenize + tf/dl work to INGEST time:

- **Postings, term-clustered AND positional.** Each append lands as
  one segment of ``(term, doc_id, tf, dl, positions)`` rows clustered
  on ``term``, so every file and row group owns a slice of the term
  domain and a query's ``In(term, ...)`` predicate prunes to the
  matched row groups — the inverted-list read, not a table scan.
  ``dl`` (doc length) is DENORMALIZED into every posting row: +8
  bytes/posting buys scoring without any join back to a doc-length
  table, and ``positions``
  (sorted 1-based token offsets) makes the store a POSITIONAL index:
  ``search_phrase`` answers exact-phrase queries by intersecting the
  phrase terms' offset lists — never re-reading text.
- **Statistics in the manifest.** BM25 needs corpus-level N and Σdl;
  each segment records its batch's ``n_docs``/``sum_dl`` (counted over
  ALL batch docs, hit or not) and search sums the manifest — O(1)
  metadata, never a corpus aggregate at query time.
- **Scoring is bit-identical to the scan path.** ``search`` applies
  the IDENTICAL per-term arithmetic as ``bm25_topk`` — same JVM
  ``F.log``, same rational tf part, same floor(x·1e4+0.5) integer
  snap — over (postings ⋈ per-term df), with N/Σdl as integer
  literals whose division produces the same IEEE double the scan
  path's aggregate row does. (Since round 12 the scan path evaluates
  the terms through one transform/aggregate pair instead of per-term
  columns — the expression SHAPE differs, the per-term ops and the
  integer grid do not.) Indexed and scan results are therefore EQUAL
  integers, not approximately equal (equivalence-tested).
- **Append is O(batch)** (tokenize + one (doc, term) count shuffle +
  one clustered segment write), idempotent under the sigstore
  ``skip_if_range_indexed`` contract.
- **A doc sidecar per segment** (``doc_id``, ``dl`` and any declared
  attrs, one row per document): ``delete_ids`` DECREMENTS each
  rewritten segment's ``n_docs``/``sum_dl`` by the deleted docs'
  recorded lengths, so post-delete scores are integer-equal to a fresh
  build of the surviving corpus (equivalence-tested). Stats are
  DOCUMENT-level — a zero-token doc counts in N with no posting row —
  so postings alone could never decrement exactly.

The segment lifecycle (format, crash ordering, folding, deletion) is
described once, in :mod:`.segments`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ranking import ranked_topk
from .segments import DROP, KEEP, SegmentStore, overlapping

#: prefix of each segment's doc-table sidecar directory
DOCS = "docs_"

#: canonical BM25 constants — defined HERE (operators never import the
#: queries package, so this is the cycle-safe home) and imported by
#: queries/llm.py, so the scan path, the oracle SQL, and the index
#: path can never drift onto different constants
BM25_K1 = 1.2
BM25_B = 0.75

#: bump when the postings schema, tokenizer convention, or scoring
#: snap changes — cache keys (q_search_bm25_indexed's /tmp store)
#: include it so stale indexes built by older code are never re-served
STORE_VERSION = 4  # v4: sidecar may carry doc-attribute facet columns

#: driver-side cap on fuzzy dictionary matches (the collect_prune_keys
#: bound applied to search_fuzzy's matched-term collect)
FUZZY_MAX_MATCHED = 1024


class TermStore(SegmentStore):
    """Persistent inverted index (see module docstring)."""

    MANIFEST = "_term_manifest.json"
    CLUSTER_BY = ["term"]
    ID_COL = "doc_id"
    SIDECARS = (DOCS,)

    def analyze_terms(self, terms: tuple[str, ...]) -> tuple[str, ...]:
        """Pass query terms through the analyzer the manifest records
        (the Lucene rule: the same chain at index and query time) —
        identity for a standard store, snowball_stem per term for a
        stem-folded one. The BM25 paths (search / search_filtered)
        call this, so unanalyzed terms against a snowball store can
        never silently miss the postings vocabulary; the positional
        and raw primitives (phrase/proximity/prefix/fuzzy,
        read_postings) stay analyzer-agnostic — analyze their inputs
        yourself when serving a stemmed store. Do NOT pre-stem the
        terms you pass to search — Porter2 is
        not idempotent on every word, so double-stemming can change
        the term."""
        if self.analyzer_name() == "snowball":
            from ..functions.snowball import snowball_stem

            return tuple(snowball_stem(t) for t in terms)
        return terms

    def analyzer_name(self) -> str:
        """The token-analyzer label this store's postings were built
        with ("standard" = bare tokens_expr; "snowball" = stem-folded).
        Query terms must pass through the same analyzer — mixed
        analyzers make postings and query vocabulary disjoint."""
        return self.load().meta.get("analyzer", "standard")

    def stats(self) -> tuple[int, int]:
        """(N docs, Σ doc length) across every indexed batch — O(1)
        manifest metadata."""
        segs = self.segments()
        return (
            sum(s["n_docs"] for s in segs),
            sum(s["sum_dl"] for s in segs),
        )

    # -- writes --------------------------------------------------------
    def append(
        self,
        docs: DataFrame,
        *,
        id_min: int | None = None,
        id_max: int | None = None,
        n_files: int = 4,
        skip_if_range_indexed: bool = False,
        attrs: tuple[str, ...] = (),
        token_fn=None,
        analyzer: str = "standard",
    ) -> bool:
        """Tokenize a batch and register its postings as a
        term-clustered segment. Statistics count EVERY batch doc (a doc
        with no indexed term still contributes to N and Σdl — BM25's
        corpus stats are document-level, not posting-level).

        ``attrs`` names document metadata columns (e.g. ``lang``,
        ``source``) to persist into the per-segment doc sidecar — the
        doc-attribute store :meth:`search_filtered` prunes candidates
        from. Attributes ride the sidecar, never the postings: one
        value per DOCUMENT, not per posting row, and every sidecar
        rewrite (delete_ids / compact / compact_tiered) is
        schema-preserving so they survive store maintenance. Every
        append to a store must declare the SAME attrs as its existing
        segments (validated against the first sidecar's schema):
        multi-segment sidecar reads take one file's schema, so a
        mixed store would silently drop or null the attr columns —
        the store fails loudly here instead.

        ``id_min``/``id_max`` declare the segment's covering id range
        (the skip_if_range_indexed / delete-pruning key). Omit BOTH to
        derive them from the batch's own min/max doc_id — free, since
        the stats pass computes those anyway (the streaming-ingest
        case, which otherwise pays a redundant per-micro-batch
        aggregation); derived bounds are checked for overlap AFTER the
        stats pass.

        ``token_fn`` (a Column → array<string> Column builder;
        default ``tokens_expr``) is the ANALYZER — e.g. the Snowball
        stem-folding chain for a stemmed index — and ``analyzer``
        labels it in the manifest: every append must declare the same
        label as the store's existing segments (mixed analyzers make
        postings vocabularies disjoint — the attrs-schema rule applied
        to tokenization), and search callers pass query terms through
        the matching analyzer themselves (postings carry no
        tokenizer)."""
        from ..functions.text import tokens_expr

        if (id_min is None) != (id_max is None):
            raise ValueError("pass both id_min and id_max, or neither")
        if token_fn is None:
            token_fn = tokens_expr

        man = self.load()
        segments = man.segments
        built = man.meta.get("analyzer", "standard")
        if segments and built != analyzer:
            raise ValueError(
                f"TermStore at {self.root} was built with analyzer="
                f"{built!r} but this append declares "
                f"{analyzer!r} — mixed analyzers make postings and "
                "query vocabularies disjoint; rebuild the store"
            )
        # attr-schema check BEFORE the idempotent-skip early return: a
        # re-append with different attrs must fail loudly, not silently
        # skip and leave the caller believing the facet is available
        if segments:
            sidecar = self.seg_path(segments[0], DOCS)
            if os.path.isdir(sidecar):  # pre-v3 stores have none to check
                existing = [
                    c
                    for c in docs.sparkSession.read.parquet(sidecar).columns
                    if c not in ("doc_id", "dl")
                ]
                if sorted(existing) != sorted(attrs):
                    raise ValueError(
                        f"TermStore at {self.root} was built with "
                        f"attrs={tuple(existing)} but this append declares "
                        f"attrs={tuple(attrs)} — mixed sidecar schemas would "
                        "silently drop attribute columns on multi-segment "
                        "reads; declare the same attrs on every append (or "
                        "rebuild the store)"
                    )

        if skip_if_range_indexed and id_min is not None and overlapping(
            segments, id_min, id_max
        ):
            return False
        toks = docs.select(
            "doc_id", *attrs, token_fn(F.col("text")).alias("ts")
        ).localCheckpoint(eager=True)  # consumed by stats AND postings
        stats_row = toks.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size("ts")).alias("sumdl"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        ).first()
        if not stats_row["n"]:
            # an idle micro-batch: a zero-row segment would be an
            # unreadable parquet dir (no part files) and an n_docs=0
            # manifest entry that divides search's stats by zero
            return False
        if id_min is None:
            id_min, id_max = int(stats_row["lo"]), int(stats_row["hi"])
            if skip_if_range_indexed and overlapping(segments, id_min, id_max):
                return False
        elif stats_row["lo"] < id_min or stats_row["hi"] > id_max:
            # a mis-declared range + skip_if_range_indexed would
            # silently drop a future overlapping batch (stats AND
            # postings missing) while search keeps returning
            # confidently wrong integers — fail loudly instead
            raise ValueError(
                f"batch doc_ids [{stats_row['lo']}, {stats_row['hi']}] escape "
                f"the declared segment range [{id_min}, {id_max}]"
            )
        postings = (
            toks.select(
                "doc_id",
                F.size("ts").alias("dl"),
                F.posexplode("ts").alias("p", "term"),
            )
            .groupBy("term", "doc_id", "dl")
            .agg(
                F.count(F.lit(1)).cast("long").alias("tf"),
                # 1-based token offsets, sorted (collect_list order is
                # nondeterministic) — the POSITIONAL index: phrase
                # queries intersect these lists instead of scanning text
                F.sort_array(F.collect_list(F.col("p") + 1)).alias("positions"),
            )
        )
        seg = {
            "seg": self._new_seg(segments),
            "id_min": id_min,
            "id_max": id_max,
            "n_docs": int(stats_row["n"]),
            "sum_dl": int(stats_row["sumdl"] or 0),
        }
        # observed postings row count feeds read_postings' pruned-read
        # density decision (layout.pruned_isin)
        seg["rows"] = self._write(postings, seg, n_files)
        # per-segment doc sidecar (doc_id, dl, *attrs) — ONE row per
        # batch doc incl. zero-token docs; what lets delete_ids
        # decrement n_docs/sum_dl exactly, and what search_filtered
        # prunes candidates from. Tiny: n_docs rows, one file.
        self._write_sidecar(
            toks.select("doc_id", F.size("ts").cast("long").alias("dl"), *attrs),
            seg, DOCS,
        )
        meta = {k: v for k, v in man.meta.items() if k != "analyzer"}
        if analyzer != "standard":
            meta["analyzer"] = analyzer
        self._commit([*segments, seg], meta)
        return True

    def _merge_stats(self, ripe: list[dict]) -> dict:
        return {
            "n_docs": sum(int(s["n_docs"]) for s in ripe),
            "sum_dl": sum(int(s["sum_dl"]) for s in ripe),
        }

    def _restat(self, spark: SparkSession, seg: dict, ids: list[int]):
        """delete_ids keeps BM25 exact: each rewritten segment's
        ``n_docs``/``sum_dl`` drop by the deleted docs' sidecar-recorded
        lengths, so later searches score EXACTLY as a fresh build of the
        surviving corpus. A segment left with no document is dropped."""
        gone = (
            spark.read.parquet(self.seg_path(seg, DOCS))
            .filter(F.col("doc_id").isin(ids))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("dl"),
            )
            .first()
        )
        if not gone["n"]:
            return KEEP  # ids fell in the covering range but none were present
        if int(seg["n_docs"]) - int(gone["n"]) <= 0:
            return DROP
        return {
            "n_docs": int(seg["n_docs"]) - int(gone["n"]),
            "sum_dl": int(seg["sum_dl"]) - int(gone["dl"]),
        }

    # -- reads ---------------------------------------------------------
    def read_postings(self, spark: SparkSession, terms: list[str]) -> DataFrame | None:
        """Postings rows of the given terms, with the In(term) predicate
        pushed to parquet row-group stats on term-clustered segments —
        the inverted-list read. Threshold is RATCHETED up (the ivfstore
        rule: a set/restore pair would revert before the lazy scan
        executes)."""
        segs = self.segments()
        if not segs or not terms:
            return None
        return self._read(spark, segs, "term", [str(t) for t in terms])

    def search(
        self, spark: SparkSession, terms: tuple[str, ...], *, k: int = 20,
        k1: float = BM25_K1, b: float = BM25_B,
        exclude_ids: tuple[int, ...] = (),
        eligible: DataFrame | None = None,
    ) -> DataFrame:
        """BM25 top-k from the index: (rank, doc_id, score_scaled,
        n_terms_hit), integer-equal to ``bm25_topk`` over the same
        corpus (identical per-term arithmetic on the same integer
        grid; see module docstring; both paths dedupe repeated query
        terms — postings
        are unique per (term, doc), so a double-scored duplicate could
        never be served from an index). Work: O(Σ matched postings) +
        a k-row merge.

        ``exclude_ids`` drops those documents BEFORE ranks are
        assigned (the more-like-this source-doc exclusion: filtering
        after top-k would burn a result slot and leave a rank gap).
        Corpus statistics stay those of the FULL index — exclusion
        removes candidates, it does not pretend the docs were never
        indexed (matching the scan path, whose df/N/Σdl also count
        the excluded doc).

        ``eligible`` (a doc_id frame) restricts candidates the same
        way — a facet/metadata filter, the Lucene filter-query
        semantics: corpus statistics (N, Σdl, per-term df) stay those
        of the FULL index, and the semi join prunes posting rows
        BEFORE the per-doc score aggregate, so no score is computed
        for a filtered-out document (never post-filtered ranks).

        Terms pass through the store's recorded analyzer first
        (analyze_terms) — pass RAW terms, not pre-stemmed ones. The
        analyzer, postings and statistics come from one manifest
        snapshot."""
        with self.snapshot():
            terms = tuple(dict.fromkeys(self.analyze_terms(terms)))
            post = self.read_postings(spark, list(terms))
            if post is None:
                raise ValueError(f"TermStore at {self.root} is empty or no terms given")
            n, sumdl = self.stats()
        # per-term document frequency — exact, from the fetched lists
        # BEFORE any candidate pruning (filters restrict candidates,
        # never term statistics); ≤ |terms| rows, broadcast back
        dfs = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        scored = post.join(F.broadcast(dfs), "term")
        if eligible is not None:
            scored = scored.join(eligible, "doc_id", "left_semi")
        # identical expression shapes to bm25_topk: lit(n)/lit(sumdl)
        # divide to the same IEEE double the scan path's aggregate row
        # produces, and F.log is the same JVM ln on both paths
        avgdl = F.lit(sumdl) * 1.0 / F.lit(n)
        idf = F.floor(
            F.log(1 + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * 10000
            + F.lit(0.5)
        )
        w = F.floor(
            F.col("tf")
            * F.lit(k1 + 1)
            / (
                F.col("tf")
                + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * (F.col("dl") / avgdl))
            )
            * 10000
            + F.lit(0.5)
        )
        per_doc = (
            scored.select("doc_id", (idf * w).alias("s"))
            .groupBy("doc_id")
            .agg(
                F.sum("s").cast("long").alias("score_scaled"),
                F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            )
        )
        hits = per_doc.filter(F.col("score_scaled") > 0)
        if exclude_ids:
            hits = hits.filter(
                ~F.col("doc_id").isin([int(i) for i in exclude_ids])
            )
        return ranked_topk(
            hits,
            [F.desc("score_scaled"), F.asc("doc_id")],
            k=k,
        )

    def search_filtered(
        self, spark: SparkSession, terms: tuple[str, ...], *, attr: str,
        values: tuple[str, ...], k: int = 20,
        k1: float = BM25_K1, b: float = BM25_B,
    ) -> DataFrame:
        """Faceted BM25: top-k restricted to documents whose sidecar
        ``attr`` is in ``values`` — the WHERE clause of every real
        search API, served FROM THE INDEX. The attribute predicate is
        pushed into the doc-sidecar parquet scan (plan-asserted), the
        resulting doc_id set semi-join-prunes the postings BEFORE
        scoring, and corpus statistics stay those of the full index
        (the Lucene filter-query convention, shared with exclude_ids) —
        so the surviving documents' integers equal the unfiltered
        search's and the scan twin's exactly.

        Scale shape: the sidecars total N rows of (doc_id, dl, attrs) —
        tiny next to the postings — and the semi join bounds score work
        at O(matched ∧ eligible postings). Post-filtering a top-k would
        instead be WRONG, not just slow: docs k+1..∞ matching the facet
        could never surface."""
        with self.snapshot() as man:
            if not man.segments:
                raise ValueError(f"TermStore at {self.root} is empty")
            self._require_sidecars(man.segments)
            sidecars = spark.read.parquet(
                *[self.seg_path(s, DOCS) for s in man.segments]
            )
            if attr not in sidecars.columns:
                raise ValueError(
                    f"TermStore at {self.root} has no {attr!r} doc attribute — "
                    f"sidecar columns are {sidecars.columns}; pass "
                    f"attrs=({attr!r},) at append time to enable this facet"
                )
            eligible = sidecars.filter(
                F.col(attr).isin([str(v) for v in values])
            ).select("doc_id")
            return self.search(spark, terms, k=k, k1=k1, b=b, eligible=eligible)

    def read_postings_range(
        self, spark: SparkSession, lo: str, hi: str | None
    ) -> DataFrame | None:
        """Postings rows with lo <= term (< hi when given), pushed as
        RANGE predicates parquet stats evaluate per row group — on
        term-clustered segments a prefix's terms live in one or two
        row groups, so this is the dictionary-range read a real
        inverted index serves wildcard queries from (no threshold
        ratchet needed: range filters push natively). ``hi=None``
        drops the upper bound (the no-successor edge — the caller
        narrows by its own predicate)."""
        segs = self.segments()
        if not segs:
            return None
        df = self._read(spark, segs).filter(F.col("term") >= lo)
        if hi is not None:
            df = df.filter(F.col("term") < hi)
        return df

    def search_prefix(
        self, spark: SparkSession, prefix: str, *, k: int = 20
    ) -> DataFrame:
        """PREFIX top-k from the index: (rank, doc_id, n_hits,
        n_terms) — documents ranked by total occurrences of any term
        starting with ``prefix`` (ties: fewer chars ≻ lower doc_id is
        NOT used; ordering is (n_hits desc, doc_id asc), matching the
        scan path's integers exactly). The postings read is the
        term-RANGE scan [prefix, next(prefix)) — O(matching postings),
        independent of corpus size on term-clustered segments."""
        if not prefix:
            raise ValueError("prefix must be non-empty")
        post = self.read_postings_range(spark, prefix, _next_prefix(prefix))
        if post is None:
            raise ValueError(f"TermStore at {self.root} is empty")
        # belt-and-braces startswith on top of the range: exactly the
        # prefix semantics even on the no-successor edge (hi=None),
        # and a no-op narrowing otherwise
        post = post.filter(F.col("term").startswith(prefix))
        per_doc = post.groupBy("doc_id").agg(
            F.sum("tf").cast("long").alias("n_hits"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
        return ranked_topk(per_doc, [F.desc("n_hits"), F.asc("doc_id")], k=k)

    def search_fuzzy(
        self,
        spark: SparkSession,
        terms: tuple[str, ...],
        *,
        max_dist: int = 1,
        k: int = 20,
    ) -> DataFrame:
        """TYPO-tolerant top-k from the index: (rank, doc_id, n_hits,
        n_terms), integer-equal to the corpus-scan fuzzy search — the
        DICTIONARY pass real engines run: the Levenshtein comparator
        scans the store's distinct terms (a column-pruned
        vocabulary-sized read, thousands of rows at any corpus size),
        then ONLY the matched terms' postings are fetched via the
        pushed In(term) inverted-list read. Work: O(vocabulary)
        comparator + O(matched postings) — never a corpus scan. The
        matched-term collect is DRIVER-BOUNDED (the collect_prune_keys
        rule): more than FUZZY_MAX_MATCHED matches raises instead of
        shipping an unbounded isin list to the driver — tighten
        max_dist or the query terms."""
        segs = self.segments()
        if not segs or not terms:
            raise ValueError(f"TermStore at {self.root} is empty or no terms given")
        vocab = self._read(spark, segs).select("term").distinct()
        d = F.levenshtein(F.col("term"), F.lit(terms[0]))
        for q in terms[1:]:
            d = F.least(d, F.levenshtein(F.col("term"), F.lit(q)))
        rows = vocab.filter(d <= max_dist).limit(FUZZY_MAX_MATCHED + 1).collect()
        if len(rows) > FUZZY_MAX_MATCHED:
            raise ValueError(
                f"fuzzy query matches more than {FUZZY_MAX_MATCHED} vocabulary "
                "terms — tighten max_dist or the query terms"
            )
        matched = [r.term for r in rows]
        if not matched:
            return spark.createDataFrame(
                [], "rank long, doc_id long, n_hits long, n_terms long"
            )
        post = self._read(spark, segs, "term", matched)
        per_doc = post.groupBy("doc_id").agg(
            F.sum("tf").cast("long").alias("n_hits"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
        return ranked_topk(per_doc, [F.desc("n_hits"), F.asc("doc_id")], k=k)

    def search_boolean(
        self,
        spark: SparkSession,
        must: tuple[str, ...],
        must_not: tuple[str, ...] = (),
        *,
        k: int = 20,
    ) -> DataFrame:
        """BOOLEAN top-k from the index: (rank, doc_id, tf_must) for
        documents containing EVERY ``must`` term and NONE of the
        ``must_not`` terms, ranked by summed must-term occurrences —
        integer-equal to the corpus-scan ``boolean_topk``. The classic
        postings algebra: ONE pushed In(term) read fetches all query
        terms' lists, the conjunction is a doc-grouped count equal to
        |must| (set semantics — duplicates deduped, as a posting list
        can only be intersected once), and the negation is a LEFT ANTI
        join against the must_not doc ids — the NOT never touches
        documents outside the fetched lists, which is why boolean
        retrieval is index-served in every real engine. Work: O(Σ
        query-term postings) + a k-row merge, independent of corpus
        size."""
        must = tuple(dict.fromkeys(must))
        must_not = tuple(t for t in dict.fromkeys(must_not) if t not in must)
        if not must:
            raise ValueError("need at least one must term")
        post = self.read_postings(spark, list(must) + list(must_not))
        if post is None:
            raise ValueError(f"TermStore at {self.root} is empty")
        post = post.localCheckpoint(eager=True)  # conjunction + negation below
        hits = (
            post.filter(F.col("term").isin(list(must)))
            .groupBy("doc_id")
            .agg(
                F.sum("tf").cast("long").alias("tf_must"),
                F.count(F.lit(1)).alias("n_must"),
            )
            .filter(F.col("n_must") == len(must))
            .drop("n_must")
        )
        if must_not:
            excl = post.filter(F.col("term").isin(list(must_not))).select("doc_id")
            hits = hits.join(excl, "doc_id", "left_anti")
        return ranked_topk(hits, [F.desc("tf_must"), F.asc("doc_id")], k=k)

    def search_proximity(
        self,
        spark: SparkSession,
        terms: tuple[str, str],
        *,
        slop: int,
        k: int = 20,
    ) -> DataFrame:
        """PROXIMITY top-k from the POSITIONAL index: (rank, doc_id,
        min_dist, n_within) for documents where the two terms occur
        within ``slop`` token positions, integer-equal to the
        corpus-scan ``proximity_topk`` — the positions lists fetched
        for each term join on doc_id and the same all-pairs |p1−p2|
        distance table is computed on the resident arrays (work per
        doc = tf1·tf2, bounded by the per-doc term frequencies — the
        same arithmetic the scan path does, but only over docs in BOTH
        postings lists instead of the whole corpus). Ordering:
        (min_dist asc, n_within desc, doc_id asc)."""
        if len(terms) != 2 or terms[0] == terms[1]:
            raise ValueError("proximity search takes exactly 2 distinct terms")
        post = self.read_postings(spark, list(terms))
        if post is None:
            raise ValueError(f"TermStore at {self.root} is empty")
        post = post.localCheckpoint(eager=True)  # one frame per term below
        a = post.filter(F.col("term") == terms[0]).select(
            "doc_id", F.col("positions").alias("p1")
        )
        b = post.filter(F.col("term") == terms[1]).select(
            "doc_id", F.col("positions").alias("p2")
        )
        return ranked_topk(
            _proximity_score(a.join(b, "doc_id"), slop),
            [F.asc("min_dist"), F.desc("n_within"), F.asc("doc_id")],
            k=k,
        )

    def search_phrase(
        self, spark: SparkSession, phrase: tuple[str, ...], *, k: int = 20
    ) -> DataFrame:
        """EXACT-PHRASE top-k from the POSITIONAL index: (rank, doc_id,
        n_hits, first_pos), integer-equal to the corpus-scan
        q_search_phrase — a phrase occurs at token offset p iff for
        every j the j-th phrase term's posting for the doc contains
        p + j, so matching is a per-doc intersection of the fetched
        positions lists (the classic positional-inverted-index plan):
        ≤ |phrase| broadcast-sized per-term frames join on doc_id, one
        array filter finds the surviving offsets, and only docs
        containing EVERY term are ever touched. Work: O(Σ phrase-term
        postings), independent of corpus size."""
        if len(phrase) < 2:
            raise ValueError("phrase needs at least 2 terms")
        post = self.read_postings(spark, list(dict.fromkeys(phrase)))
        if post is None:
            raise ValueError(f"TermStore at {self.root} is empty or no terms given")
        post = post.localCheckpoint(eager=True)  # one frame per phrase term below
        base = post.filter(F.col("term") == phrase[0]).select(
            "doc_id", F.col("positions").alias("p0")
        )
        cur = base
        for j, term in enumerate(phrase[1:], start=1):
            nxt = post.filter(F.col("term") == term).select(
                "doc_id", F.col("positions").alias(f"p{j}")
            )
            cur = cur.join(nxt, "doc_id")
        def contains_at(col_name: str, off: int):
            # one-arg closure factory: extra lambda params would bind
            # Spark's (element, index) HOF signature
            return lambda p: F.array_contains(F.col(col_name), p + off)

        hit = F.col("p0")
        for j in range(1, len(phrase)):
            hit = F.filter(hit, contains_at(f"p{j}", j))
        scored = cur.select(
            "doc_id",
            F.size(hit).cast("long").alias("n_hits"),
            F.element_at(hit, 1).cast("long").alias("first_pos"),
        ).filter(F.col("n_hits") > 0)
        return ranked_topk(scored, [F.desc("n_hits"), F.asc("doc_id")], k=k)


def _proximity_score(pairs: DataFrame, slop: int) -> DataFrame:
    """(doc_id, p1, p2) position-array rows → (doc_id, min_dist,
    n_within) for docs whose closest occurrence pair is within
    ``slop``. ONE definition shared by TermStore.search_proximity and
    the corpus-scan proximity_topk (queries/llm.py) — the scan≡index
    integer-equality contract requires both paths to build the
    identical distance table: all-pairs |p1−p2| as a flattened
    map-side array expression (no explode — tf1·tf2 values live in
    one resident array per doc), min via array_min, the within-slop
    count via a filtered size."""
    dists = F.flatten(
        F.transform(
            F.col("p1"),
            lambda x: F.transform(F.col("p2"), lambda y: F.abs(x - y)),
        )
    )
    scored = pairs.select(
        "doc_id",
        F.array_min(dists).cast("long").alias("min_dist"),
        F.size(F.filter(dists, lambda d: d <= F.lit(slop)))
        .cast("long")
        .alias("n_within"),
    )
    return scored.filter(F.col("min_dist") <= slop)


def _next_prefix(prefix: str) -> str | None:
    """Smallest string greater than every string with this prefix —
    the upper bound of the dictionary range [prefix, next). Walks back
    over code points that have no valid successor (U+D7FF would step
    into surrogate space, U+10FFFF has nothing above it); returns None
    when no bound exists (all-max prefix) — callers then drop the
    upper bound and narrow with startswith."""
    chars = list(prefix)
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        nxt = cp + 1
        if nxt == 0xD800:  # skip the surrogate block entirely
            nxt = 0xE000
        if nxt <= 0x10FFFF:
            return "".join(chars[:i]) + chr(nxt)
        # no successor at this position: drop it and bump the previous
    return None
