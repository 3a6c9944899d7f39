"""Unigram-LM tokenizer training (Kudo, ACL 2018 — the SentencePiece
unigram algorithm, the other tokenizer-training scheme every LLM data
pipeline chooses between besides BPE).

Where BPE (queries/bpe.py) GROWS a vocabulary bottom-up by merging the
most frequent adjacent pair, the unigram LM SHRINKS one top-down: seed a
large candidate-piece vocabulary from corpus substrings, fit piece
probabilities by EM over the best segmentation of every word (Viterbi
hard-EM here — deterministic, the variant whose expected counts are the
best-path counts), prune to the target size keeping every single
character (so a segmentation path always exists), and re-fit. Reference
grounding: the reference's HashingTF sidesteps tokenizer training
entirely (`00_training_pipeline.py:138`); this and BPE are the two
explicit-subword alternatives at the same pipeline position.

Scale shape (the same argument as q_bpe_train): the corpus is touched
ONCE — the word-frequency dictionary is q_vocab_build's single
explode + map-side-combined hash-agg. Everything after iterates on the
VOCABULARY-bounded frame (distinct words), never the corpus: the seed
pass explodes substrings of DISTINCT words (≤ MAX_PIECE_LEN · |word|
pieces per distinct word), and each EM round is one Arrow-batched
Viterbi pass over distinct words plus a piece-count aggregate. The
model itself is tiny by construction (≤ SEED_VOCAB + alphabet pieces),
so the per-round driver collect is bounded by a CONSTANT, independent
of corpus size — the bounded-collect discipline of train_bpe (1 row per
round) and bloom_prefilter. At 100 TB the corpus scan dominates and
nothing else grows.

Rows-only by design (like q_bpe_train): iterative, data-dependent
model state is not SQL-expressible in one query. Exactness is checked
against an independent pure-Python reference with identical float
operation order and tie-breaks, piece-for-piece and
segmentation-for-segmentation (tests/test_unigram.py) — the BPE / CDC /
Snowball discipline.

Determinism contract (both the Spark kernel and any reference must
follow it exactly):
- Viterbi dp runs left-to-right; candidate end-pieces iterate k = 1..L
  ascending; a candidate wins on strictly greater score, or equal score
  and LONGER piece.
- Unknown single characters score min(model logp) - 10.0.
- logp = math.log(n / total) with n, total integers.
- After every count pass each single character gets +1 (Laplace floor);
  multi-char pieces with zero count drop.
- Ranking/pruning order is (count desc, piece asc) everywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.text import tokens_expr
from ..tables import load
from . import query

#: longest candidate piece (SentencePiece defaults to 16; 4 keeps the
#: candidate table small at test SFs while exercising every code path)
MAX_PIECE_LEN = 4
#: multi-char candidate pieces kept after seeding (count desc, piece asc)
SEED_VOCAB = 512
#: a multi-char substring must occur this often (weighted) to be seeded
SEED_MIN_COUNT = 2
#: final vocabulary size (single chars always kept, even if that alone
#: exceeds the target)
TARGET_VOCAB = 64
#: Viterbi hard-EM rounds on the seed vocabulary before pruning
EM_ROUNDS = 2


def substr_candidates(token: Column, max_len: int = MAX_PIECE_LEN) -> Column:
    """Every substring of ``token`` up to ``max_len`` chars, one entry
    per OCCURRENCE (position), as a flat array — the seed-count unit.
    Pure JVM nested transform; the empty token yields an empty array
    (``F.sequence(1, 0)`` counts DOWN — guarded like char_symbols)."""
    return F.when(
        F.length(token) > 0,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.length(token)),
                lambda i: F.transform(
                    F.sequence(
                        F.lit(1), F.least(F.lit(max_len), F.length(token) - i + 1)
                    ),
                    lambda k: token.substr(i, k),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def viterbi_segment(token: str, logp: dict[str, float], max_len: int) -> list[str]:
    """Best segmentation of ``token`` under the unigram model — the
    worker-side kernel (shipped by value: the package registers itself
    for pickle-by-value on import).
    Follows the module determinism contract to the letter."""
    n = len(token)
    if n == 0:
        return []
    unk = min(logp.values()) - 10.0
    neg = float("-inf")
    dp = [0.0] + [neg] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        best_s, best_k = neg, 0
        for k in range(1, min(max_len, i) + 1):
            lp = logp.get(token[i - k : i])
            if lp is None:
                if k != 1:
                    continue
                lp = unk
            s = dp[i - k] + lp
            if s > best_s or (s == best_s and k > best_k):
                best_s, best_k = s, k
        dp[i], back[i] = best_s, best_k
    pieces: list[str] = []
    i = n
    while i > 0:
        k = back[i]
        pieces.append(token[i - k : i])
        i -= k
    pieces.reverse()
    return pieces


def _model_logp(counts: dict[str, int]) -> dict[str, float]:
    total = sum(counts.values())
    return {p: math.log(n / total) for p, n in counts.items()}


def _count_pass(
    words: DataFrame, logp: dict[str, float], chars: set[str]
) -> dict[str, int]:
    """One distributed Viterbi count pass: segment every DISTINCT word
    (Arrow-batched pandas UDF, model dict in the closure), aggregate
    piece counts weighted by word frequency, apply the char Laplace
    floor. The collect is bounded by the model size (a constant).

    NOTE (rounds 11-12, measured negative — do not re-widen): at
    sf0.1 the cached word dict is ONE partition, so the three Viterbi
    passes serialize on one core (job profile: 148/150/627 ms
    single-task jobs) — but BOTH widening variants lose on an
    interleaved quiet-box A/B. Round 11 (repartition + min_parts-
    pinned checkpoint on the dict): train+apply 4.15 → 4.64 s and
    5.87 → 6.82 s. Round 12 (spread() on the pass INPUT only,
    checkpoint left compact): q_unigram_train min-of-3 ABAB
    1.941/1.662 s → 2.113/2.502 s. The extra round-robin exchange
    plus per-pass Python-worker fan-out costs more than the ≤0.6 s
    of serialized Python it parallelizes at this scale; at warehouse
    scale the dict groupBy output is already wide, so the widening
    has no scale posture either. The remaining wall is driver-side
    (7 sequential bounded actions) and the final pruned-vocab pass
    (more pieces/word → larger explode), both inherent to the EM
    shape."""
    seg = pandas_udf(
        lambda s: s.map(lambda t: viterbi_segment(t, logp, MAX_PIECE_LEN)),
        "array<string>",
    )
    rows = (
        words.select(F.col("n"), F.explode(seg(F.col("token"))).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
        .collect()
    )
    # only observed pieces come back, so unobserved multi-char pieces
    # drop here implicitly; unknown-char fallback pieces (not in the
    # model) are excluded, and every known char then gets its +1 floor
    out = {r["piece"]: int(r["cnt"]) for r in rows if r["piece"] in logp}
    for c in chars:
        out[c] = out.get(c, 0) + 1
    return out


def train_unigram(word_counts: DataFrame) -> list[tuple]:
    """Fit the unigram model on a (token, n) frequency frame. Returns
    [(rank, piece, n, logp), ...] ordered by (n desc, piece asc), logp
    rounded to 6 — the trained tokenizer table.

    Spark does the corpus-sized work (seed substring counts, per-round
    segmentation + count aggregation over distinct words); the driver
    holds only the constant-bounded model, exactly how production
    trainers split the work — except the word dictionary itself never
    has to fit on one machine here."""
    words = word_counts.select("token", "n").localCheckpoint()
    cand = (
        words.select(
            F.col("n"), F.explode(substr_candidates(F.col("token"))).alias("piece")
        )
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
        .localCheckpoint()  # one substring scan feeds both collects below
    )
    char_rows = cand.filter(F.length("piece") == 1).collect()
    multi_rows = (
        cand.filter(
            (F.length("piece") >= 2) & (F.col("cnt") >= F.lit(SEED_MIN_COUNT))
        )
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(SEED_VOCAB)
        .collect()
    )
    chars = {r["piece"] for r in char_rows}
    counts = {r["piece"]: int(r["cnt"]) for r in char_rows}
    counts.update({r["piece"]: int(r["cnt"]) for r in multi_rows})
    if not counts:
        return []
    for _ in range(EM_ROUNDS):
        counts = _count_pass(words, _model_logp(counts), chars)
    # prune: every char survives; top multi-char pieces fill to TARGET_VOCAB
    keep_multi = sorted(
        ((p, n) for p, n in counts.items() if len(p) >= 2),
        key=lambda kv: (-kv[1], kv[0]),
    )[: max(0, TARGET_VOCAB - len(chars))]
    counts = {p: n for p, n in counts.items() if len(p) == 1}
    counts.update(dict(keep_multi))
    # final re-fit on the pruned vocabulary
    counts = _count_pass(words, _model_logp(counts), chars)
    logp = _model_logp(counts)
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [
        (rank, p, n, round(logp[p], 6))
        for rank, (p, n) in enumerate(ordered, start=1)
    ]


@query("q_unigram_train", category="llm-text", bench=True, sql=None)
def q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the unigram-LM tokenizer on the documents corpus and return
    the piece table (rank, piece, n, logp). See the module docstring for
    the algorithm and scale argument; exactness evidence is the
    pure-Python reference replay in tests/test_unigram.py."""
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(tokens_expr(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pieces = train_unigram(wc)
    return spark.createDataFrame(
        pieces, "rank int, piece string, n long, logp double"
    )


@query("q_unigram_apply", category="llm-text", sql=None)
def q_unigram_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained unigram tokenizer to the corpus and report
    per-source piece statistics (token/char/piece counts and
    chars-per-piece compression) — q_bpe_apply's report for the other
    tokenizer family, so the two trainers are comparable side by side.

    Scale shape: segmentation is memoized on the VOCABULARY — the
    corpus is scanned once into a (source, token, n) aggregate
    (checkpointed), training runs on its token-level rollup, and ONE
    Viterbi pass segments each DISTINCT word; corpus totals are
    weighted sums over that small frame. Rows-only (model state is
    data-dependent); exactness via the reference segmentation replay in
    tests/test_unigram.py."""
    d = load(spark, sf_dir, "documents")
    wc_src = (
        d.select("source", F.explode(tokens_expr(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    wc = wc_src.groupBy("token").agg(F.sum("n").alias("n"))
    logp = {p: lp for _, p, _, lp in train_unigram(wc)}
    seg = pandas_udf(
        lambda s: s.map(lambda t: viterbi_segment(t, logp, MAX_PIECE_LEN)),
        "array<string>",
    )
    with_pieces = wc_src.withColumn("n_pieces", F.size(seg(F.col("token"))))
    return (
        with_pieces.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum(F.col("n") * F.length("token")).cast("long").alias("n_chars"),
            F.sum(F.col("n") * F.col("n_pieces")).cast("long").alias("n_pieces"),
        )
        .withColumn(
            "chars_per_piece", F.round(F.col("n_chars") / F.col("n_pieces"), 4)
        )
    )
