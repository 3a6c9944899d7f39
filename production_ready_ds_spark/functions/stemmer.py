"""Arrow-batched pandas UDF that stems token arrays.

The reference stems tokens with NLTK's SnowballStemmer (T5,
00_training_pipeline.py:61,88) — the single cleaning step with no Spark
builtin. NLTK is not installable here, so the stemming itself is
:func:`.snowball.snowball_stem`, an English Snowball (Porter2)
implementation from the public spec; this module wraps it as
``stem_tokens_udf`` — an Arrow-batched pandas UDF over
``array<string>`` columns (the ~100× faster path vs row-at-a-time
Python; SURVEY.md §2a U1 disposition).
"""

from __future__ import annotations


def stem_tokens_udf():
    """pandas UDF: array<string> tokens → array<string> stems (created
    lazily — UDF construction needs an active SparkSession).

    Uses the English Snowball (Porter2) stemmer — the algorithm the
    reference stems with — so the golden-artifact replay is exact
    (tests/test_reference_replay.py)."""
    from pyspark.sql.functions import pandas_udf

    from .snowball import snowball_stem

    # word -> stem memo, closure-level so it persists across Arrow
    # batches WITHIN A TASK (each task deserializes a fresh closure;
    # ships empty): corpus text is Zipfian, so most token occurrences
    # repeat a small vocabulary and the full Porter2 run is paid once
    # per distinct word per task instead of once per occurrence
    # (measured 5.6 -> 1.45 s on q_search_stemmed at sf0.1). BOUNDED:
    # a high-cardinality token tail (random ids, hashes) must not grow
    # worker memory without cap — past the cap the memo resets (head
    # and tail alike); the ceiling stays fixed and the Zipfian head
    # re-warms within a few batches
    memo: dict = {}
    _MEMO_CAP = 1_000_000

    def _stem_arrays(s):  # pd.Series -> pd.Series (no hints: pandas is
        # not module-global here, and pyspark eval's string annotations)
        def st(t):
            r = memo.get(t)
            if r is None:
                if len(memo) >= _MEMO_CAP:
                    memo.clear()
                r = snowball_stem(t)
                memo[t] = r
            return r

        return s.map(
            lambda toks: [st(t) for t in toks] if toks is not None else None
        )

    return pandas_udf(_stem_arrays, "array<string>")
