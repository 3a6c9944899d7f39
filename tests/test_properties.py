"""Property tests (SURVEY.md §5.2(5)): algebraic invariants of the
engine's operators. Hypothesis drives the pure-Python kernels; Spark
invariants use parametrized partitionings (a Spark job per hypothesis
example would be prohibitively slow)."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from production_ready_ds_spark.functions.snowball import snowball_stem

words = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=20)


@given(words)
@settings(max_examples=300, deadline=None)
def test_stemmer_never_grows_and_stays_lower(w):
    s = snowball_stem(w)
    assert len(s) <= len(w) + 1  # +1: step-1b can append 'e'
    assert s == s.lower()


@given(words)
@settings(max_examples=300, deadline=None)
def test_stemmer_deterministic(w):
    assert snowball_stem(w) == snowball_stem(w)


@given(st.lists(words, min_size=0, max_size=30))
@settings(max_examples=25, deadline=None)  # each example is a Spark job
def test_tokenizer_matches_python_reference(spark, toks):
    """Spark's split/filter tokenizer ≡ the plain-Python regex split on
    arbitrary whitespace-joined input."""
    from pyspark.sql import functions as F

    from production_ready_ds_spark.functions.text import tokens_expr

    text = " ".join(toks)
    want = [t for t in re.split(r"\W+", text.lower()) if t]
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(tokens_expr(F.col("text")).alias("t")).first().t
    assert got == want


@pytest.mark.parametrize("parts", [1, 3, 7, 32])
def test_partial_aggregation_invariance(spark, sf_small, parts):
    """Σ over any partitioning == Σ total (map-side combine soundness)."""
    from pyspark.sql import functions as F

    from production_ready_ds_spark.tables import load

    li = load(spark, sf_small, "lineitem").select("l_quantity")
    total = li.agg(F.round(F.sum("l_quantity"), 2).alias("s")).first().s
    repart = li.repartition(parts).agg(F.round(F.sum("l_quantity"), 2).alias("s")).first().s
    assert total == repart


def test_dedup_idempotence(spark, sf_small):
    from production_ready_ds_spark.queries import catalog

    q = catalog()["q_dedup_exact"].fn
    once = q(spark, sf_small)
    keep_ids = [r.keep_doc_id for r in once.collect()]
    assert sorted(keep_ids) == sorted(set(keep_ids))
    # re-deduping the survivors changes nothing
    assert once.select("text_hash").distinct().count() == once.count()


def test_join_cardinality_bounds(spark, sf_small):
    from production_ready_ds_spark.tables import load

    c = load(spark, sf_small, "customer")
    o = load(spark, sf_small, "orders")
    inner = c.join(o, c.c_custkey == o.o_custkey).count()
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").count()
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").count()
    assert inner <= c.count() * o.count()
    assert semi + anti == c.count()  # semi/anti partition the left side
    assert inner >= semi  # every semi-match has ≥1 inner row


def test_asof_join_semantics(spark, sf_small):
    """As-of invariants, checked row-by-row against the raw inputs:
    (1) a matched order belongs to the same customer and is dated at or
    before the event; (2) the match is the LATEST such order (max date,
    ties by max orderkey); (3) NULL exactly when the customer has no
    order at or before the event."""
    from collections import defaultdict

    from production_ready_ds_spark.queries import catalog
    from production_ready_ds_spark.tables import load

    out = {r.event_id: r for r in catalog()["q_join_asof"].fn(spark, sf_small).collect()}
    events = load(spark, sf_small, "events").select("event_id", "user_id", "ts").collect()
    orders = defaultdict(list)
    for o in load(spark, sf_small, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    ).collect():
        orders[o.o_custkey].append(o)

    assert len(out) == len(events)
    for e in events:
        row = out[e.event_id]
        ets = e.ts.replace(tzinfo=None)
        prior = [o for o in orders.get(e.user_id, [])
                 if o.o_orderdate.replace(tzinfo=None) <= ets]
        if not prior:
            assert row.asof_orderkey is None, row
        else:
            best = max(prior, key=lambda o: (o.o_orderdate, o.o_orderkey))
            assert row.asof_orderkey == best.o_orderkey, (e.event_id, row, best)


# ------------------------------------------------------ media codecs --

_png_dims = st.tuples(st.integers(1, 12), st.integers(1, 10))


@given(
    _png_dims,
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(dims, data):
    """encode → parse is the identity for ANY pixel content and ANY
    per-scanline filter assignment (hypothesis-driven — fixed fixtures
    can miss filter/edge interactions like 1-pixel-wide images)."""
    from production_ready_ds_spark.operators.multimodal import PNGDecoder

    w, h = dims
    px = bytes(data.draw(st.binary(min_size=w * h * 3, max_size=w * h * 3)))
    fts = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
    got = PNGDecoder.parse(PNGDecoder.encode(w, h, px, fts))
    assert got is not None and got == (w, h, px)


@given(
    st.integers(1, 48000),
    st.lists(st.integers(-32768, 32767), min_size=1, max_size=200),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_property(sr, samples):
    """WAV container round-trip preserves rate and samples exactly for
    any int16 content."""
    import numpy as np

    from production_ready_ds_spark.operators.multimodal import WAVAudioDecoder

    wav = WAVAudioDecoder.encode(sr, samples)
    parsed = WAVAudioDecoder.parse(wav)
    assert parsed is not None
    rate, body = parsed
    assert rate == sr
    assert np.frombuffer(body, dtype="<i2").tolist() == samples


@given(st.binary(max_size=400))
@settings(max_examples=120, deadline=None)
def test_codecs_never_raise_on_garbage(buf):
    """Arbitrary bytes must decode to NULL rows, never exceptions —
    decode errors at 100 TB are data (every real corpus contains
    corrupt files)."""
    from production_ready_ds_spark.operators.multimodal import (
        PNGDecoder,
        WAVAudioDecoder,
    )

    assert PNGDecoder().decode(buf)["width"] in (None, 1)  # tiny valid PNGs exist
    assert WAVAudioDecoder().decode(buf)["sr"] is None or isinstance(
        WAVAudioDecoder().decode(buf)["sr"], int
    )


@given(
    st.lists(words, min_size=1, max_size=40),
    st.integers(min_value=0, max_value=5),
)
@settings(max_examples=15, deadline=None)  # each example is a Spark job
def test_kwic_snippet_invariants(spark, toks, context):
    """For any document containing the query term, the KWIC snippet
    (1) contains the hit term, (2) spans at most 2*context+1 tokens,
    (3) is a CONTIGUOUS slice of the document's token stream around
    hit_pos, and (4) hit_pos is the term's first occurrence."""
    from production_ready_ds_spark.queries.llm import kwic_snippets

    term = toks[len(toks) // 2]
    docs = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id long, text string"
    )
    ranked = spark.createDataFrame(
        [(1, 1, 100)], "rank long, doc_id long, score_scaled long"
    )
    row = kwic_snippets(docs, ranked, (term,), context=context).collect()[0]
    assert row.hit_pos == toks.index(term) + 1
    got = row.snippet.split(" ")
    assert term in got
    assert len(got) <= 2 * context + 1
    lo = max(0, row.hit_pos - 1 - context)
    hi = min(len(toks), row.hit_pos + context)
    assert got == toks[lo:hi]


_wp_words = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789_", min_size=1, max_size=24)


@given(_wp_words)
@settings(max_examples=300, deadline=None)
def test_wordpiece_reconstruction_and_greedy_maximality(w):
    """Segmentation invariants: pieces re-concatenate to the word
    (continuation ## stripped) unless the word is [UNK]; the first
    piece is the LONGEST vocab prefix (greedy maximality); every
    pure-[a-z0-9] word segments without UNK (alphabet coverage)."""
    from production_ready_ds_spark.queries.wordpiece import (
        UNK,
        WORDPIECE_MAX_LEN,
        WORDPIECE_VOCAB_SET,
        wordpiece_segment,
    )

    vocab, max_len = WORDPIECE_VOCAB_SET, WORDPIECE_MAX_LEN
    pieces = wordpiece_segment(w, vocab, max_len)
    assert pieces == wordpiece_segment(w, vocab, max_len)  # deterministic
    if "_" in w:
        assert pieces == [UNK]
        return
    assert UNK not in pieces, (w, pieces)
    rebuilt = pieces[0] + "".join(p[2:] for p in pieces[1:])
    assert rebuilt == w, (w, pieces)
    assert all(p.startswith("##") for p in pieces[1:])
    longest_prefix = max(
        (p for p in vocab if not p.startswith("##") and w.startswith(p)),
        key=len,
    )
    assert len(pieces[0]) == len(longest_prefix), (w, pieces, longest_prefix)
