"""IVFStore (operators/ivfstore.py): incremental trained-quantizer
vector index — append-equivalence, probed-list pruning, compaction,
and recall against brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from production_ready_ds_spark.operators.ivfstore import IVFStore
from production_ready_ds_spark.tables import load


@pytest.fixture()
def embs(spark, sf_small):
    return load(spark, sf_small, "embeddings").select("vec_id", "embedding")


def _results(df):
    return sorted((r.probe_id, r.neighbor_id, r.cos_sim) for r in df.collect())


def test_incremental_append_equals_one_shot(spark, tmp_path, embs):
    probes = embs.filter(F.col("vec_id") < 5)
    one = IVFStore(str(tmp_path / "one"))
    one.train(embs)
    one.append(embs, id_min=0, id_max=10**9)

    inc = IVFStore(str(tmp_path / "inc"))
    inc.train(embs)  # same seed + data -> same centroids
    for lo, hi in [(0, 150), (150, 300), (300, 10**9)]:
        batch = embs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        inc.append(batch, id_min=lo, id_max=hi - 1)
    assert len(inc.segments()) == 3
    assert _results(inc.search(probes)) == _results(one.search(probes))


def test_search_pushes_list_filter_to_parquet(spark, tmp_path, embs):
    from production_ready_ds_spark.plans.audit import pushed_filters

    store = IVFStore(str(tmp_path / "st"))
    store.train(embs)
    store.append(embs, id_min=0, id_max=10**9)
    cand = store.read_lists(spark, [0, 3, 7])
    pushed = " ".join(pushed_filters(cand))
    assert "list_id" in pushed and "In(" in pushed, pushed
    # the probed-list read returns only those lists
    assert {r.list_id for r in cand.select("list_id").distinct().collect()} <= {0, 3, 7}


def test_compact_preserves_search(spark, tmp_path, embs):
    probes = embs.filter(F.col("vec_id") < 5)
    store = IVFStore(str(tmp_path / "c"))
    store.train(embs)
    for lo, hi in [(0, 200), (200, 10**9)]:
        store.append(
            embs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            id_min=lo,
            id_max=hi - 1,
        )
    before = _results(store.search(probes))
    assert store.compact(spark) == 1
    assert _results(store.search(probes)) == before


def test_recall_against_brute_force(spark, tmp_path, embs):
    """nprobe=4 of k=16 lists must recover >= 50% of the true cosine
    top-3 (the q_sim_topk_ivf bound; same data, same quantizer)."""
    from production_ready_ds_spark.functions.vectors import cosine_prenormed, norm
    from pyspark.sql import Window

    store = IVFStore(str(tmp_path / "r"))
    store.train(embs)
    store.append(embs, id_min=0, id_max=10**9)
    probes = embs.filter(F.col("vec_id") < 10)
    got = {
        (r.probe_id, r.neighbor_id)
        for r in store.search(probes, top_k=3).collect()
    }

    e = embs.withColumn("nrm", norm(F.col("embedding")))
    p = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        F.col("nrm").alias("pnrm"),
    )
    sims = (
        e.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_prenormed(
                F.col("pe"), F.col("embedding"), F.col("pnrm"), F.col("nrm")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    truth = {
        (r.probe_id, r.neighbor_id)
        for r in sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, f"recall {recall:.2f}"


def test_untrained_store_raises(spark, tmp_path, embs):
    store = IVFStore(str(tmp_path / "u"))
    with pytest.raises(ValueError, match="no trained centroids"):
        store.append(embs, id_min=0, id_max=1)


def test_streaming_ingest_appends_batches_equal_to_batch(spark, tmp_path, embs):
    """IVFStore.append composes with Structured Streaming's
    foreachBatch — the online-ingest shape: each micro-batch is
    assigned + appended as a segment, and the resulting index answers
    searches identically to a one-shot batch build."""
    import os

    from production_ready_ds_spark.streaming.events import _as_stream_dir

    probes = embs.filter(F.col("vec_id") < 5)
    ref = IVFStore(str(tmp_path / "ref"))
    ref.train(embs)
    ref.append(embs, id_min=0, id_max=10**9)

    store = IVFStore(str(tmp_path / "stream"))
    store.train(embs)

    sf_dir = os.path.dirname(embs.inputFiles()[0].removeprefix("file:"))

    def ingest(batch_df, batch_id):
        ids = batch_df.agg(F.min("vec_id"), F.max("vec_id")).first()
        if ids[0] is not None:
            store.append(batch_df, id_min=ids[0], id_max=ids[1])

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(_as_stream_dir(os.path.join(sf_dir, "embeddings.parquet")))
        .select("vec_id", "embedding")
    )
    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert store.segments(), "streaming ingest must register segments"
    assert _results(store.search(probes)) == _results(ref.search(probes))


def test_delete_ids_forgets_vectors_but_keeps_neighbors(spark, tmp_path, embs):
    """Deleted vector ids must disappear from every search result while
    other neighbors keep ranking; non-intersecting segments keep their
    original directories."""
    import os

    store = IVFStore(str(tmp_path / "del"))
    store.train(embs)
    store.append(embs.filter(F.col("vec_id") < 250), id_min=0, id_max=249)
    store.append(embs.filter(F.col("vec_id") >= 250), id_min=250, id_max=10**9)
    probes = embs.filter(F.col("vec_id") < 5)
    victims = {r.neighbor_id for r in store.search(probes, top_k=1).collect()}
    assert victims
    low_victims = [v for v in victims if v < 250]
    assert low_victims, "fixture must have a low-segment victim"

    before = {s["seg"]: s for s in store.segments()}
    n = store.delete_ids(spark, low_victims)
    assert n == 1  # only the low segment intersects
    after = {s["seg"]: s for s in store.segments()}
    assert after[1] == before[1] and os.path.isdir(store._path("seg=1"))
    remaining = {
        r.neighbor_id for r in store.search(probes, top_k=3).collect()
    }
    assert set(low_victims).isdisjoint(remaining)
    assert remaining, "other neighbors must still be returned"


def test_assign_matches_bruteforce_argmin_and_tiebreak(spark, tmp_path, embs):
    """The matmul assign must equal the NumPy brute-force nearest
    centroid for every vector, break exact ties to the LOWEST list id
    (the old min_by (d2, list_id) order), and plan with no KEYED
    shuffle (the only exchange allowed is tables.spread's round-robin
    small-file parallelizer, a no-op on real lakes — the property that
    keeps append O(batch))."""
    import json
    import os

    import numpy as np

    from production_ready_ds_spark.operators.segments import write_json_atomic
    from production_ready_ds_spark.plans.audit import explain_str

    store = IVFStore(str(tmp_path / "bf"))
    store.train(embs, k=16)
    got = {r.vec_id: r.list_id for r in store.assign(embs).collect()}
    C = np.asarray(store.centroids(), dtype=np.float64)
    for r in embs.collect():
        x = np.array(r.embedding, dtype=np.float64)
        d2 = ((C - x) ** 2).sum(axis=1)
        assert got[r.vec_id] == int(d2.argmin()), r.vec_id
    # exact-tie corpus: duplicate centroids -> lowest list id wins
    dup = IVFStore(str(tmp_path / "tie"))
    write_json_atomic(
        os.path.join(dup.root, "_ivf_centroids.json"),
        {"centroids": [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]]},
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.9])], "vec_id long, embedding array<float>"
    )
    tie = {r.vec_id: r.list_id for r in dup.assign(vecs).collect()}
    assert tie[1] == 0, "exact tie between list 0 and 2 must pick 0"
    plan = explain_str(store.assign(embs))
    assert "hashpartitioning" not in plan, plan[:600]
    assert "rangepartitioning" not in plan, plan[:600]


def test_append_empty_batch_is_refused_and_store_stays_readable(spark, tmp_path, embs):
    """A zero-row batch (an id-range gap spanning a whole ingest
    window) must NOT register a segment: an empty parquet dir has no
    part files, so one registered empty segment would poison every
    later read_lists/search/compact with schema-inference failures."""
    store = IVFStore(str(tmp_path / "empty"))
    store.train(embs)
    assert store.append(embs.filter(F.col("vec_id") < 100), id_min=0, id_max=99)
    assert (
        store.append(embs.filter(F.col("vec_id") < 0), id_min=1000, id_max=1999)
        is False
    )
    assert len(store.segments()) == 1
    probes = embs.filter(F.col("vec_id") < 3)
    assert store.search(probes).count() > 0  # store not poisoned


def test_append_rejects_ids_outside_declared_range(spark, tmp_path, embs):
    """A mis-declared [id_min, id_max] + skip_if_range_indexed would
    silently drop a future overlapping batch — append fails loudly
    instead, and writes nothing."""
    store = IVFStore(str(tmp_path / "range"))
    store.train(embs)
    with pytest.raises(ValueError, match="escape"):
        store.append(embs, id_min=0, id_max=10)
    assert store.segments() == []


def test_compact_tiered_preserves_search(spark, tmp_path, embs):
    """LSM leveled fold (sigstore-kernel parity): many small appends
    with a small fanout must cascade into few segments while search
    results stay identical to a one-shot build."""
    probes = embs.filter(F.col("vec_id") < 5)
    one = IVFStore(str(tmp_path / "one"))
    one.train(embs)
    one.append(embs, id_min=0, id_max=10**9)

    store = IVFStore(str(tmp_path / "lsm"))
    store.train(embs)  # same seed + data -> same centroids
    bounds = list(range(0, 450, 50)) + [10**9]
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        batch = embs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        store.append(batch, id_min=lo, id_max=hi - 1)
        store.compact_tiered(spark, fanout=4)
    assert len(store.segments()) < 9
    assert _results(store.search(probes)) == _results(one.search(probes))


def test_filtered_search_exact_at_full_probe(spark, tmp_path, embs, sf_small):
    """Filtered ANN (the eligible frame): with EVERY list probed the
    IVF search is exhaustive, so its facet-filtered top-k must equal
    the brute-force filtered top-k exactly — and every neighbor must
    satisfy the facet. At reduced nprobe the results must still be a
    subset of the eligible ids."""
    from pyspark.sql import Window

    from production_ready_ds_spark.functions.vectors import cosine_prenormed, norm

    docs = load(spark, sf_small, "documents")
    eligible = docs.filter(F.col("lang").isin("de", "fr")).select(
        F.col("doc_id").alias("vec_id")
    )
    elig_ids = {r.vec_id for r in eligible.collect()}
    store = IVFStore(str(tmp_path / "f"))
    n_lists = store.train(embs)
    store.append(embs, id_min=0, id_max=10**9)
    probes = embs.filter(F.col("vec_id") < 10)

    got = _results(
        store.search(probes, top_k=3, nprobe=n_lists, eligible=eligible)
    )
    assert got and all(nid in elig_ids for _, nid, _ in got)

    e = embs.join(eligible, "vec_id", "left_semi").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    p = embs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        norm(F.col("embedding")).alias("pnrm"),
    )
    sims = (
        e.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_prenormed(
                F.col("pe"), F.col("embedding"), F.col("pnrm"), F.col("nrm")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    want = _results(
        sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
        .select("probe_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"))
    )
    assert got == want

    partial = _results(store.search(probes, top_k=3, eligible=eligible))
    assert all(nid in elig_ids for _, nid, _ in partial)


def test_attrs_sidecar_pushes_facet_into_probed_read(spark, tmp_path, embs, sf_small):
    """Round 8 (round-7 verdict item 7): metadata persisted IN the
    segments — the facet predicate must appear in the probed-list
    scan's PushedFilters next to the list predicate (pruned at the
    parquet reader, not post-fetch), attr-filtered search must equal
    eligible-join search at every probe width, and the manifest must
    carry the sidecar schema through compaction."""
    from production_ready_ds_spark.plans.audit import pushed_filters

    docs = load(spark, sf_small, "documents")
    attrs = docs.select(F.col("doc_id").alias("vec_id"), "lang")
    eligible = docs.filter(F.col("lang").isin("de", "fr")).select(
        F.col("doc_id").alias("vec_id")
    )
    store = IVFStore(str(tmp_path / "a"))
    n_lists = store.train(embs)
    store.append(embs, id_min=0, id_max=10**9, attrs=attrs)
    assert store.attr_names() == ["lang"]
    probes = embs.filter(F.col("vec_id") < 10)

    # the sidecar predicate rides the SAME scan as the list predicate
    cand = store.read_lists(spark, [0, 1, 2], attr_filter=("lang", ("de", "fr")))
    pushed = pushed_filters(cand)
    assert any(p.startswith("In(list_id") for p in pushed), pushed
    assert any(p.startswith("In(lang") for p in pushed), pushed

    # attr-pushed search ≡ eligible-join search, full AND partial probe
    for nprobe in (n_lists, 2):
        via_attr = _results(
            store.search(probes, top_k=3, nprobe=nprobe,
                         attr_filter=("lang", ("de", "fr")))
        )
        via_join = _results(
            store.search(probes, top_k=3, nprobe=nprobe, eligible=eligible)
        )
        assert via_attr == via_join and via_attr

    # manifest schema survives compaction and keeps filtering
    before = _results(
        store.search(probes, top_k=3, nprobe=n_lists,
                     attr_filter=("lang", ("de", "fr")))
    )
    store.append(
        embs.limit(0), id_min=10**9 + 1, id_max=10**9 + 2, attrs=attrs
    )  # refused empty batch must not clobber attrs either
    assert store.attr_names() == ["lang"]
    assert store.compact(spark) == 1
    assert store.attr_names() == ["lang"]
    assert _results(
        store.search(probes, top_k=3, nprobe=n_lists,
                     attr_filter=("lang", ("de", "fr")))
    ) == before


def test_attrs_sidecar_contract_errors(spark, tmp_path, embs, sf_small):
    """Mismatched attr columns on a later append and filtering on an
    undeclared column both fail loudly — a silent schema drift would
    poison every later multi-segment read."""
    docs = load(spark, sf_small, "documents")
    attrs = docs.select(F.col("doc_id").alias("vec_id"), "lang")
    store = IVFStore(str(tmp_path / "b"))
    store.train(embs)
    half = embs.filter(F.col("vec_id") < 250)
    rest = embs.filter(F.col("vec_id") >= 250)
    store.append(half, id_min=0, id_max=249, attrs=attrs)
    with pytest.raises(ValueError, match="sidecar"):
        store.append(rest, id_min=250, id_max=10**9)  # dropped attrs
    with pytest.raises(ValueError, match="sidecar"):
        store.append(
            rest, id_min=250, id_max=10**9,
            attrs=docs.select(F.col("doc_id").alias("vec_id"), "source"),
        )
    with pytest.raises(ValueError, match="attr filter"):
        store.read_lists(spark, [0], attr_filter=("source", ("web",)))
    # a vector with NO attrs row keeps NULL metadata: present in
    # unfiltered search, absent from every facet
    store2 = IVFStore(str(tmp_path / "c"))
    store2.train(embs)
    store2.append(embs, id_min=0, id_max=10**9, attrs=attrs.filter("vec_id < 100"))
    probes = embs.filter(F.col("vec_id") < 3)
    n_lists = len(store2.centroids())
    flt = _results(store2.search(probes, top_k=50, nprobe=n_lists,
                                 attr_filter=("lang", ("de", "fr"))))
    assert flt and all(nid < 100 for _, nid, _ in flt)


# ---------------- composed IVFPQ (round-9: the pq.py promise) ----------------


@pytest.fixture(params=[False, True], ids=["raw", "residual"])
def pq_store(request, spark, tmp_path, embs):
    """Both encodings: raw-vector codes and the IVFADC residual form
    (codes quantize x − centroid(list)); every composed-path property
    below must hold for each."""
    store = IVFStore(str(tmp_path / "ivfpq"))
    store.train(embs)
    store.train_pq(embs, residual=request.param)
    store.append(embs, id_min=0, id_max=10**9)
    return store


def test_ivfpq_anchor_full_probe_full_refine_is_exact(spark, pq_store, embs):
    """The q_ann_recall_ivfpq anchor: at nprobe = K with refine·k ≥
    corpus, the composed ADC-then-rerank path must equal the float
    search at full probe (which is brute force by construction) —
    value-for-value including the rounded cosine and tie-breaks."""
    probes = embs.filter(F.col("vec_id") < 5)
    k_lists = len(pq_store.centroids())
    n = embs.count()
    composed = _results(
        pq_store.search_adc(probes, top_k=3, nprobe=k_lists, refine=(n + 2) // 3)
    )
    exact = _results(pq_store.search(probes, top_k=3, nprobe=k_lists))
    assert composed == exact and len(composed) == 15


def test_ivfpq_codes_read_prunes_floats_and_pushes_lists(spark, pq_store, embs):
    """The 32×-read claim, plan-asserted on the COMPOSED path: the ADC
    stage's scan reads (vec_id, list_id, codes) WITHOUT the float
    embedding column, under a pushed In(list_id); the refine re-read
    carries a pushed In(vec_id) and does read the floats."""
    from production_ready_ds_spark.plans.audit import (
        pushed_filters,
        read_schema_columns,
    )

    probes = embs.filter(F.col("vec_id") < 5)
    # the ADC stage's scans (visible on the refine=None plan — the
    # refined path runs the identical code up to the ADC ranking, then
    # collects the bounded pair set): codes read, floats pruned
    adc_only = pq_store.search_adc(probes, top_k=3, nprobe=4, refine=None)
    schemas = read_schema_columns(adc_only)
    codes_scans = [s for s in schemas if "codes" in s]
    assert codes_scans, schemas
    # the CANDIDATE scans never read the floats; the only
    # embedding-reading scan is the bounded probe read (no codes/list)
    assert all("embedding" not in s for s in codes_scans), schemas
    assert all(
        "codes" in s or ("list_id" not in s and "codes" not in s)
        for s in schemas
    ), schemas
    assert "In(list_id" in " ".join(pushed_filters(adc_only))
    # the refine re-read: pushed In(vec_id) on the bounded candidate
    # set; floats ARE read there (that is its job), codes are not
    out = pq_store.search_adc(probes, top_k=3, nprobe=4, refine=2)
    r_schemas = read_schema_columns(out)
    assert any("embedding" in s for s in r_schemas), r_schemas
    assert all("codes" not in s for s in r_schemas), r_schemas
    assert "In(vec_id" in " ".join(pushed_filters(out))


def test_ivfpq_incremental_append_equals_one_shot(spark, tmp_path, embs):
    """Two-batch append ≡ one-shot for the composed search (the
    SignatureStore contract on the quantized path) — codes ride every
    append through the fused assign+encode kernel."""
    probes = embs.filter(F.col("vec_id") < 5)
    one = IVFStore(str(tmp_path / "one"))
    one.train(embs)
    one.train_pq(embs)
    one.append(embs, id_min=0, id_max=10**9)

    inc = IVFStore(str(tmp_path / "inc"))
    inc.train(embs)
    inc.train_pq(embs)
    for lo, hi in [(0, 150), (150, 10**9)]:
        inc.append(
            embs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            id_min=lo,
            id_max=hi - 1,
        )
    assert len(inc.segments()) == 2
    assert _results(
        inc.search_adc(probes, top_k=3, nprobe=4, refine=4)
    ) == _results(one.search_adc(probes, top_k=3, nprobe=4, refine=4))


def test_ivfpq_compact_and_delete_preserve_codes(spark, tmp_path, embs):
    """compact_tiered / delete_ids rewrite whole segment rows, so the
    code columns must survive both: post-compact composed search is
    unchanged; post-delete the forgotten id vanishes from results and
    ADC still serves the remaining rows."""
    probes = embs.filter(F.col("vec_id") < 5)
    store = IVFStore(str(tmp_path / "cd"))
    store.train(embs)
    store.train_pq(embs)
    for lo, hi in [(0, 100), (100, 200), (200, 10**9)]:
        store.append(
            embs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            id_min=lo,
            id_max=hi - 1,
        )
    before = _results(store.search_adc(probes, top_k=3, nprobe=4, refine=4))
    store.compact_tiered(spark)
    assert _results(store.search_adc(probes, top_k=3, nprobe=4, refine=4)) == before
    victim = before[0][1]  # some returned neighbor
    store.delete_ids(spark, [victim])
    after = _results(store.search_adc(probes, top_k=3, nprobe=4, refine=4))
    assert all(nb != victim for _, nb, _sim in after)


def test_train_pq_refuses_after_segments(spark, tmp_path, embs):
    store = IVFStore(str(tmp_path / "late"))
    store.train(embs)
    store.append(embs, id_min=0, id_max=10**9)
    with pytest.raises(ValueError, match="before the first append"):
        store.train_pq(embs)
    # and a codeless store refuses ADC search loudly
    with pytest.raises(ValueError, match="no PQ codebooks"):
        store.search_adc(embs.filter(F.col("vec_id") < 3))


def test_ivfpq_adc_rank_sets_are_nested_in_top_k(spark, pq_store, embs):
    """ADC ranks candidates by (d2, id) — a total order — so the
    refine-set-nesting the q_ann_recall_ivfpq monotone theorem relies
    on holds: the pure-ADC top-3 is a prefix of the top-6."""
    probes = embs.filter(F.col("vec_id") < 5)
    small = {
        (r.probe_id, r.adc_rank): r.neighbor_id
        for r in pq_store.search_adc(
            probes, top_k=3, nprobe=4, refine=None
        ).collect()
    }
    big = {
        (r.probe_id, r.adc_rank): r.neighbor_id
        for r in pq_store.search_adc(
            probes, top_k=6, nprobe=4, refine=None
        ).collect()
    }
    assert small == {k: v for k, v in big.items() if k[1] <= 3}


def test_ivfpq_caller_assigned_append_encodes_codes(spark, tmp_path, embs):
    """The ingest-DAG contract on a PQ store: a caller-provided
    codeless ``assigned`` frame gets its codes via encode+join and the
    resulting store serves search_adc identically to the fused path."""
    fused = IVFStore(str(tmp_path / "fu"))
    fused.train(embs)
    fused.train_pq(embs)
    fused.append(embs, id_min=0, id_max=10**9)

    manual = IVFStore(str(tmp_path / "ma"))
    manual.train(embs)
    manual.train_pq(embs)
    pre = manual.assign(embs).localCheckpoint(eager=True)  # codeless
    manual.append(embs, id_min=0, id_max=10**9, assigned=pre)
    probes = embs.filter(F.col("vec_id") < 5)
    assert _results(
        manual.search_adc(probes, top_k=3, nprobe=4, refine=4)
    ) == _results(fused.search_adc(probes, top_k=3, nprobe=4, refine=4))


def test_residual_codes_reconstruct_better_than_raw(spark, tmp_path, embs):
    """The IVFADC claim, measured: PQ codebooks trained on residuals
    (x − centroid(list)) reconstruct the corpus with LOWER mean
    squared error than raw-vector codebooks under the identical
    m × ks budget — residuals are smaller-normed and centered, so the
    code resolution is spent on within-list geometry. (Recall effects
    on the isotropic synthetic corpus are diagnosed by
    q_ann_recall_pq; this pins the geometric mechanism.)"""
    import numpy as np

    def mse(residual):
        store = IVFStore(str(tmp_path / ("r" if residual else "w")))
        store.train(embs)
        codec = store.train_pq(embs, residual=residual)
        cents = np.asarray(store.centroids())
        err, n = 0.0, 0
        for r in store.assign(embs, codec=codec, residual=residual).collect():
            x = np.asarray(r.embedding, dtype=np.float64)
            dec = np.concatenate(
                [codec.codebooks[j][r.codes[j]] for j in range(codec.m)]
            )
            if residual:
                dec = dec + cents[r.list_id]
            err += float(((x - dec) ** 2).sum())
            n += 1
        return err / n

    assert mse(True) < mse(False)


def test_residual_flag_persists_and_gates_lut_shape(spark, tmp_path, embs):
    store = IVFStore(str(tmp_path / "rs"))
    store.train(embs)
    assert store.pq_residual() is False  # codeless store
    store.train_pq(embs, residual=True)
    assert store.pq_residual() is True
    # a fresh handle on the same root sees the flag (it is on disk)
    assert IVFStore(str(tmp_path / "rs")).pq_residual() is True


def test_train_pq_residual_requires_centroids(spark, tmp_path, embs):
    store = IVFStore(str(tmp_path / "nc"))
    with pytest.raises(ValueError, match="centroids first"):
        store.train_pq(embs, residual=True)


def test_ivfpq_filtered_adc_matches_filtered_float_at_anchor(
    spark, tmp_path, embs, sf_small
):
    """Filtered QUANTIZED search: with the facet persisted in the
    attrs sidecar, search_adc(attr_filter=...) at the full-probe/
    full-refine anchor must equal the float search(attr_filter=...)
    at full probe — the facet predicate rides the probed-list CODE
    read, and the refine re-read inherits it. Also: every neighbor is
    eligible, and the plan still prunes floats from the code scan."""
    from pyspark.sql import functions as F

    from production_ready_ds_spark.plans.audit import read_schema_columns
    from production_ready_ds_spark.tables import load

    attrs = (
        load(spark, sf_small, "documents")
        .select(F.col("doc_id").alias("vec_id"), "lang")
    )
    store = IVFStore(str(tmp_path / "fadc"))
    store.train(embs)
    store.train_pq(embs, residual=True)
    store.append(embs, id_min=0, id_max=10**9, attrs=attrs)
    probes = embs.filter(F.col("vec_id") < 5)
    k = len(store.centroids())
    n = embs.count()
    facet = ("lang", ("de", "fr"))
    composed = _results(
        store.search_adc(
            probes, top_k=3, nprobe=k, refine=(n + 2) // 3, attr_filter=facet
        )
    )
    exact = _results(store.search(probes, top_k=3, nprobe=k, attr_filter=facet))
    assert composed == exact and composed
    eligible = {
        r.vec_id
        for r in attrs.filter(F.col("lang").isin(["de", "fr"])).collect()
    }
    assert all(nb in eligible for _, nb, _s in composed)
    # the filtered ADC stage still reads codes without floats
    adc_only = store.search_adc(
        probes, top_k=3, nprobe=4, refine=None, attr_filter=facet
    )
    schemas = read_schema_columns(adc_only)
    assert any("codes" in s and "embedding" not in s for s in schemas), schemas


def test_assign_defaults_to_the_stores_residual_flag(spark, tmp_path, embs):
    """The round-9 review footgun, pinned: on a residual (IVFADC)
    store, assign(codec=...) WITHOUT an explicit residual argument
    must encode residuals (the persisted flag decides) — a caller
    following the fused-ingest pattern could otherwise silently write
    raw-vector codes whose ADC distances are all wrong."""
    store = IVFStore(str(tmp_path / "flag"))
    store.train(embs)
    codec = store.train_pq(embs, residual=True)
    batch = embs.filter(F.col("vec_id") < 50)
    default_codes = {
        r.vec_id: list(r.codes)
        for r in store.assign(batch, codec=codec).collect()
    }
    res_codes = {
        r.vec_id: list(r.codes)
        for r in store.assign(batch, codec=codec, residual=True).collect()
    }
    raw_codes = {
        r.vec_id: list(r.codes)
        for r in store.assign(batch, codec=codec, residual=False).collect()
    }
    assert default_codes == res_codes
    assert default_codes != raw_codes
    # and the fused caller pattern end-to-end: append the defaults,
    # composed search must equal float search at the anchor
    pre = store.assign(batch, codec=codec).localCheckpoint(eager=True)
    store.append(batch, id_min=0, id_max=49, assigned=pre)
    probes = batch.filter(F.col("vec_id") < 3)
    k = len(store.centroids())
    assert _results(
        store.search_adc(probes, top_k=3, nprobe=k, refine=50)
    ) == _results(store.search(probes, top_k=3, nprobe=k))

# -- sampled training: the 100 TB build-cost lever (round-9 verdict #2)


def test_sampled_train_keeps_full_corpus_k_and_is_deterministic(
    spark, tmp_path, embs
):
    """max_train_rows trains on a content-hash sample, but k stays
    sized by the FULL corpus count (the inverted-list width contract
    depends on what the store holds, not what the trainer saw); the
    sample is content-deterministic, so retraining on the same frame
    reproduces bit-identical centroids, and the SELECTION itself is
    independent of partition layout."""
    from production_ready_ds_spark.functions.vectors import scaled_ivf_k
    from production_ready_ds_spark.operators.ivfstore import _hash_sample

    a = IVFStore(str(tmp_path / "a"))
    b = IVFStore(str(tmp_path / "b"))
    ka = a.train(embs, max_train_rows=200)
    kb = b.train(embs, max_train_rows=200)
    assert ka == kb == scaled_ivf_k(embs.count())
    assert a.centroids() == b.centroids()
    # the sampled trainer saw a strict subset -> different fit than full
    full = IVFStore(str(tmp_path / "f"))
    full.train(embs)
    assert a.centroids() != full.centroids()
    # selection is content-hash -> layout-independent (df.sample is not)
    n = embs.count()
    picked = lambda df: sorted(  # noqa: E731
        r.vec_id
        for r in _hash_sample(
            df, vec_col="embedding", keep=200, n_rows=n, seed=7
        )
        .select("vec_id")
        .collect()
    )
    ids = picked(embs)
    assert ids == picked(embs.repartition(7))
    assert 100 <= len(ids) <= 320, len(ids)  # ~200 of 500, binomial slack


def test_sampled_train_recall_within_bound_of_full_train(spark, tmp_path, embs):
    """Recall@3 of a store trained on a ~40% sample must sit within
    0.2 of the full-trained store's recall and stay >= 0.5 absolute —
    on the ORGANIC corpus (the 16x stress set saturates recall
    diagnostics; quantizer-quality claims need organic data)."""
    from pyspark.sql import Window

    from production_ready_ds_spark.functions.vectors import cosine_prenormed, norm

    def build(name, **train_kw):
        s = IVFStore(str(tmp_path / name))
        s.train(embs, **train_kw)
        s.append(embs, id_min=0, id_max=10**9)
        return s

    full = build("full")
    samp = build("samp", max_train_rows=200)

    probes = embs.filter(F.col("vec_id") < 10)
    e = embs.withColumn("nrm", norm(F.col("embedding")))
    p = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        F.col("nrm").alias("pnrm"),
    )
    sims = (
        e.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_prenormed(
                F.col("pe"), F.col("embedding"), F.col("pnrm"), F.col("nrm")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    truth = {
        (r.probe_id, r.neighbor_id)
        for r in sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    }

    def recall(store):
        got = {
            (r.probe_id, r.neighbor_id)
            for r in store.search(probes, top_k=3).collect()
        }
        return len(got & truth) / len(truth)

    r_full, r_samp = recall(full), recall(samp)
    assert r_samp >= 0.5, f"sampled recall {r_samp:.2f}"
    assert r_samp >= r_full - 0.2, f"sampled {r_samp:.2f} vs full {r_full:.2f}"


def test_sampled_train_pq_anchor_stays_exact(spark, tmp_path, embs):
    """PQ codebooks trained on a sample still satisfy the full-probe/
    full-refine exactness anchor — the anchor is a property of the
    refine re-rank, not codebook quality, so sampling must not break
    it. Both trainers sampled, residual form (the harder path)."""
    store = IVFStore(str(tmp_path / "spq"))
    store.train(embs, max_train_rows=200)
    store.train_pq(embs, residual=True, max_train_rows=200)
    store.append(embs, id_min=0, id_max=10**9)
    probes = embs.filter(F.col("vec_id") < 5)
    k_lists = len(store.centroids())
    n = embs.count()
    composed = _results(
        store.search_adc(probes, top_k=3, nprobe=k_lists, refine=(n + 2) // 3)
    )
    assert composed == _results(store.search(probes, top_k=3, nprobe=k_lists))


def test_max_train_rows_validation(spark, tmp_path, embs):
    """Fewer training rows than centroids is a broken fit, not a
    cheaper one — both trainers refuse."""
    store = IVFStore(str(tmp_path / "v"))
    with pytest.raises(ValueError, match="max_train_rows"):
        store.train(embs, max_train_rows=8)  # k resolves to 16
    store.train(embs)
    with pytest.raises(ValueError, match="max_train_rows"):
        store.train_pq(embs, ks=16, max_train_rows=8)


def test_search_adc_refine_zero_is_raw_adc(spark, pq_store, embs):
    """refine=0 must mean 'no refine' (the CLI convention), never a
    silently empty frame (ADVICE r9): it returns the identical raw ADC
    ranking as refine=None."""
    probes = embs.filter(F.col("vec_id") < 3)
    zero = pq_store.search_adc(probes, top_k=3, nprobe=4, refine=0)
    none = pq_store.search_adc(probes, top_k=3, nprobe=4, refine=None)
    key = lambda df: sorted(  # noqa: E731
        (r.probe_id, r.neighbor_id, r.adc_rank) for r in df.collect()
    )
    rows = key(zero)
    assert rows == key(none) and len(rows) == 9


def test_sampled_train_widens_on_duplicate_heavy_corpus(spark, tmp_path, embs):
    """Round-11 ADVICE item 4: content hashing samples duplicate
    vectors all-or-nothing, so a duplicate-heavy corpus can realize
    far fewer rows than max_train_rows — the guard must widen the keep
    fraction (warning) until the trainer floor is covered instead of
    silently collapsing the fit."""
    import warnings

    from production_ready_ds_spark.operators.ivfstore import (
        _hash_sample_at_least,
    )

    # 12 distinct vectors, each replicated 50x: content-hash keeps or
    # drops all 50 copies together, so a 60-row target realizes ~1-2
    # distinct vectors' worth of rows unless widened.
    base = embs.limit(12).select("embedding")
    dup = base
    for _ in range(5):  # 12 * 2^5 = 384 rows over 12 distinct contents
        dup = dup.unionAll(dup)
    n = dup.count()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        s = _hash_sample_at_least(
            dup, vec_col="embedding", keep=60, n_rows=n, seed=7, min_rows=120
        )
        realized = s.count()
    assert realized >= 120, realized
    # the warning fires exactly when the FIRST cut undershot the floor
    from production_ready_ds_spark.operators.ivfstore import _hash_sample

    first_cut = _hash_sample(
        dup, vec_col="embedding", keep=60, n_rows=n, seed=7
    ).count()
    widened = [w for w in caught if "widened" in str(w.message)]
    if first_cut < 120 and realized < n:
        assert widened, f"first cut {first_cut} < floor but no warning"
    if first_cut >= 120:
        assert not widened
    # degenerate all-duplicates floor: min_rows > distinct rows ->
    # falls back to the full corpus, never an infinite loop
    s2 = _hash_sample_at_least(
        dup, vec_col="embedding", keep=60, n_rows=n, seed=7, min_rows=n
    )
    assert s2.count() == n
