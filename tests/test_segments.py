"""Segment lifecycle shared by the manifest-backed stores
(operators/segments.py): every test runs against SignatureStore,
TermStore and IVFStore alike — the full fold's level contract and
compatibility with manifests written before the shared module
(entries without ``level``/``rows``, store metadata kept on every
rewrite)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from production_ready_ds_spark.operators.dedup import MINHASH_FAMILY, minhash_bands
from production_ready_ds_spark.operators.ivfstore import IVFStore
from production_ready_ds_spark.operators.sigstore import (
    SignatureStore,
    collect_prune_keys,
)
from production_ready_ds_spark.operators.termstore import TermStore

N_DOCS = 60


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"common document {i} about topic {i} with words w{i} v{i}") for i in range(lo, hi)],
        "doc_id long, text string",
    )


def _vecs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), float(i % 3), 1.0]) for i in range(lo, hi)],
        "vec_id long, embedding array<float>",
    )


class _Sig:
    manifest = "_MANIFEST.json"
    meta = {"family": MINHASH_FAMILY}

    def open(self, spark, root):
        return SignatureStore(root)

    def append(self, spark, store, lo, hi):
        return store.append(minhash_bands(_docs(spark, lo, hi)), id_min=lo, id_max=hi - 1)

    def ids(self, spark, store):
        # the key-pruned read: its store-size hint sums manifest rows
        keys = collect_prune_keys(minhash_bands(_docs(spark, 0, N_DOCS)))
        df = store.read_signatures(spark, keys=keys)
        return {r.doc_id for r in df.select("doc_id").distinct().collect()}


class _Term:
    manifest = "_term_manifest.json"
    meta = {"analyzer": "snowball"}

    def open(self, spark, root):
        return TermStore(root)

    def append(self, spark, store, lo, hi):
        return store.append(_docs(spark, lo, hi), id_min=lo, id_max=hi - 1, analyzer="snowball")

    def ids(self, spark, store):
        post = store.read_postings(spark, ["common"])
        ids = {r.doc_id for r in post.select("doc_id").collect()}
        assert store.stats()[0] == len(ids)  # n_docs follows deletes and folds
        return ids


class _IVF:
    manifest = "_ivf_manifest.json"
    meta = {"attrs": ["lang"]}

    def open(self, spark, root):
        store = IVFStore(root)
        if store.centroids() is None:
            store.train(_vecs(spark, 0, N_DOCS), k=2)
        return store

    def append(self, spark, store, lo, hi):
        vecs = _vecs(spark, lo, hi)
        attrs = vecs.select("vec_id", F.lit("en").alias("lang"))
        return store.append(vecs, id_min=lo, id_max=hi - 1, attrs=attrs)

    def ids(self, spark, store):
        df = store.read_lists(spark, [0, 1], attr_filter=("lang", ("en",)))
        return {r.vec_id for r in df.select("vec_id").collect()}


KINDS = {"sigstore": _Sig(), "termstore": _Term(), "ivfstore": _IVF()}


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_full_fold_sits_above_its_inputs(spark, tmp_path, kind):
    """compact() writes its merged segment one level above its inputs,
    so a later tiered fold of fresh appends leaves it alone instead of
    rewriting the whole store again."""
    k = KINDS[kind]
    store = k.open(spark, str(tmp_path / kind))
    for b in range(3):
        assert k.append(spark, store, b * 10, b * 10 + 10)
    assert store.compact(spark) == 1
    (folded,) = store.segments()
    for b in range(3, 5):
        assert k.append(spark, store, b * 10, b * 10 + 10)
    assert store.compact_tiered(spark, fanout=3) == 3
    after = {s["seg"]: s for s in store.segments()}
    assert folded["seg"] in after, "the tiered fold rewrote the folded store"
    assert after[folded["seg"]]["level"] == 1
    assert k.ids(spark, store) == set(range(50))


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_legacy_manifest_survives_every_rewrite(spark, tmp_path, kind):
    """A manifest in the earlier on-disk format — entries without
    ``level`` or ``rows``, store metadata (family / analyzer / attrs)
    beside the segment list — keeps its metadata through append,
    delete_ids, compact_tiered and compact, and every read returns the
    surviving rows."""
    k = KINDS[kind]
    root = str(tmp_path / kind)
    store = k.open(spark, root)
    for b in range(3):
        assert k.append(spark, store, b * 10, b * 10 + 10)
    path = os.path.join(root, k.manifest)
    man = json.load(open(path))
    for s in man["segments"]:
        s.pop("rows")
        s.pop("level", None)
    man["segments"][2]["level"] = 1  # an earlier tiered fold's output
    json.dump(man, open(path, "w"))

    def check(expected):
        on_disk = json.load(open(path))
        assert {key: on_disk.get(key) for key in k.meta} == k.meta
        assert k.ids(spark, store) == expected

    live = set(range(30))
    check(live)
    assert k.append(spark, store, 30, 40)
    live |= set(range(30, 40))
    check(live)
    assert store.delete_ids(spark, [3, 4]) == 1
    live -= {3, 4}
    check(live)
    # level 0 holds the two legacy entries and the append: they fold
    # into one level-1 segment beside the legacy level-1 entry
    assert store.compact_tiered(spark, fanout=3) == 2
    check(live)
    assert store.compact(spark) == 1
    check(live)
    assert all(s["rows"] is not None for s in store.segments())


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_delete_that_empties_a_segment(spark, tmp_path, kind):
    """TermStore drops a segment left with no document; the other two
    stores keep it as a ``rows: 0`` entry. Either way every read and a
    later fold still work."""
    k = KINDS[kind]
    store = k.open(spark, str(tmp_path / kind))
    assert k.append(spark, store, 0, 10) and k.append(spark, store, 10, 20)
    assert store.delete_ids(spark, list(range(10))) == 1
    segs = store.segments()
    assert [s["id_min"] for s in segs] == ([10] if kind == "termstore" else [0, 10])
    if kind != "termstore":
        assert segs[0]["rows"] == 0
    assert k.ids(spark, store) == set(range(10, 20))
    assert store.compact(spark) == 1
    assert k.ids(spark, store) == set(range(10, 20))
