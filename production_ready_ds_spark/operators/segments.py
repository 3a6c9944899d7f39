"""Segment lifecycle of the manifest-backed stores: ONE account of the
on-disk format :class:`.sigstore.SignatureStore`,
:class:`.termstore.TermStore` and :class:`.ivfstore.IVFStore` share.
Each store subclasses :class:`SegmentStore` and keeps only what is its
own: cluster columns, merge statistics, sidecars, append and search.

- **Segments.** Each append lands as its own ``seg=<n>/`` directory,
  written by :func:`.layout.write_range_clustered` on the store's
  cluster columns, so every file and row group owns a slice of the key
  domain and a pushed ``In`` predicate prunes to the matched row
  groups. A store may keep per-segment sidecars next to it
  (``<prefix>seg=<n>/``, e.g. TermStore's ``docs_seg=<n>/``
  doc-length table); every rewrite below carries them along.
- **The manifest.** One JSON file per store (the name is the store's)
  lists each segment's ``seg`` id, covering ``[id_min, id_max]`` range,
  ``rows`` and ``level``, plus the store's own statistics. Its other
  top-level keys are store metadata (``family`` / ``analyzer`` /
  ``attrs``); every rewrite keeps them. "Which ids are indexed?" and
  "everything earlier than id ``lo``" are manifest lookups that select
  segment PATHS; the data is never scanned to answer them. (The
  reference keeps completeness as target-file existence,
  ``00_training_pipeline.py`` via Luigi ``output()``; the manifest is
  that idea applied to incremental state.) A public call reads the
  manifest once: nested reads inside :meth:`SegmentStore.snapshot` see
  the same snapshot.
- **Crash ordering.** Segment data (and sidecars) are durable before
  the manifest is replaced (temp file, then ``os.replace``), and old
  directories are removed only after. A crash leaves an unregistered,
  invisible directory, never a dangling manifest entry.
- **Folding.** Footer opens grow with segment count. One fold step
  merges a set of segments into ONE new segment one level above them.
  :meth:`SegmentStore.compact_tiered` is the LSM-style leveled fold:
  appends land at level 0, and whenever a level holds ``fanout``
  segments they fold into one at the next level, cascading. Each row
  is rewritten at most once per level, so the amortized cost per batch
  is O(batch · log_fanout(corpus/batch)) and footer opens stay
  O(fanout · levels). :meth:`SegmentStore.compact` folds every
  segment; its output sits above all its inputs, so a later tiered
  fold never re-merges the folded store with fresh appends.
- **Deletion** (right to be forgotten). :meth:`SegmentStore.delete_ids`
  rewrites ONLY the segments whose id range holds a deleted id (a
  per-id test, not the ``[min, max]`` envelope of the request), each
  into a new segment keeping its id bounds and level; every other
  segment stays untouched bytes. Cost is O(affected segments), not
  O(store). Requests are assumed bounded (a GDPR batch, not a corpus):
  the ids ride as one ``isin`` predicate.
- **Single writer.** Appends, folds and deletes run from one scheduler
  slot, like the reference's Luigi scheduler. Concurrent writers can
  interleave manifest replaces and lose a registration, and readers
  racing a fold can see the store mid-rewrite.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .layout import pruned_isin, write_range_clustered

#: :meth:`SegmentStore._restat` results besides a dict of entry updates:
#: leave the segment as it is, or remove it from the store
KEEP, DROP = "keep", "drop"


def write_json_atomic(path: str, payload: dict) -> None:
    """Write ``payload`` as JSON through a temp file and ``os.replace``:
    a reader sees the old file or the new one, never a torn write."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


@dataclass
class Manifest:
    segments: list[dict]
    meta: dict  # every other top-level key, kept on every rewrite


def overlapping(segments: list[dict], id_min: int, id_max: int) -> list[dict]:
    """Segments whose covering id range intersects [id_min, id_max]."""
    return [s for s in segments if s["id_min"] <= id_max and s["id_max"] >= id_min]


def _level(seg: dict) -> int:
    return int(seg.get("level", 0))


class SegmentStore:
    """A directory of ``seg=<n>/`` parquet segments plus its manifest
    (see the module docstring). Subclasses set the class attributes and
    override the hooks ``_check``, ``_merge_stats`` and ``_restat``."""

    MANIFEST: str  # manifest file name under the store root
    CLUSTER_BY: list[str]  # write_range_clustered columns of a segment
    ID_COL: str  # the id column deletes filter on
    SIDECARS: tuple[str, ...] = ()  # per-segment sidecar dir prefixes

    def __init__(self, root: str) -> None:
        self.root = root
        self._pinned = threading.local()

    # -- manifest -------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def seg_path(self, seg: dict, sidecar: str = "") -> str:
        """Directory of a segment, or of its ``sidecar`` (a prefix)."""
        return self._path(f"{sidecar}seg={seg['seg']}")

    def load(self) -> Manifest:
        """The manifest, from the pinned snapshot when one is open."""
        man = getattr(self._pinned, "manifest", None)
        if man is not None:
            return man
        try:
            with open(self._path(self.MANIFEST)) as fh:
                data = json.load(fh)
        except FileNotFoundError:
            data = {"segments": []}
        man = Manifest(data.pop("segments"), data)
        self._check(man)
        return man

    @contextmanager
    def snapshot(self):
        """Pin one manifest load for every read inside the block, so a
        call that reads it several times (postings, statistics,
        analyzer) sees one consistent store. Nested blocks reuse the
        outer snapshot; the pin is per thread."""
        if getattr(self._pinned, "manifest", None) is not None:
            yield self._pinned.manifest
            return
        self._pinned.manifest = self.load()
        try:
            yield self._pinned.manifest
        finally:
            self._pinned.manifest = None

    def segments(self) -> list[dict]:
        return self.load().segments

    def _commit(self, segments: list[dict], meta: dict) -> None:
        write_json_atomic(self._path(self.MANIFEST), {"segments": segments, **meta})

    def _check(self, man: Manifest) -> None:
        """Hook: refuse a manifest this reader must not serve."""

    # -- segment data ---------------------------------------------------
    @staticmethod
    def _new_seg(segments: list[dict]) -> int:
        return max((s["seg"] for s in segments), default=-1) + 1

    def _read(
        self, spark: SparkSession, segs: list[dict], col: str | None = None,
        values: list | None = None,
    ) -> DataFrame:
        """The segments' rows; with ``col``, only rows whose ``col`` is in
        ``values``, pushed by :func:`.layout.pruned_isin` with the
        manifest row total as its store-size hint."""
        df = spark.read.parquet(*[self.seg_path(s) for s in segs])
        if col is None:
            return df
        known = [s.get("rows") for s in segs]
        store_rows = sum(known) if all(r is not None for r in known) else None
        return pruned_isin(spark, df, col, values, store_rows=store_rows)

    def _write(self, df: DataFrame, seg: dict, n_files: int) -> int:
        """Write a segment clustered on CLUSTER_BY; returns its row count."""
        return write_range_clustered(df, self.seg_path(seg), self.CLUSTER_BY, n_files=n_files)

    def _write_sidecar(self, df: DataFrame, seg: dict, sidecar: str) -> None:
        df.coalesce(1).write.mode("overwrite").parquet(self.seg_path(seg, sidecar))

    def _require_sidecars(self, segs: list[dict]) -> None:
        """Fail before any write when a segment lacks a sidecar (a store
        written by an older layout): a rewrite would otherwise die
        halfway and leave orphan directories."""
        for s in segs:
            for side in self.SIDECARS:
                if not os.path.isdir(self.seg_path(s, side)):
                    raise ValueError(
                        f"{type(self).__name__} at {self.root} has no "
                        f"{side}seg={s['seg']} sidecar: it was built by an "
                        "older store layout; rebuild it to delete or compact"
                    )

    def _remove(self, segs: list[dict]) -> None:
        for s in segs:
            for side in ("", *self.SIDECARS):
                shutil.rmtree(self.seg_path(s, side), ignore_errors=True)

    # -- folding --------------------------------------------------------
    def _merge_stats(self, ripe: list[dict]) -> dict:
        """Hook: store statistics of the segment that folds ``ripe``
        (``rows`` is always the written count)."""
        return {}

    def _fold(
        self, spark: SparkSession, man: Manifest, ripe: list[dict], n_files: int
    ) -> None:
        """One fold step: merge ``ripe`` into one new segment one level
        above the highest of them, commit, then remove the inputs."""
        merged = {
            "seg": self._new_seg(man.segments),
            "id_min": min(s["id_min"] for s in ripe),
            "id_max": max(s["id_max"] for s in ripe),
            "level": max(_level(s) for s in ripe) + 1,
            **self._merge_stats(ripe),
        }
        # the written count also repairs rows=None of legacy entries
        merged["rows"] = self._write(self._read(spark, ripe), merged, n_files)
        for side in self.SIDECARS:
            self._write_sidecar(
                spark.read.parquet(*[self.seg_path(s, side) for s in ripe]), merged, side
            )
        gone = {s["seg"] for s in ripe}
        man.segments = [s for s in man.segments if s["seg"] not in gone] + [merged]
        self._commit(man.segments, man.meta)
        self._remove(ripe)

    def compact(self, spark: SparkSession, *, n_files: int = 8) -> int:
        """Fold every segment into one. Returns the segment count after
        (1, or 0 for an empty store)."""
        man = self.load()
        if len(man.segments) <= 1:
            return len(man.segments)
        self._require_sidecars(man.segments)
        self._fold(spark, man, man.segments, n_files)
        return 1

    def compact_tiered(
        self, spark: SparkSession, *, fanout: int = 8, n_files: int = 8
    ) -> int:
        """Leveled fold: while some level holds ≥ ``fanout`` segments,
        fold the lowest such level into one segment at the next level.
        Returns the segment count after folding."""
        man = self.load()
        self._require_sidecars(man.segments)
        while True:
            by_level: dict[int, list[dict]] = {}
            for s in man.segments:
                by_level.setdefault(_level(s), []).append(s)
            ripe = next(
                (g for _, g in sorted(by_level.items()) if len(g) >= fanout), None
            )
            if ripe is None:
                return len(man.segments)
            self._fold(spark, man, ripe, n_files)

    # -- deletion -------------------------------------------------------
    def _restat(self, spark: SparkSession, seg: dict, ids: list[int]):
        """Hook: the entry updates a delete of ``ids`` makes to ``seg``,
        or KEEP (no listed id is in it) or DROP (it holds nothing
        else). The default rewrites every id-range hit."""
        return {}

    def delete_ids(
        self, spark: SparkSession, ids: list[int], *, n_files: int = 4
    ) -> int:
        """Remove every row of the given ids, rewriting only the segments
        whose id range holds one of them. Returns the number of segments
        rewritten or dropped."""
        if not ids:
            return 0
        id_list = [int(x) for x in ids]
        man = self.load()
        affected = [
            s for s in man.segments if any(s["id_min"] <= i <= s["id_max"] for i in id_list)
        ]
        if not affected:
            return 0
        self._require_sidecars(affected)
        kept = ~F.col(self.ID_COL).isin(id_list)
        next_seg = self._new_seg(man.segments)
        replaced: dict[int, dict | None] = {}
        for s in affected:
            change = self._restat(spark, s, id_list)
            if change == KEEP:
                continue
            if change == DROP:
                replaced[s["seg"]] = None
                continue
            # dict(s, ...) keeps 'level': a folded segment stays at its
            # level instead of re-merging with fresh appends
            new = dict(s, **change, seg=next_seg)
            next_seg += 1
            new["rows"] = self._write(self._read(spark, [s]).filter(kept), new, n_files)
            for side in self.SIDECARS:
                self._write_sidecar(
                    spark.read.parquet(self.seg_path(s, side)).filter(kept), new, side
                )
            replaced[s["seg"]] = new
        self._commit(
            [r for s in man.segments if (r := replaced.get(s["seg"], s)) is not None],
            man.meta,
        )
        self._remove([s for s in affected if s["seg"] in replaced])
        return len(replaced)
