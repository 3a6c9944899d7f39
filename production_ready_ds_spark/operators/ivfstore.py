"""Persistent IVF (inverted-file) vector index: trained centroids +
manifest-tracked, list-clustered embedding segments.

The ANN twin of :mod:`sigstore`: where the signature store makes
incremental LEXICAL dedup O(batch), this makes incremental VECTOR
search O(probed lists). The 100 TB contract per operation:

- **train once, assign forever**: KMeans centroids are fit on ONE
  (sampled) frame and persisted next to the manifest; every later
  batch is assigned to its nearest list by a broadcast map pass —
  no re-clustering, no shuffle of the corpus (re-training is an
  explicit rebuild, exactly like re-sharding a table).
- **append is O(batch)**: assignment + one segment clustered on
  ``list_id``, so every file and row group owns a slice of the list
  domain.
- **search is O(probed lists)**: a probe ranks the k centroids with
  the same batched matmul kernel assign uses (zero shuffles; the old
  per-(probe, centroid) JVM fold went super-linear once the
  corpus-scaled knob grew k), and candidate rows are read
  with an ``In(list_id, ...)`` predicate parquet stats evaluate per
  row group — on list-clustered segments that is the inverted-list
  read, not a table scan. The IN-pushdown threshold is raised past
  the probe-list count (Spark otherwise degrades In to a useless
  [min, max] range on list ids).

The segment lifecycle (format, crash ordering, folding, deletion, the
single-writer contract) is described once, in :mod:`.segments`.
Centroids are stored as JSON (k × dim doubles — kilobytes) so a
foreign session can open the store without the ML model directory.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .segments import SegmentStore, overlapping, write_json_atomic

CENTROIDS = "_ivf_centroids.json"
PQ_FILE = "_ivf_pq.json"

#: Floor for the trained list count — the ACTUAL k is corpus-scaled:
#: ``train(k=None)`` (the default) sizes k so the mean inverted list
#: holds ≤ functions.vectors.SIGN_TARGET_BUCKET_ROWS rows
#: (scaled_ivf_k), the round-4-verdict knob that keeps within-list
#: pair/search work O(target²) as the corpus grows instead of letting
#: a fixed 16 lists go quadratic.
DEFAULT_K = 16
DEFAULT_NPROBE = 4


def _hash_sample(
    emb: DataFrame, *, vec_col: str, keep: int, n_rows: int, seed: int
) -> DataFrame:
    """~``keep`` of ``n_rows`` rows by CONTENT hash (xxhash64 of the
    vector itself, salted with the training seed) — deterministic
    across sessions, partitionings, and row orders, unlike
    ``df.sample`` whose draw depends on partition layout. This is the
    recompute-determinism convention of the ingest DAGs: retraining on
    the same corpus reproduces the identical sample, so the identical
    centroids. One map-side filter; no shuffle, no collect."""
    denom = 1 << 30
    cut = max(1, (denom * keep) // max(n_rows, 1))
    return emb.filter(
        F.pmod(F.xxhash64(F.col(vec_col), F.lit(seed)), F.lit(denom)) < F.lit(cut)
    )


def _hash_sample_at_least(
    emb: DataFrame,
    *,
    vec_col: str,
    keep: int,
    n_rows: int,
    seed: int,
    min_rows: int,
) -> DataFrame:
    """:func:`_hash_sample` with a realized-size guard. Content hashing
    samples duplicate vectors all-or-nothing, so on duplicate-heavy
    corpora (the 64× replicated stress set) the REALIZED sample can
    land far under ``keep`` — below the trainer's k/ks floor even
    though the ``max_train_rows ≥ k`` validation passed, which would
    silently collapse the fit. Guard: count the realized sample (one
    map-side filter + count, cheap next to KMeans) and deterministically
    DOUBLE the keep fraction until it covers ``min_rows``, falling back
    to the full corpus when even that fails (all-duplicates corpus —
    KMeans then collapses centers and the caller persists the actual
    count, the ragged-book contract). Same hash, same seed, and a
    wider cut is a SUPERSET of the narrower one, so the draw stays
    deterministic across sessions and partitionings."""
    def _warn(want: int, realized) -> None:
        import warnings

        warnings.warn(
            f"content-hash training sample widened {keep} -> "
            f"{want} target rows (realized {realized}) to cover "
            f"the {min_rows}-row trainer floor — duplicate-heavy "
            "corpus; centroid quality is unaffected but build "
            "cost grows with the widened sample",
            stacklevel=4,
        )

    want = keep
    while True:
        s = _hash_sample(emb, vec_col=vec_col, keep=want, n_rows=n_rows, seed=seed)
        if want >= n_rows:
            # cut covers everything — skip the filter. This is the
            # MAXIMAL widening (train cost = the full corpus), reached
            # by doubling past n_rows on duplicate-heavy corpora, not
            # only the all-duplicates degenerate case — warn exactly
            # like any other widening (round-11 review #6)
            if want > keep:
                _warn(want, "full corpus")
            return emb
        realized = s.count()
        if realized >= min_rows:
            if want > keep:
                _warn(want, realized)
            return s
        want = min(n_rows, want * 2)


class IVFStore(SegmentStore):
    """Persistent trained-quantizer vector index (see module docstring)."""

    MANIFEST = "_ivf_manifest.json"
    CLUSTER_BY = ["list_id"]
    ID_COL = "vec_id"

    def attr_names(self) -> list[str]:
        """Metadata columns persisted in every segment (the attrs
        sidecar — empty for a plain vector store)."""
        return self.load().meta.get("attrs", [])

    def centroids(self) -> list[list[float]] | None:
        try:
            with open(self._path(CENTROIDS)) as fh:
                return json.load(fh)["centroids"]
        except FileNotFoundError:
            return None

    def centroid_frame(self, spark: SparkSession) -> DataFrame:
        cents = self.centroids()
        if cents is None:
            raise ValueError(f"IVFStore at {self.root} has no trained centroids")
        return spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], "list_id int, centroid array<double>"
        )

    # -- training ------------------------------------------------------
    def train(
        self,
        embeddings: DataFrame,
        *,
        k: int | None = None,
        seed: int = 7,
        max_iter: int = 5,
        vec_col: str = "embedding",
        max_train_rows: int | None = None,
    ) -> int:
        """Fit k centroids (seeded KMeans) and persist them. With
        ``k=None`` (default) k is CORPUS-SCALED via scaled_ivf_k —
        mean list ≤ 64 training rows, floored at DEFAULT_K — so list
        count grows with the data instead of letting fixed lists go
        quadratic; pass an explicit k to pin it.

        ``max_train_rows`` is the 100 TB lever (round-9 verdict item
        2): KMeans cost is per-training-row × iterations, but the
        assignment map never needs the trainer again, so a corpus
        bigger than ``max_train_rows`` is trained on a ~that-sized
        DETERMINISTIC content-hash sample (:func:`_hash_sample` —
        reproducible across sessions and partitionings) while **k is
        still sized by the FULL corpus count** — the inverted-list
        width contract depends on what the store will HOLD, not on
        what the trainer saw. Build cost thereby decouples from corpus
        size (SCALE.md ivfpq-build curve). Must be ≥ the resolved k
        (fewer training rows than centroids is a broken fit, not a
        cheaper one). Returns the PERSISTED center count — equal to k
        except on degenerate corpora where KMeans collapses duplicate
        points and returns fewer centers (the list domain is what was
        persisted, never the requested knob)."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        from ..functions.vectors import scaled_ivf_k

        n_rows: int | None = None
        if k is None or max_train_rows is not None:
            n_rows = embeddings.count()
        if k is None:
            k = scaled_ivf_k(n_rows, min_k=DEFAULT_K)
        train_src = embeddings
        if max_train_rows is not None:
            if max_train_rows < k:
                raise ValueError(
                    f"max_train_rows={max_train_rows} < k={k} — KMeans "
                    "needs at least k training rows; size the sample "
                    "for the trained list count (>= ~64·k is sensible)"
                )
            if n_rows > max_train_rows:
                train_src = _hash_sample_at_least(
                    embeddings,
                    vec_col=vec_col,
                    keep=max_train_rows,
                    n_rows=n_rows,
                    seed=seed,
                    min_rows=k,
                )
        fe = train_src.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        model = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="features").fit(fe)
        cents = model.clusterCenters()
        # Spark KMeans returns FEWER than k centers when the training
        # frame has too few distinct points (duplicate-heavy corpora;
        # the PQCodec ragged-book lesson) — the store's list domain is
        # whatever was PERSISTED, so report that, never the requested
        # knob: every downstream contract (read_lists pruning, the
        # recall oracles' k check, mean-list width) keys off
        # len(centroids()).
        write_json_atomic(
            self._path(CENTROIDS),
            {"centroids": [[float(x) for x in c] for c in cents]},
        )
        return len(cents)

    def train_pq(
        self,
        embeddings: DataFrame,
        *,
        m: int = 8,
        ks: int = 16,
        seed: int = 7,
        max_iter: int = 5,
        vec_col: str = "embedding",
        residual: bool = False,
        max_train_rows: int | None = None,
    ) -> "object":
        """Fit per-subspace PQ codebooks (operators/pq.PQCodec.train)
        and persist them NEXT TO the centroids — from then on every
        ``append`` also stores each vector's m code bytes in the
        segment rows, and ``search_adc`` serves the composed IVFPQ
        plan (probed lists prune the candidate READ, codes shrink what
        is read). Must run BEFORE the first append: segments written
        without codes would poison every later ADC read with NULL
        code columns, so a store that already has segments refuses
        (re-encode = rebuild, the re-train convention). Returns the
        codec.

        ``residual=True`` is the IVFADC form of Jégou et al. 2011 §IV
        (and FAISS IndexIVFPQ): codebooks are trained on — and codes
        encode — the RESIDUAL ``x − centroid(list(x))`` instead of the
        raw vector. Residuals are smaller-normed and centered, so the
        same m × ks code budget spends its resolution on the
        within-list geometry that actually ranks candidates;
        search_adc then builds its lookup tables per (probe, probed
        list), still a driver-side kilobytes-scale constant. Requires
        trained centroids (the IVF half comes first by construction)."""
        if self.segments():
            raise ValueError(
                f"IVFStore at {self.root} already has segments — PQ "
                "codebooks must be trained before the first append "
                "(existing segment rows carry no codes; rebuild the "
                "store to add them)"
            )
        from .pq import PQCodec

        train_src = embeddings
        train_col = vec_col
        if max_train_rows is not None:
            # same deterministic content-hash sample as train() — and
            # taken BEFORE the residual transform, so the residual
            # matmul pass also runs only on the sample. ks (not k)
            # bounds the per-subspace fit.
            if max_train_rows < ks:
                raise ValueError(
                    f"max_train_rows={max_train_rows} < ks={ks} — each "
                    "subspace KMeans needs at least ks training rows"
                )
            n_rows = embeddings.count()
            if n_rows > max_train_rows:
                train_src = _hash_sample_at_least(
                    embeddings,
                    vec_col=vec_col,
                    keep=max_train_rows,
                    n_rows=n_rows,
                    seed=seed,
                    min_rows=ks,
                )
        if residual:
            if self.centroids() is None:
                raise ValueError(
                    "residual PQ needs trained centroids first — call "
                    "train() before train_pq(residual=True)"
                )
            train_src = self._residual_frame(
                train_src, id_col=None, vec_col=vec_col
            )
            train_col = "res"
        codec = PQCodec.train(
            train_src, m=m, ks=ks, seed=seed, max_iter=max_iter, vec_col=train_col
        )
        codec.save(self._path(PQ_FILE), extra={"residual": bool(residual)})
        return codec

    def pq_codec(self) -> "object | None":
        """The persisted PQ codec, or None for a plain (float-only)
        store. Re-read per call — kilobytes, and the single-writer
        contract makes a mid-life swap a rebuild, not a race."""
        from .pq import PQCodec

        try:
            return PQCodec.load(self._path(PQ_FILE))
        except FileNotFoundError:
            return None

    def pq_residual(self) -> bool:
        """True when the persisted codebooks encode residuals
        (IVFADC); False for raw-vector codes or a codeless store."""
        try:
            with open(self._path(PQ_FILE)) as fh:
                return bool(json.load(fh).get("residual", False))
        except FileNotFoundError:
            return False

    def _residual_frame(
        self, embeddings: DataFrame, *, id_col: str | None, vec_col: str
    ) -> DataFrame:
        """(id?, res) — each vector minus its nearest centroid, one
        matmul-argmin map pass (the assign kernel's math; training
        input for residual codebooks)."""
        import numpy as np

        cents = self.centroids()
        if cents is None:
            raise ValueError(f"IVFStore at {self.root} has no trained centroids")
        C = np.asarray(cents, dtype=np.float64)
        cn2 = (C * C).sum(axis=1)
        cols = ([id_col] if id_col else []) + [vec_col]

        def kernel(it):
            import pandas as pd

            for pdf in it:
                if len(pdf) == 0:
                    empty = {"res": pd.Series(dtype="object")}
                    if id_col:
                        empty = {id_col: pd.Series(dtype="int64"), **empty}
                    yield pd.DataFrame(empty)
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cn2[None, :]
                R = X - C[d2.argmin(axis=1)]
                out = {"res": list(R.astype(np.float32))}
                if id_col:
                    out = {id_col: pdf[id_col], **out}
                yield pd.DataFrame(out)

        from ..tables import spread

        schema = ("" if not id_col else f"{id_col} long, ") + "res array<float>"
        return spread(embeddings.select(*cols)).mapInPandas(kernel, schema=schema)

    def assign(
        self,
        embeddings: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        codec: "object | None" = None,
        residual: bool | None = None,
    ) -> DataFrame:
        """(id, embedding, list_id) for a batch: nearest persisted
        centroid per vector, computed as ONE BLAS matmul per Arrow
        batch (mapInPandas; the centroid matrix rides in the closure —
        k × dim float64, kilobytes at any sane k) — ZERO shuffles.

        Why not the JVM fold: the per-(row, centroid) zip_with distance
        was fine at k = 16, but the corpus-scaled knob makes k grow
        with the data — at k = 500 on the 16× stress set the
        interpreted fold paid 500 × 32 000 per-pair evaluations and
        took 199 s; the batched ‖x‖² − 2·X·Cᵀ + ‖c‖² argmin does the
        same flops at memory bandwidth (measured 199 → ~8 s). Ties
        break to the LOWEST list id (np.argmin picks the first
        minimum), matching the old min_by (d2, list_id) ordering.

        With ``codec`` (a trained PQCodec) the SAME kernel also emits
        each vector's ``codes`` — the per-subspace argmins run on the
        already-materialized X of the same Arrow batch, so the IVFPQ
        ingest path (append on a PQ-trained store) stays ONE map pass
        instead of assign + encode + a batch-sized join. On a residual
        (IVFADC) store the codes quantize ``x − centroid(list)`` — the
        argmin'd centroid row is already in-register when the subspace
        argmins run. ``residual`` DEFAULTS TO THE STORE'S PERSISTED
        FLAG (pq_residual()): a caller following the fused-ingest
        pattern (assign with codec, then append(assigned=...)) must
        not be able to silently write raw-vector codes into a
        residual store — every ADC distance would be wrong; pass it
        explicitly only to override for diagnostics."""
        import numpy as np

        if residual is None:
            residual = self.pq_residual()
        cents = self.centroids()
        if cents is None:
            raise ValueError(f"IVFStore at {self.root} has no trained centroids")
        C = np.asarray(cents, dtype=np.float64)
        cn2 = (C * C).sum(axis=1)
        books = None if codec is None else codec.codebooks
        bn2 = None if codec is None else [(B * B).sum(axis=1) for B in books]
        m = None if codec is None else codec.m
        dsub = None if codec is None else codec.dsub

        def kernel(it):
            import pandas as pd

            for pdf in it:
                if len(pdf) == 0:
                    empty = {
                        id_col: pd.Series(dtype="int64"),
                        vec_col: pd.Series(dtype="object"),
                        "list_id": pd.Series(dtype="int32"),
                    }
                    if books is not None:
                        empty["codes"] = pd.Series(dtype="object")
                    yield pd.DataFrame(empty)
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cn2[None, :]
                out = {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "list_id": d2.argmin(axis=1).astype("int32"),
                }
                if books is not None:
                    E = X - C[out["list_id"]] if residual else X
                    codes = np.empty((len(X), m), dtype=np.int32)
                    for j in range(m):
                        S = E[:, j * dsub : (j + 1) * dsub]
                        sd2 = (
                            (S * S).sum(axis=1)[:, None]
                            - 2.0 * (S @ books[j].T)
                            + bn2[j][None, :]
                        )
                        codes[:, j] = sd2.argmin(axis=1)
                    out["codes"] = list(codes)
                yield pd.DataFrame(out)

        from ..tables import spread

        schema = f"{id_col} long, {vec_col} array<float>, list_id int"
        if codec is not None:
            schema += ", codes array<int>"
        # spread: per-row numpy CPU behind a possibly-one-row-group
        # scan (the q_image_resize rule) — no-op on real lakes
        return spread(embeddings.select(id_col, vec_col)).mapInPandas(
            kernel, schema=schema
        )

    # -- writes --------------------------------------------------------
    def append(
        self,
        embeddings: DataFrame,
        *,
        id_min: int,
        id_max: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_files: int = 4,
        skip_if_range_indexed: bool = False,
        assigned: DataFrame | None = None,
        attrs: DataFrame | None = None,
    ) -> bool:
        """Assign a batch and register it as a list-clustered segment.
        Returns False (no write) when ``skip_if_range_indexed`` and a
        manifest segment already overlaps [id_min, id_max] — the
        id-range-batched recompute case (pipelines/ingest_semdedup.py),
        mirroring SignatureStore.append's idempotence contract. A
        caller that already ran :meth:`assign` on the batch (the
        ingest DAG needs the assignment for its decision pass) passes
        the frame via ``assigned`` so the argmin map pass isn't paid
        twice; it must hold exactly this batch's
        (id_col, vec_col, list_id) rows under this store's centroids,
        and should be MATERIALIZED (localCheckpoint) — append consumes
        it twice (bounds agg + write) and does not re-checkpoint a
        caller-provided frame.

        ``attrs`` (a frame of ``id_col`` + metadata columns, e.g. the
        facet column filtered search prunes on) rides INTO the segment
        rows — the TermStore-attrs convention on the vector side — so
        ``read_lists``/``search`` can push an In(attr) predicate to the
        same parquet row groups as the list read. Left-joined: a
        vector with no attrs row keeps NULL metadata (never matches an
        IN filter) rather than vanishing from unfiltered search. Every
        append after the first must ship the same attr column set (the
        manifest records it; a union of mismatched segment schemas
        would poison later reads)."""
        man = self.load()
        segments = man.segments
        if skip_if_range_indexed and overlapping(segments, id_min, id_max):
            return False
        attr_cols = [] if attrs is None else [c for c in attrs.columns if c != id_col]
        reserved = {id_col, vec_col, "list_id", "codes"}
        clash = sorted(set(attr_cols) & reserved)
        if clash:
            # an attrs column named list_id/vec_col would left-join into a
            # duplicate-named column and write a segment every later read
            # dies on (ambiguous reference) — the deferred-poisoning class
            # the empty-batch guard below exists for, applied to names
            raise ValueError(f"attrs columns {clash} collide with segment columns")
        declared = man.meta.get("attrs", [])
        if segments and sorted(attr_cols) != sorted(declared):
            raise ValueError(
                f"attrs columns {sorted(attr_cols)} must match the store's "
                f"declared sidecar {sorted(declared)} on every append"
            )
        codec = self.pq_codec()
        pq_res = self.pq_residual()
        if assigned is None:
            # checkpoint so the assign matmul isn't paid twice (once by
            # the bounds agg below, once by the write). A CALLER-provided
            # frame is NOT re-checkpointed — the ingest DAG already
            # materializes it (re-checkpointing would copy the batch's
            # vectors into block storage a second time); callers passing
            # a lazy frame just pay its recompute on the agg. On a
            # PQ-trained store the codes ride the SAME fused kernel.
            assigned = self.assign(
                embeddings, id_col=id_col, vec_col=vec_col, codec=codec,
                residual=pq_res,
            ).localCheckpoint(eager=True)
        elif codec is not None and "codes" not in assigned.columns:
            # caller-assigned batch on a PQ store: codes via a second
            # fused-kernel pass + a batch-sized equi-join — the fused
            # assign path above is preferred; this keeps the
            # ingest-DAG contract (caller owns the assignment) working
            # unchanged, and the kernel handles both encodings
            assigned = assigned.join(
                self.assign(
                    embeddings, id_col=id_col, vec_col=vec_col, codec=codec,
                    residual=pq_res,
                ).select(id_col, "codes"),
                id_col,
            )
        # One bounded agg over the batch before anything is written:
        # (a) an EMPTY batch (an id-range gap spanning a whole ingest
        # window) must not register a segment — a zero-row parquet dir
        # has no part files, so every later read_lists/search/compact
        # over the manifest would die on schema inference, permanently
        # poisoning the store (TermStore.append guards this same
        # hazard); (b) the batch's ids must actually lie inside the
        # declared [id_min, id_max], or skip_if_range_indexed would
        # silently drop a future overlapping batch while search keeps
        # returning confidently wrong rows.
        bounds = assigned.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(id_col).alias("lo"),
            F.max(id_col).alias("hi"),
        ).first()
        if not bounds["n"]:
            return False
        if bounds["lo"] < id_min or bounds["hi"] > id_max:
            raise ValueError(
                f"batch ids [{bounds['lo']}, {bounds['hi']}] escape the "
                f"declared segment range [{id_min}, {id_max}]"
            )
        seg = {
            "seg": self._new_seg(segments),
            "id_min": id_min,
            "id_max": id_max,
            # exact, already paid for by the bounds aggregate above —
            # feeds read_lists' pruned-read density decision
            "rows": int(bounds["n"]),
        }
        if attrs is not None:
            assigned = assigned.join(
                attrs.select(id_col, *attr_cols), id_col, "left"
            )
        self._write(assigned, seg, n_files)
        meta = {k: v for k, v in man.meta.items() if k != "attrs"}
        if attr_cols:
            meta["attrs"] = attr_cols
        self._commit([*segments, seg], meta)
        return True


    # -- reads ---------------------------------------------------------
    def read_lists(
        self,
        spark: SparkSession,
        list_ids: list[int],
        *,
        attr_filter: tuple[str, tuple] | None = None,
    ) -> DataFrame | None:
        """Stored rows of the given inverted lists — all segments, with
        the In(list_id) predicate pushed to parquet row-group stats
        (threshold raised past the list count; on list-clustered
        segments this reads only the probed lists' row groups).

        ``attr_filter=(col, values)`` additionally pushes an In(col)
        predicate on a persisted sidecar column INTO THE SAME SCAN —
        facet pruning happens at the parquet reader next to the list
        pruning, never as a post-fetch join (the TermStore-attrs
        convention; plan-asserted in tests/test_ivfstore.py)."""
        man = self.load()
        if not man.segments or not list_ids:
            return None
        df = self._read(spark, man.segments, "list_id", [int(x) for x in list_ids])
        if attr_filter is not None:
            col, values = attr_filter
            declared = man.meta.get("attrs", [])
            if col not in declared:
                raise ValueError(
                    f"attr filter on {col!r} but store sidecar is "
                    f"{declared} — append with attrs= first"
                )
            df = df.filter(F.col(col).isin(list(values)))
        return df

    def _probe_list_frame(
        self,
        probes: DataFrame,
        *,
        nprobe: int,
        id_col: str,
        vec_col: str,
    ) -> DataFrame:
        """(probe_id, pe, list_id) — each probe's nprobe nearest
        centroids, the ONE probe→list ranking both search paths
        (float ``search`` and ADC ``search_adc``) consume so probed
        sets can never drift between them. The assign() matmul kernel
        at top-nprobe instead of argmin: the per-(probe, centroid)
        JVM fold it replaces is exactly the pattern the corpus-scaled
        knob turns super-linear — at k = 4096 a 10 000-probe batch
        would pay 40 M interpreted distance folds; the batched matmul
        does the same flops at memory bandwidth with ZERO shuffles.
        Ties break to the lowest list id (stable argsort), matching
        the old (d2, list_id) window order."""
        import numpy as np

        cents = self.centroids()
        if cents is None:
            raise ValueError(f"IVFStore at {self.root} has no trained centroids")
        C = np.asarray(cents, dtype=np.float64)
        cn2 = (C * C).sum(axis=1)
        npb = int(nprobe)

        def rank_lists(it):
            import pandas as pd

            for pdf in it:
                out = {"probe_id": [], "pe": [], "list_id": []}
                if len(pdf):
                    X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                    d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cn2[None, :]
                    order = np.argsort(d2, axis=1, kind="stable")[:, :npb]
                    for row_i, pid in enumerate(pdf[id_col]):
                        for lid in order[row_i]:
                            out["probe_id"].append(pid)
                            out["pe"].append(pdf[vec_col].iloc[row_i])
                            out["list_id"].append(int(lid))
                yield pd.DataFrame(out)

        return probes.select(id_col, vec_col).mapInPandas(
            rank_lists,
            schema="probe_id long, pe array<float>, list_id int",
        )

    def search_adc(
        self,
        probes: DataFrame,
        *,
        top_k: int = 3,
        nprobe: int = DEFAULT_NPROBE,
        refine: int | None = 4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        attr_filter: tuple[str, tuple] | None = None,
    ) -> DataFrame:
        """The composed IVFPQ search (Jégou et al. 2011 §IV; the FAISS
        IndexIVFPQ shape): probe ranks nprobe lists → the probed
        lists' CODES are read with a pushed In(list_id) predicate and
        the float column PRUNED from the scan (ReadSchema without
        ``embedding`` — the 32×-smaller read that is the point of
        storing codes) → per-probe (m × ks) ADC lookup tables rank
        candidates by code arithmetic alone → with ``refine`` = r, the
        top r·k ADC candidates per probe are re-ranked by EXACT cosine
        against their float vectors (a bounded In(id) re-read of
        ≤ |probes|·r·k rows — the "refine" stage every production
        IVFPQ deployment runs), returning (probe_id, neighbor_id,
        cos_sim) exactly like :meth:`search`. ``refine=None`` skips
        the re-read and returns the raw ADC ranking (probe_id,
        neighbor_id, adc_rank).

        ``attr_filter=(col, values)`` is filtered QUANTIZED search —
        the attrs-sidecar facet predicate (see :meth:`search`) rides
        the probed-list CODE read itself (read_lists pushes In(col)
        next to In(list_id)), so ineligible candidates never reach the
        ADC kernel, and the refine re-read inherits the same filter
        because it scans the same filtered frame.

        Requires :meth:`train_pq` before the first append. Probes are
        a bounded query batch by contract (the adc_topk rule): their
        lookup tables ride the kernel closure.

        Exactness anchor (the q_ann_recall_ivf convention): at
        nprobe = k (all lists) with refine·top_k ≥ corpus size, the
        ADC cut keeps every candidate, so the exact re-rank IS brute
        force — same cosine kernel, same (desc sim, asc id) tie-break.
        Monotonicity: ADC orders candidates by (d2, id) — a total
        order — so refine sets are NESTED prefixes, and recall is
        non-decreasing in refine (a displacer of a true top-k member
        must itself be true top-k)."""
        import numpy as np

        from pyspark.sql import Window

        from ..functions.vectors import cosine_prenormed, norm

        # refine=0 would make keep = 0·top_k = 0 and silently return an
        # empty frame; the CLI maps --refine 0 to None (raw ADC), so the
        # API normalizes the same way instead of diverging (ADVICE r9).
        if not refine:
            refine = None
        spark = probes.sparkSession
        codec = self.pq_codec()
        if codec is None:
            raise ValueError(
                f"IVFStore at {self.root} has no PQ codebooks — call "
                "train_pq before the first append to enable ADC search"
            )
        # Collect the bounded probe batch ONCE — it feeds the LUTs
        # (driver-side by design), the probe→list ranking, and the
        # refine join. Re-deriving each from the caller's frame would
        # re-execute the probes lineage (often a corpus-scan filter)
        # three or four times per call.
        rows = probes.select(id_col, vec_col).collect()
        if not rows:
            raise ValueError("search_adc needs a non-empty probe batch")
        probes_local = spark.createDataFrame(
            [(int(r[0]), list(r[1])) for r in rows],
            f"{id_col} long, {vec_col} array<float>",
        )
        probe_lists = self._probe_list_frame(
            probes_local, nprobe=nprobe, id_col=id_col, vec_col=vec_col
        ).localCheckpoint(eager=True)
        wanted = sorted(
            {r["list_id"] for r in probe_lists.select("list_id").distinct().collect()}
        )  # bounded by |probes| * nprobe <= k — a sketch-sized collect
        lists_df = self.read_lists(spark, wanted, attr_filter=attr_filter)
        if lists_df is None:
            raise ValueError(f"IVFStore at {self.root} is empty")
        # the codes read: list_id + id + codes ONLY — parquet column
        # pruning drops the float vectors (plan-asserted in tests)
        cand_codes = lists_df.select(id_col, "list_id", "codes")

        # ADC lookup tables, built driver-side from the collected
        # batch. Raw-vector store: LUT[p, j, c] = ||P[p, sub j] -
        # B_j[c]||². Residual (IVFADC) store: the code decodes a
        # residual AGAINST ITS LIST's centroid, so the table is per
        # (probe, probed list): LUT[p, l, j, c] = ||(P[p] - C[l])[sub
        # j] - B_j[c]||² — |probes| × |wanted| × m × ks doubles, still
        # kilobytes-to-megabytes at the bounded probe-batch contract.
        pids = np.array([r[0] for r in rows], dtype=np.int64)
        P = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
        m, dsub, ks = codec.m, codec.dsub, codec.ks
        is_res = self.pq_residual()
        if is_res:
            Cw = np.asarray(self.centroids(), dtype=np.float64)[wanted]
            # R[p, l] = P[p] - C[wanted[l]]  -> (n_p, n_l, dim)
            R = P[:, None, :] - Cw[None, :, :]
            lut = np.empty((len(P), len(wanted), m, ks))
            for j in range(m):
                S = R[:, :, j * dsub : (j + 1) * dsub]
                B = codec.codebooks[j]
                lut[:, :, j, :] = (
                    (S * S).sum(axis=2)[:, :, None]
                    - 2.0 * (S @ B.T)
                    + (B * B).sum(axis=1)[None, None, :]
                )
            lidx = {int(l): i for i, l in enumerate(wanted)}
        else:
            lut = np.empty((len(P), m, ks))
            for j in range(m):
                S = P[:, j * dsub : (j + 1) * dsub]
                B = codec.codebooks[j]
                lut[:, j, :] = (
                    (S * S).sum(axis=1)[:, None]
                    - 2.0 * (S @ B.T)
                    + (B * B).sum(axis=1)[None, :]
                )
            lidx = None
        pidx = {int(p): i for i, p in enumerate(pids)}
        keep = top_k if refine is None else refine * top_k

        def adc_kernel(it):
            import pandas as pd

            for pdf in it:
                out = {"probe_id": [], "neighbor_id": [], "d2": []}
                if len(pdf):
                    codes_arr = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
                    ids = pdf[id_col].to_numpy()
                    prows = pdf["probe_id"].to_numpy()
                    pi = np.array([pidx[int(p)] for p in prows])
                    d = np.zeros(len(codes_arr))
                    if lidx is not None:
                        li = np.array(
                            [lidx[int(x)] for x in pdf["list_id"].to_numpy()]
                        )
                        for j in range(m):
                            d += lut[pi, li, j, codes_arr[:, j]]
                    else:
                        for j in range(m):
                            d += lut[pi, j, codes_arr[:, j]]
                    # partition-local top-keep per probe: only the
                    # per-batch best survive to the shuffle (the
                    # adc_topk map-side-combine discipline); lexsort
                    # on (d2, id) — PQ makes exact ties common
                    # (duplicate vectors share codes) and the final
                    # window is promised the lowest-id winner. The
                    # probe's own row is dropped BEFORE the cut — at
                    # d2 = 0 it would otherwise always occupy a keep
                    # slot and push the true boundary candidate out
                    # (a post-kernel filter is too late)
                    for p in np.unique(prows):
                        sel = np.flatnonzero((prows == p) & (ids != p))
                        if len(sel) > keep:
                            sel = sel[np.lexsort((ids[sel], d[sel]))[:keep]]
                        out["probe_id"].extend([int(p)] * len(sel))
                        out["neighbor_id"].extend(int(ids[s]) for s in sel)
                        out["d2"].extend(float(d[s]) for s in sel)
                yield pd.DataFrame(out)

        # each probe scores ONLY its own probed lists' candidates:
        # broadcast the (probe, list) pairs onto the pruned codes read
        # self-rows are dropped inside adc_kernel (before the cut), so
        # no probe_id == neighbor_id row can come out of it
        kernel_cols = ["probe_id", id_col, "codes"] + (
            ["list_id"] if is_res else []
        )
        scored = (
            cand_codes.join(
                F.broadcast(probe_lists.select("probe_id", "list_id")), "list_id"
            )
            .select(*kernel_cols)
            .mapInPandas(adc_kernel, schema="probe_id long, neighbor_id long, d2 double")
        )
        w_adc = Window.partitionBy("probe_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
        ranked = (
            scored.withColumn("adc_rank", F.row_number().over(w_adc))
            .filter(F.col("adc_rank") <= keep)
        )
        if refine is None:
            return ranked.select(
                "probe_id", "neighbor_id", F.col("adc_rank").cast("long")
            )
        # exact re-rank: the surviving (probe, candidate) pairs are
        # ≤ |probes| · refine · top_k by construction — collect ONCE
        # (this is the size probe AND the fetch, the limit-probe rule;
        # a localCheckpoint here would both hide the ADC subplan from
        # audits and stats-poison the downstream join) and re-ship as
        # a LocalRelation, then a bounded In(id) re-read of only those
        # candidates' float vectors, joined to the broadcast probes
        pair_rows = ranked.select("probe_id", "neighbor_id").collect()
        cand_ids = sorted({r["neighbor_id"] for r in pair_rows})
        pairs = spark.createDataFrame(
            [(int(r["probe_id"]), int(r["neighbor_id"])) for r in pair_rows],
            "probe_id long, neighbor_id long",
        )
        from .layout import pruned_isin

        # no store_rows: lists_df is ALREADY the pruned probed-lists
        # frame, so the over-cap fallback (post-scan InSet) re-reads
        # only |probes|·list rows, never the store — contract-bounded
        vecs = pruned_isin(
            spark, lists_df.select(id_col, vec_col), id_col, cand_ids
        )
        pv = probes_local.select(
            F.col(id_col).alias("probe_id"),
            F.col(vec_col).alias("pe"),
        ).withColumn("pnrm", norm(F.col("pe")))
        sims = (
            pairs.join(vecs.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
            .join(F.broadcast(pv), "probe_id")
            .select(
                "probe_id",
                "neighbor_id",
                cosine_prenormed(
                    F.col("pe"), F.col(vec_col), F.col("pnrm"), norm(F.col(vec_col))
                ).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("probe_id").orderBy(
            F.desc("cos_sim"), F.asc("neighbor_id")
        )
        return (
            sims.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_k)
            .select("probe_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"))
        )

    def search(
        self,
        probes: DataFrame,
        *,
        top_k: int = 3,
        nprobe: int = DEFAULT_NPROBE,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        eligible: DataFrame | None = None,
        attr_filter: tuple[str, tuple] | None = None,
    ) -> DataFrame:
        """Cosine top-k neighbors from the store for each probe row:
        rank centroids per probe, fetch ONLY the probed lists,
        bucket-equi-join, per-probe top-k. Returns (probe_id,
        neighbor_id, cos_sim); a probe never matches its own id.

        ``eligible`` (a frame carrying ``id_col``) is the FILTERED
        vector search every production ANN service exposes: candidates
        are semi-join-pruned to the eligible id set BEFORE any
        similarity is computed (post-filtering a top-k would lose
        every eligible neighbor ranked past k), mirroring
        TermStore.search_filtered's facet semantics on the text side.
        ``attr_filter=(col, values)`` is the STRONGER form when the
        metadata lives in the store's attrs sidecar: the facet
        predicate rides the probed-list parquet read itself
        (read_lists pushes In(col) next to In(list_id)), so ineligible
        rows are pruned at the scan instead of surviving to a join —
        same output, one fewer corpus-sized input.

        The probe → list ranking is the assign() matmul kernel (top
        nprobe instead of argmin): the per-(probe, centroid) JVM fold
        it replaces is exactly the pattern the corpus-scaled knob
        turns super-linear — at k = 4096 a 10 000-probe batch would
        pay 40 M interpreted distance folds; the batched matmul does
        the same flops at memory bandwidth with ZERO shuffles. Ties
        break to the lowest list id (stable argsort), matching the
        old (d2, list_id) window order."""
        from pyspark.sql import Window

        from ..functions.vectors import cosine_prenormed, norm

        spark = probes.sparkSession
        probe_lists = self._probe_list_frame(
            probes, nprobe=nprobe, id_col=id_col, vec_col=vec_col
        )
        wanted = sorted(
            {r["list_id"] for r in probe_lists.select("list_id").distinct().collect()}
        )  # bounded by |probes| * nprobe <= k — a sketch-sized collect
        cand = self.read_lists(spark, wanted, attr_filter=attr_filter)
        if cand is None:
            raise ValueError(f"IVFStore at {self.root} is empty")
        if eligible is not None:
            cand = cand.join(eligible.select(id_col), id_col, "left_semi")
        sims = (
            cand.join(
                F.broadcast(probe_lists.withColumn("pnrm", norm(F.col("pe")))),
                "list_id",
            )
            .filter(F.col(id_col) != F.col("probe_id"))
            .select(
                "probe_id",
                F.col(id_col).alias("neighbor_id"),
                cosine_prenormed(
                    F.col("pe"), F.col(vec_col), F.col("pnrm"), norm(F.col(vec_col))
                ).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
        return (
            sims.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_k)
            .select("probe_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"))
        )
