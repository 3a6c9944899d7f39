"""Product quantization (PQ) for embedding columns: per-subspace
codebooks + asymmetric-distance (ADC) search — the MEMORY lever of the
ANN family (Jégou, Douze & Schmid 2011, "Product Quantization for
Nearest Neighbor Search"; the PQ half of FAISS's IVFPQ).

At 100 TB the embedding column IS the storage problem: 64 float32 dims
cost 256 B per vector, so a 10¹¹-vector corpus carries ~25 TB of raw
vectors that every ANN pass must move. PQ splits each vector into
``m`` subvectors, learns a ``ks``-centroid codebook per subspace
(seeded KMeans — SAMPLE-trainable, like IVFStore.train), and stores
each vector as ``m`` small code bytes: m=8, ks=16 compresses 32×
(8 B/vector), and search still computes informative distances AGAINST
THE CODES via per-probe lookup tables (ADC): one (m × ks) table of
subspace distances per probe — O(probes · d) to build, broadcast-sized
— after which every candidate costs m table lookups instead of a
d-dim dot product. Distances are asymmetric (true probe vs quantized
candidate), the variant the paper shows dominates symmetric
code-vs-code search.

Spark shapes (the 100 TB contract):

- **train** runs m seeded KMeans fits on subvector frames — per
  training row, so train on a sample at scale; codebooks are
  kilobytes of JSON (the IVF centroid convention) and ride closures.
- **encode** is ONE mapInPandas pass: per Arrow batch, m batched
  ‖x‖²−2XCᵀ+‖c‖² argmins (the ivfstore matmul rule: per-pair JVM
  folds go super-linear exactly when the knob grows) — zero shuffles,
  output is (id, codes) only.
- **adc_topk** broadcasts the probes' lookup tables inside the
  kernel closure, streams the CODES once (the 32×-smaller frame — the
  point), and leaves only (probe, candidate, distance) rows for the
  per-probe top-k window. The full IVFPQ composition is
  ivfstore.IVFStore.search_adc (round 9): train_pq persists these
  codebooks IN the store, append writes each vector's codes into the
  list-clustered segments via one fused assign+encode pass, and
  search_adc prunes the candidate read by probed list, ADC-ranks the
  pruned CODES, then exact-reranks the top refine·k via a bounded
  In(id) re-read.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .segments import write_json_atomic


class PQCodec:
    """Trained product quantizer: ``codebooks[j]`` is the (ks × dsub)
    centroid matrix of subspace j. Persist with save/load (JSON, the
    IVF centroids convention) so a foreign session can decode without
    the trainer."""

    def __init__(self, codebooks) -> None:
        import numpy as np

        books = [np.asarray(c, dtype=np.float64) for c in codebooks]
        # Spark KMeans can return FEWER than ks centers when a
        # subspace has too few distinct points (found by the round-10
        # 64x stress run: replicated siblings differ only in component
        # 0, so a later subspace collapsed to 5 centers and every
        # rectangular (m, ks) LUT allocation crashed). Pad ragged
        # books to a rectangle by repeating their LAST center: encode
        # argmins pick the FIRST minimum, so a padded duplicate is
        # never emitted as a code, and its LUT row is never referenced
        # — distances and ranks are unchanged.
        ks = max(b.shape[0] for b in books)
        self.codebooks = [
            b
            if b.shape[0] == ks
            else np.vstack([b, np.repeat(b[-1:], ks - b.shape[0], axis=0)])
            for b in books
        ]
        self.m = len(self.codebooks)
        self.ks = ks
        self.dsub = self.codebooks[0].shape[1]
        self.dim = self.m * self.dsub

    # -- training -------------------------------------------------------
    @classmethod
    def train(
        cls,
        emb: DataFrame,
        *,
        m: int = 8,
        ks: int = 16,
        seed: int = 7,
        max_iter: int = 5,
        vec_col: str = "embedding",
    ) -> "PQCodec":
        """Fit one seeded KMeans per subspace. Cost is per TRAINING row
        × m — train on a sample at scale (the codebook generalizes the
        way IVF centroids do). The embedding dim must divide by m."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        dim = len(emb.select(vec_col).first()[0])
        if dim % m:
            raise ValueError(f"embedding dim {dim} not divisible by m={m}")
        dsub = dim // m
        books = []
        for j in range(m):
            sub = emb.select(
                array_to_vector(
                    F.slice(F.col(vec_col).cast("array<double>"), j * dsub + 1, dsub)
                ).alias("features")
            )
            model = KMeans(
                k=ks, seed=seed + j, maxIter=max_iter, featuresCol="features"
            ).fit(sub)
            books.append([[float(x) for x in c] for c in model.clusterCenters()])
        return cls(books)

    # -- persistence ------------------------------------------------------
    def save(self, path: str, *, extra: dict | None = None) -> None:
        """Persist the codebooks (+ optional caller metadata, e.g. the
        IVFStore residual flag) — the ONE owner of the on-disk PQ JSON
        format; ``load`` ignores unknown keys so metadata round-trips
        through foreign readers."""
        payload = {"codebooks": [c.tolist() for c in self.codebooks]}
        if extra:
            payload.update(extra)
        write_json_atomic(path, payload)

    @classmethod
    def load(cls, path: str) -> "PQCodec":
        with open(path) as fh:
            return cls(json.load(fh)["codebooks"])

    # -- encode -----------------------------------------------------------
    def encode(
        self, emb: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> DataFrame:
        """(id, codes) — codes[j] = argmin centroid of subspace j, via
        m batched matmul argmins per Arrow batch (ties to the lowest
        code, np.argmin's first minimum — deterministic). One map
        pass, zero shuffles; the output frame is the 32×-smaller
        thing you persist."""
        import numpy as np

        books = self.codebooks
        m, dsub = self.m, self.dsub

        def kernel(it):
            import pandas as pd

            cn2 = [(C * C).sum(axis=1) for C in books]
            for pdf in it:
                if not len(pdf):
                    yield pd.DataFrame(
                        {id_col: pd.Series(dtype="int64"),
                         "codes": pd.Series(dtype="object")}
                    )
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                codes = np.empty((len(X), m), dtype=np.int32)
                for j in range(m):
                    S = X[:, j * dsub : (j + 1) * dsub]
                    d2 = (
                        (S * S).sum(axis=1)[:, None]
                        - 2.0 * (S @ books[j].T)
                        + cn2[j][None, :]
                    )
                    codes[:, j] = d2.argmin(axis=1)
                yield pd.DataFrame(
                    {id_col: pdf[id_col], "codes": list(codes)}
                )

        from ..tables import spread

        return spread(emb.select(id_col, vec_col)).mapInPandas(
            kernel, schema=f"{id_col} long, codes array<int>"
        )

    def reconstruct(self, codes) -> "object":
        """numpy inverse of encode for one code row (tests /
        diagnostics): concatenate the coded centroids."""
        import numpy as np

        return np.concatenate(
            [self.codebooks[j][int(codes[j])] for j in range(self.m)]
        )

    # -- search -----------------------------------------------------------
    def adc_topk(
        self,
        probes: DataFrame,
        codes: DataFrame,
        *,
        top_k: int = 3,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Asymmetric-distance top-k: per probe, the k candidate codes
        with the smallest Σ_j LUT_j[probe, codes[j]] (squared L2 of
        the true probe against each candidate's reconstruction —
        exact given the codes). The probe batch is COLLECTED into the
        kernel closure as (m × ks) lookup tables — probes are a
        bounded query batch by contract (the IVFStore.search probe
        rule), never a corpus. The codes frame streams ONCE; only
        (probe, candidate, d2) rows reach the per-probe top-k window.
        Returns (probe_id, neighbor_id, adc_rank); a probe never
        matches its own id."""
        import numpy as np

        from pyspark.sql import Window

        rows = probes.select(id_col, vec_col).collect()
        if not rows:
            raise ValueError("adc_topk needs a non-empty probe batch")
        pids = np.array([r[0] for r in rows], dtype=np.int64)
        P = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
        m, dsub, ks = self.m, self.dsub, self.ks
        # LUT[p, j, c] = ||P[p, sub j] - codebook_j[c]||²
        lut = np.empty((len(P), m, ks))
        for j in range(m):
            S = P[:, j * dsub : (j + 1) * dsub]
            C = self.codebooks[j]
            lut[:, j, :] = (
                (S * S).sum(axis=1)[:, None]
                - 2.0 * (S @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )

        keep = top_k + 1  # +1: the probe's own row may occupy a slot

        def kernel(it):
            import pandas as pd

            for pdf in it:
                out = {"probe_id": [], "neighbor_id": [], "d2": []}
                if len(pdf):
                    codes_arr = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
                    ids = pdf[id_col].to_numpy()
                    # distances: (P, batch) = Σ_j lut[:, j, codes[:, j]]
                    d = np.zeros((len(P), len(codes_arr)))
                    for j in range(m):
                        d += lut[:, j, :][:, codes_arr[:, j]]
                    # partition-local top-k: only the per-batch best
                    # survive to the shuffle — P·keep rows per batch,
                    # never P·batch (the map-side-combine discipline).
                    # lexsort, NOT argpartition: PQ makes exact d2
                    # ties common (duplicate vectors share codes), and
                    # an arbitrary tie cut at the keep boundary could
                    # drop the lowest-id candidate the final
                    # (d2, neighbor_id) window is promised to return
                    for pi in range(len(P)):
                        if len(ids) > keep:
                            sel = np.lexsort((ids, d[pi]))[:keep]
                        else:
                            sel = np.arange(len(ids))
                        out["probe_id"].extend([int(pids[pi])] * len(sel))
                        out["neighbor_id"].extend(int(ids[s]) for s in sel)
                        out["d2"].extend(float(d[pi, s]) for s in sel)
                yield pd.DataFrame(out)

        cand = codes.select(id_col, "codes").mapInPandas(
            kernel, schema="probe_id long, neighbor_id long, d2 double"
        ).filter(F.col("probe_id") != F.col("neighbor_id"))
        w = Window.partitionBy("probe_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
        return (
            cand.withColumn("adc_rank", F.row_number().over(w))
            .filter(F.col("adc_rank") <= top_k)
            .select("probe_id", "neighbor_id", F.col("adc_rank").cast("long"))
        )
