"""The benchmark's workloads.

Each workload is a closed loop with one client: ``ops`` returns the
operations of one timed pass, and the harness (run.py) times each one,
retries a failed attempt once, and runs its correctness check untimed.
The inputs are the test lake under ``perfbench/data/``; the seed drives
only the workload's choices.

- ``daily_backfill``: the paper's operating mode. Setup trains the
  model; the first warm-up tick fills the 4-day ``range_daily`` window;
  each tick runs one new day's Fetch/Clean/Classify. On about one timed
  tick in five, at fixed positions, a seeded earlier day of the window
  is first invalidated (late data), so the tick recomputes that day too.
- ``ingest_query_mix``: writes beside reads, in a fixed order of rounds:
  ``ingest`` (incremental MinHash dedup batches 3–8 over a seeded
  permutation of the documents, after the warm-up's 0–2; batch 7
  triggers the signature store's first tiered compaction), then two
  ``search`` requests (TermStore BM25, top-10, 1–3 terms drawn from the
  store's vocabulary), with ``sql`` (run_sql point lookup and small
  aggregate with seeded keys) and ``report`` (catalog queries) requests
  spread over the rounds. Setup builds the TermStore.
"""

from __future__ import annotations

import copy
import datetime as dt
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb
import numpy as np
import pyarrow.parquet as pq


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]  # the timed body; raises on failure
    check: Callable[[Any], bool | None]  # untimed; None = checked in verify()
    before: Callable[[], None] | None = None  # untimed preparation
    info: dict = field(default_factory=dict)


def _rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


class Workload:
    name = ""
    core_ops = 0  # operations of one timed pass
    root = ""  # everything the workload writes
    STATE: tuple[str, ...] = ()  # attributes that track what it wrote

    def prepare(self, ctx) -> None:
        """Input-side preparation, untimed and before setup."""

    def setup(self, ctx) -> dict[str, float]:
        """Build the workload's state (counted in setup_s). Returns extra
        detail metrics."""
        return {}

    def warmup(self, ctx) -> list[Op]:
        """Operations run after setup and before timing, one of every
        shape the pass sends; their time counts in setup_s, their checks
        run untimed."""
        return []

    def ops(self, ctx) -> list[Op]:
        raise NotImplementedError

    def snapshot(self) -> None:
        """Keep the state the first pass starts from (untimed)."""
        shutil.copytree(self.root, self.root + ".snapshot")
        self._saved = copy.deepcopy({k: getattr(self, k) for k in self.STATE})

    def reset(self) -> None:
        """Return to the snapshot, so the traced pass does the same work
        as the untraced one."""
        shutil.rmtree(self.root)
        shutil.copytree(self.root + ".snapshot", self.root)
        for k, v in copy.deepcopy(self._saved).items():
            setattr(self, k, v)

    def verify(self, ctx, records: list[dict]) -> None:
        """Finish deferred correctness checks (records with ok=None)."""

    def metrics(self, ctx, records: list[dict]) -> dict[str, tuple[float, str]]:
        """Workload-specific detail metrics of one pass."""
        return {}


# --------------------------------------------------------- daily backfill --


class DailyBackfill(Workload):
    name = "daily_backfill"
    core_ops = 8
    DAYS_BACK = 4
    LATE_EVERY = 5  # about one tick in five recomputes a late day
    #: the first tick fills the 4-day window; later ticks keep getting
    #: faster for a few more, as the JVM compiles the hot paths
    WARM_TICKS = 4

    def prepare(self, ctx) -> None:
        con = duckdb.connect()
        # FetchDaily attaches document user_id % 500 to each event
        rows = con.execute(
            f"""SELECT CAST(e.ts AS DATE) AS day, COUNT(*) AS n
            FROM read_parquet('{ctx.data}/events.parquet') e
            JOIN read_parquet('{ctx.data}/documents.parquet') d
              ON d.doc_id = e.user_id % 500
            GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        con.close()
        self.expected = {day: n for day, n in rows}
        days = [day for day, _ in rows][: self.WARM_TICKS + self.core_ops]
        self.warm_days, timed = days[: self.WARM_TICKS], days[self.WARM_TICKS:]
        # the timed ticks: (day, earlier day of its window to invalidate)
        # at fixed, evenly spread positions, so that every seed's late
        # ticks meet the same JVM warm-up; the seed picks the late day
        n_late = max(1, round(len(timed) / self.LATE_EVERY))
        late = {int((k + 0.5) * len(timed) / n_late) for k in range(n_late)}
        self.plan = []
        for i, day in enumerate(timed):
            stale = None
            if i in late:
                lo = max(days[0], day - dt.timedelta(days=self.DAYS_BACK - 1))
                stale = lo + dt.timedelta(days=int(ctx.rng.integers(0, (day - lo).days)))
            self.plan.append((day, stale))
        self.root = os.path.join(ctx.work, "daily")

    def _tick(self, ctx, day: dt.date):
        from production_ready_ds_spark import workflow
        from production_ready_ds_spark.pipelines.classification import ClassifyDaily

        return workflow.build(
            workflow.range_daily(
                ClassifyDaily, stop=day, days_back=self.DAYS_BACK,
                data_root=self.root, sf_dir=ctx.data,
            )
        )

    def _day_ok(self, day: dt.date) -> bool:
        rows = _rows(os.path.join(self.root, "daily", "ergebnis", f"date={day.isoformat()}"))
        labels = {r["prediction_label"] for r in rows}
        return len(rows) == self.expected.get(day, 0) and labels <= {"english", "other"}

    def _tick_op(self, ctx, day: dt.date, stale: dt.date | None = None) -> Op:
        return Op(
            kind="tick",
            run=lambda: self._tick(ctx, day),
            check=lambda res: not res["blocked"]
            and all(self._day_ok(d) for d in (day, stale) if d is not None),
            before=None if stale is None else (lambda: self._invalidate(stale)),
            info={"day": day.isoformat(), "late": stale.isoformat() if stale else None},
        )

    def setup(self, ctx) -> dict[str, float]:
        from production_ready_ds_spark import workflow
        from production_ready_ds_spark.pipelines.training import TrainModel

        t = ctx.clock()
        workflow.build([TrainModel(data_root=self.root, sf_dir=ctx.data)])
        return {"train_s": ctx.clock() - t}

    def warmup(self, ctx) -> list[Op]:
        return [self._tick_op(ctx, day) for day in self.warm_days]

    def ops(self, ctx) -> list[Op]:
        return [self._tick_op(ctx, day, stale) for day, stale in self.plan]

    def _invalidate(self, day: dt.date) -> None:
        for stage in ("cleaned", "ergebnis"):
            shutil.rmtree(
                os.path.join(self.root, "daily", stage, f"date={day.isoformat()}"),
                ignore_errors=True,
            )


# ------------------------------------------------------- ingest query mix --

SQL_TEMPLATES = (
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer "
    "WHERE c_custkey = {key}",
    "SELECT COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '{d0}' AND o_orderdate < TIMESTAMP '{d1}'",
)
REPORTS = ("q_tpch_q3", "q_agg_pricing")
#: dedup batches the warm-up ingests (0-2: ingest cost keeps falling
#: over the first few batches of a fresh JVM) and a pass ingests (3-8;
#: batch 7 brings the signature store to COMPACT_EVERY segments, so
#: every pass includes a tiered compaction)
WARM_INGESTS = 3
INGESTS = 6
#: searches per pass: two after every ingest, so the median request is
#: a search
SEARCHES = 12
WARM_SEARCHES = 3


class IngestQueryMix(Workload):
    """A writer ingesting dedup batches beside readers searching the
    text index and querying the lake, one closed loop."""

    name = "ingest_query_mix"
    core_ops = INGESTS + SEARCHES + len(SQL_TEMPLATES) + len(REPORTS)
    STATE = ("next_batch", "segments", "written", "compactions")

    def prepare(self, ctx) -> None:
        from production_ready_ds_spark.pipelines.ingest_dedup import BATCH_SIZE

        docs = pq.read_table(os.path.join(ctx.data, "documents.parquet")).to_pandas()
        docs["doc_id"] = ctx.rng.permutation(len(docs)).astype("int64")
        docs = docs.sort_values("doc_id", ignore_index=True)
        self.n_docs = len(docs)
        self.source = os.path.join(ctx.work, "ingest_source.parquet")
        docs.to_parquet(self.source, index=False)
        self.batch_size = BATCH_SIZE
        n_batches = -(-len(docs) // BATCH_SIZE)
        self.warm_ingests = min(WARM_INGESTS, n_batches - 1)
        self.ingests = min(INGESTS, n_batches - self.warm_ingests)
        self.searches = max(1, self.core_ops - self.ingests - len(SQL_TEMPLATES) - len(REPORTS))
        self.text_bytes = [
            int(docs.text.iloc[b * BATCH_SIZE:(b + 1) * BATCH_SIZE].str.encode("utf-8").str.len().sum())
            for b in range(n_batches)
        ]
        self.root = os.path.join(ctx.work, "ingest")
        self.sig_store = os.path.join(self.root, "ingest", "sig_store")
        self.next_batch = 0
        self.segments: dict[str, int] = {}  # live segment dir → parquet bytes
        self.written = 0
        self.compactions = 0
        self.pass_start = (0, 0)
        self.accepted_ref: set[int] | None = None

        self.duck = duckdb.connect()
        for t in ("customer", "orders"):
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.data}/{t}.parquet')")
        self.customers = self.duck.execute("SELECT MIN(c_custkey), MAX(c_custkey) FROM customer").fetchone()
        d0, d1 = self.duck.execute("SELECT MIN(o_orderdate), MAX(o_orderdate) FROM orders").fetchone()
        self.order_days = (d0.date(), (d1 - d0).days)
        self.oracle: dict[str, Any] = {}
        self.search_ref: dict[tuple, list] = {}

    # -- request parameters ----------------------------------------------
    def _sql(self, rng: np.random.Generator, template: int) -> str:
        start, span = self.order_days
        d0 = start + dt.timedelta(days=int(rng.integers(0, max(span - 30, 1))))
        return SQL_TEMPLATES[template].format(
            key=int(rng.integers(self.customers[0], self.customers[1] + 1)),
            d0=d0, d1=d0 + dt.timedelta(days=30),
        )

    def _terms(self, rng: np.random.Generator) -> tuple[str, ...]:
        return tuple(str(w) for w in rng.choice(self.vocab, int(rng.integers(1, 4)), replace=False))

    # -- ingest ----------------------------------------------------------
    def _observe_store(self) -> None:
        """Account segment bytes: a segment directory that was not there
        before was written by an append or a compaction; one that
        disappeared was folded away by a compaction."""
        now: dict[str, int] = {}
        if os.path.isdir(self.sig_store):
            for seg in os.listdir(self.sig_store):
                path = os.path.join(self.sig_store, seg)
                if seg.startswith("seg=") and os.path.isdir(path):
                    now[seg] = sum(
                        os.path.getsize(os.path.join(path, f))
                        for f in os.listdir(path) if f.endswith(".parquet")
                    )
        self.written += sum(size for seg, size in now.items() if seg not in self.segments)
        self.compactions += any(seg not in now for seg in self.segments)
        self.segments = now

    def _ingest(self, ctx, batch: int):
        from production_ready_ds_spark import workflow
        from production_ready_ds_spark.pipelines.ingest_dedup import DedupBatch

        try:
            return workflow.build([DedupBatch(data_root=self.root, source_path=self.source, batch=batch)])
        finally:
            self._observe_store()

    def _accepted_ref(self, ctx) -> set[int]:
        """One-shot keep-lowest-id MinHash over the whole permuted
        corpus: a document is rejected iff it near-duplicates a lower
        id, the rule every DedupBatch applies against earlier batches
        and its own, so the result restricted to a batch's id range is
        that batch's expected accepted set."""
        from production_ready_ds_spark.operators.dedup import minhash_bands, minhash_candidates

        docs = ctx.spark.read.parquet(self.source)
        pairs = minhash_candidates(minhash_bands(docs))
        rejected = {r[0] for r in pairs.select("doc_b").distinct().collect()}
        return {r[0] for r in docs.select("doc_id").collect()} - rejected

    # -- operations ------------------------------------------------------
    def _op(self, ctx, kind: str, arg) -> Op:
        if kind == "ingest":
            batch = self.next_batch
            self.next_batch += 1
            return Op(kind, lambda: self._ingest(ctx, batch), check=lambda res: None, info={"batch": batch})
        if kind == "search":
            def run():
                df = self.index.search(ctx.spark, arg, k=10)
                with ctx.span("termstore.exec"):
                    return [tuple(r) for r in df.collect()]

            return Op(kind, run, check=lambda rows: None, info={"terms": list(arg)})
        if kind == "sql":
            from production_ready_ds_spark import sql

            def run():
                df = sql.run_sql(ctx.spark, arg, ctx.data)
                with ctx.span("sql.exec"):
                    return df.toPandas()

            return Op(kind, run, check=lambda pdf: self._matches(arg, pdf, self.duck.execute(arg).fetchdf()),
                      info={"statement": arg})

        def run():
            with ctx.span("queries.build"):
                df = ctx.catalog[arg].fn(ctx.spark, ctx.data)
            with ctx.span("queries.exec"):
                return df.toPandas()

        return Op(kind, run, check=lambda pdf: self._matches(arg, pdf, self._oracle(ctx, arg)), info={"query": arg})

    def _oracle(self, ctx, name: str):
        if name not in self.oracle:
            from production_ready_ds_spark.oracle import duck_connection

            con = duck_connection(ctx.data)
            self.oracle[name] = con.execute(ctx.catalog[name].sql).fetchdf()
            con.close()
        return self.oracle[name]

    @staticmethod
    def _matches(name: str, got, want) -> bool:
        from production_ready_ds_spark.oracle import compare_frames

        return compare_frames(name, got, want).ok

    def setup(self, ctx) -> dict[str, float]:
        from production_ready_ds_spark.operators.termstore import TermStore
        from production_ready_ds_spark.tables import load

        self.index = TermStore(os.path.join(ctx.work, "termstore"))
        self.index.append(load(ctx.spark, ctx.data, "documents"), id_min=0, id_max=self.n_docs - 1)
        # the store's vocabulary: every term its postings hold
        self.vocab = sorted({
            t for seg in self.index.segments()
            for t in pq.read_table(self.index._path(f"seg={seg['seg']}"), columns=["term"]).column("term").to_pylist()
        })
        return {}

    def warmup(self, ctx) -> list[Op]:
        warm = np.random.default_rng([ctx.seed, 1])
        return [
            *[self._op(ctx, "ingest", None) for _ in range(self.warm_ingests)],
            *[self._op(ctx, "search", self._terms(warm)) for _ in range(WARM_SEARCHES)],
            *[self._op(ctx, "sql", self._sql(warm, t)) for t in range(len(SQL_TEMPLATES))],
            *[self._op(ctx, "report", name) for name in REPORTS],
        ]

    def ops(self, ctx) -> list[Op]:
        """One pass of ``core_ops`` requests in a fixed order: rounds of
        an ingest (in batch order) and the searches, with the SQL and
        report requests spread over the rounds. The seed draws every
        request's parameters afresh for every pass; the order stays the
        same, so each seed's pass meets the same JVM warm-up."""
        self.pass_start = (self.written, self.compactions)
        extra = [("sql", t) for t in range(len(SQL_TEMPLATES))] + [("report", name) for name in REPORTS]
        rounds = self.ingests  # at least one: prepare() leaves a batch for the pass
        deck: list[tuple[str, Any]] = []
        searches = self.searches
        for r in range(rounds):
            deck.append(("ingest", None))
            n = searches // (rounds - r)
            searches -= n
            deck += [("search", None)] * n
            # spread the SQL and report requests over the rounds
            deck += extra[len(extra) * r // rounds:len(extra) * (r + 1) // rounds]
        ops = []
        for kind, arg in deck:
            if kind == "search":
                arg = self._terms(ctx.rng)
            elif kind == "sql":
                arg = self._sql(ctx.rng, arg)
            # an ingest op takes its batch number when it is created
            ops.append(self._op(ctx, kind, arg))
        return ops

    def verify(self, ctx, records: list[dict]) -> None:
        from production_ready_ds_spark.queries.llm import bm25_topk
        from production_ready_ds_spark.tables import load

        pending = [r for r in records if r["ok"] is None]
        docs = load(ctx.spark, ctx.data, "documents")
        missing = {tuple(r["info"]["terms"]) for r in pending if r["kind"] == "search"} - set(self.search_ref)
        # the reference results are independent Spark jobs: run them
        # side by side, which keeps the untimed part of a run short
        with ThreadPoolExecutor(4) as pool:
            refs = {
                terms: pool.submit(lambda t: sorted(tuple(r) for r in bm25_topk(docs, t, k=10).collect()), terms)
                for terms in missing
            }
            if self.accepted_ref is None and any(r["kind"] == "ingest" for r in pending):
                self.accepted_ref = pool.submit(self._accepted_ref, ctx).result()
            self.search_ref.update({terms: f.result() for terms, f in refs.items()})
        for rec in pending:
            result = rec.pop("result")
            if rec["kind"] == "ingest":
                b = rec["info"]["batch"]
                lo, hi = b * self.batch_size, (b + 1) * self.batch_size
                got = {r["doc_id"] for r in _rows(os.path.join(self.root, "ingest", f"batch={b}"))}
                rec["ok"] = not result["blocked"] and got == {i for i in self.accepted_ref if lo <= i < hi}
            else:
                rec["ok"] = sorted(result) == self.search_ref[tuple(rec["info"]["terms"])]

    def metrics(self, ctx, records: list[dict]) -> dict[str, tuple[float, str]]:
        from stats import percentile

        out = {}
        for kind in ("ingest", "search", "sql", "report"):
            lat = [r["latency"] for r in records if r["kind"] == kind]
            out[f"{kind}_p50_s"] = (percentile(lat, 50), "s")
            out[f"{kind}_tail_s"] = (percentile(lat, 90), "s")
            out[f"{kind}_cpu_p50_s"] = (percentile([r["cpu"] for r in records if r["kind"] == kind], 50), "s")
        # bytes since the store was (re)started, over the text of every
        # batch ingested into it
        ingested = sum(self.text_bytes[: self.next_batch])
        out.update({
            "store_bytes_per_input_byte": (sum(self.segments.values()) / ingested, "B/B"),
            "write_bytes_per_input_byte": (self.written / ingested, "B/B"),
            "sigstore.segments": (len(self.segments), "count"),
            "sigstore.compactions": (self.compactions - self.pass_start[1], "count"),
            "sigstore.bytes_written": (self.written - self.pass_start[0], "B"),
        })
        return out


WORKLOADS = {w.name: w for w in (DailyBackfill, IngestQueryMix)}
