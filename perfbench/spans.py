"""In-memory span tracer for the traced run.

``Tracer.install`` wraps the package's public entry points so every
call records a span: name, start, end, parent span, and the id of the
operation it ran under. Spans stay in memory and are written out once,
at the end of the run. The untraced run never calls ``install``, so its
code path carries no wrappers at all.

Work the tracer itself adds is kept out of the measurements: the row
counts behind the read ratios run inside ``Tracer.untimed``, whose
duration is excluded from every open span and from the operation's
latency, under a separate Spark job group so the engine counts stay
those of the operation; the engine counts are read after the operation
has ended.
"""

from __future__ import annotations

import functools
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "production_ready_ds_spark"

#: span-name prefix → layer, for per-layer self time
LAYERS = {
    "op": "harness",
    "workflow": "workflow",
    "pipelines": "pipelines",
    "operators": "operators",
    "sigstore": "operators",
    "termstore": "operators",
    "sql": "sql",
    "queries": "queries",
}

OP_GROUP = "perfbench-op"
UNTIMED_GROUP = "perfbench-untimed"


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.phase = "setup"  # or "pass": spans of the timed pass
        self.op: int | None = None
        self.counts = defaultdict(int)  # (phase, metric) → count
        self.untimed_s = 0.0  # tracer-only work inside the current op
        self.engine: list[dict] = []  # per-op Spark job/stage/task counts
        self._stack: list[int] = []
        self._undo: list = []
        self._t0 = time.perf_counter()

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "phase": self.phase,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "excluded": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    @contextmanager
    def untimed(self):
        """Tracer-only work: excluded from open spans and op latency."""
        sc = self.spark.sparkContext
        sc.setJobGroup(UNTIMED_GROUP, "tracer bookkeeping")
        start = time.perf_counter()
        try:
            yield
        finally:
            spent = time.perf_counter() - start
            self.untimed_s += spent
            for i in self._stack:
                self.spans[i]["excluded"] += spent
            if self.op is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(f"{OP_GROUP}-{self.op}", "benchmark operation")

    # -- operations ------------------------------------------------------
    @contextmanager
    def operation(self, op_id: int, kind: str):
        """Root span of one closed-loop operation, under its own Spark
        job group so the engine counts are attributable to it."""
        sc = self.spark.sparkContext
        self.op = op_id
        self.untimed_s = 0.0
        sc.setJobGroup(f"{OP_GROUP}-{op_id}", "benchmark operation")
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.engine.append(self._engine_counts(f"{OP_GROUP}-{op_id}"))
            self.op = None

    def _engine_counts(self, group: str) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped (shuffle reused) or never launched
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "tasks_failed": failed}

    # -- wrappers --------------------------------------------------------
    def _wrap(self, fn, name, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(args) if callable(name) else name
            with tracer.span(label):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        return traced

    def _count_tasks(self, result: dict) -> None:
        self.counts[self.phase, "workflow.tasks_run"] += len(result["ran"])
        self.counts[self.phase, "workflow.tasks_skipped"] += len(result["skipped"])

    def _wrap_read(self, fn, name, ratio):
        """Span plus the ``ratio`` metric: rows the (pruned) read
        returns over rows the store holds, counted untimed."""
        tracer = self

        @functools.wraps(fn)
        def traced(store, *args, **kwargs):
            with tracer.span(name):
                df = fn(store, *args, **kwargs)
            stored = sum(s.get("rows") or 0 for s in store.segments())
            with tracer.untimed():
                read = df.count() if df is not None else 0
            tracer.counts[tracer.phase, ratio + ".read"] += read
            tracer.counts[tracer.phase, ratio + ".stored"] += stored
            return df

        return traced

    def _patch_function(self, module, attr: str, name, on_result=None) -> None:
        """Replace a function everywhere the package bound it (``from x
        import f`` copies the reference into the importing module)."""
        original = getattr(module, attr)
        wrapped = self._wrap(original, name, on_result)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, wrapped)
                    self._undo.append((mod, key, original))

    def _patch_method(self, cls, attr: str, wrapped) -> None:
        self._undo.append((cls, attr, cls.__dict__[attr]))
        setattr(cls, attr, wrapped)

    def install(self) -> None:
        import importlib

        mod = lambda name: importlib.import_module(f"{PKG}.{name}")  # noqa: E731
        core = mod("workflow.core")
        dedup, sigstore, termstore = mod("operators.dedup"), mod("operators.sigstore"), mod("operators.termstore")
        sql = mod("sql")

        self._patch_function(core, "build", "workflow.build", self._count_tasks)
        self._patch_function(dedup, "minhash_bands", "operators.minhash_bands")
        self._patch_function(sigstore, "collect_prune_keys", "operators.collect_prune_keys")
        self._patch_function(sql, "run_sql", "sql.run_sql")
        self._patch_method(core.Task, "complete", self._wrap(core.Task.complete, "workflow.complete"))
        self._patch_method(
            core.SparkTask, "run",
            self._wrap(core.SparkTask.run, lambda args: f"pipelines.{type(args[0]).__name__}"),
        )
        store = sigstore.SignatureStore
        self._patch_method(store, "read_signatures", self._wrap_read(store.read_signatures, "sigstore.read_signatures", "sigstore.rows_read_ratio"))
        self._patch_method(store, "append", self._wrap(store.append, "sigstore.append"))
        self._patch_method(store, "compact_tiered", self._wrap(store.compact_tiered, "sigstore.compact_tiered"))
        terms = termstore.TermStore
        self._patch_method(terms, "search", self._wrap(terms.search, "termstore.search_plan"))
        self._patch_method(terms, "read_postings", self._wrap_read(terms.read_postings, "termstore.read_postings", "termstore.postings_read_ratio"))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    # -- summaries -------------------------------------------------------
    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"] - rec["excluded"]

    def summarize(self, phase: str, n_ops: int) -> dict[str, float]:
        """Metrics of one phase: seconds per op of every span name,
        per-layer self time, the workflow build's self time (build minus
        its task spans), read ratios and counters."""
        n = max(n_ops, 1)
        idx = [i for i, r in enumerate(self.spans) if r["phase"] == phase]
        child = defaultdict(float)  # span index → summed child duration
        task_child = defaultdict(float)  # build span index → pipelines.* children
        for i in idx:
            rec = self.spans[i]
            if rec["parent"] is not None:
                child[rec["parent"]] += self.duration(rec)
                if rec["name"].startswith("pipelines."):
                    task_child[rec["parent"]] += self.duration(rec)
        total = defaultdict(float)
        calls = defaultdict(int)
        layer_self = defaultdict(float)
        build_self = 0.0
        for i in idx:
            rec = self.spans[i]
            d = self.duration(rec)
            total[rec["name"]] += d
            calls[rec["name"]] += 1
            layer_self[LAYERS[rec["name"].split(".")[0]]] += d - child[i]
            if rec["name"] == "workflow.build":
                build_self += d - task_child[i]
        out = {f"{name}_s": t / n for name, t in total.items() if not name.startswith("op.")}
        out.update({f"{layer}.self_s": t / n for layer, t in layer_self.items()})
        out["workflow.self_s"] = build_self / n
        out["workflow.complete_calls"] = calls["workflow.complete"]
        counts = {key: v for (ph, key), v in self.counts.items() if ph == phase}
        out["workflow.tasks_run"] = counts.get("workflow.tasks_run", 0)
        out["workflow.tasks_skipped"] = counts.get("workflow.tasks_skipped", 0)
        for ratio in ("sigstore.rows_read_ratio", "termstore.postings_read_ratio"):
            stored = counts.get(ratio + ".stored", 0)
            out[ratio] = counts.get(ratio + ".read", 0) / stored if stored else 0.0
        engine = self.engine if phase == "pass" else []
        for key in ("jobs", "stages", "tasks"):
            out[f"spark.{key}_per_op"] = statistics.fmean(e[key] for e in engine) if engine else 0.0
        out["spark.tasks_failed"] = sum(e["tasks_failed"] for e in engine)
        return out

    def dump(self) -> list[dict]:
        """Spans as written to the trace file: times in seconds since
        the tracer started; ``parent`` indexes into the same list."""
        return [dict(r) for r in self.spans]
