"""Workflow core: targets, tasks, parameters, scheduler, date ranges.

Semantics mirror the Luigi subset the reference uses (SURVEY.md §2a
O1-O5); implementation is original and independent of Luigi's source.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import tempfile
from collections.abc import Iterable, Sequence
from contextlib import contextmanager
from typing import Any


class WorkflowError(RuntimeError):
    pass


# ------------------------------------------------------------- targets --


class Target:
    """Something a task materializes; existence == task completeness
    (reference O2: target-existence pruning)."""

    def exists(self) -> bool:  # pragma: no cover - interface
        raise NotImplementedError


class LocalTarget(Target):
    """A local file target with atomic temp-file-then-rename commit
    (the reference relies on Luigi's LocalTarget.open('w') for this —
    S6, 00_training_pipeline.py:34)."""

    def __init__(self, path: str):
        self.path = str(path)

    def exists(self) -> bool:
        return os.path.exists(self.path)

    @contextmanager
    def open(self, mode: str = "r"):
        if mode == "r":
            with open(self.path, "r", encoding="utf-8") as f:
                yield f
            return
        if mode != "w":
            raise ValueError(f"unsupported mode {mode!r}")
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(self.path) or ".", prefix=".tmp-", suffix=".part"
        )
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                yield f
            os.replace(tmp, self.path)  # atomic commit
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    def remove(self) -> None:
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
        elif os.path.exists(self.path):
            os.unlink(self.path)

    def __repr__(self) -> str:
        return f"LocalTarget({self.path!r})"


class ParquetTarget(LocalTarget):
    """A parquet directory target: complete iff the directory exists AND
    carries Spark's ``_SUCCESS`` commit marker — the distributed-safe
    version of the reference's per-file targets (a half-written directory
    without the marker counts as incomplete and is recomputed)."""

    def exists(self) -> bool:
        return os.path.isdir(self.path) and os.path.exists(os.path.join(self.path, "_SUCCESS"))


# ---------------------------------------------------------- parameters --


class Parameter:
    """Typed task parameter declared as a class attribute (Luigi-style:
    ``date = DateParameter()``). Values bind in ``Task.__init__``."""

    _counter = 0

    def __init__(self, default: Any = None):
        self.default = default
        Parameter._counter += 1
        self._order = Parameter._counter

    def parse(self, value: Any) -> Any:
        return value


class IntParameter(Parameter):
    def parse(self, value: Any) -> int:
        return int(value)


class DateParameter(Parameter):
    def parse(self, value: Any) -> _dt.date:
        if isinstance(value, _dt.datetime):
            return value.date()
        if isinstance(value, _dt.date):
            return value
        return _dt.date.fromisoformat(str(value))


# --------------------------------------------------------------- tasks --


class Task:
    """A dataflow node: ``requires()`` declares DAG edges (reference O1),
    ``output()`` the materialization target(s) (O2), ``run()`` the
    operator body. Tasks with equal (class, params) are the same node."""

    def __init__(self, **kwargs: Any):
        params = self._param_specs()
        unknown = set(kwargs) - set(params)
        if unknown:
            raise TypeError(f"{type(self).__name__}: unknown parameter(s) {sorted(unknown)}")
        self.param_values: dict[str, Any] = {}
        reserved = {n for n in dir(Task) if not n.startswith("_")}
        for name, spec in params.items():
            if name in reserved:
                raise TypeError(
                    f"{type(self).__name__}: parameter name {name!r} shadows a Task method"
                )
            if name in kwargs:
                value = spec.parse(kwargs[name])
            elif spec.default is not None:
                value = spec.parse(spec.default)
            else:
                raise TypeError(f"{type(self).__name__}: missing parameter {name!r}")
            self.param_values[name] = value
            setattr(self, name, value)

    @classmethod
    def _param_specs(cls) -> dict[str, Parameter]:
        specs: dict[str, Parameter] = {}
        for klass in reversed(cls.__mro__):
            for name, value in vars(klass).items():
                if isinstance(value, Parameter):
                    specs[name] = value
        return dict(sorted(specs.items(), key=lambda kv: kv[1]._order))

    # -- identity ---------------------------------------------------------
    @property
    def task_id(self) -> str:
        parts = ",".join(f"{k}={v}" for k, v in sorted(self.param_values.items()))
        return f"{type(self).__name__}({parts})"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Task) and self.task_id == other.task_id

    def __hash__(self) -> int:
        return hash(self.task_id)

    def __repr__(self) -> str:
        return self.task_id

    # -- DAG interface ----------------------------------------------------
    def requires(self) -> "Task | Sequence[Task] | None":
        return None

    def output(self) -> Target | Sequence[Target] | None:
        return None

    def run(self) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    # -- completeness (reference O2) --------------------------------------
    def outputs(self) -> list[Target]:
        out = self.output()
        if out is None:
            return []
        if isinstance(out, Target):
            return [out]
        return list(out)

    def complete(self) -> bool:
        outs = self.outputs()
        return bool(outs) and all(t.exists() for t in outs)

    def deps(self) -> list["Task"]:
        req = self.requires()
        if req is None:
            return []
        if isinstance(req, Task):
            return [req]
        return list(req)


class ExternalTask(Task):
    """A sensor: completeness is observed, never produced here
    (reference O3 ModelExists, 01_classification_pipeline.py:129-133).
    If its target is missing, dependents BLOCK rather than trigger the
    producing DAG."""

    def run(self) -> None:
        raise WorkflowError(
            f"{self.task_id} is external — its output must be produced by another pipeline"
        )


class SparkTask(Task):
    """A task whose body runs on the shared SparkSession — the
    in-process analogue of the reference's per-task spark-submit bridge
    (O5, 00_training_pipeline.py:92-101)."""

    def spark(self):
        from ..session import get_spark

        return get_spark(app_name=type(self).__name__)

    def main(self, spark) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def run(self) -> None:
        self.main(self.spark())


# ----------------------------------------------------------- scheduler --


def build(tasks: Iterable[Task], *, on_event=None) -> dict[str, list[str]]:
    """Run a DAG to completion.

    Walks ``requires()`` edges, prunes complete subtrees (reference O2:
    a materialized target is never recomputed), executes remaining tasks
    in deterministic topological order, and verifies each task's outputs
    exist afterwards. Returns {'ran': [...], 'skipped': [...],
    'blocked': [...]} of task_ids.

    ``on_event(kind, task)`` is an optional observer hook
    (kind ∈ {'run', 'skip', 'block'}).
    """
    roots = list(tasks)
    # -- discover ----------------------------------------------------------
    seen: dict[str, Task] = {}
    order: list[Task] = []  # post-order: dependencies first
    visiting: set[str] = set()

    def visit(task: Task) -> None:
        tid = task.task_id
        if tid in seen:
            if tid in visiting:
                raise WorkflowError(f"dependency cycle at {tid}")
            return
        seen[tid] = task
        visiting.add(tid)
        for dep in task.deps():
            visit(dep)
        visiting.remove(tid)
        order.append(task)

    for t in roots:
        visit(t)

    ran: list[str] = []
    skipped: list[str] = []
    blocked: list[str] = []
    failed_or_blocked: set[str] = set()

    for task in order:
        tid = task.task_id
        if task.complete():
            skipped.append(tid)
            if on_event:
                on_event("skip", task)
            continue
        dep_ids = [d.task_id for d in task.deps()]
        if any(d in failed_or_blocked for d in dep_ids):
            blocked.append(tid)
            failed_or_blocked.add(tid)
            if on_event:
                on_event("block", task)
            continue
        if isinstance(task, ExternalTask):
            # sensor not satisfied → dependents block (reference O3)
            blocked.append(tid)
            failed_or_blocked.add(tid)
            if on_event:
                on_event("block", task)
            continue
        if on_event:
            on_event("run", task)
        task.run()
        if not task.complete():
            raise WorkflowError(f"{tid} ran but its output does not exist")
        ran.append(tid)

    return {"ran": ran, "skipped": skipped, "blocked": blocked}


def range_daily(
    task_cls: type[Task],
    *,
    stop: _dt.date,
    days_back: int,
    reverse: bool = True,
    **params: Any,
) -> list[Task]:
    """Expand a per-day task over a trailing window — the reference's
    ``RangeDailyBase --of Classify --stop <today> --days-back 4
    --reverse`` backfill (O4, run_pipeline.sh:6-11): one instance per
    day in [stop - days_back + 1, stop], newest first. Complete days
    are pruned by :func:`build`; this window bounds late-data
    reprocessing exactly like a 4-day watermark."""
    days = [stop - _dt.timedelta(days=i) for i in range(days_back)]
    if not reverse:
        days.reverse()
    return [task_cls(date=d, **params) for d in days]
