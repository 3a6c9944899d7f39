#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload daily_backfill --seed 1 --seconds 1 --trace 0

Run it from the root of a checkout of the repository. It reads the test
lake copied under ``perfbench/data/``, draws the workload's choices
from ``--seed``, starts Spark on ``local[<cpus>]``, sets the workload
up, runs one timed pass of a fixed size, checks every operation's
output, and prints two JSON lines: a detail record (every metric with
its unit, percentiles with their sample counts, per-operation results,
machine load) and, last, the result line
``{"correct", "attempted", "failed", "metrics"}``. Scratch files go
under ``.perfbench_work/``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` follows the
untraced pass with a traced pass of the same work, span wrappers
installed around the package's public entry points, and reports the
per-layer metrics; the spans are written to
``.perfbench_work/traces/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "production_ready_ds_spark"
MAX_ATTEMPTS = 2  # a failed attempt is retried once

#: the result line's metrics and units are declared in BENCHMARK.json:
#: ``end_to_end`` for ``--trace 0``, ``per_layer`` for ``--trace 1``
SPEC = ROOT / "BENCHMARK.json"
#: the test lake the workloads read, copied into the benchmark so a run
#: reads nothing outside its checkout: sf0.1, and sf0.001 for the smoke test
DATA = HERE / "data"
SCALES = {"full": "sf0.1", "tiny": "sf0.001"}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="accepted for the benchmark contract; a run always measures one fixed pass")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full", help="input size (tiny: smoke test)")
    p.add_argument("--ops", type=int, default=None, help="operations per pass (smoke test)")
    return p.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) CPU ticks of the machine so far, from
    ``/proc/stat``; None where there is none. Steal is time a virtual
    machine's CPUs were runnable but the host ran something else."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def steal_share(start: tuple[int, int] | None, end: tuple[int, int] | None) -> float | None:
    """The share of CPU ticks the host stole between two ``cpu_ticks()``
    readings; None where there are none."""
    if not start or not end or end[1] <= start[1]:
        return None
    return (end[0] - start[0]) / (end[1] - start[1])


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process it started that is still running or was waited for: the
    JVM and its Python workers. With the kernel's steal accounting, time
    the host took from this virtual machine's CPUs is not in it."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited while being read
        pid = int(entry.name)
        # after the command name: [1] ppid, [11:15] utime, stime, cutime, cstime
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def configure_env(work: Path) -> None:
    """Keep every file Spark, its Python workers and the JVM write
    inside the run's work directory, and size Spark to the machine."""
    for sub in ("spark-local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            # no hsperfdata file under /tmp
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


@dataclass
class Context:
    """What a workload sees: the session, its inputs and scratch space."""

    spark: Any
    data: str
    work: str
    seed: int
    rng: Any
    catalog: dict = field(default_factory=dict)
    tracer: Any = None
    clock = staticmethod(time.perf_counter)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()


def run_pass(ctx: Context, ops: list) -> tuple[list[dict], float]:
    """One closed-loop timed pass over ``ops``. Returns the per-op
    records and the pass's wall time, which excludes untimed work
    (preparation, checks, tracer bookkeeping)."""
    clock = ctx.clock
    records: list[dict] = []
    start = clock()
    untimed = 0.0
    for i, op in enumerate(ops):
        t = clock()
        if op.before is not None:
            op.before()
        untimed += clock() - t
        rec = {"kind": op.kind, "info": op.info, "attempts": 0, "errors": []}
        ticks = cpu_ticks()
        latency = 0.0
        cpu = tree_cpu_s()
        done = False
        result = None
        scope = ctx.tracer.operation(i, op.kind) if ctx.tracer is not None else nullcontext()
        with scope:
            while not done and rec["attempts"] < MAX_ATTEMPTS:
                rec["attempts"] += 1
                t = clock()
                try:
                    result = op.run()
                    done = True
                except Exception as exc:  # a failed attempt: retried once
                    first = (str(exc).strip().splitlines() or [""])[0]
                    rec["errors"].append(f"{type(exc).__name__}: {first[:300]}")
                latency += clock() - t
            ran_until = clock()
            rec["cpu"] = tree_cpu_s() - cpu
            rec["steal"] = steal_share(ticks, cpu_ticks())
        bookkeeping = clock() - ran_until
        if ctx.tracer is not None:
            latency -= ctx.tracer.untimed_s
            bookkeeping += ctx.tracer.untimed_s
        rec["latency"] = latency
        t = clock()
        rec["ok"] = op.check(result) if done else False
        if rec["ok"] is None:
            rec["result"] = result  # checked by the workload's verify()
        untimed += bookkeeping + clock() - t
        records.append(rec)
    return records, clock() - start - untimed


def pass_metrics(records: list[dict], wall: float) -> dict[str, dict]:
    from stats import percentile

    lat = [r["latency"] for r in records]
    cpu = [r["cpu"] for r in records]
    failed_attempts = sum(len(r["errors"]) for r in records)
    wrong = sum(1 for r in records if r["ok"] is False and len(r["errors"]) < r["attempts"])
    n = len(lat)
    return {
        "op_p50_s": {"value": percentile(lat, 50), "unit": "s", "percentile": 50, "n": n},
        "op_tail_s": {"value": percentile(lat, 90), "unit": "s", "percentile": 90, "n": n},
        "wall_s": {"value": wall, "unit": "s"},
        "op_cpu_p50_s": {"value": percentile(cpu, 50), "unit": "s", "percentile": 50, "n": n},
        "op_cpu_tail_s": {"value": percentile(cpu, 90), "unit": "s", "percentile": 90, "n": n},
        "cpu_s": {"value": sum(cpu), "unit": "s"},
        "fail_share": {"value": (failed_attempts + wrong) / max(n, 1), "unit": "ratio"},
    }


def stop_spark() -> None:
    """Stop the Spark session, if one was started, then the JVM gateway
    process, and wait for it (the Python workers exit with it)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace, work: Path) -> tuple[dict, dict]:
    import numpy as np

    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    spec = json.loads(SPEC.read_text())
    wl = workloads.WORKLOADS[args.workload]()
    if args.ops is not None:
        wl.core_ops = args.ops
    clock = time.perf_counter
    env = {"nproc": cpus(), "master": f"local[{cpus()}]", "load1_start": os.getloadavg()[0]}
    ticks_start = cpu_ticks()

    # -- set-up: package import, session start (launches the JVM),
    # catalog import, workload state + warm-up
    t0, cpu0 = clock(), tree_cpu_s()
    from production_ready_ds_spark import session

    spark = session.get_spark(master=env["master"])
    get_spark_s = clock() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = clock() - t0
    t = clock()
    from production_ready_ds_spark.queries import catalog

    cat = catalog()
    catalog_s = clock() - t

    ctx = Context(
        spark=spark, data=str(DATA / SCALES[args.scale]), work=str(work), seed=args.seed,
        rng=np.random.default_rng(args.seed), catalog=cat,
    )
    t, cpu = clock(), tree_cpu_s()
    wl.prepare(ctx)  # the workload's inputs: not set-up
    inputs_s, inputs_cpu_s = clock() - t, tree_cpu_s() - cpu

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark)
        tracer.install()  # traces the state build (the training DAG)
        ctx.tracer = tracer
    t = clock()
    extra = wl.setup(ctx)
    state_s = clock() - t
    if tracer is not None:
        tracer.uninstall()
        ctx.tracer = None
    warm, warm_wall = run_pass(ctx, wl.warmup(ctx))
    state_s += warm_wall
    setup = {
        "setup_s": tree_cpu_s() - cpu0 - inputs_cpu_s,
        "setup_wall_s": clock() - t0 - inputs_s,
        "session_start_s": session_s,
        "session.get_spark_s": get_spark_s,
        "queries.catalog_import_s": catalog_s,
        "state_s": state_s,
        "inputs_s": inputs_s,
    }

    if tracer is not None:
        wl.snapshot()

    # -- untraced pass: the end-to-end metrics
    records, wall = run_pass(ctx, wl.ops(ctx))
    wl.verify(ctx, warm + records)
    metrics = pass_metrics(records, wall)
    metrics.update({k: {"value": v, "unit": u} for k, (v, u) in wl.metrics(ctx, records).items()})
    metrics.update({k: {"value": v, "unit": "s"} for k, v in extra.items()})
    metrics["setup_s"] = {"value": setup["setup_s"], "unit": "s"}
    metrics["setup_wall_s"] = {"value": setup["setup_wall_s"], "unit": "s"}
    passes = [records]

    per_layer: dict[str, dict] = {}
    if tracer is not None:
        # the traced pass repeats the untraced pass's work from the same
        # state, so their wall times compare
        wl.reset()
        tracer.phase = "pass"
        tracer.install()
        ctx.tracer = tracer
        traced, traced_wall = run_pass(ctx, wl.ops(ctx))
        tracer.uninstall()
        ctx.tracer = None
        wl.verify(ctx, traced)
        passes.append(traced)
        traced_metrics = wl.metrics(ctx, traced)
        layer = {k: v for k, v in tracer.summarize("setup", 1).items() if k.startswith("pipelines.")}
        layer.update(tracer.summarize("pass", len(traced)))
        layer.update({k: v for k, (v, _) in traced_metrics.items() if k.startswith("sigstore.")})
        layer["trace.overhead_s"] = traced_wall - wall
        layer["trace.wall_s"] = traced_wall
        layer["fail_share"] = pass_metrics(traced, traced_wall)["fail_share"]["value"]
        layer["session.get_spark_s"] = setup["session.get_spark_s"]
        layer["queries.catalog_import_s"] = setup["queries.catalog_import_s"]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        per_layer = {
            k: {"value": v, "unit": units.get(k, "s" if k.endswith("_s") else "count")}
            for k, v in sorted(layer.items())
        }
        trace_dir = work.parent / "traces"
        trace_dir.mkdir(exist_ok=True)
        with open(trace_dir / f"{args.workload}-seed{args.seed}.json", "w") as fh:
            json.dump({"spans": tracer.dump(), "engine": tracer.engine}, fh)

    env["load1_end"] = os.getloadavg()[0]
    env["cpu_steal_share"] = steal_share(ticks_start, cpu_ticks())

    all_ops = [r for recs in passes for r in recs]
    for r in warm + all_ops:
        r.pop("result", None)
    failed = sum(1 for r in all_ops if not r["ok"])
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "setup": setup,
        "metrics": metrics,
        "per_layer": per_layer,
        "warmup": warm,
        "passes": passes,
    }
    source = per_layer if args.trace else metrics
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    result = {
        "correct": failed == 0 and all(r["ok"] for r in warm),
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {
            # a per-layer count of a layer the workload never enters is 0
            m["name"]: {"value": source[m["name"]]["value"] if m["name"] in source else 0, "unit": m["unit"]}
            for m in declared
        },
    }
    return detail, result


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: no {PKG} package next to {HERE.name}/; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    try:
        detail, result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
