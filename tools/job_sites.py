#!/usr/bin/env python
"""Attribute every Spark job a catalog query launches to its Python
call site (round-12 §1 tool; guide §1.1 empirical loop).

Monkeypatches the DataFrame action surface (localCheckpoint, collect,
take, first, count, head), the schema-inferring reader
(``DataFrameReader.parquet``) and Spark ML model loading
(``MLReadable.load``) to stamp the job description with the first
production_ready_ds_spark stack frame before the call fires, then runs
the query with the noop sink and reports every job with its site, its
stages (name, ms, tasks), and per query the summed job time and the
driver gap (wall minus summed job time: planning and driver-side work).
A read of unchanged files through ``filecache.read_parquet`` launches
no job, so a ``parquet@...`` site names a read that infers its schema.

    python tools/job_sites.py q_curation_ingest
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _site() -> str:
    hits = []
    for fr in reversed(traceback.extract_stack()):
        fn = fr.filename
        if "production_ready_ds_spark" in fn and "tools" not in fn:
            hits.append(
                f"{os.path.basename(os.path.dirname(fn))}/{os.path.basename(fn)}:{fr.lineno}"
            )
        if len(hits) == 3:
            break
    return "<".join(hits) if hits else "driver"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from pyspark.ml.util import MLReadable
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame  # Spark 4: the
    # concrete class — patching the abstract pyspark.sql.DataFrame is
    # shadowed by classic's own method definitions
    from pyspark.sql.readwriter import DataFrameReader

    from production_ready_ds_spark.session import configure

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        configure(SparkSession.builder.appName("job-sites").master(f"local[{cpus}]"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4052")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def stamped(label, orig):
        def wrapped(*a, **kw):
            sc = spark.sparkContext
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(f"{label}@{_site()}")
            try:
                return orig(*a, **kw)
            finally:
                sc.setJobDescription(prev)

        return wrapped

    for meth in ("localCheckpoint", "collect", "take", "first", "count", "head"):
        setattr(DataFrame, meth, stamped(meth, getattr(DataFrame, meth)))
    DataFrameReader.parquet = stamped("parquet", DataFrameReader.parquet)
    MLReadable.load = classmethod(stamped("ml.load", MLReadable.load.__func__))

    from production_ready_ds_spark.queries import catalog

    cat = catalog()
    report: dict = {}
    for name in args.names:
        for r in range(args.runs):
            sc = spark.sparkContext
            jsc = sc._jsc.sc()
            before = jsc.statusStore().jobsList(None).size()
            t0 = time.perf_counter()
            sc.setJobDescription(f"{name}#r{r}")
            df = cat[name].fn(spark, args.sf)
            sc.setJobDescription(f"{name}#r{r}:save")
            df.write.mode("overwrite").format("noop").save()
            sc.setJobDescription(None)
            wall = time.perf_counter() - t0
        # last run reported: the jobs numbered from its start on
        base = f"http://localhost:4052/api/v1/applications/{sc.applicationId}"
        jobs = _get(f"{base}/jobs?status=succeeded")
        stages = {s["stageId"]: s for s in _get(f"{base}/stages?details=false")}
        rows = [
            {
                "jobId": j["jobId"],
                "desc": (j.get("description") or "")[:90],
                "ms": _dur_ms(j),
                "tasks": j.get("numTasks"),
                "stages": [
                    {
                        "stageId": sid,
                        "name": stages[sid]["name"].split("\n")[0][:80],
                        "status": stages[sid]["status"],
                        "ms": _dur_ms(stages[sid]),
                        "tasks": stages[sid].get("numTasks"),
                    }
                    for sid in sorted(j.get("stageIds", []))
                    if sid in stages
                ],
            }
            for j in sorted(jobs, key=lambda j: j["jobId"])
            if j["jobId"] >= before
        ]
        sum_job_ms = sum(max(row["ms"], 0) for row in rows)
        gap_ms = int(wall * 1000) - sum_job_ms
        report[name] = {
            "wall_last_run_s": round(wall, 3),
            "sum_job_ms": sum_job_ms,
            "driver_gap_ms": gap_ms,
            "jobs": rows,
        }
        print(
            f"== {name}: last-run wall {wall:.3f}s, {len(rows)} jobs, "
            f"sum(job) {sum_job_ms} ms, driver gap {gap_ms} ms"
        )
        for row in rows:
            print(
                f"   {row['jobId']:>5} {row['ms']:>7} ms  stages={len(row['stages'])} "
                f"tasks={row['tasks']:>4}  {row['desc']}"
            )
            for st in row["stages"]:
                print(
                    f"         stage {st['stageId']:>5} {st['ms']:>7} ms  tasks={st['tasks']:>4}  "
                    f"{st['status']:<9} {st['name']}"
                )
    with open("/tmp/job_sites.json", "w") as f:
        json.dump(report, f, indent=1)
    print("written: /tmp/job_sites.json")
    spark.stop()
    return 0


def _get(url: str):
    with urllib.request.urlopen(url) as r:
        return json.load(r)


def _dur_ms(item) -> int:
    """Submission-to-completion ms of a REST job or stage; -1 when unset."""
    from datetime import datetime

    try:
        a = datetime.strptime(item["submissionTime"].replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        b = datetime.strptime(item["completionTime"].replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        return int((b - a).total_seconds() * 1000)
    except (KeyError, ValueError):
        return -1


if __name__ == "__main__":
    raise SystemExit(main())
