"""Importing ``production_ready_ds_spark`` registers the whole package
for cloudpickle pickle-by-value, so code that runs in Python workers
ships inside the serialized task and workers never import the package.
The failure this prevents is silent at test time: the suite runs from
the repo cwd, where a by-reference pickle still imports, while every
foreign-cwd worker (spark-submit from elsewhere, a cluster without the
package deployed) dies on ``ModuleNotFoundError``. Each test therefore
runs its driver in a subprocess from another cwd with PYTHONPATH unset
and the package only on ``sys.path``."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import production_ready_ds_spark

REPO = str(Path(production_ready_ds_spark.__file__).parent.parent)


def _run(code: str, *, timeout: int = 120) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd="/tmp",
        env=env,
        timeout=timeout,
    )


def test_pickled_kernel_loads_where_the_package_does_not_import(tmp_path):
    """A kernel pickled by a process that imported ONE leaf module loads
    and runs in a process that cannot import the package at all."""
    blob = tmp_path / "stem.pkl"
    dump = _run(
        "import sys; sys.path.insert(0, %r)\n"
        "from production_ready_ds_spark.functions.snowball import snowball_stem\n"
        "from pyspark import cloudpickle\n"
        "open(%r, 'wb').write(cloudpickle.dumps(snowball_stem))\n" % (REPO, str(blob))
    )
    assert dump.returncode == 0, dump.stderr[-2000:]
    load = _run(
        "import importlib.util, pickle, sys\n"
        "assert importlib.util.find_spec('production_ready_ds_spark') is None\n"
        "stem = pickle.load(open(%r, 'rb'))\n"
        "print('STEM', stem('running'), stem('generously'))\n" % str(blob)
    )
    assert load.returncode == 0, load.stderr[-2000:]
    assert "STEM run generous" in load.stdout


def test_foreign_cwd_workflow_runs_udf_imported_after_the_session(sf_small):
    """get_spark() first, the pipeline module (and with it the stemmer
    UDF) imported afterwards, then CleanDaily on sf0.001: its pandas UDF
    runs in Python workers that cannot import the package."""
    code = (
        "import sys, tempfile, datetime as dt; sys.path.insert(0, %r)\n"
        "from production_ready_ds_spark.session import get_spark\n"
        "spark = get_spark('foreign-cwd', master='local[2]')\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "from production_ready_ds_spark.pipelines.classification import CleanDaily\n"
        "from production_ready_ds_spark.workflow import build\n"
        "task = CleanDaily(date=dt.date(2024, 1, 5), data_root=tempfile.mkdtemp(),\n"
        "                  sf_dir=%r)\n"
        "res = build([task])\n"
        "n = spark.read.parquet(task.output().path).count()\n"
        "print('RAN', len(res['ran']), 'ROWS', n)\n"
        "spark.stop()\n" % (REPO, sf_small)
    )
    out = _run(code, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "RAN 2 ROWS" in out.stdout, out.stdout
    assert int(out.stdout.split("ROWS")[1].split()[0]) > 0


def test_hand_imported_query_submodule_registers_by_value():
    """Importing ONE query submodule directly (no catalog(), no
    get_spark, no ensure_runtime_confs) registers the package by value,
    which covers that submodule: cloudpickle checks every parent package
    name (the round trip above shows it for a leaf module)."""
    out = _run(
        "import sys; sys.path.insert(0, %r)\n"
        "import production_ready_ds_spark.queries.udfs\n"
        "from pyspark import cloudpickle\n"
        "reg = cloudpickle.list_registry_pickle_by_value()\n"
        "assert reg == {'production_ready_ds_spark'}, reg\n"
        "print('BYVALUE-OK')\n" % REPO
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "BYVALUE-OK" in out.stdout
